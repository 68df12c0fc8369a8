"""Impact-ordered champion lists (operators/impact.py): the pruned
top-k must be rank- AND score-identical to the dense scorer on every
query — pruning changes the work, never the answer — and must fall
back (not approximate) whenever its safety proof fails."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from hadoop_search_engine_spark.operators.impact import (
    ImpactLists,
    _probe_tf,
    build_impact_lists,
    impact_topk,
    impact_topk_rows,
)
from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.query_exec import (
    Index,
    search_topk,
    search_topk_rows,
)


@pytest.fixture(scope="module")
def imp_index(spark, tmp_path_factory):
    """800-doc corpus (enough df spread for champions to engage) with
    a small-m sidecar so the pruned path is exercised, not just the
    full-list degenerate case."""
    from hadoop_search_engine_spark.corpus import gen_documents
    from hadoop_search_engine_spark.operators.doc_ids import assign_doc_ids

    docs = assign_doc_ids(
        gen_documents(spark, 800, n_partitions=4), num_partitions=4
    ).select("doc_id", "text")
    out = str(tmp_path_factory.mktemp("impact") / "ix")
    build_index(spark, docs, out, num_shards=4, n_buckets=8, block_size=32)
    ix = Index.load(spark, out)
    build_impact_lists(ix, m=32, df_min=64)
    return ix


def _query_set(ix, n_head=4):
    lex = (
        ix.lexicon.orderBy(F.desc("df"), F.asc("term"))
        .select("term", "df")
        .collect()
    )
    head = [r["term"] for r in lex[:n_head]]
    mid = [r["term"] for r in lex[len(lex) // 2 : len(lex) // 2 + 3]]
    tail = [r["term"] for r in lex[-3:]]
    return head, mid, tail


def test_identity_exhaustive(imp_index):
    ix = imp_index
    head, mid, tail = _query_set(ix)
    queries = (
        head
        + [
            " ".join(head[:2]),
            " ".join(head[:3]),
            " ".join([head[0], mid[0]]),
            " ".join([head[0], tail[0]]),
            " ".join(mid),
            " ".join(tail),
            " ".join([head[0], "zzznotaterm"]),
            "zzznotaterm",
        ]
    )
    n_pruned = 0
    for q in queries:
        for k in (1, 3, 10, 50):
            info = {}
            got = impact_topk_rows(ix, q, k=k, info=info)
            want = search_topk_rows(ix, q, k=k, algorithm="dense")
            assert got == want, (q, k, info)
            if info.get("mode") == "pruned":
                n_pruned += 1
    # the point of the sidecar: at least some head queries must have
    # gone through the certified pruned path, not fallen back
    assert n_pruned >= 3


def test_single_head_term_prunes(imp_index):
    """A single head term with k << M is the canonical win: theta is
    the k-th champion score, rest_bound the (M+1)-th impact — the
    proof holds unless the corpus ties them exactly."""
    ix = imp_index
    head, _, _ = _query_set(ix)
    info = {}
    got = impact_topk_rows(ix, head[0], k=5, info=info)
    assert got == search_topk_rows(ix, head[0], k=5, algorithm="dense")
    assert info["used"] and info["mode"] in ("pruned", "full")


def test_full_mode_when_df_below_m(imp_index, tmp_path):
    """df_min=1 with huge m stores every posting list entirely: the
    sidecar answers every disjunctive query exactly with zero
    fallback (rest_bound = 0 everywhere)."""
    ix = imp_index
    d2 = str(tmp_path / "ixcopy")
    shutil.copytree(ix.out_dir, d2)
    ix2 = Index.load(ix.spark, d2)
    build_impact_lists(ix2, m=10**6, df_min=1)
    head, mid, _ = _query_set(ix2)
    for q in [head[0], " ".join(head[:3]), " ".join([head[0], mid[0]])]:
        info = {}
        got = impact_topk_rows(ix2, q, k=10, info=info)
        assert got == search_topk_rows(ix2, q, k=10, algorithm="dense")
        assert info["used"] and info["mode"] == "full"


def test_probe_tf_matches_postings(imp_index):
    from hadoop_search_engine_spark.functions import codec

    ix = imp_index
    head, _, _ = _query_set(ix)
    lm = ix.lexicon_map()
    th = lm[head[0]]["hash"]
    f = ix.postings_rows_by_term([th])[th].blocks
    d, t, _ = codec.decode_blocks(
        f.doc_ids.tolist(), f.tfs.tolist(),
        f.n_docs.astype(np.int64),
        f.first_doc_id.astype(np.int64),
    )
    order = np.argsort(d)
    d, t = d[order], t[order]
    truth = dict(zip(d.tolist(), t.tolist()))
    # probe a mix of present docs and absent ids (never-matched holes)
    present = d[:: max(1, d.size // 17)]
    absent = np.setdiff1d(
        np.arange(0, int(ix.stats.num_shards * ix.stats.shard_span), 7),
        d,
    )[:20]
    want = np.unique(np.concatenate([present, absent]))
    got = _probe_tf(ix, th, want)
    for doc, tf in zip(want.tolist(), got.tolist()):
        assert tf == truth.get(doc, 0), doc


def test_probe_tf_direct_matches_lru_path(imp_index):
    """The shard-filtered direct read (beyond-norms-limit probing)
    returns byte-identical tf answers to the LRU-framed path."""
    ix = imp_index
    head, _, _ = _query_set(ix)
    th = ix.lexicon_map()[head[0]]["hash"]
    span = int(ix.stats.num_shards * ix.stats.shard_span)
    want = np.arange(0, span, 11, dtype=np.int64)
    a = _probe_tf(ix, th, want, direct=False)
    c = _probe_tf(ix, th, want, direct=True)
    assert np.array_equal(a, c)
    assert a.sum() > 0  # the probe actually found postings


def test_probe_tf_direct_reads_no_positions(spark, tmp_path, monkeypatch):
    """On a positional index the direct read projects ``positions``
    (its largest column) away, with tfs identical to the LRU path."""
    from hadoop_search_engine_spark.corpus import gen_documents
    from hadoop_search_engine_spark.operators.doc_ids import assign_doc_ids

    docs = assign_doc_ids(
        gen_documents(spark, 200, n_partitions=2), num_partitions=2
    ).select("doc_id", "text")
    out = str(tmp_path / "pos")
    build_index(spark, docs, out, num_shards=2, n_buckets=4,
                block_size=16, positions=True)
    ix = Index.load(spark, out)
    head, _, _ = _query_set(ix)
    th = ix.lexicon_map()[head[0]]["hash"]
    want = np.arange(0, int(ix.stats.num_shards * ix.stats.shard_span),
                     3, dtype=np.int64)
    a = _probe_tf(ix, th, want, direct=False)
    columns = []
    ds = ix._postings_dataset()

    class Recording:
        def to_table(self, **kwargs):
            columns.append(kwargs.get("columns"))
            return ds.to_table(**kwargs)

        def __getattr__(self, name):
            return getattr(ds, name)

    monkeypatch.setattr(ix, "_postings_dataset", Recording)
    c = _probe_tf(ix, th, want, direct=True)
    assert len(columns) == 1 and columns[0] is not None
    assert "positions" not in columns[0]
    assert np.array_equal(a, c) and a.sum() > 0


def test_k1_b_override_identity(imp_index):
    """Tuned (k1, b) reuse the sidecar through the parameter-free
    (rest_max_tf, rest_min_dl) bound — looser, so fallback is
    allowed, but the answer must stay identical."""
    ix = imp_index
    head, _, _ = _query_set(ix)
    for q in [head[0], " ".join(head[:2])]:
        got = impact_topk_rows(ix, q, k=10, k1=0.9, b=0.3)
        want = search_topk_rows(ix, q, k=10, algorithm="dense",
                                k1=0.9, b=0.3)
        assert got == want


def test_tombstones_compose(imp_index, tmp_path):
    from hadoop_search_engine_spark.operators.index_maint import delete_docs

    ix = imp_index
    d2 = str(tmp_path / "ixtomb")
    shutil.copytree(ix.out_dir, d2)
    ix2 = Index.load(ix.spark, d2)
    head, _, _ = _query_set(ix2)
    # tombstone the CURRENT top docs so exclusion visibly reshapes
    # the page
    top = search_topk_rows(ix2, head[0], k=5, algorithm="dense")
    delete_docs(ix2, [doc for doc, _ in top[:3]])
    ix2 = Index.load(ix.spark, d2)
    for q in [head[0], " ".join(head[:2])]:
        info = {}
        got = impact_topk_rows(ix2, q, k=10, info=info)
        want = search_topk_rows(ix2, q, k=10, algorithm="dense")
        assert got == want, (q, info)


def test_stale_sidecar_falls_back(imp_index, tmp_path):
    ix = imp_index
    d2 = str(tmp_path / "ixstale")
    shutil.copytree(ix.out_dir, d2)
    mp = os.path.join(d2, "impact", "_impact_meta.json")
    with open(mp) as f:
        meta = json.load(f)
    meta["n_docs"] += 1  # pretend the corpus changed under the sidecar
    with open(mp, "w") as f:
        json.dump(meta, f)
    ix2 = Index.load(ix.spark, d2)
    assert ImpactLists.load(ix2) is None
    head, _, _ = _query_set(ix2)
    info = {}
    got = impact_topk_rows(ix2, head[0], k=10, info=info)
    assert info["mode"] == "fallback" and not info["used"]
    assert got == search_topk_rows(ix2, head[0], k=10, algorithm="dense")


def test_dataframe_wrapper(imp_index):
    ix = imp_index
    head, _, _ = _query_set(ix)
    q = " ".join(head[:2])
    got = impact_topk(ix, q, k=10).collect()
    want = search_topk(ix, q, k=10, serving="driver").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_tie_corpus_expands_not_wrong(spark, tmp_path):
    """Every doc identical ⇒ every impact ties ⇒ theta == rest_bound
    and champion-only proof CANNOT hold (an unseen doc ties the
    boundary) — the path must expand to the exact full evaluation
    (or fall back), never return one tie-arbitrary champion page."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(300)], "doc_id long, text string"
    )
    out = str(tmp_path / "ties")
    build_index(spark, docs, out, num_shards=2, n_buckets=4)
    ix = Index.load(spark, out)
    build_impact_lists(ix, m=16, df_min=32)
    info = {}
    got = impact_topk_rows(ix, "alpha beta", k=10, info=info)
    want = search_topk_rows(ix, "alpha beta", k=10, algorithm="dense")
    assert got == want
    # a tie-saturated page is only correct once every tied posting is
    # decoded: progressive expansion (expanded > 0) or full/fallback
    assert info.get("expanded", 0) > 0 or info["mode"] in (
        "fallback", "full"
    )


def test_sidecar_build_deterministic(imp_index, tmp_path):
    ix = imp_index
    rows1 = (
        ix.spark.read.parquet(os.path.join(ix.out_dir, "impact"))
        .orderBy("term_hash")
        .collect()
    )
    d2 = str(tmp_path / "ixdet")
    shutil.copytree(ix.out_dir, d2)
    ix2 = Index.load(ix.spark, d2)
    build_impact_lists(ix2, m=32, df_min=64)
    rows2 = (
        ix2.spark.read.parquet(os.path.join(d2, "impact"))
        .orderBy("term_hash")
        .collect()
    )
    assert [r.asDict() for r in rows1] == [r.asDict() for r in rows2]


def test_dl_lookup_matches_dl_array(imp_index):
    from hadoop_search_engine_spark.operators.impact import _dl_lookup

    ix = imp_index
    arr = ix.dl_array()
    docs = np.flatnonzero(arr > 0)[::37].astype(np.int64)
    # mix in ids with no doc_stats row (doc_len 0 holes)
    want = np.unique(np.concatenate([docs, docs + 1]))
    got = _dl_lookup(ix, want)
    assert np.array_equal(got, arr[want])


def test_serving_past_driver_norms_limit(imp_index, monkeypatch):
    """The 10^12-doc serving-node mode: with NO driver doc-norms
    array (index past DL_BROADCAST_MAX_DOCS), champion dls from the
    sidecar + pruned doc_stats reads keep rows serving available and
    bit-identical; an uncertifiable query raises (rows contract) or
    runs the distributed dense scorer (DataFrame contract)."""
    from hadoop_search_engine_spark.operators import query_exec as qx

    ix = imp_index
    head, mid, _ = _query_set(ix)
    # expected answers from the UNRESTRICTED index first
    expected = {
        q: search_topk_rows(ix, q, k=5, algorithm="dense")
        for q in [head[0], " ".join([head[0], mid[0]])]
    }
    monkeypatch.setattr(qx, "DL_BROADCAST_MAX_DOCS", 10)
    ix2 = Index.load(ix.spark, ix.out_dir)
    assert ix2.dl_array() is None
    n_served = 0
    for q, want in expected.items():
        info = {}
        try:
            got = impact_topk_rows(ix2, q, k=5, info=info)
        except ValueError:
            continue  # proof failed — refusing is the correct contract
        assert got == want, (q, info)
        assert info["used"] and info["mode"] in ("pruned", "full")
        n_served += 1
    assert n_served >= 1  # at least the head term must certify
    # DataFrame contract never raises: falls back to the distributed
    # dense scorer and stays identical
    q = " ".join([head[0], mid[0]])
    got = [(r["doc_id"], r["score"])
           for r in impact_topk(ix2, q, k=5).collect()]
    assert got == expected[q]


def test_tombstones_covering_all_champions_not_wrong_empty(
    spark, tmp_path
):
    """Review-caught bug: if tombstones covered every CHAMPION of a
    term, the proof loop returned [] even though live NON-champion
    postings still match — a silent wrong-empty page. Must expand or
    fall back to dense and return the live matches."""
    from hadoop_search_engine_spark.operators.impact import ImpactLists
    from hadoop_search_engine_spark.operators.index_maint import (
        delete_docs,
    )

    docs = spark.createDataFrame(
        [(i, "common filler" + (" rare" if i % 3 == 0 else ""))
         for i in range(200)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "tombchamp")
    build_index(spark, docs, out, num_shards=2, n_buckets=4)
    ix = Index.load(spark, out)
    build_impact_lists(ix, m=4, df_min=8)
    imp = ImpactLists.load(ix)
    row = next(iter(imp.rows_for(
        [ix.lexicon_map()["common"]["hash"]]
    ).values()))
    assert row is not None and int(row.n_stored) < int(row.df)
    delete_docs(ix, [int(d) for d in row.doc_ids])  # kill every champion
    ix = Index.load(spark, out)
    got = impact_topk_rows(ix, "common", k=10)
    want = search_topk_rows(ix, "common", k=10, algorithm="dense")
    assert got == want
    assert len(want) == 10  # live non-champion matches exist


def test_all_matches_tombstoned_exact_empty(spark, tmp_path):
    """When a fully-decoded term's every match IS tombstoned, the
    empty page is exact and champion-served (info says so)."""
    from hadoop_search_engine_spark.operators.index_maint import (
        delete_docs,
    )

    docs = spark.createDataFrame(
        [(i, "base" + (" niche" if i < 3 else "")) for i in range(100)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "tombfull")
    build_index(spark, docs, out, num_shards=2, n_buckets=4)
    ix = Index.load(spark, out)
    build_impact_lists(ix, m=4, df_min=8)
    delete_docs(ix, [0, 1, 2])
    ix = Index.load(spark, out)
    info = {}
    got = impact_topk_rows(ix, "niche", k=10, info=info)
    assert got == []
    assert got == search_topk_rows(ix, "niche", k=10, algorithm="dense")
    assert info["used"] and info["mode"] == "full"


def test_out_of_range_b_falls_back_identical(imp_index):
    """b > 1 breaks the monotonicity the parameter-free rest bound
    needs — the path must fall back (never certify) and match dense
    exactly on whatever was asked."""
    ix = imp_index
    head, _, _ = _query_set(ix)
    for q in [head[0], " ".join(head[:2])]:
        info = {}
        got = impact_topk_rows(ix, q, k=10, b=1.5, info=info)
        want = search_topk_rows(ix, q, k=10, algorithm="dense", b=1.5)
        assert got == want
        assert info["mode"] == "fallback"


def test_malformed_query_error_propagates(imp_index):
    """A user-input error must raise, not be silently rerouted into a
    distributed retry (only the deliberate ImpactRefused is caught)."""
    from hadoop_search_engine_spark.operators.impact import ImpactRefused

    ix = imp_index
    head, _, _ = _query_set(ix)
    with pytest.raises(ValueError) as ei:
        impact_topk(ix, f"{head[0]}^0", k=5)
    assert not isinstance(ei.value, ImpactRefused)


def test_deep_k_past_coverage_falls_back(imp_index):
    """k beyond what M champions can certify ⇒ fallback, identical."""
    ix = imp_index
    head, _, _ = _query_set(ix)
    got = impact_topk_rows(ix, head[0], k=700)
    want = search_topk_rows(ix, head[0], k=700, algorithm="dense")
    assert got == want


def test_batch_rows_identity(imp_index):
    """Hybrid batch serving: certified queries via champions, the
    rest as ONE shared-decode dense batch — per-query results
    bit-identical to search_topk_batch_rows, no-hit queries map to
    no key."""
    from hadoop_search_engine_spark.operators.impact import (
        impact_topk_batch_rows,
    )
    from hadoop_search_engine_spark.operators.query_exec import (
        search_topk_batch_rows,
    )

    ix = imp_index
    head, mid, tail = _query_set(ix)
    queries = {
        "h0": head[0],
        "h01": " ".join(head[:2]),
        "hm": " ".join([head[0], mid[0]]),
        "m": mid[0],
        "t": tail[0],
        "none": "zzznotaterm",
        "mix": " ".join([head[1], "zzznotaterm"]),
    }
    info = {}
    got = impact_topk_batch_rows(ix, queries, k=10, info=info)
    want = search_topk_batch_rows(ix, queries, k=10)
    assert got == want
    assert "none" not in got  # no-hit query contributes no key
    assert info["certified"] + info["dense_batch"] == len(queries)
    assert info["certified"] >= 1  # champions actually served some


def test_batch_rows_past_driver_norms_limit_refuses_per_query(
    imp_index, monkeypatch
):
    """Past DL_BROADCAST_MAX_DOCS the uncertified remainder has no
    dense fallback: ImpactRefused names exactly the refused query_ids
    and carries the certified pages, bit-identical to the unrestricted
    index's; a certified no-hit query is neither refused nor a key."""
    from hadoop_search_engine_spark.operators import query_exec as qx
    from hadoop_search_engine_spark.operators.impact import (
        ImpactRefused,
        impact_topk_batch_rows,
    )

    ix = imp_index
    head, _, tail = _query_set(ix)
    # k past what M champions cover: the head query cannot certify
    queries = {"h0": head[0], "t": tail[0], "none": "zzznotaterm"}
    want = qx.search_topk_batch_rows(ix, queries, k=700)
    monkeypatch.setattr(qx, "DL_BROADCAST_MAX_DOCS", 10)
    ix2 = Index.load(ix.spark, ix.out_dir)
    assert ix2.dl_array() is None
    info = {}
    with pytest.raises(ImpactRefused) as ei:
        impact_topk_batch_rows(ix2, queries, k=700, info=info)
    err = ei.value
    assert "h0" in err.refused and "h0" in str(err)
    assert set(err.refused) | set(err.certified) == {"h0", "t"}
    assert not set(err.refused) & set(err.certified)
    assert err.certified == {q: want[q] for q in err.certified}
    assert info["certified"] + info["dense_batch"] == len(queries)
    assert info["dense_batch"] == len(err.refused)


def test_cli_build_and_serve(imp_index, tmp_path, capsys):
    """jobs/maintain.py --build-impact + jobs/search.py --algorithm
    impact round-trip at the CLI surface, rows identical to dense."""
    import json as _json

    from jobs.maintain import main as maintain_main
    from jobs.search import main as search_main

    ix = imp_index
    d2 = str(tmp_path / "ixcli")
    shutil.copytree(ix.out_dir, d2)
    maintain_main(["--index", d2, "--build-impact", "16",
                   "--impact-df-min", "64"])
    out = capsys.readouterr().out
    built = _json.loads([ln for ln in out.splitlines()
                         if ln.startswith("{")][-1])
    assert built["terms"] > 0 and built["m"] == 16
    head, _, _ = _query_set(ix)
    search_main(["--index", d2, "--query", head[0],
                 "--algorithm", "impact", "--rows", "--k", "5"])
    out = capsys.readouterr().out
    got = [(r["doc_id"], r["score"]) for r in _json.loads(
        [ln for ln in out.splitlines() if ln.startswith("[")][-1]
    )]
    assert got == search_topk_rows(ix, head[0], k=5, algorithm="dense")


def test_cli_build_impact_zero_reaches_validation(imp_index, tmp_path):
    """``--build-impact 0`` is a value, not an absent flag: alone or
    beside another action it must reach build_impact_lists' m >= 1
    check instead of being skipped as falsy."""
    from jobs.maintain import main as maintain_main

    d2 = str(tmp_path / "ixzero")
    shutil.copytree(imp_index.out_dir, d2)
    with pytest.raises(ValueError, match="m must be >= 1"):
        maintain_main(["--index", d2, "--build-impact", "0"])
    with pytest.raises(ValueError, match="m must be >= 1"):
        maintain_main(["--index", d2, "--report", "--build-impact", "0"])


def test_no_known_term_page_is_served_not_fallback(imp_index):
    """A query with no lexicon term is answered by the champion path
    itself (the exact empty page): info must say so."""
    info: dict = {}
    assert impact_topk_rows(imp_index, "zzqqxnotaterm", k=5, info=info) == []
    assert info["used"] and info["mode"] == "full"
    assert info["seen"] == info["candidates"] == info["probes"] == 0
