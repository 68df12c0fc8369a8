"""Tombstones as an in-scorer mask.

Deleted-but-not-vacuumed docs are masked inside every shard scorer
(dense: zeroed before top-k selection; WAND: dropped at candidate
insertion, so theta tracks the kth LIVE doc), and each shard selects
exactly k. These tests pin that the served pages equal the BM25
oracle restricted to the live docs — doc order exactly, scores to
1e-12 — on the shapes where a post-filter of a k-row page would
under-fill:

  * every top-k doc of one shard deleted;
  * every doc of a shard deleted;
  * exactly ``TOMBSTONE_OVERFETCH_MAX`` tombstones (and one past it,
    where serving folds the set into the cogroup eligibility page);

across OR and AND (WAND) queries, ``after`` pages, tuned k1/b and a
pluggable similarity, through ``search_topk_rows``,
``search_topk_batch_rows`` and ``search_topk(serving="spark")``. The
tombstone count is cached per Index next to the array; deletes on the
same Index refresh both.
"""

from __future__ import annotations

import math
import random
import shutil

import pytest

from hadoop_search_engine_spark.operators import query_exec as qe
from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.index_maint import (
    delete_by_query,
    delete_docs,
)
from hadoop_search_engine_spark.operators.query_exec import (
    Index,
    search_topk,
    search_topk_batch_rows,
    search_topk_rows,
)
from hadoop_search_engine_spark.oracle.bm25_oracle import BM25Oracle

N_DOCS = 240
SPAN = 60  # 4 shards
K = 5
VOCAB = [f"t{i:02d}" for i in range(48)]


def _corpus(seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    weights = [1.0 / (r + 1) for r in range(len(VOCAB))]  # Zipf(1)
    return [
        (d, " ".join(rng.choices(VOCAB, weights, k=rng.randint(8, 40))))
        for d in range(N_DOCS)
    ]


def _queries(seed: int, n: int = 8) -> list[str]:
    rng = random.Random(seed + 1)
    head, rest = VOCAB[:6], VOCAB[6:30]
    out = ["t00", "t00 t01", "t02 t05 t11"]
    while len(out) < n:
        out.append(" ".join(
            [rng.choice(head)] + rng.sample(rest, rng.randint(0, 2))
        ))
    return out


ROWS = _corpus(7)
QUERIES = _queries(7)


@pytest.fixture(scope="module")
def base_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tombmask") / "base")
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    build_index(spark, docs, out, shard_span=SPAN, n_buckets=4, block_size=8)
    assert Index.load(spark, out).stats.num_shards == N_DOCS // SPAN
    return out


def _with_deletes(spark, base_dir, tmp_path, dead) -> Index:
    mine = str(tmp_path / "idx")
    shutil.copytree(base_dir, mine)
    idx = Index.load(spark, mine)
    delete_docs(idx, sorted(dead))
    return Index.load(spark, mine)  # a fresh node: nothing cached


def _ranking(oracle: BM25Oracle, q: str, mode: str, live: set) -> list:
    allowed = live
    if mode == "and":
        for t in set(q.split()):
            allowed = allowed & set(oracle.postings.get(t, {}))
    return oracle.search(q, k=N_DOCS, allowed=allowed)


def _same(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"{label}: {got} vs {want}")
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-12), label


def _check(idx, live):
    """Every serving path against the oracle restricted to ``live``
    (the Spark path, a job per call, on one query per mode: dense for
    OR, WAND for AND)."""
    for k1, b in ((None, None), (0.9, 0.3)):
        oracle = (BM25Oracle(ROWS) if k1 is None
                  else BM25Oracle(ROWS, k1=k1, b=b))
        for mode in ("or", "and"):
            want = {q: _ranking(oracle, q, mode, live) for q in QUERIES}
            for algo in ("dense", "wand"):
                for q in QUERIES:
                    label = f"{q}/{mode}/{algo}/k1={k1}"
                    page1 = search_topk_rows(idx, q, k=K, mode=mode,
                                             algorithm=algo, k1=k1, b=b)
                    _same(page1, want[q][:K], label)
                    if len(page1) == K:  # the next page, by cursor
                        page2 = search_topk_rows(
                            idx, q, k=K, mode=mode, algorithm=algo,
                            k1=k1, b=b, after=page1[-1])
                        _same(page2, want[q][K:2 * K], f"{label} page 2")
            batch = search_topk_batch_rows(
                idx, {q: q for q in QUERIES}, k=K, mode=mode, k1=k1, b=b)
            for q in QUERIES:
                _same(batch.get(q, []), want[q][:K], f"batch {q}/{mode}")
            q, algo = QUERIES[1], "wand" if mode == "and" else "dense"
            got = [(r["doc_id"], r["score"]) for r in search_topk(
                idx, q, k=K, mode=mode, algorithm=algo, k1=k1, b=b,
                serving="spark").collect()]
            _same(got, want[q][:K], f"spark {q}/{mode}/{algo}")


def _check_similarity(spark, base_dir, idx, live):
    """A pluggable similarity is masked the same way: the live-only
    ranking of the untombstoned index (statistics stay global until
    vacuum, so surviving docs keep their exact scores)."""
    full = Index.load(spark, base_dir)
    for q in QUERIES[:4]:
        want = [p for p in search_topk_rows(full, q, k=N_DOCS,
                                            similarity="tfidf")
                if p[0] in live]
        _same(search_topk_rows(idx, q, k=K, similarity="tfidf"), want[:K],
              f"tfidf {q}")
    got = [(r["doc_id"], r["score"]) for r in search_topk(
        idx, q, k=K, similarity="tfidf", serving="spark").collect()]
    _same(got, want[:K], f"tfidf spark {q}")


def test_every_topk_doc_of_one_shard_deleted(spark, base_dir, tmp_path):
    oracle = BM25Oracle(ROWS)
    rng = random.Random(11)
    dead: set[int] = set(rng.sample(range(N_DOCS), 12))
    # shard 1's own top 2k for each of the first queries, both modes:
    # a shard scorer that selected k before masking would come back
    # empty-handed for that shard
    for q in QUERIES[:4]:
        for mode in ("or", "and"):
            mine = [d for d, _ in _ranking(oracle, q, mode, set(range(N_DOCS)))
                    if SPAN <= d < 2 * SPAN]
            dead.update(mine[: 2 * K])
    idx = _with_deletes(spark, base_dir, tmp_path, dead)
    live = set(range(N_DOCS)) - dead
    _check(idx, live)
    _check_similarity(spark, base_dir, idx, live)


def test_every_doc_of_a_shard_deleted(spark, base_dir, tmp_path):
    dead = set(range(2 * SPAN, 3 * SPAN)) | {0, 1, 61, 200}
    idx = _with_deletes(spark, base_dir, tmp_path, dead)
    live = set(range(N_DOCS)) - dead
    _check(idx, live)
    assert all(not 2 * SPAN <= d < 3 * SPAN
               for d, _ in search_topk_rows(idx, "t00", k=N_DOCS))


def test_exactly_the_overfetch_limit(spark, base_dir, tmp_path, monkeypatch):
    dead = set(random.Random(13).sample(range(N_DOCS), 40))
    monkeypatch.setattr(qe, "TOMBSTONE_OVERFETCH_MAX", len(dead))
    idx = _with_deletes(spark, base_dir, tmp_path, dead)
    live = set(range(N_DOCS)) - dead
    assert idx.tombstone_count() == qe.TOMBSTONE_OVERFETCH_MAX
    _check(idx, live)
    # one past the limit: driver serving refuses, the spark path folds
    # the set into the cogroup eligibility page and stays exact
    extra = min(live)
    delete_docs(idx, [extra])
    live.discard(extra)
    with pytest.raises(ValueError, match="tombstone set past"):
        search_topk_rows(idx, "t00", k=K)
    q = QUERIES[1]
    got = [(r["doc_id"], r["score"]) for r in search_topk(
        idx, q, k=K, serving="spark").collect()]
    _same(got, _ranking(BM25Oracle(ROWS), q, "or", live)[:K], "past limit")


def test_mask_composes_with_doc_filter(spark, base_dir, tmp_path):
    dead = set(range(0, N_DOCS, 3))
    idx = _with_deletes(spark, base_dir, tmp_path, dead)
    keep = set(range(0, N_DOCS, 2))
    flt = spark.createDataFrame([(d,) for d in sorted(keep)], "doc_id long")
    oracle = BM25Oracle(ROWS)
    live = (set(range(N_DOCS)) - dead) & keep
    for q in QUERIES[:2]:
        got = [(r["doc_id"], r["score"]) for r in search_topk(
            idx, q, k=K, doc_filter=flt).collect()]
        _same(got, _ranking(oracle, q, "or", live)[:K], f"filtered {q}")


def test_tombstone_count_is_cached_and_deletes_refresh_it(
    spark, base_dir, tmp_path, monkeypatch
):
    import pyarrow.dataset as pads

    idx = _with_deletes(spark, base_dir, tmp_path, {3, 4, 5})
    assert idx.tombstone_count() == 3
    q = "t00 t01"
    warm = search_topk_rows(idx, q, k=K)  # postings listing + LRU warm

    def no_fs(*a, **kw):
        raise AssertionError("tombstone state re-read from disk")

    monkeypatch.setattr(pads, "dataset", no_fs)
    assert idx.tombstone_count() == 3
    assert search_topk_rows(idx, q, k=K) == warm
    monkeypatch.undo()

    # delete_docs on the SAME Index: count and array refresh before
    # the next query
    victim = warm[0][0]
    assert delete_docs(idx, [victim]) == 4
    assert idx.tombstone_count() == 4
    assert victim in set(idx.tombstone_array().tolist())
    live = set(range(N_DOCS)) - {3, 4, 5, victim}
    _same(search_topk_rows(idx, q, k=K),
          BM25Oracle(ROWS).search(q, k=K, allowed=live), "after delete")

    # delete_by_query likewise
    out = delete_by_query(idx, "t40")
    assert out["deleted"] > 0
    assert idx.tombstone_count() == out["total_tombstones"]
    assert idx.tombstone_array().size == out["total_tombstones"]
    assert search_topk_rows(idx, "t40", k=K) == []
