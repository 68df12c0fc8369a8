"""Tombstone deletes + vacuum: delete semantics match a doc_filter
(global stats, eligibility mask) until vacuum; after vacuum the index
is rank- AND score-identical to a fresh build over the surviving
corpus. The reference engine has no delete path at all (its index is a
one-shot MapReduce artifact, README.md:423-427)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.index_maint import (
    delete_docs,
    vacuum_index,
)
from hadoop_search_engine_spark.operators.query_exec import (
    Index,
    matched_docs,
    phrase_search,
    search_topk,
)

QUERIES = ["needle7", "w00001 w00002", "w00000", "w00003 w00010 w00200"]


def _pairs(df):
    return [(int(r["doc_id"]), round(float(r["score"]), 9)) for r in df.collect()]


@pytest.fixture()
def maint_index(spark, tiny_corpus, tmp_path):
    out = str(tmp_path / "maint")
    build_index(
        spark, tiny_corpus.select("doc_id", "text"), out,
        num_shards=4, n_buckets=8, block_size=16,
    )
    return Index.load(spark, out)


def _delete_set(idx):
    """Top needle7 hit + a spread of other docs."""
    top = _pairs(search_topk(idx, "needle7", k=1))
    assert top, "fixture must contain needle7"
    return sorted({top[0][0]} | set(range(3, 60, 7)))


def test_tombstone_search_matches_doc_filter(spark, tiny_corpus, maint_index):
    dead = _delete_set(maint_index)
    remaining = tiny_corpus.select("doc_id").where(~F.col("doc_id").isin(dead))
    # expected BEFORE deleting: same index, doc_filter eligibility mask
    expected = {
        q: _pairs(search_topk(maint_index, q, k=10, doc_filter=remaining))
        for q in QUERIES
    }
    n = delete_docs(maint_index, dead)
    assert n == len(dead)
    for q in QUERIES:
        got_spark = _pairs(search_topk(maint_index, q, k=10, serving="spark"))
        got_driver = _pairs(search_topk(maint_index, q, k=10, serving="driver"))
        assert got_spark == expected[q], q
        assert got_driver == expected[q], q
        assert not set(d for d, _ in got_spark) & set(dead)


def test_matched_docs_excludes_tombstones(maint_index):
    before = {r["doc_id"] for r in matched_docs(maint_index, "w00001 w00002").collect()}
    dead = sorted(before)[:5]
    delete_docs(maint_index, dead)
    after = {r["doc_id"] for r in matched_docs(maint_index, "w00001 w00002").collect()}
    assert after == before - set(dead)


def test_delete_docs_merges_and_dedups(maint_index):
    assert delete_docs(maint_index, [1, 2, 3]) == 3
    assert delete_docs(maint_index, [3, 4]) == 4
    assert maint_index.tombstone_count() == 4


def test_vacuum_identical_to_fresh_build(spark, tiny_corpus, maint_index, tmp_path):
    dead = _delete_set(maint_index)
    delete_docs(maint_index, dead)
    vac = vacuum_index(maint_index)
    assert vac.tombstone_count() == 0

    survivors = tiny_corpus.where(~F.col("doc_id").isin(dead))
    fresh_dir = str(tmp_path / "fresh")
    build_index(
        spark, survivors.select("doc_id", "text"), fresh_dir,
        num_shards=4, n_buckets=8, block_size=16,
    )
    fresh = Index.load(spark, fresh_dir)

    assert vac.stats.n_docs == fresh.stats.n_docs
    assert vac.stats.avgdl == pytest.approx(fresh.stats.avgdl)
    rv, rf = vac.report(), fresh.report()
    for key in ("postings", "tokens", "terms", "n_docs"):
        assert rv[key] == rf[key], key
    for q in QUERIES + ["zzzzq", ""]:
        for serving in ("driver", "spark"):
            assert _pairs(search_topk(vac, q, k=10, serving=serving)) == _pairs(
                search_topk(fresh, q, k=10, serving=serving)
            ), (q, serving)


def test_vacuum_large_tombstone_set(spark, tmp_path):
    """>= 10^5 tombstones through the batched searchsorted probe
    (operators/index_maint.py _make_vacuum_rewriter): results stay
    rank- AND score-identical to a fresh build over the survivors.
    The set mixes real doc_ids (every 3rd doc) with a large synthetic
    range past the corpus (exercising the probe's out-of-range path —
    deleting absent ids is a no-op by definition)."""
    from hadoop_search_engine_spark.corpus import gen_documents
    from hadoop_search_engine_spark.operators.doc_ids import assign_doc_ids

    docs = assign_doc_ids(
        gen_documents(spark, 3000, n_partitions=4), num_partitions=4
    ).select("doc_id", "text").persist()
    out = str(tmp_path / "big")
    build_index(spark, docs, out, num_shards=4, n_buckets=8, block_size=16)
    idx = Index.load(spark, out)

    real_dead = list(range(0, 3000, 3))
    synthetic = list(range(200_000, 300_000))
    dead = real_dead + synthetic
    assert len(dead) >= 100_000
    delete_docs(idx, dead)
    vac = vacuum_index(idx)
    assert vac.tombstone_count() == 0

    fresh_dir = str(tmp_path / "big_fresh")
    build_index(
        spark, docs.where(~F.col("doc_id").isin(real_dead)), fresh_dir,
        num_shards=4, n_buckets=8, block_size=16,
    )
    fresh = Index.load(spark, fresh_dir)
    assert vac.stats.n_docs == fresh.stats.n_docs
    rv, rf = vac.report(), fresh.report()
    for key in ("postings", "tokens", "terms"):
        assert rv[key] == rf[key], key
    for q in QUERIES:
        for serving in ("driver", "spark"):
            assert _pairs(search_topk(vac, q, k=10, serving=serving)) == _pairs(
                search_topk(fresh, q, k=10, serving=serving)
            ), (q, serving)
    docs.unpersist()


def test_vacuum_positional_phrase(spark, tiny_corpus, tmp_path):
    out = str(tmp_path / "pos")
    build_index(
        spark, tiny_corpus.select("doc_id", "text"), out,
        num_shards=4, n_buckets=8, block_size=16, positions=True,
    )
    idx = Index.load(spark, out)
    # a real adjacent-word phrase from the corpus
    row = tiny_corpus.select("doc_id", "text").orderBy("doc_id").first()
    words = row["text"].split()
    phrase = f"{words[1]} {words[2]}"
    before = _pairs(phrase_search(idx, phrase, k=10))
    assert before, "fixture phrase must hit"
    dead = [before[0][0]] + list(range(100, 120, 3))
    delete_docs(idx, dead)
    live = [p for p in before if p[0] not in dead]
    for serving in ("driver", "spark"):
        masked = _pairs(phrase_search(idx, phrase, k=10, serving=serving))
        assert before[0][0] not in {d for d, _ in masked}, serving
        assert masked[:len(live)] == live, serving

    vac = vacuum_index(idx)
    fresh_dir = str(tmp_path / "pos_fresh")
    build_index(
        spark,
        tiny_corpus.where(~F.col("doc_id").isin(dead)).select("doc_id", "text"),
        fresh_dir, num_shards=4, n_buckets=8, block_size=16, positions=True,
    )
    fresh = Index.load(spark, fresh_dir)
    for serving in ("driver", "spark"):
        assert _pairs(phrase_search(vac, phrase, k=10, serving=serving)) == (
            _pairs(phrase_search(fresh, phrase, k=10, serving=serving))
        ), serving


def test_delete_by_query_semantics(spark, tiny_corpus, tmp_path):
    from hadoop_search_engine_spark.operators.index_build import build_index
    from hadoop_search_engine_spark.operators.index_maint import (
        delete_by_query,
        vacuum_index,
    )
    from hadoop_search_engine_spark.operators.query_exec import (
        Index,
        search_topk,
    )

    d = str(tmp_path / "dbq")
    build_index(spark, tiny_corpus.select("doc_id", "text"), d, n_buckets=4)
    idx = Index.load(spark, d)
    assert search_topk(idx, "needle7", k=10).count() == 3

    out = delete_by_query(idx, "needle7")
    assert out["deleted"] == 3
    assert search_topk(idx, "needle7", k=10).count() == 0
    # other queries unaffected beyond the removed docs
    assert search_topk(idx, "w00000", k=5).count() == 5

    # idempotent: the match set already excludes tombstones
    again = delete_by_query(idx, "needle7")
    assert again["deleted"] == 0
    assert again["total_tombstones"] == out["total_tombstones"]

    # conjunctive mode: matches nothing when one term is absent
    none = delete_by_query(idx, "w00000 zzzz", mode="and")
    assert none["deleted"] == 0

    # vacuum keeps the deletion physical
    idx2 = vacuum_index(idx)
    assert search_topk(idx2, "needle7", k=10).count() == 0
