"""Driver-serving hot-postings LRU cache (``Index.postings_rows``).

Web query logs are Zipfian, so the driver serving path pins
recently-probed posting rows per Index (the search-node page-cache
analog). These tests pin the cache's contract:

  * hot (cached) queries are rank- AND score-identical to the
    cache-off path (``SPARK_GRAFT_POSTINGS_CACHE_MB=0``) and to the
    NumPy oracle — across OR, AND, tuned (k1, b), batch, and phrase
    serving;
  * eviction under an adversarially tiny byte budget never changes
    results and the budget invariant (bytes <= cap, or cache empty)
    holds after every probe;
  * tombstones land AFTER the cache (masked inside the shard scorer,
    which still selects exactly k), so a delete between two probes of
    the same hot term is respected;
  * absent terms cache an empty frame (a repeated OOV miss must not
    re-read parquet every time).
"""

from __future__ import annotations

import math

import pytest

from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.query_exec import (
    Index,
    phrase_search,
    search_topk,
    search_topk_batch,
)
from hadoop_search_engine_spark.oracle.bm25_oracle import BM25Oracle

ROWS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "quick brown dog sleeps while the brown fox runs"),
    (2, "a brown fox and a quick dog and a quick brown fox"),
    (3, "completely unrelated content about spark engines"),
    (4, "brown quick fox"),
    (5, "the the the repeated words the the"),
    (6, "quick brown"),
    (7, "engines and dogs and foxes run quick circles"),
]

QUERIES = ["quick brown fox", "brown dog", "the", "engines", "quick",
           "brown fox engines", "nosuchterm quick"]


@pytest.fixture(scope="module")
def cache_setup(spark, tmp_path_factory):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("pcache") / "idx")
    build_index(spark, docs, out, n_buckets=4, block_size=4, positions=True)
    return out, BM25Oracle(ROWS)


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _same(got, want, label):
    assert len(got) == len(want), f"{label}: {got} vs {want}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd, f"{label}: {got} vs {want}"
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-12), label


def test_hot_queries_identical_to_cache_off_and_oracle(
    spark, cache_setup, monkeypatch
):
    out, oracle = cache_setup
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "0")
    cold_idx = Index.load(spark, out)
    off = {
        (q, mode): _pairs(search_topk(cold_idx, q, k=5, mode=mode,
                                      serving="driver"))
        for q in QUERIES
        for mode in ("or", "and")
    }
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "64")
    idx = Index.load(spark, out)
    for _round in range(3):  # round 1 fills the cache, 2-3 serve hot
        for q in QUERIES:
            for mode in ("or", "and"):
                got = _pairs(search_topk(idx, q, k=5, mode=mode,
                                         serving="driver"))
                _same(got, off[(q, mode)], f"{q}/{mode} round {_round}")
                if mode == "or":
                    _same(got, oracle.search(q, k=5), f"{q} oracle")
    assert idx._pcache, "cache should hold entries after hot rounds"


def test_tuned_k1_b_reuses_cached_raw_rows(spark, cache_setup, monkeypatch):
    out, oracle = cache_setup
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "64")
    idx = Index.load(spark, out)
    q = "quick brown fox"
    default = _pairs(search_topk(idx, q, k=5, serving="driver"))
    tuned = _pairs(search_topk(idx, q, k=5, serving="driver", k1=0.9, b=0.4))
    # same cached rows, different parameterization: scores must differ
    assert any(
        not math.isclose(ds, ts, rel_tol=1e-9)
        for (_, ds), (_, ts) in zip(default, tuned)
    )
    _same(tuned, BM25Oracle(ROWS, k1=0.9, b=0.4).search(q, k=5), "tuned vs oracle")
    # and the default run again (hot) is still the default scoring
    _same(_pairs(search_topk(idx, q, k=5, serving="driver")), default,
          "default rerun")


def test_batch_and_phrase_ride_the_cache(spark, cache_setup, monkeypatch):
    out, oracle = cache_setup
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "64")
    idx = Index.load(spark, out)
    queries = {f"q{i}": q for i, q in enumerate(QUERIES)}

    def by_qid(df):
        rows: dict[str, list] = {}
        for r in df.collect():
            rows.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        for v in rows.values():
            v.sort(key=lambda p: (-p[1], p[0]))
        return rows

    batch1 = by_qid(search_topk_batch(idx, queries, k=5, serving="driver"))
    batch2 = by_qid(search_topk_batch(idx, queries, k=5, serving="driver"))
    assert batch1 and batch1 == batch2
    for qid, q in queries.items():
        _same(batch1.get(qid, []), oracle.search(q, k=5), f"batch {q}")
    for phrase in ("quick brown fox", "the the", "lazy fox"):
        a = _pairs(phrase_search(idx, phrase, k=5, serving="driver"))
        b = _pairs(phrase_search(idx, phrase, k=5, serving="driver"))
        _same(b, a, f"phrase rerun {phrase}")
        _same(a, oracle.phrase_search(phrase, k=5), f"phrase {phrase}")


def test_eviction_under_tiny_budget_is_invisible(
    spark, cache_setup, monkeypatch
):
    out, oracle = cache_setup
    # ~100 bytes: smaller than any term's rows, so every probe evicts
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "0.0001")
    idx = Index.load(spark, out)
    cap = int(0.0001 * (1 << 20))
    for _round in range(2):
        for q in QUERIES:
            got = _pairs(search_topk(idx, q, k=5, serving="driver"))
            _same(got, oracle.search(q, k=5), f"tiny-budget {q}")
            if idx._pcache:
                assert idx._pcache_nbytes <= cap


def test_delete_after_warm_cache_is_respected(
    spark, cache_setup, monkeypatch, tmp_path
):
    from hadoop_search_engine_spark.operators.index_maint import delete_docs

    out, _ = cache_setup
    # work on a copy: other tests share the module index directory
    import shutil

    mine = str(tmp_path / "idx")
    shutil.copytree(out, mine)
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "64")
    idx = Index.load(spark, mine)
    q = "brown fox"
    before = _pairs(search_topk(idx, q, k=5, serving="driver"))  # warm
    top_doc = before[0][0]
    delete_docs(idx, [top_doc])
    after = _pairs(search_topk(idx, q, k=5, serving="driver"))
    assert all(d != top_doc for d, _ in after)
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "0")
    fresh = _pairs(search_topk(Index.load(spark, mine), q, k=5,
                               serving="driver"))
    _same(after, fresh, "post-delete hot vs cache-off")


def test_absent_term_caches_empty_frame(spark, cache_setup, monkeypatch):
    out, _ = cache_setup
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "64")
    idx = Index.load(spark, out)
    bogus = 123456789
    pdf = idx.postings_rows([bogus])
    assert len(pdf) == 0
    assert bogus in idx._pcache and len(idx._pcache[bogus][0]) == 0
    # second probe is a pure cache hit (no dataset read path: the
    # entry stays, bytes unchanged)
    n = idx._pcache_nbytes
    pdf2 = idx.postings_rows([bogus])
    assert len(pdf2) == 0 and idx._pcache_nbytes == n
