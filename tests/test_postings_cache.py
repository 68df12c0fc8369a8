"""Driver-serving hot-postings LRU cache
(``Index.postings_rows_by_term``) and the one postings splitter.

Web query logs are Zipfian, so the driver serving path pins
recently-probed postings per Index (the search-node page-cache
analog), each term as NumPy block columns. These tests pin the
cache's contract:

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
  * absent terms cache an empty entry (a repeated OOV miss must not
    re-read parquet every time);
  * the driver read (an Arrow table) and an executor shard's group
    (its pandas frame) split into identical block columns, in (shard,
    block_id) order whatever order the rows arrive in;
  * a miss keeps the row-group range its read decodes, so probing
    every term of one bucket in turn costs ONE parquet read, with
    answers identical to cache-off and the oracle; a range larger than
    the budget is read exactly and never kept;
  * an entry larger than the whole budget is not kept and evicts
    nothing.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.query_exec import (
    Index,
    _ByteLRU,
    _postings_entries,
    phrase_search,
    search_topk,
    search_topk_batch,
    search_topk_rows,
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
                assert idx._pcache.nbytes <= cap


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
    pdf = idx.postings_rows_by_term([bogus])[bogus].blocks.n_docs
    assert len(pdf) == 0
    assert bogus in idx._pcache and len(idx._pcache.get(bogus).shards) == 0
    # second probe is a pure cache hit (no dataset read path: the
    # entry stays, bytes unchanged)
    n = idx._pcache.nbytes

    def no_read():
        raise AssertionError("a cached miss must not read parquet")

    monkeypatch.setattr(idx, "_postings_dataset", no_read)
    pdf2 = idx.postings_rows_by_term([bogus])[bogus].blocks.n_docs
    assert len(pdf2) == 0 and idx._pcache.nbytes == n


def _same_blocks(got, want):
    for name, g, w in zip(want._fields, got, want):
        if w.dtype == object:
            assert list(g) == list(w), name
        else:
            assert g.dtype == w.dtype and np.array_equal(g, w), name


def test_one_splitter_for_arrow_table_and_pandas_frame(spark, cache_setup):
    import pyarrow as pa
    import pyarrow.dataset as pads

    out, _ = cache_setup
    ds = pads.dataset(os.path.join(out, "postings"), format="parquet",
                      partitioning="hive")
    # the positional term with the most blocks, as the driver reads it
    hashes, counts = np.unique(
        ds.to_table(columns=["term_hash"])["term_hash"].to_numpy(),
        return_counts=True)
    th = int(hashes[np.argmax(counts)])
    table = ds.to_table(filter=pads.field("term_hash") == th)
    assert table.num_rows >= 2
    assert table["positions"].null_count == 0
    want = _postings_entries(table, [th])[th]
    # (shard, block_id) order, whatever order the read came back in
    sb = sorted(zip(table["shard"].to_pylist(),
                    table["block_id"].to_pylist(),
                    table["first_doc_id"].to_pylist()))
    assert want.blocks.first_doc_id.tolist() == [f for _, _, f in sb]
    assert sorted(want.shards) == sorted({s for s, _, _ in sb})
    reversed_rows = table.take(pa.array(np.arange(table.num_rows)[::-1]))
    for label, src in (("pandas", table.to_pandas()),
                       ("reversed", reversed_rows)):
        got = _postings_entries(src, [th])[th]
        _same_blocks(got.blocks, want.blocks)
        assert got.nbytes == want.nbytes, label
        assert sorted(got.shards) == sorted(want.shards), label
        for s, view in want.shards.items():
            _same_blocks(got.shards[s], view)


def test_oversized_put_keeps_the_cache():
    lru = _ByteLRU(100)
    for i in range(5):
        lru.put(i, None, 15)
    lru.put("big", None, 150)
    assert "big" not in lru
    assert len(lru) == 5 and lru.nbytes == 75
    lru.put(5, None, 40)  # an ordinary put still evicts oldest first
    assert 0 not in lru and 5 in lru and lru.nbytes == 100


class _CountingDataset:
    """The postings dataset with every ``to_table`` call recorded."""

    def __init__(self, ds, reads):
        self._ds, self._reads = ds, reads

    def to_table(self, *args, **kwargs):
        self._reads.append(kwargs)
        return self._ds.to_table(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._ds, name)


def _counting(idx, monkeypatch):
    reads: list = []
    orig = idx._postings_dataset
    monkeypatch.setattr(idx, "_postings_dataset",
                        lambda: _CountingDataset(orig(), reads))
    return reads


def test_kept_range_serves_every_later_miss_of_its_bucket(
    spark, cache_setup, monkeypatch, tmp_path
):
    import shutil

    import pyarrow.parquet as pq

    from hadoop_search_engine_spark.operators.index_maint import delete_docs

    out, oracle = cache_setup
    mine = str(tmp_path / "idx")
    shutil.copytree(out, mine)
    dead = {2, 6}
    base = Index.load(spark, mine)
    delete_docs(base, sorted(dead))
    live = {d for d, _ in ROWS} - dead
    nb = base.stats.n_buckets
    by_bucket: dict[int, list] = {}
    for term, v in base.lexicon_map().items():
        by_bucket.setdefault(v["bucket"], []).append((term, v["hash"]))
    b = max(by_bucket, key=lambda k: len(by_bucket[k]))
    terms = sorted(by_bucket[b])
    assert len(terms) >= 3
    known = {h for _, h in terms}
    # an absent hash of the same bucket, inside its row-group range
    absent = next(h for h in range(min(known) + nb, max(known), nb)
                  if h not in known)

    def run(idx):
        return {t: search_topk_rows(idx, t, k=5) for t, _ in terms}

    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "0")
    off = run(Index.load(spark, mine))
    for t, _ in terms:
        _same(off[t], oracle.search(t, k=5, allowed=live), f"{t} oracle")

    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", "64")
    idx = Index.load(spark, mine)
    reads = _counting(idx, monkeypatch)
    assert run(idx) == off
    assert len(idx.postings_rows_by_term([absent])[absent].shards) == 0
    assert len(reads) == 1, "every term of the bucket after the first is a kept-range hit"
    # outside the bucket's hash range no row group covers it: no read
    outside = (max(known) + nb if max(known) < 2**63 - nb
               else min(known) - nb)
    assert len(idx.postings_rows_by_term([outside])[outside].shards) == 0
    assert len(reads) == 1

    # a budget under the bucket's footer byte size: every probe is an
    # exact read, no range is kept and earlier entries are not flushed
    bdir = os.path.join(mine, "postings", f"bucket={b}")
    mds = [pq.ParquetFile(os.path.join(bdir, f)).metadata
           for f in os.listdir(bdir) if f.endswith(".parquet")]
    unit = sum(md.row_group(i).total_byte_size
               for md in mds for i in range(md.num_row_groups))
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_CACHE_MB", str((unit - 1) / (1 << 20)))
    idx = Index.load(spark, mine)
    reads = _counting(idx, monkeypatch)
    assert run(idx) == off
    assert len(reads) == len(terms)
    assert all(isinstance(k, int) for k in idx._pcache._d)
    assert terms[-1][1] in idx._pcache and idx._pcache.nbytes <= idx._pcache.cap
