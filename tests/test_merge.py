"""Physical segment merge: ``merge_indexes`` concatenates built index
segments by pure column arithmetic (blob bytes unchanged) into ONE
index that is byte- and score-identical to a fresh build over the
remapped union corpus. The reference engine has no segment lifecycle
at all (one-shot MapReduce artifact, README.md:423-427); this is the
external posting-list merge of the classic design (Lucene merges)."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.index_maint import (
    delete_docs,
    merge_indexes,
    segment_offsets,
    shift_doc_ids,
    vacuum_index,
)
from hadoop_search_engine_spark.operators.query_exec import (
    Index,
    materialize,
    phrase_search,
    search_topk,
)

SPAN = 128
QUERIES = ["needle7", "w00001 w00002", "w00000", "w00003 w00010 w00200"]


def _pairs(df):
    return [(int(r["doc_id"]), round(float(r["score"]), 9)) for r in df.collect()]


@pytest.fixture(scope="module")
def seg_corpora(spark):
    """One 600-doc corpus split into segment A (ids 0..399) and
    segment B (re-minted dense ids 0..199), as two independent
    ingests would produce."""
    from hadoop_search_engine_spark.corpus import gen_documents
    from hadoop_search_engine_spark.operators.doc_ids import assign_doc_ids

    docs = assign_doc_ids(
        gen_documents(spark, 600, n_partitions=4), num_partitions=4
    ).select("doc_id", "url", "text").persist()
    a = docs.where(F.col("doc_id") < 400).persist()
    b = (
        docs.where(F.col("doc_id") >= 400)
        .withColumn("doc_id", F.col("doc_id") - F.lit(400))
        .persist()
    )
    a.count(), b.count()
    return a, b


@pytest.fixture(scope="module")
def merged_and_fresh(spark, seg_corpora, tmp_path_factory):
    """(merged Index, fresh-union Index, union docs in merged id space)."""
    a, b = seg_corpora
    root = tmp_path_factory.mktemp("merge")
    build_index(spark, a.select("doc_id", "text"), str(root / "segA"),
                shard_span=SPAN, n_buckets=8, block_size=16)
    build_index(spark, b.select("doc_id", "text"), str(root / "segB"),
                shard_span=SPAN, n_buckets=8, block_size=16)
    merged = merge_indexes(
        spark, [str(root / "segA"), str(root / "segB")], str(root / "merged")
    )
    offs = segment_offsets(str(root / "merged"))
    assert [o["doc_offset"] for o in offs] == [0, 4 * SPAN]
    union_docs = a.unionByName(shift_doc_ids(b, offs[1]["doc_offset"])).persist()
    build_index(spark, union_docs.select("doc_id", "text"), str(root / "fresh"),
                shard_span=SPAN, n_buckets=8, block_size=16)
    return merged, Index.load(spark, str(root / "fresh")), union_docs


def _assert_term_sorted(index_dir):
    files = glob.glob(os.path.join(index_dir, "postings", "bucket=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["term_hash", "shard", "block_id"])
        th, sh, bid = (t[c].to_numpy() for c in t.column_names)
        # plain comparisons: np.diff overflows on int64 hashes
        up_th, eq_th = th[1:] > th[:-1], th[1:] == th[:-1]
        up_sh, eq_sh = sh[1:] > sh[:-1], sh[1:] == sh[:-1]
        ok = up_th | (eq_th & (up_sh | (eq_sh & (bid[1:] >= bid[:-1]))))
        assert ok.all(), f"{f} is not sorted by (term_hash, shard, block_id)"


def test_postings_files_are_term_sorted(spark, merged_and_fresh, tmp_path):
    """Build, merge and vacuum each write every postings file sorted by
    (term_hash, shard, block_id), so row-group statistics prune."""
    merged, fresh, _ = merged_and_fresh
    _assert_term_sorted(fresh.out_dir)
    _assert_term_sorted(merged.out_dir)
    mine = str(tmp_path / "vac")
    shutil.copytree(merged.out_dir, mine)
    ix = Index.load(spark, mine)
    delete_docs(ix, list(range(0, 600, 7)))
    _assert_term_sorted(vacuum_index(ix).out_dir)


def test_merged_postings_byte_identical_to_fresh_union_build(merged_and_fresh):
    merged, fresh, _ = merged_and_fresh

    def rows(ix):
        return {
            (
                int(r["term_hash"]), int(r["shard"]), int(r["block_id"]),
                int(r["first_doc_id"]),
                bytes(r["doc_ids"]), bytes(r["tfs"]),
                int(r["n_docs"]), int(r["tf_sum"]),
                int(r["max_tf"]), int(r["min_dl"]), int(r["bucket"]),
            )
            for r in ix.postings.collect()
        }

    assert rows(merged) == rows(fresh)
    assert merged.stats.n_docs == fresh.stats.n_docs
    assert merged.stats.num_shards == fresh.stats.num_shards == 6
    assert merged.stats.avgdl == pytest.approx(fresh.stats.avgdl, rel=1e-12)


def test_merged_lexicon_matches_fresh(merged_and_fresh):
    merged, fresh, _ = merged_and_fresh
    m = {r["term"]: (int(r["df"]), float(r["idf"]))
         for r in merged.lexicon.collect()}
    f = {r["term"]: (int(r["df"]), float(r["idf"]))
         for r in fresh.lexicon.collect()}
    assert set(m) == set(f)
    for t, (df_m, idf_m) in m.items():
        assert df_m == f[t][0], t
        assert idf_m == pytest.approx(f[t][1], rel=1e-12), t


@pytest.mark.parametrize("mode", ["or", "and"])
@pytest.mark.parametrize("serving", ["driver", "spark"])
def test_merged_queries_identical_to_fresh(merged_and_fresh, mode, serving):
    merged, fresh, _ = merged_and_fresh
    for q in QUERIES:
        got = _pairs(search_topk(merged, q, k=10, mode=mode, serving=serving))
        want = _pairs(search_topk(fresh, q, k=10, mode=mode, serving=serving))
        assert got == want, (q, mode, serving)


def test_merged_materialize_via_segment_offsets(merged_and_fresh):
    merged, fresh, union_docs = merged_and_fresh
    got = {
        r["url"]
        for r in materialize(
            search_topk(merged, "needle7", k=5), union_docs
        ).collect()
    }
    want = {
        r["url"]
        for r in materialize(
            search_topk(fresh, "needle7", k=5), union_docs
        ).collect()
    }
    assert got == want and got


def test_merge_carries_tombstones_remapped(spark, seg_corpora, tmp_path):
    a, b = seg_corpora
    build_index(spark, a.select("doc_id", "text"), str(tmp_path / "A"),
                shard_span=SPAN, n_buckets=8, block_size=16)
    build_index(spark, b.select("doc_id", "text"), str(tmp_path / "B"),
                shard_span=SPAN, n_buckets=8, block_size=16)
    ia = Index.load(spark, str(tmp_path / "A"))
    ib = Index.load(spark, str(tmp_path / "B"))
    # top needle7 doc in each segment dies before the merge
    dead_a = _pairs(search_topk(ia, "needle7", k=1))[0][0]
    dead_b = _pairs(search_topk(ib, "needle7", k=1))[0][0]
    delete_docs(ia, [dead_a])
    delete_docs(ib, [dead_b])
    merged = merge_indexes(
        spark, [str(tmp_path / "A"), str(tmp_path / "B")],
        str(tmp_path / "M"),
    )
    offs = segment_offsets(str(tmp_path / "M"))
    tomb = {int(r["doc_id"]) for r in merged.tombstones.collect()}
    assert tomb == {dead_a, dead_b + offs[1]["doc_offset"]}
    for serving in ("driver", "spark"):
        hits = {p[0] for p in _pairs(
            search_topk(merged, "needle7", k=20, serving=serving))}
        assert not (hits & tomb)


def test_merged_phrase_search_identical_to_fresh(spark, seg_corpora, tmp_path):
    a, b = seg_corpora
    build_index(spark, a.select("doc_id", "text"), str(tmp_path / "A"),
                shard_span=SPAN, n_buckets=8, block_size=16, positions=True)
    build_index(spark, b.select("doc_id", "text"), str(tmp_path / "B"),
                shard_span=SPAN, n_buckets=8, block_size=16, positions=True)
    merged = merge_indexes(
        spark, [str(tmp_path / "A"), str(tmp_path / "B")], str(tmp_path / "M")
    )
    union = a.unionByName(
        shift_doc_ids(b, segment_offsets(str(tmp_path / "M"))[1]["doc_offset"])
    )
    build_index(spark, union.select("doc_id", "text"), str(tmp_path / "F"),
                shard_span=SPAN, n_buckets=8, block_size=16, positions=True)
    fresh = Index.load(spark, str(tmp_path / "F"))
    # a real adjacent word pair from a document in segment B
    text = b.select("text").first()["text"]
    words = [w for w in text.lower().split() if w.isalnum()]
    phrase = f"{words[0]} {words[1]}"
    got = _pairs(phrase_search(merged, phrase, k=10))
    want = _pairs(phrase_search(fresh, phrase, k=10))
    assert got == want and got


def test_merge_rejects_mismatched_layout(spark, seg_corpora, tmp_path):
    a, b = seg_corpora
    build_index(spark, a.select("doc_id", "text"), str(tmp_path / "A"),
                shard_span=SPAN, n_buckets=8, block_size=16)
    build_index(spark, b.select("doc_id", "text"), str(tmp_path / "B"),
                shard_span=64, n_buckets=8, block_size=16)
    with pytest.raises(ValueError, match="shard_span"):
        merge_indexes(
            spark, [str(tmp_path / "A"), str(tmp_path / "B")],
            str(tmp_path / "M"),
        )


def test_stream_compact_merge_lifecycle(spark, tmp_path):
    """The full incremental lifecycle: batch base index + streamed
    arrivals -> delta compaction -> PHYSICAL merge into one segment;
    results match the NumPy oracle over the union corpus (compared by
    url — each stage mints its own dense doc_id space)."""
    from hadoop_search_engine_spark.corpus import gen_documents
    from hadoop_search_engine_spark.operators.doc_ids import assign_doc_ids
    from hadoop_search_engine_spark.oracle.bm25_oracle import BM25Oracle
    from hadoop_search_engine_spark.streaming.incremental import (
        compact_deltas,
        incremental_tf_sink,
        stream_documents,
    )

    all_docs = gen_documents(spark, 500, n_partitions=2).persist()
    base_docs = assign_doc_ids(
        all_docs.limit(300), num_partitions=2
    ).persist()
    base_urls = {r["url"] for r in base_docs.select("url").collect()}
    new_docs = all_docs.where(~F.col("url").isin(list(base_urls)))
    assert new_docs.count() == 200

    # batch base segment
    base_dir = str(tmp_path / "base")
    build_index(spark, base_docs.select("doc_id", "text"), base_dir,
                shard_span=SPAN, n_buckets=8, block_size=16)

    # the 200 new docs arrive on the stream and compact to a segment
    src = str(tmp_path / "incoming")
    import os

    os.makedirs(src)
    new_docs.write.mode("append").parquet(src)
    q = incremental_tf_sink(
        stream_documents(spark, src, max_files=2),
        str(tmp_path / "delta"), str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    delta_dir = str(tmp_path / "delta_idx")
    compact_deltas(spark, str(tmp_path / "delta"), delta_dir,
                   shard_span=SPAN, n_buckets=8, block_size=16)

    # physical merge: base + compacted delta -> one segment
    merged = merge_indexes(spark, [base_dir, delta_dir],
                           str(tmp_path / "M"))
    offs = segment_offsets(str(tmp_path / "M"))
    assert merged.stats.n_docs == 500

    # merged doc_id -> url across both sources
    id_to_url = {
        int(r["doc_id"]): r["url"]
        for r in base_docs.select("doc_id", "url").collect()
    }
    doc_map = spark.read.parquet(os.path.join(delta_dir, "doc_map"))
    for r in doc_map.collect():
        id_to_url[int(r["doc_id"]) + offs[1]["doc_offset"]] = r["url"]

    rows = all_docs.select("url", "text").collect()
    urls = [r["url"] for r in rows]
    oracle = BM25Oracle(list(enumerate(r["text"] for r in rows)))
    for query in ("w00000 w00010", "needle7"):
        want = oracle.search(query, k=10)
        want_urls = {urls[d] for d, _ in want}
        got = search_topk(merged, query, k=10).collect()
        assert {id_to_url[int(r["doc_id"])] for r in got} == want_urls
        assert sorted(round(r["score"], 9) for r in got) == sorted(
            round(s, 9) for _, s in want
        ), query
