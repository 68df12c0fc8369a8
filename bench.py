"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <dir>}

Headline set: full index build over the sf documents table (docs/sec
recorded as a query entry), BM25 top-k via block-max WAND over the
built index (warm, several query shapes), the exhaustive DataFrame
scorer, the reference's inverted-index construction, and the heaviest
training-data operators (minhash LSH dedup, brute-force ANN) plus
TPC-H Q1 as the relational yardstick.

Scaling evidence for the north rule (same job at local[8] vs local[32])
lives in bench_scaling.py, which writes BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def corpus_fixture_queries(index) -> list[dict]:
    """50 deterministic queries derived from the index's own lexicon —
    head/tail df-rank singles, multi-term ORs, absent terms, duplicate
    terms, punctuation/case noise — mirroring the shape of
    ``corpus.reference_queries()`` but valid for ANY corpus vocabulary
    (the synthetic-corpus set matches nothing at the TESTDATA sf dirs)."""
    from pyspark.sql import functions as F

    rows = (
        index.lexicon.orderBy(F.col("df").desc(), "term")
        .select("term").limit(4000).collect()
    )
    terms = [r["term"] for r in rows]
    if len(terms) < 60:  # degenerate vocab: cycle what exists
        terms = (terms * (60 // max(1, len(terms)) + 1))[:60]
    head, mid, tail = terms[:10], terms[20:40], terms[-20:]
    qs: list[dict] = []

    def add(text: str, k: int = 10) -> None:
        qs.append({"query_text": text, "k": k})

    for t in head:                       # 10 head singles
        add(t)
    for t in tail[:8]:                   # 8 tail singles
        add(t)
    add(head[0], k=1)                    # k variations
    add(head[1], k=100)
    add(f"{head[0]} {mid[0]}")           # multi-term OR
    add(f"{head[1]} {mid[1]} {tail[1]}")
    add(f"{head[2]}, {mid[2]}, {tail[2]}, {mid[3]}")
    add(f"{head[3]} {mid[4]} {mid[5]} {tail[3]} {tail[4]}")
    add(f"{head[4]} {tail[5]}")
    add(f"{mid[6]} {tail[6]}")
    add("zzzzqqqxxabsent")               # absent terms / empty results
    add("qqq1 xxx2 zzz3")
    add(f"{head[5]} zzzzqqqxxabsent")
    add(f"{head[6]} {head[6]} {head[6]}")   # duplicate terms
    add(f"{tail[7]} {tail[7]}")
    add(f"{head[7].upper()}!!")          # punctuation / case noise
    add(f"{head[8]}, {head[8]}.")
    add(f"  {head[9]}   {mid[7]}  ")
    add(f"{mid[8].upper()}? {mid[9]}!")
    i = 10
    while len(qs) < 50:                  # mid singles to 50
        add(mid[i % len(mid)])
        i += 1
    return qs[:50]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # benches run on the 128 GiB bench host: take the big driver heap
    # (get_spark's default stays conservative for tests/jobs)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from hadoop_search_engine_spark.session import get_spark

    spark = get_spark(app_name="hse-bench", master=f"local[{cpus}]")

    import __spark_entry__ as entry_mod
    from hadoop_search_engine_spark.operators.index_build import build_index
    from hadoop_search_engine_spark.operators.query_exec import (
        Index,
        bm25_topk_dataframe,
        search_topk,
    )

    timings: dict[str, float] = {}

    def timed(name: str, fn, *, reps: int = 5) -> None:
        # min-of-N: this shared host shows one-sided stall bursts that
        # can outlast a median window (observed: a 5-rep median 8x the
        # clean time while an adjacent entry ran clean); the minimum is
        # the steady-state signal the round-over-round comparison needs.
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 4)

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .persist()
    )
    n_docs = docs.count()

    idx_dir = "/tmp/hse_bench_index"

    # Build three times: the first pass in a fresh JVM pays one-time
    # JIT / codegen / Python-worker startup (recorded as
    # index_build_cold, excluded from the suite total); the best of
    # the two warm passes is the steady-state throughput a
    # long-running ingest amortizes to — at 100 TB the cold start is
    # noise, and this host shows one-sided multi-second stall bursts,
    # so min-of-warm is the defensible estimator.
    warm = []
    for i in range(3):
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        build_index(spark, docs, idx_dir, n_buckets=16)
        sec = time.time() - t0
        if i == 0:
            timings["index_build_cold"] = round(sec, 4)
        else:
            warm.append(sec)
    build_sec = min(warm)
    timings["index_build"] = round(build_sec, 4)
    timings["index_build_docs_per_sec"] = round(n_docs / build_sec, 2)

    idx = Index.load(spark, idx_dir)
    # warm-up one query (JIT/codegen warm path), not timed
    search_topk(idx, "table", k=10).collect()

    wand_queries = {
        "wand_head_term": "table",
        "wand_multi_term": "spark query table",
        "wand_tail_term": "customer window",
        "wand_k100": "data value row",
    }
    for name, q in wand_queries.items():
        k = 100 if name.endswith("k100") else 10
        timed(name, lambda q=q, k=k: search_topk(idx, q, k=k).collect())

    # 50-query fixture set derived from the INDEX's OWN lexicon.
    # corpus.reference_queries() is the synthetic-corpus set (w00000…
    # vocabulary) — at sf dirs with a different vocabulary most of
    # those queries match nothing, so using them here made the fixture
    # latencies measure empty-result queries (profiled: 49/50 returned
    # _empty_df before any scoring). Deriving the set from the built
    # lexicon keeps the same head/tail/multi/absent/dup/noise shape
    # while actually exercising decode + scoring at every sf dir.
    fixture_qs = corpus_fixture_queries(idx)

    lat = []
    for rq in fixture_qs:
        t0 = time.time()
        search_topk(idx, rq["query_text"], k=rq["k"]).collect()
        lat.append(time.time() - t0)
    ls = sorted(lat)
    timings["fixture_p50"] = round(ls[len(ls) // 2], 4)
    timings["fixture_p95"] = round(ls[int(0.95 * (len(ls) - 1))], 4)

    # same 50 queries again, now HOT: the first pass filled the
    # per-Index postings LRU (Index.postings_rows_by_term), so this pass is
    # the steady-state serving-node shape — Zipfian-hot terms score
    # straight from pinned rows, no parquet read
    lat = []
    for rq in fixture_qs:
        t0 = time.time()
        search_topk(idx, rq["query_text"], k=rq["k"]).collect()
        lat.append(time.time() - t0)
    ls = sorted(lat)
    timings["fixture_hot_p50"] = round(ls[len(ls) // 2], 4)
    timings["fixture_hot_p95"] = round(ls[int(0.95 * (len(ls) - 1))], 4)

    # the rows API on the same hot index: plain (doc_id, score) pairs,
    # no Spark DataFrame wrapping (which costs ~10-20 ms of py4j
    # round trips per query — the dominant term once postings are hot)
    from hadoop_search_engine_spark.operators.query_exec import search_topk_rows

    lat = []
    for rq in fixture_qs:
        t0 = time.time()
        search_topk_rows(idx, rq["query_text"], k=rq["k"])
        lat.append(time.time() - t0)
    ls = sorted(lat)
    timings["fixture_hot_rows_p50"] = round(ls[len(ls) // 2], 4)
    timings["fixture_hot_rows_p95"] = round(ls[int(0.95 * (len(ls) - 1))], 4)

    # impact-ordered champion lists (operators/impact.py): build the
    # sidecar once (a postings pass, corpus untouched), then the same
    # 50 fixture queries through the proof-or-expand pruned scorer —
    # identical answers (asserted), work independent of df when the
    # proof certifies. impact_certified counts champion-served
    # queries (pruned/full, no expansion); expansion converges the
    # rest to exact full evaluation instead of a dense re-run.
    from hadoop_search_engine_spark.operators.impact import (
        build_impact_lists,
        impact_topk_rows,
    )

    t0 = time.time()
    build_impact_lists(idx, m=128, df_min=512)
    timings["impact_sidecar_build"] = round(time.time() - t0, 4)
    for rq in fixture_qs:  # warm sidecar rows
        impact_topk_rows(idx, rq["query_text"], k=rq["k"])
    lat = []
    certified = 0
    for rq in fixture_qs:
        info: dict = {}
        t0 = time.time()
        got = impact_topk_rows(idx, rq["query_text"], k=rq["k"],
                               info=info)
        lat.append(time.time() - t0)
        if info.get("used") and not info.get("expanded"):
            certified += 1
        want = search_topk_rows(idx, rq["query_text"], k=rq["k"])
        assert got == want, (rq, info)
    ls = sorted(lat)
    timings["fixture_impact_rows_p50"] = round(ls[len(ls) // 2], 4)
    timings["fixture_impact_rows_p95"] = round(
        ls[int(0.95 * (len(ls) - 1))], 4
    )
    timings["impact_certified_of_50"] = float(certified)

    # the hybrid batch: certified queries via champions, the rest in
    # ONE shared-decode dense batch — compare against batch_50q_driver
    from hadoop_search_engine_spark.operators.impact import (
        impact_topk_batch_rows,
    )

    impact_batch_qs = {
        f"q{i}": rq["query_text"] for i, rq in enumerate(fixture_qs)
    }
    timed(
        "impact_batch_50q",
        lambda: impact_topk_batch_rows(idx, impact_batch_qs, k=10),
    )

    # the same 50 fixture queries served as ONE batch (union-pruned
    # scan, per-shard decode shared across queries) — the offline
    # query-log / evaluation-set workload shape
    from hadoop_search_engine_spark.operators.query_exec import search_topk_batch

    batch_qs = {
        f"q{i}": rq["query_text"] for i, rq in enumerate(fixture_qs)
    }
    timed(
        "batch_50q",
        lambda: search_topk_batch(
            idx, batch_qs, k=10, serving="spark"
        ).collect(),
        reps=3,
    )
    timed(
        "batch_50q_driver",
        lambda: search_topk_batch(
            idx, batch_qs, k=10, serving="driver"
        ).collect(),
        reps=3,
    )

    timed(
        "bm25_dataframe_exhaustive",
        lambda: bm25_topk_dataframe(docs, "spark query table", k=20).collect(),
    )
    timed(
        "inverted_index_build",
        lambda: entry_mod.q_inverted_index(spark, sf_dir).count(),
    )
    timed(
        "minhash_lsh_dedup",
        lambda: entry_mod.q_minhash_lsh(spark, sf_dir).count(),
        reps=3,
    )
    timed(
        "simhash_dedup",
        lambda: entry_mod.q_simhash(spark, sf_dir).count(),
        reps=3,
    )
    timed("ann_bruteforce", lambda: entry_mod.q_ann_cosine_topk(spark, sf_dir).collect())
    timed("ann_int8", lambda: entry_mod.q_ann_int8(spark, sf_dir).collect())

    # PQ: train+encode once (the offline artifact), time the ADC query
    from hadoop_search_engine_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    from pyspark.sql import functions as F

    emb_full = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    t0 = time.time()
    pq_cb = pq_train(emb_full, m=8, nbits=3, n_iters=2)
    pq_codes = pq_encode(emb_full, pq_cb).persist()
    pq_codes.count()
    timings["ann_pq_train_encode"] = round(time.time() - t0, 4)
    pq_q = list(
        emb_full.where(F.col("vec_id") == 0).select("embedding").first()[0]
    )
    timed("ann_pq_query",
          lambda: pq_topk(pq_codes, pq_cb, pq_q, k=10).collect(), reps=3)
    pq_codes.unpersist()
    timed("date_histogram", lambda: entry_mod.q_date_histogram(spark, sf_dir).collect())
    timed("tpch_q1", lambda: entry_mod.q_tpch_q1(spark, sf_dir).collect())

    # round-2 result-set operators over the warm index
    from hadoop_search_engine_spark.operators.query_exec import (
        facet_counts,
        fuzzy_search_topk,
        matched_docs,
        suggest_terms,
    )

    docs_meta = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "lang").persist()
    docs_meta.count()
    timed(
        "facet_counts_indexed",
        lambda: facet_counts(
            matched_docs(idx, "spark query table"), docs_meta, ["lang"]
        ).collect(),
    )
    timed("suggest_autocomplete", lambda: suggest_terms(idx, "s", k=10).collect())
    timed("fuzzy_query", lambda: fuzzy_search_topk(idx, "scann quer", k=10).collect())

    # pluggable similarities (ranking.py): same index, same driver
    # serving path, different scoring model per query
    timed(
        "similarity_lm_query",
        lambda: search_topk_rows(idx, "spark query table", k=10,
                                 similarity="lm_dirichlet"),
    )
    timed(
        "similarity_tfidf_query",
        lambda: search_topk_rows(idx, "spark query table", k=10,
                                 similarity="tfidf"),
    )

    # full scored match set (the multi_match / function_score
    # primitive): driver-side, head-term-heavy query
    from hadoop_search_engine_spark.operators.query_exec import (
        scored_docs_pairs,
    )

    timed(
        "match_scores_full_set",
        lambda: scored_docs_pairs(idx, "spark query table"),
    )

    # multi-field: build one sub-index per field (title = first 8
    # whitespace fields, body = rest), then ES multi_match combines
    from pyspark.sql import functions as F

    from hadoop_search_engine_spark.operators.hybrid import function_score
    from hadoop_search_engine_spark.operators.multifield import (
        build_multifield_index,
        multi_match,
        multi_match_rows,
    )

    mf_dir = "/tmp/hse_bench_mf"
    shutil.rmtree(mf_dir, ignore_errors=True)
    t0 = time.time()
    mf = build_multifield_index(
        spark,
        docs,
        mf_dir,
        {
            "title": F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 8), " "
            ),
            "body": F.array_join(
                F.slice(F.split(F.col("text"), " "), 9, 1 << 20), " "
            ),
        },
        concurrency=2,
    )
    timings["multifield_build"] = round(time.time() - t0, 4)
    mm_boosts = {"title": 3.0, "body": 1.0}
    timed(
        "multi_match_query",
        lambda: multi_match(mf, "spark query table", k=10,
                            boosts=mm_boosts).collect(),
    )
    timed(
        "multi_match_query_driver",
        lambda: multi_match_rows(mf, "spark query table", k=10,
                                 boosts=mm_boosts),
    )
    timed(
        "multi_match_cross_query",
        lambda: multi_match(mf, "spark query table", k=10,
                            boosts=mm_boosts,
                            combine="cross_fields").collect(),
        reps=3,
    )

    # time-partitioned index (ES data stream): 4 monthly generations
    # over derived timestamps; the range query routes to 3 of them
    # (1 interior + 2 boundary) and never probes the 4th
    from hadoop_search_engine_spark.operators.time_partitioned import (
        build_time_partitioned_index,
        search_time_range,
    )

    tpi_dir = "/tmp/hse_bench_tpi"
    shutil.rmtree(tpi_dir, ignore_errors=True)
    tpi_docs = docs.withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(1767225600) + (F.col("doc_id") % 120) * 86400),
    )
    t0 = time.time()
    tpi = build_time_partitioned_index(spark, tpi_docs, tpi_dir,
                                       interval="month", concurrency=4)
    timings["time_partitioned_build"] = round(time.time() - t0, 4)
    tpi_lo = (1767225600 + 14 * 86400) * 1_000_000
    tpi_hi = (1767225600 + 68 * 86400) * 1_000_000
    timed(
        "time_range_query",
        lambda: search_time_range(
            tpi, "spark query table", tpi_lo, tpi_hi, k=10,
            serving="driver",
        ).collect(),
    )
    timed(
        "time_range_query_spark",
        lambda: search_time_range(
            tpi, "spark query table", tpi_lo, tpi_hi, k=10,
            serving="spark",
        ).collect(),
    )

    # function_score: BM25 * gauss(n_chars) over the full match set
    docs_nchars = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "n_chars")
        .persist()
    )
    docs_nchars.count()
    timed(
        "function_score_query",
        lambda: function_score(
            idx, "spark query table", docs_nchars, k=10,
            decay={"kind": "gauss", "field": "n_chars",
                   "origin": 300.0, "scale": 150.0},
        ).collect(),
    )

    # result-set analytics: total hits (postings decode + count) and
    # significant terms (fg from postings, bg from lexicon, corpus
    # touched only via the matched-set semi-join)
    from hadoop_search_engine_spark.operators.analytics import (
        count_matches,
        significant_terms,
    )

    timed(
        "search_count",
        lambda: count_matches(idx, "spark query table").collect(),
    )
    timed(
        "significant_terms",
        lambda: significant_terms(
            idx, docs, "spark query table", k=20
        ).collect(),
    )

    # ranked-boolean (nested AND/OR/NOT): per-shard posting-set algebra
    # + BM25 over the positive terms, both serving modes
    from hadoop_search_engine_spark.operators.boolean import (
        search_topk_boolean,
    )

    timed(
        "boolean_query",
        lambda: search_topk_boolean(
            idx, entry_mod.BOOLEAN_QUERY, k=10, serving="spark"
        ).collect(),
    )
    timed(
        "boolean_query_driver",
        lambda: search_topk_boolean(
            idx, entry_mod.BOOLEAN_QUERY, k=10, serving="driver"
        ).collect(),
    )

    # hybrid retrieval: BM25 top-30 over the index fused with exact
    # cosine top-30 over the sf embeddings table by RRF
    from pyspark.sql import functions as F

    from hadoop_search_engine_spark.operators.hybrid import hybrid_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).persist()
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").first()[0])
    timed(
        "hybrid_query",
        lambda: hybrid_topk(
            idx, "spark query table", emb, qvec, k=10, k_lex=30, k_vec=30
        ).collect(),
        reps=3,
    )

    # wildcard expansion + expanded-terms BM25 (lexicon-only expansion)
    from hadoop_search_engine_spark.operators.query_exec import wildcard_search

    timed(
        "wildcard_query",
        lambda: wildcard_search(idx, "s*", k=10, max_expansions=10).collect(),
    )

    # cursor pagination: page 2 should cost ~a normal query (the mask
    # rides the scorers; no deep-paging over-fetch)
    _p1 = search_topk(idx, "spark query table", k=10).collect()
    _after = (_p1[-1]["doc_id"], _p1[-1]["score"])
    timed(
        "paginated_page2",
        lambda: search_topk(
            idx, "spark query table", k=10, after=_after
        ).collect(),
    )

    # positional build + phrase family: positions grow the event
    # shuffle 16 -> 24 bytes/row and add the gap-encoded blobs —
    # index_build_positional vs index_build IS that overhead. Queries:
    # exact phrase, unordered window, and search-as-you-type
    # (match_phrase_prefix: merged-expansion probe, cost ~a phrase
    # regardless of completion count).
    from hadoop_search_engine_spark.operators.query_exec import (
        near_search,
        phrase_prefix_search,
        phrase_search,
    )

    pos_dir = "/tmp/hse_bench_index_pos"
    pos_secs = []
    for _ in range(2):
        shutil.rmtree(pos_dir, ignore_errors=True)
        t0 = time.time()
        build_index(spark, docs, pos_dir, n_buckets=16, positions=True)
        pos_secs.append(time.time() - t0)
    timings["index_build_positional"] = round(min(pos_secs), 4)
    pidx = Index.load(spark, pos_dir)
    # two adjacent tokens from a real doc keep the phrase non-empty
    # at every sf dir
    _t = (
        docs.limit(1).collect()[0]["text"].lower().split()
    )
    _bigram = f"{_t[0]} {_t[1]}"
    phrase_search(pidx, _bigram, k=10).collect()  # warm-up
    timed("phrase_query", lambda: phrase_search(pidx, _bigram, k=10).collect())
    timed(
        "near_query",
        lambda: near_search(
            pidx, "spark table", window=8, k=10
        ).collect(),
    )
    timed(
        "phrase_prefix_query",
        lambda: phrase_prefix_search(
            pidx, f"{_t[0]} {_t[1][:2]}", k=10, max_expansions=50
        ).collect(),
    )

    # analyzed build (stopword filter + S-stem): the analysis chain is
    # JVM CASE expressions fused into the same tokenize passes — the
    # delta vs index_build is the true analyzer cost (should be ~free;
    # stopword removal SHRINKS the event shuffle)
    ana_dir = "/tmp/hse_bench_index_ana"
    from hadoop_search_engine_spark.functions.analyzer import (
        ENGLISH_STOPWORDS,
    )

    ana_secs = []
    for _ in range(2):
        shutil.rmtree(ana_dir, ignore_errors=True)
        t0 = time.time()
        build_index(spark, docs, ana_dir, n_buckets=16,
                    stopwords=ENGLISH_STOPWORDS, stem="s")
        ana_secs.append(time.time() - t0)
    timings["index_build_analyzed"] = round(min(ana_secs), 4)
    shutil.rmtree(ana_dir, ignore_errors=True)

    # folded build (ASCII folding, functions/analyzer.py): pure JVM
    # translate/replace fused into the tokenize passes — the delta vs
    # index_build is the fold cost (should be ~noise)
    fold_dir = "/tmp/hse_bench_index_fold"
    fold_secs = []
    for _ in range(2):
        shutil.rmtree(fold_dir, ignore_errors=True)
        t0 = time.time()
        build_index(spark, docs, fold_dir, n_buckets=16, fold=True)
        fold_secs.append(time.time() - t0)
    timings["index_build_folded"] = round(min(fold_secs), 4)
    shutil.rmtree(fold_dir, ignore_errors=True)
    shutil.rmtree(pos_dir, ignore_errors=True)

    # WARC container source/sink (sources/warc.py): deterministic
    # bucketed export of the whole sf corpus, then the distributed
    # parse back (binaryFile -> mapInPandas, one task per archive)
    from hadoop_search_engine_spark.sources.warc import export_warc, read_warc

    warc_docs = docs.select(
        F.concat(F.lit("https://site.example/page/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.expr("timestamp'2025-01-01 00:00:00'"
               " + make_interval(0, 0, 0, 0, 0, 0, doc_id)").alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), F.col("text"),
                          F.lit("</p></body></html>")), "UTF-8").alias("html"),
    )
    warc_dir = "/tmp/hse_bench_warc"
    shutil.rmtree(warc_dir, ignore_errors=True)
    t0 = time.time()
    export_warc(warc_docs, warc_dir, n_files=8)
    timings["warc_export"] = round(time.time() - t0, 4)
    timed(
        "warc_read",
        lambda: read_warc(spark, warc_dir, glob="*.warc.gz").count(),
        reps=2,
    )
    shutil.rmtree(warc_dir, ignore_errors=True)

    # corpus n-gram analytics (Wimbd shape): one-scan partial-agg
    # top-k and the vocabulary-window zipf fit
    from hadoop_search_engine_spark.operators.text_analysis import (
        top_ngrams,
        zipf_fit,
    )

    timed("top_ngrams", lambda: top_ngrams(docs, n=2, k=100).collect(),
          reps=3)
    timed("zipf_fit", lambda: zipf_fit(docs).collect(), reps=3)

    # link extraction over reconstructed html (JVM regex, map-only) and
    # a 6-processor ingest pipeline (pure Column chain)
    from hadoop_search_engine_spark.operators.ingest import apply_pipeline
    from hadoop_search_engine_spark.operators.urltools import extract_links

    link_docs = docs.select(
        F.concat(F.lit("https://site.example/page/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit('<html><a href="https://site.example/page/'),
                ((F.col("doc_id") + 1) % n_docs).cast("string"),
                F.lit('">n</a><a href="https://site.example/page/'),
                ((F.col("doc_id") + 7) % n_docs).cast("string"),
                F.lit('">m</a></html>'),
            ),
            "UTF-8",
        ).alias("html"),
    )
    timed("extract_links", lambda: extract_links(link_docs).count(), reps=3)
    _pipe = [
        {"gsub": {"field": "text", "pattern": "[0-9]+",
                  "replacement": "#"}},
        {"lowercase": {"field": "text"}},
        {"trim": {"field": "text"}},
        {"substring": {"field": "text", "start": 1, "length": 200}},
        {"set": {"field": "source", "value": "bench"}},
        {"copy": {"from": "text", "to": "text2"}},
    ]
    timed("ingest_pipeline",
          lambda: apply_pipeline(docs, _pipe).count(), reps=3)

    # two-phase rescore: BM25 top-100 window re-ranked by cosine to a
    # query vector (phase-2 cost bounded by the window)
    from hadoop_search_engine_spark.operators.hybrid import rescore_topk

    timed(
        "rescore_query",
        lambda: rescore_topk(
            idx, "spark query table", emb, qvec, window=100, k=10
        ).collect(),
        reps=3,
    )

    # training-pipeline curation operators over the full sf corpus:
    # eval-set decontamination (broadcast 8-gram probe), corpus-wide
    # repeated-line removal (hash groupBy + join-back + rebuild),
    # map-only PII redaction and Gopher repetition stats
    from hadoop_search_engine_spark.operators.curate import (
        contamination_report,
        dedup_lines,
        split_corpus,
    )
    from hadoop_search_engine_spark.operators.text_analysis import (
        redact_pii,
        repetition_stats,
    )

    _sp = split_corpus(docs).persist()
    _sp.count()
    timed(
        "decontamination",
        lambda: contamination_report(
            _sp.where("split <> 'test'"), _sp.where("split = 'test'"), n=8
        ).count(),
        reps=3,
    )
    _sp.unpersist()
    timed(
        "line_dedup",
        lambda: dedup_lines(docs, max_line_df=3, mode="drop_all").count(),
        reps=3,
    )
    timed(
        "pii_redact",
        lambda: redact_pii(docs)
        .agg(F.sum(F.length("text"))).collect(),
        reps=3,
    )
    timed(
        "repetition_stats",
        lambda: repetition_stats(docs)
        .agg(F.avg("dup_ratio")).collect(),
        reps=3,
    )

    # per-doc tf*idf top-3 export (corpus-wide window over per-doc terms)
    from hadoop_search_engine_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    timed(
        "tfidf_top_terms",
        lambda: tfidf_top_terms(docs, n=3).count(),
        reps=3,
    )

    # training-sequence assembly: sliding-window chunking (map-only)
    # and concat-and-split packing (bucketed parallel cumsum + one
    # bin-keyed shuffle) over the full sf corpus
    from hadoop_search_engine_spark.operators.training import (
        chunk_docs,
        pack_text,
    )

    timed(
        "chunk_docs_32",
        lambda: chunk_docs(docs, max_tokens=32, overlap=8).count(),
        reps=3,
    )
    timed(
        "pack_text_128",
        lambda: pack_text(docs, 128).count(),
        reps=3,
    )

    # BPE vocab induction (driver path over the vocab-sized word-count
    # table) + corpus segmentation with the learned merges
    from hadoop_search_engine_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    _bpe_merges = bpe_train(docs, n_merges=30, mode="driver").persist()
    timed(
        "bpe_train_30",
        lambda: bpe_train(docs, n_merges=30, mode="driver").count(),
        reps=3,
    )
    timed(
        "bpe_encode",
        lambda: bpe_encode(docs, _bpe_merges)
        .agg(F.sum("n_bpe_tokens")).collect(),
        reps=3,
    )
    # the distributed scale path (round 4): greedy batch-BPE runs the
    # vocabulary DISTRIBUTED and merges whole non-interacting batches
    # per pair-count job — jobs-per-merge is the scale metric, so the
    # round count is recorded alongside wall time
    # (the 31-word synthetic vocab saturates at ~96 merges; the
    # jobs-per-merge story at production vocab size is measured in
    # tests/test_bpe_batched.py::test_greedy_rounds_are_tiny — 2000
    # merges in 3 rounds on a 20k-word Zipf vocabulary)
    timed(
        "bpe_train_spark_greedy",
        lambda: bpe_train(docs, n_merges=300, mode="spark",
                          batching="greedy", min_pair_count=1).count(),
        reps=1,
    )

    # epoch mixing (map-only explode) and PMI collocations (two
    # vocab-sized joins)
    from hadoop_search_engine_spark.operators.curate import mix_corpus
    from hadoop_search_engine_spark.operators.text_analysis import (
        collocations,
    )

    timed(
        "mix_corpus",
        lambda: mix_corpus(docs.withColumn("lang", F.lit("en")),
                           {"en": 1.5}, strata_col="lang").count(),
        reps=3,
    )
    timed(
        "collocations",
        lambda: collocations(docs, min_count=5).count(),
        reps=3,
    )

    # MMR diversification over the warm index + sf embeddings
    from hadoop_search_engine_spark.operators.hybrid import mmr_rerank

    timed(
        "mmr_rerank_query",
        lambda: mmr_rerank(
            idx, "spark query table", emb, k=10, window=50
        ).collect(),
        reps=3,
    )

    # relevance evaluation of the 50-query batch run against synthetic
    # qrels (every 2nd retrieved doc judged relevant) — measures the
    # metric join + windows at query-log scale
    from hadoop_search_engine_spark.operators.evaluate import (
        evaluate_ranking,
        run_from_batch,
    )

    _run = run_from_batch(
        search_topk_batch(idx, batch_qs, k=10, serving="spark")
    ).persist()
    _run.count()
    _qrels = _run.where(F.col("doc_id") % 2 == 0).select(
        "query_id", "doc_id", F.lit(1).alias("rel")
    ).persist()
    _qrels.count()
    timed(
        "ranking_eval_50q",
        lambda: evaluate_ranking(_run, _qrels, k=10).count(),
        reps=3,
    )

    # physical segment merge: two merge-aligned half-corpus segments
    # become one index by pure column-arithmetic remap (posting blobs
    # byte-unchanged) + vocab-sized stats/lexicon recompute. Untimed
    # segment builds; timed merge only.
    from pyspark.sql import functions as F

    from hadoop_search_engine_spark.operators.index_maint import merge_indexes

    half = n_docs // 2
    span = 2048
    seg_a, seg_b = "/tmp/hse_bench_segA", "/tmp/hse_bench_segB"
    merged_dir = "/tmp/hse_bench_merged"
    for d in (seg_a, seg_b, merged_dir):
        shutil.rmtree(d, ignore_errors=True)
    build_index(spark, docs.where(F.col("doc_id") < half), seg_a,
                shard_span=span, n_buckets=16)
    build_index(
        spark,
        docs.where(F.col("doc_id") >= half)
        .withColumn("doc_id", F.col("doc_id") - F.lit(half)),
        seg_b, shard_span=span, n_buckets=16,
    )
    # min-of-2: merge is cheap enough to repeat, and a single-shot
    # timing is exposed to this host's multi-second stall bursts
    # (observed: 2.3 s and 19.3 s for the identical merge in adjacent
    # runs)
    merge_secs = []
    for _ in range(2):
        shutil.rmtree(merged_dir, ignore_errors=True)
        t0 = time.time()
        merge_indexes(spark, [seg_a, seg_b], merged_dir)
        merge_secs.append(time.time() - t0)
    timings["segment_merge"] = round(min(merge_secs), 4)

    # federated serving: the same two segments queried WITHOUT merging
    # (base + not-yet-compacted deltas shape) — global statistics,
    # per-segment top-k, k-row merge
    from hadoop_search_engine_spark.operators.query_exec import (
        search_topk_segments,
    )

    segs = [Index.load(spark, seg_a), Index.load(spark, seg_b)]
    search_topk_segments(segs, "table", k=10).collect()  # warm-up
    timed(
        "federated_query",
        lambda: search_topk_segments(
            segs, "spark query table", k=10, serving="spark"
        ).collect(),
    )
    timed(
        "federated_query_driver",
        lambda: search_topk_segments(
            segs, "spark query table", k=10, serving="driver"
        ).collect(),
    )

    # the 50-query set over the federated deployment in one pass per
    # segment (global stats, shared decode) — offline replay against a
    # base + deltas layout without merging first
    from hadoop_search_engine_spark.operators.query_exec import (
        search_topk_segments_batch,
    )

    timed(
        "federated_batch_50q",
        lambda: search_topk_segments_batch(
            segs, batch_qs, k=10, serving="spark"
        ).collect(),
        reps=3,
    )
    timed(
        "federated_batch_50q_driver",
        lambda: search_topk_segments_batch(
            segs, batch_qs, k=10, serving="driver"
        ).collect(),
        reps=3,
    )

    # session-8 operators: composite keyset agg + terms sub-aggs over
    # the hit set, dis_max/boosting DSL queries, URL curation passes
    from hadoop_search_engine_spark.operators.analytics import (
        composite_agg_facet,
        terms_metrics_facet,
    )
    from hadoop_search_engine_spark.operators.dsl import search_dsl
    from hadoop_search_engine_spark.operators.query_exec import matched_docs
    from hadoop_search_engine_spark.operators.urltools import (
        cap_per_domain,
        url_dedup,
    )

    meta = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    m_flag = matched_docs(idx, "spark query table")
    timed(
        "composite_agg_page",
        lambda: composite_agg_facet(
            m_flag, meta,
            [("lang", "terms", "lang"),
             ("len_bucket", "histogram", "n_chars", 500.0)],
            size=50,
        ).collect(),
        reps=3,
    )
    timed(
        "terms_metrics_agg",
        lambda: terms_metrics_facet(
            m_flag, meta, "lang",
            {"avg_len": ("avg", "n_chars"),
             "n_sources": ("cardinality", "source")},
        ).collect(),
        reps=3,
    )
    timed(
        "dis_max_query",
        lambda: search_dsl(
            idx,
            {"query": {"dis_max": {
                "queries": [{"match": {"text": "spark query"}},
                            {"term": {"text": "table"}}],
                "tie_breaker": 0.3}}, "size": 10},
        ).hits.collect(),
        reps=3,
    )
    timed(
        "boosting_query",
        lambda: search_dsl(
            idx,
            {"query": {"boosting": {
                "positive": {"match": {"text": "spark query"}},
                "negative": {"term": {"text": "table"}},
                "negative_boost": 0.4}}, "size": 10},
        ).hits.collect(),
        reps=3,
    )
    crawl = meta.withColumn("url", entry_mod._derived_url_col())
    timed(
        "url_dedup_pass",
        lambda: url_dedup(crawl).count(),
        reps=3,
    )
    # exact duplicate-span removal (Lee et al.): the occurrence table
    # is ~|tokens| rows — the honest cost of substring dedup; compare
    # against minhash_lsh_dedup (doc-level near dup)
    from hadoop_search_engine_spark.operators.dedup import (
        drop_duplicate_spans,
    )

    timed(
        "span_dedup_rewrite",
        lambda: drop_duplicate_spans(
            meta.select("doc_id", "text"), n=8
        ).count(),
        reps=3,
    )
    timed(
        "cap_per_domain_pass",
        lambda: cap_per_domain(crawl, 100).count(),
        reps=3,
    )

    # session-9 operators: pipeline aggs (bucket-frame window passes),
    # pinned serving, embedding semdedup (LSH-bucketed pair join)
    from hadoop_search_engine_spark.operators.analytics import (
        cumulative_sum_col,
        date_histogram_metrics_facet,
        derivative_col,
    )
    from hadoop_search_engine_spark.operators.query_exec import pinned_search
    from hadoop_search_engine_spark.operators.similarity import semdedup

    meta_ts = meta.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") * 3600)
    )

    def _pipeline_aggs_run():
        f = date_histogram_metrics_facet(
            m_flag, meta_ts, "ts", "day", {"total": ("sum", "n_chars")}
        )
        f = cumulative_sum_col(f, "total", out_col="cum")
        derivative_col(f, "n_docs", out_col="growth").collect()

    timed("pipeline_aggs_daily", _pipeline_aggs_run, reps=3)
    timed(
        "pinned_query",
        lambda: pinned_search(
            idx, [17, 5, 99], "spark query table", k=10
        ).collect(),
        reps=3,
    )
    emb_bench = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).persist()
    emb_bench.count()
    timed(
        "semdedup_pass",
        lambda: semdedup(emb_bench, threshold=0.95).count(),
        reps=3,
    )

    # snapshot/restore: point-in-time hardlink+manifest copy of the
    # bench index — the cost to compare against is segment_merge /
    # index_build; a snapshot should be ~metadata-only (CRC pass over
    # index bytes, no Spark job)
    from hadoop_search_engine_spark.operators.index_maint import (
        restore_snapshot,
        snapshot_index,
    )

    snap_dir = "/tmp/hse_bench_snapshot"
    rest_dir = "/tmp/hse_bench_restore"
    snap_secs, rest_secs = [], []
    for _ in range(2):
        shutil.rmtree(snap_dir, ignore_errors=True)
        shutil.rmtree(rest_dir, ignore_errors=True)
        t0 = time.time()
        snapshot_index(idx_dir, snap_dir)
        snap_secs.append(time.time() - t0)
        t0 = time.time()
        restore_snapshot(snap_dir, rest_dir)
        rest_secs.append(time.time() - t0)
    timings["snapshot"] = round(min(snap_secs), 4)
    timings["snapshot_restore"] = round(min(rest_secs), 4)
    shutil.rmtree(snap_dir, ignore_errors=True)
    shutil.rmtree(rest_dir, ignore_errors=True)

    # reshard/relayout: rebuild the index with a new physical layout
    # from its own postings (decode+encode over index bytes, corpus
    # never re-tokenized) — compare against index_build, which pays
    # the full tokenize
    from hadoop_search_engine_spark.operators.index_maint import reshard_index

    rs_dir = "/tmp/hse_bench_reshard"
    rs_secs = []
    for _ in range(2):
        shutil.rmtree(rs_dir, ignore_errors=True)
        t0 = time.time()
        reshard_index(spark, idx_dir, rs_dir, shard_span=4096, n_buckets=8)
        rs_secs.append(time.time() - t0)
    timings["reshard"] = round(min(rs_secs), 4)
    shutil.rmtree(rs_dir, ignore_errors=True)

    # delete lifecycle LAST (mutates the bench index): tombstone 1% of
    # docs, then a full physical vacuum (block rewrite + stats/lexicon/
    # counter recompute). Single rep — the first vacuum does the real
    # rewrite volume.
    from hadoop_search_engine_spark.operators.index_maint import (
        delete_docs,
        vacuum_index,
    )

    dead = list(range(0, n_docs, 100))
    t0 = time.time()
    delete_docs(idx, dead)
    timings["tombstone_delete"] = round(time.time() - t0, 4)
    t0 = time.time()
    vacuum_index(idx)
    timings["vacuum"] = round(time.time() - t0, 4)

    total = round(
        sum(
            v for k, v in timings.items()
            if not k.endswith("docs_per_sec")
            and not k.startswith("fixture_")
            and k != "index_build_cold"
            and k != "impact_certified_of_50"  # a count, not seconds
        ),
        4,
    )
    # round-over-round comparability: "value" sums EVERY timed entry,
    # but the entry set grows each round (batch, federated, hot/rows
    # percentiles...), so the raw total inflates as coverage widens.
    # value_shared_r02 sums only the entries that existed in round 2's
    # suite — the like-for-like regression signal.
    shared_r02 = [
        "index_build", "wand_head_term", "wand_multi_term",
        "wand_tail_term", "wand_k100", "bm25_dataframe_exhaustive",
        "inverted_index_build", "minhash_lsh_dedup", "ann_bruteforce",
        "tpch_q1", "facet_counts_indexed", "suggest_autocomplete",
        "fuzzy_query", "segment_merge", "tombstone_delete", "vacuum",
    ]
    print(
        json.dumps(
            {
                "metric": "index_build+query headline suite (sec, lower is better)",
                "value": total,
                "value_shared_r02": round(
                    sum(timings[k] for k in shared_r02 if k in timings), 4
                ),
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
