"""Federated multi-segment search: one logical query over N physical
segment indexes (time partitions, alias targets, incremental
generations) with exact global statistics. Split from query_exec.py
(round 4, file-size hygiene); the public names remain importable from
``operators.query_exec`` via its lazy re-export."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query_exec import (
    DL_BROADCAST_MAX_DOCS,
    SEGMENT_BATCH_TOPK_SCHEMA,
    SEGMENT_TOPK_SCHEMA,
    _driver_search_pairs,
    _empty_df,
    _execute_topk,
    _execute_topk_batch,
    _lookup_terms,
    _tombstone_gate,
    parse_query,
)


def _federated_plan(
    indexes: list,
    query_text: str,
    synonyms: dict[str, str] | None,
    mode: str,
    algorithm: str,
) -> list[tuple]:
    """Shared federation front end: global statistics (N = Σ n_docs,
    doc-weighted avgdl, df(t) summed across segments → one global idf
    per term) and the per-segment scoring plan. Returns
    ``[(segment_i, index, stats_with_global_avgdl, ordered_terms,
    algorithm)]`` — empty when no segment can produce a hit."""
    if not indexes:
        raise ValueError("need at least one index segment")
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    from ..functions.bm25 import idf as idf_scalar

    terms = parse_query(query_text, synonyms, indexes[0].token_fn())
    if not terms:
        return []
    metas = [_lookup_terms(ix, terms) for ix in indexes]
    n_total = sum(int(ix.stats.n_docs) for ix in indexes)
    if n_total == 0:
        return []
    avgdl_g = (
        sum(float(ix.stats.avgdl) * int(ix.stats.n_docs) for ix in indexes)
        / n_total
    )
    df_g: dict[str, int] = {}
    for m in metas:
        for t, d in m.items():
            df_g[t] = df_g.get(t, 0) + int(d["df"])
    required = set(terms)
    if not df_g or (mode == "and" and set(df_g) < required):
        return []
    idf_g = {t: idf_scalar(n_total, d) for t, d in df_g.items()}

    import dataclasses

    plan = []
    for i, (ix, m) in enumerate(zip(indexes, metas)):
        if not m:
            continue
        if mode == "and" and set(m) < required:
            # a doc lives wholly in one segment: if the segment lacks
            # any query term, none of its docs can match conjunctively
            continue
        algo = algorithm
        if algo == "auto":
            min_df = min(int(d["df"]) for d in m.values())
            algo = "wand" if (mode == "and" and min_df <= 20_000) else "dense"
        stats_g = dataclasses.replace(ix.stats, avgdl=avgdl_g)
        ordered = [
            (int(d["hash"]), t, float(idf_g[t])) for t, d in sorted(m.items())
        ]
        plan.append((i, ix, stats_g, ordered, algo))
    return plan

def _segment_after(
    after: tuple[int, int, float] | None, segment: int
) -> tuple[int, float] | None:
    """Reduce a federated cursor ``(segment, doc_id, score)`` to the
    per-segment ``(doc_id, score)`` cursor the shard scorers take.
    The federated total order is (score desc, segment asc, doc_id
    asc), so relative to cursor segment g with score s:

      * segment < g: only strictly-lower scores rank after the cursor
        -> synthetic cursor (doc_id = +inf sentinel, s);
      * segment = g: the ordinary (doc_id, score) cursor;
      * segment > g: any doc with score <= s ranks after the cursor
        -> synthetic cursor (doc_id = -1, s) (doc ids are >= 0).
    """
    if after is None:
        return None
    g, d, s = int(after[0]), int(after[1]), float(after[2])
    if segment < g:
        return ((1 << 62), s)
    if segment == g:
        return (d, s)
    return (-1, s)

def search_topk_segments_rows(
    indexes: list,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    algorithm: str = "auto",
    after: tuple[int, int, float] | None = None,
) -> list[tuple[int, int, float]]:
    """:func:`search_topk_segments` as the serving fast path: plain
    ``[(segment, doc_id, score)]`` triples, every segment served on
    the driver (:func:`_driver_search_pairs` — postings LRU, no Spark
    job, no DataFrame wrap), the cross-segment merge a k·segments-row
    Python sort with the same ordering (score desc, segment asc,
    doc_id asc). Rank- and score-identical to the DataFrame path by
    test; same per-segment gates as :func:`search_topk_rows`."""
    rows: list[tuple[int, int, float]] = []
    for i, ix, stats_g, ordered, algo in _federated_plan(
        indexes, query_text, synonyms, mode, algorithm
    ):
        if ix.dl_array() is None:
            raise ValueError(
                f"segment {i} has {ix.stats.n_docs} docs "
                f"(> {DL_BROADCAST_MAX_DOCS}): too large for driver "
                "serving; use search_topk_segments(serving='spark')"
            )
        tomb, _ = _tombstone_gate(
            ix, f"search_topk_segments(serving='spark') for segment {i}"
        )
        hit_hashes = sorted(h for h, _, _ in ordered)
        rows.extend(
            (i, d, s)
            for d, s in _driver_search_pairs(
                ix, ordered, hit_hashes, k, mode, algo,
                exclude=tomb, stats=stats_g,
                after=_segment_after(after, i),
            )
        )
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    return rows[:k]

def search_topk_segments(
    indexes: list,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    serving: str = "auto",
    algorithm: str = "auto",
    after: tuple[int, int, float] | None = None,
) -> DataFrame:
    """Federated BM25 top-k across multiple index segments — the
    serving shape for a base index plus not-yet-compacted streaming
    deltas (streaming/incremental.py), or time-partitioned index
    generations at web scale (Lucene's multi-segment reader, done
    with Spark unions).

    Statistics are GLOBAL across segments, exactly as if one index
    had been built over the union corpus: ``N = Σ n_docs``,
    ``avgdl = Σ n_i·avgdl_i / N``, ``df(t) = Σ df_i(t)`` → one global
    idf per term. Each segment scores its own postings with the
    global (idf, avgdl) through the same serving paths as
    :func:`search_topk` (driver or distributed, per-segment
    tombstones included), retrieves its local top-k, and the k-row
    per-segment results merge with one tiny union — no corpus-sized
    data ever crosses segments. Tested rank- and score-identical to a
    single index built over the union corpus.

    Returns ``(segment, doc_id, score)`` — doc_id spaces are
    per-segment (segment is the position in ``indexes``), since
    independent builds mint independent dense ids.

    ``after``: federated cursor pagination — the previous page's last
    ``(segment, doc_id, score)`` triple; each segment gets the reduced
    per-segment cursor (:func:`_segment_after`), so page n+1 is exact.
    """
    spark = indexes[0].spark
    plan = _federated_plan(indexes, query_text, synonyms, mode, algorithm)
    parts = []
    for i, ix, stats_g, ordered, algo in plan:
        res = _execute_topk(ix, stats_g, ordered, k, mode, serving, algo,
                            None, after=_segment_after(after, i))
        parts.append(
            res.select(
                F.lit(i).cast("int").alias("segment"), "doc_id", "score"
            )
        )
    if not parts:
        return _empty_df(spark, SEGMENT_TOPK_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.col("score").desc(), F.col("segment").asc(), F.col("doc_id").asc()
    ).limit(k)

def search_topk_segments_batch(
    indexes: list,
    queries: dict[str, str],
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    serving: str = "auto",
) -> DataFrame:
    """Batch serving over a FEDERATED deployment (base index plus
    not-yet-compacted streaming deltas): the whole query set runs once
    per segment with GLOBAL statistics (same federation math as
    :func:`search_topk_segments` — N = Σ n_docs, weighted avgdl,
    df(t) summed across segments → one global idf per term), each
    segment's batch pass amortizes its postings scan across all
    queries, and the cross-segment merge is a per-query window over
    q·k·num_segments rows. Returns ``(query_id, segment, doc_id,
    score)`` — per query the exact global top-k, bit-identical to
    calling :func:`search_topk_segments` per query."""
    if not indexes:
        raise ValueError("need at least one index segment")
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    from ..functions.bm25 import idf as idf_scalar

    spark = indexes[0].spark
    tfn = indexes[0].token_fn()
    parsed = {qid: parse_query(text, synonyms, tfn) for qid, text in queries.items()}
    all_terms = sorted({t for ts in parsed.values() for t in ts})
    if not all_terms:
        return _empty_df(spark, SEGMENT_BATCH_TOPK_SCHEMA)
    metas = [_lookup_terms(ix, all_terms) for ix in indexes]
    n_total = sum(int(ix.stats.n_docs) for ix in indexes)
    if n_total == 0:
        return _empty_df(spark, SEGMENT_BATCH_TOPK_SCHEMA)
    avgdl_g = (
        sum(float(ix.stats.avgdl) * int(ix.stats.n_docs) for ix in indexes)
        / n_total
    )
    df_g: dict[str, int] = {}
    for m in metas:
        for t, d in m.items():
            df_g[t] = df_g.get(t, 0) + int(d["df"])
    idf_g = {t: idf_scalar(n_total, d) for t, d in df_g.items()}

    # per-query GLOBAL term lists (conjunctive queries missing a term
    # globally contribute no rows, like their single-query calls)
    live: dict[str, list[str]] = {}
    for qid, ts in parsed.items():
        qterms = sorted({t for t in ts if t in df_g})
        if not qterms:
            continue
        if mode == "and" and len(qterms) < len(set(ts)):
            continue
        live[qid] = qterms

    import dataclasses

    parts = []
    for i, (ix, m) in enumerate(zip(indexes, metas)):
        per_q = []
        for qid, qterms in live.items():
            seg_terms = [t for t in qterms if t in m]
            if not seg_terms:
                continue
            if mode == "and" and len(seg_terms) < len(qterms):
                # a doc lives wholly in one segment: a segment missing
                # any query term can't host a conjunctive match
                continue
            per_q.append((
                qid,
                [(int(m[t]["hash"]), t, float(idf_g[t])) for t in seg_terms],
            ))
        if not per_q:
            continue
        stats_g = dataclasses.replace(ix.stats, avgdl=avgdl_g)
        res = _execute_topk_batch(ix, stats_g, per_q, k, mode, serving)
        parts.append(res.select(
            "query_id", F.lit(i).cast("int").alias("segment"),
            "doc_id", "score",
        ))
    if not parts:
        return _empty_df(spark, SEGMENT_BATCH_TOPK_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("segment").asc(), F.col("doc_id").asc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("score").desc(), F.col("segment").asc(),
                 F.col("doc_id").asc())
    )
