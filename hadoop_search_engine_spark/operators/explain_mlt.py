"""Result introspection: more-like-this query-by-document, per-term
score explanation (Lucene explain analog), and multi-fragment
highlighting (plain + analyzer-aware). Split from query_exec.py
(round 4, file-size hygiene); public names remain importable from
``operators.query_exec``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import numpy as np
import pandas as pd

from ..functions.tokenizer import tokenize
from .query_exec import (
    EXPLAIN_SCHEMA,
    TOPK_SCHEMA,
    Index,
    _empty_df,
    _lookup_terms,
    _partial,
    _resolve_query,
    _rows_for,
    _similarity_term_fns,
    search_topk,
)


def more_like_this_terms(
    index: Index,
    text: str,
    m: int = 5,
    synonyms: dict[str, str] | None = None,
) -> list[str]:
    """The ``m`` most characteristic terms of ``text``: rank the
    document's distinct in-vocabulary terms by ``tf * idf`` (tf within
    the text, idf from the index's lexicon), ties by term ascending —
    the classic MoreLikeThis query-building step (the reference engine
    has no analog; its only query shape is a user-typed term list).
    One driver-side tokenize of ONE document plus a lexicon probe —
    no job, no corpus access."""
    from collections import Counter

    # per-token synonym rewrite WITHOUT rewrite_terms' first-seen dedup
    # (tf counts need every occurrence)
    syn = synonyms or {}
    tfn = index.token_fn()
    toks = (syn.get(t, t) for t in tokenize(text))
    if tfn is not None:
        from ..functions.analyzer import apply_token_fn

        toks = apply_token_fn(toks, tfn)
    tf = Counter(toks)
    meta = _lookup_terms(index, sorted(tf))
    ranked = sorted(
        ((t, tf[t] * float(meta[t]["idf"])) for t in meta),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return [t for t, _w in ranked[:m]]

def more_like_this(
    index: Index,
    documents: DataFrame,
    doc_id: int,
    m: int = 5,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    serving: str = "auto",
) -> DataFrame:
    """Find documents similar to ``doc_id``: select its top-``m``
    ``tf * idf`` terms (:func:`more_like_this_terms`) and run the
    standard disjunctive BM25 search, excluding the source document
    from the results (over-retrieve k+1, post-filter, re-sort).
    ``documents`` supplies the source text via one pushed-filter row
    fetch."""
    row = (
        documents.where(F.col("doc_id") == int(doc_id))
        .select("text")
        .first()
    )
    if row is None:
        raise ValueError(f"doc_id {doc_id} not found in documents")
    terms = more_like_this_terms(index, row["text"], m=m, synonyms=synonyms)
    if not terms:
        return _empty_df(index.spark, TOPK_SCHEMA)
    top = search_topk(index, " ".join(terms), k=k + 1, serving=serving)
    return (
        top.where(F.col("doc_id") != int(doc_id))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )

def explain_hits(
    index: Index,
    query_text: str,
    doc_ids: list[int],
    **explain_kwargs,
) -> DataFrame:
    """Per-term score breakdown for a PAGE of docs (ES ``explain:
    true`` — one Explanation per hit): :func:`explain_score` rows for
    each id, prefixed with ``doc_id``. Driver-side loop over the
    k-row page (each probe is a pinned-lexicon lookup + one
    bucket-pruned postings read — no Spark job); the concatenated
    k × |terms| rows come back as one small frame."""
    spark = index.spark
    rows = []
    for d in doc_ids:
        for r in explain_score(index, query_text, int(d),
                               **explain_kwargs).collect():
            rows.append((int(d), r["term"], r["tf"], r["df"],
                         r["idf"], r["contribution"]))
    schema = "doc_id long, " + EXPLAIN_SCHEMA
    if not rows:
        return _empty_df(spark, schema)
    return spark.createDataFrame(rows, schema)

def explain_score(
    index: Index,
    query_text: str,
    doc_id: int,
    synonyms: dict[str, str] | None = None,
    k1: float | None = None,
    b: float | None = None,
    similarity=None,
) -> DataFrame:
    """Per-term score breakdown of one (query, document) pair — the
    relevance-debugging surface (Lucene's ``Explanation``): one row per
    query term the document contains, with the term's tf in the doc,
    global df, idf (the term's static weight — with a non-BM25
    ``similarity`` the column holds that model's weight), and its
    score contribution; the contributions sum to exactly the doc's
    :func:`search_topk` score under the same ``similarity`` (same
    float64 kernels, same per-term math — by test). A tombstoned doc
    explains to zero rows, consistent with search. Driver-side: a
    lexicon probe plus ONE bucket-pruned postings read of the doc's
    shard — no corpus scan, no Spark job on the hot path."""
    stats, q = _resolve_query(index, query_text, synonyms, "or", "dense",
                              k1, b)
    spark = index.spark
    if q is None:
        return _empty_df(spark, EXPLAIN_SCHEMA)
    tomb = index.tombstone_array() if index.tombstone_count() else None
    if tomb is not None and np.any(tomb == int(doc_id)):
        return _empty_df(spark, EXPLAIN_SCHEMA)
    term_fns = _similarity_term_fns(index, similarity, query_text, synonyms,
                                    k1=k1, b=b)
    ordered_terms = q.terms
    meta = _lookup_terms(index, [t for _h, t, _i in ordered_terms])
    doc_id = int(doc_id)
    span = stats.shard_span
    shard = doc_id // span

    # doc length: driver-pinned norms array when available, else a
    # shard-pruned doc_stats fetch
    arr = index.dl_array()
    if arr is not None:
        if doc_id >= arr.shape[0] or arr[doc_id] <= 0:
            return _empty_df(spark, EXPLAIN_SCHEMA)
        dl = float(arr[doc_id])
    else:
        row = (
            index.doc_stats
            .where((F.col("shard") == shard) & (F.col("doc_id") == doc_id))
            .select("doc_len")
            .first()
        )
        if row is None:
            return _empty_df(spark, EXPLAIN_SCHEMA)
        dl = float(row["doc_len"])

    rows_for = _rows_for(
        index.postings_rows_by_term(h for h, _, _ in ordered_terms), shard)
    rows = []
    for th, term, idf in ordered_terms:  # ascending term order
        blocks = rows_for(th)
        if blocks is None:
            continue
        d, t, _ = blocks.decode()
        j = int(np.searchsorted(d, doc_id))
        if j >= d.shape[0] or int(d[j]) != doc_id:
            continue  # term absent from this doc: contributes exact 0
        tf = int(t[j])
        if term_fns is not None:
            contrib = float(
                term_fns[th](np.array([tf]), np.array([dl]))[0]
            )
        else:
            contrib = float(
                idf * _partial(np.array([tf]), np.array([dl]),
                               stats.k1, stats.b, stats.avgdl)[0]
            )
        rows.append((term, tf, int(meta[term]["df"]), float(idf), contrib))
    if not rows:
        return _empty_df(spark, EXPLAIN_SCHEMA)
    out = pd.DataFrame(
        rows, columns=["term", "tf", "df", "idf", "contribution"]
    ).astype({"tf": "int64", "df": "int64"})
    return spark.createDataFrame(out, schema=EXPLAIN_SCHEMA)

def snippet_fragments(
    topk: DataFrame,
    documents: DataFrame,
    query_terms: list[str],
    width: int = 40,
    n_fragments: int = 3,
    text_col: str = "text",
    sep: str = " | ",
) -> DataFrame:
    """ES-style MULTI-fragment highlighting: up to ``n_fragments``
    snippet windows per hit — one around each query term's FIRST
    case-insensitive occurrence (distinct window starts, document
    order), joined with ``sep`` — where
    :func:`materialize_with_snippets` returns only the earliest
    window. Adds ``n_matched_terms`` (how many query terms literally
    occur) and ``fragments``.

    Pure built-in expressions over the k joined rows (instr/substr/
    array ops — no Python, no extra shuffle beyond the k-row join);
    replayed exactly in DuckDB (strpos/list_transform)."""
    if n_fragments < 1:
        raise ValueError("n_fragments must be >= 1")
    lowered = F.lower(F.col(text_col))
    pos_cols = [
        F.nullif(F.instr(lowered, t.lower()), F.lit(0))
        for t in dict.fromkeys(query_terms)
        if t
    ]
    if not pos_cols:
        raise ValueError("query_terms must name at least one term")
    starts = F.slice(
        F.array_sort(
            F.array_distinct(
                F.filter(F.array(*pos_cols), lambda x: x.isNotNull())
            )
        ),
        1,
        int(n_fragments),
    )
    frags = F.transform(
        starts,
        lambda p: F.col(text_col).substr(
            F.greatest(p - F.lit(int(width)), F.lit(1)),
            F.lit(2 * int(width)),
        ),
    )
    hits = documents.select("doc_id", text_col).join(
        F.broadcast(topk), "doc_id"
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.size(
            F.filter(F.array(*pos_cols), lambda x: x.isNotNull())
        ).alias("n_matched_terms"),
        F.array_join(frags, sep).alias("fragments"),
    )

def snippet_fragments_analyzed(
    topk: DataFrame,
    documents: DataFrame,
    index: "Index",
    query_terms: list[str],
    width: int = 40,
    n_fragments: int = 3,
    text_col: str = "text",
    sep: str = " | ",
) -> DataFrame:
    """Analyzer-aware multi-fragment highlighting (the ES "unified
    highlighter" problem): on an analyzed index the stored surface
    form no longer literally contains the indexed term — "studies"
    indexes as "study" (S-stem), "café" folds to "cafe", a CJK run
    indexes as bigrams — so :func:`snippet_fragments`'s ``instr``
    probe misses. This variant re-analyzes each HIT's text with the
    index's own ``token_fn``, keeping character offsets (whitespace
    spans, the canonical tokenizer's split), matches the ANALYZED
    output of every token against the query terms, and windows the
    RAW text around the first occurrence per matched term.

    Python runs over the k-row hit page only (broadcast topk join —
    the same rows a user renders), never the corpus; the schema and
    window arithmetic mirror :func:`snippet_fragments`, to which this
    degrades exactly when the index is unanalyzed."""
    import re as _re

    from ..functions.tokenizer import _PUNCT_RE

    if n_fragments < 1:
        raise ValueError("n_fragments must be >= 1")
    qset = {t for t in dict.fromkeys(query_terms) if t}
    if not qset:
        raise ValueError("query_terms must name at least one term")
    tfn = index.token_fn()
    ws = _re.compile(r"\S+")
    w = int(width)
    nf = int(n_fragments)

    @F.pandas_udf("struct<n_matched_terms:int,fragments:string>")
    def _frags(texts: pd.Series) -> pd.DataFrame:
        out = []
        for text in texts:
            text = text or ""
            first: dict[str, int] = {}
            for mt in ws.finditer(text):
                tok = _PUNCT_RE.sub("", mt.group().lower())
                if not tok:
                    continue
                a = tfn(tok) if tfn is not None else tok
                if a is None:
                    continue
                outs = [a] if isinstance(a, str) else a
                for o in outs:
                    if o in qset and o not in first:
                        first[o] = mt.start() + 1  # 1-based like instr
            starts = sorted(set(first.values()))[:nf]
            frags = sep.join(
                text[max(p - w, 1) - 1 : max(p - w, 1) - 1 + 2 * w]
                for p in starts
            )
            out.append((len(first), frags))
        return pd.DataFrame(out, columns=["n_matched_terms", "fragments"])

    hits = documents.select("doc_id", text_col).join(
        F.broadcast(topk), "doc_id"
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        _frags(F.col(text_col)).alias("_h"),
    ).select(
        "doc_id",
        "score",
        F.col("_h.n_matched_terms").alias("n_matched_terms"),
        F.col("_h.fragments").alias("fragments"),
    )
