"""Positional queries: exact phrase (with slop / first-end), unordered
proximity windows, and phrase-prefix over a positions=True index.
Split from query_exec.py (round 4, file-size hygiene); public names
remain importable from ``operators.query_exec``."""

from __future__ import annotations

from pyspark.sql import DataFrame

import numpy as np
import pandas as pd

from ..functions import codec
from ..functions.tokenizer import tokenize
from .query_exec import (
    TOPK_SCHEMA,
    Index,
    _Query,
    _check_after,
    _empty_df,
    _execute,
    _lookup_terms,
    _overfetch_k,
    _partial,
    _topk_pairs,
)
from .term_expand import suggest_terms


def _phrase_pairs(
    left: pd.DataFrame, dl: np.ndarray, base: int,
    ordered_terms: list[tuple[int, str, float]],
    seq_hashes: list[int],
    k1: float, b: float, avgdl: float, k: int,
    slop: int = 0,
    window: int | None = None,
    after: tuple[int, float] | None = None,
    exp_terms: list[tuple[int, str, float]] | None = None,
    first_end: int | None = None,
) -> list[tuple[int, float]]:
    """Exact-phrase (or, with ``slop`` > 0, ordered-proximity; or,
    with ``window``, UNORDERED proximity) matches in one shard,
    BM25-scored.

    1. batch-decode each distinct term's postings AND positions (one
       varint pass each — position blobs concatenate safely because
       every doc's first position is stored absolutely);
    2. candidates = docs containing every term (sorted-array
       intersection);
    3. adjacency: walk the phrase left to right, intersecting
       (positions so far + 1) with the next term's positions per doc —
       duplicates in the phrase reuse the same decoded postings. With
       ``slop``, the probe widens to a RANGE: the next term may sit up
       to ``slop`` intervening tokens later (same doc, still in
       order), tested as "exists a predecessor occurrence in
       [key - slop - 1, key - 1]" — one searchsorted per step, both
       sides stay sorted, and the window never crosses a doc boundary
       because the lower bound clamps to the packed doc prefix;
    4. score survivors with the standard per-term partials in ascending
       term order (identical formula to mode="and", restricted to
       phrase-matching docs).

    ``exp_terms`` (phrase-prefix mode, ES match_phrase_prefix): the
    phrase gains one FINAL slot matched by ANY of these expansion
    terms — their occurrence keys merge into one sorted array and the
    final step is the same searchsorted probe. Expansions are OPTIONAL
    per shard (a shard missing one just can't match through it; all
    absent -> no match), and scoring adds each expansion term the doc
    actually contains (membership-masked partials) on top of the fixed
    terms, ascending term order across the union.
    """
    if dl.shape[0] >= (1 << 42):
        raise ValueError("shard_span too large for packed (doc, pos) keys")
    hashes = left["term_hash"].to_numpy(np.int64)
    per_term: dict[int, tuple] = {}
    for th, _term, _idf in ordered_terms:
        grp = left[hashes == th]
        if not len(grp):
            return []  # a phrase term absent from this shard
        grp = grp.sort_values("block_id")
        d, t, _ = codec.decode_blocks(
            grp["doc_ids"].tolist(), grp["tfs"].tolist(),
            grp["n_docs"].to_numpy(np.int64),
            grp["first_doc_id"].to_numpy(np.int64),
        )
        pos_blob = b"".join(map(bytes, grp["positions"].tolist()))
        P = codec.decode_positions(pos_blob, t)
        # every occurrence as a packed (local_doc, pos) key — the
        # positional build truncates occurrences at pos < 2^20, so 21
        # bits never carry into the doc bits and "advance one token" is
        # key + 1. Keys ascend (doc-major, pos-ascending), so set ops
        # stay sorted-unique.
        keys = ((np.repeat(d, t) - base) << np.int64(21)) | P
        per_term[th] = (d, t, keys)

    exp_present: list[tuple[str, float, np.ndarray, np.ndarray]] = []
    merged = None
    if exp_terms is not None:
        exp_keys: list[np.ndarray] = []
        for th, term, idf in exp_terms:
            grp = left[hashes == th]
            if not len(grp):
                continue  # expansion absent from this shard: optional
            grp = grp.sort_values("block_id")
            d, t, _ = codec.decode_blocks(
                grp["doc_ids"].tolist(), grp["tfs"].tolist(),
                grp["n_docs"].to_numpy(np.int64),
                grp["first_doc_id"].to_numpy(np.int64),
            )
            pos_blob = b"".join(map(bytes, grp["positions"].tolist()))
            P = codec.decode_positions(pos_blob, t)
            exp_present.append((term, idf, d, t))
            exp_keys.append(((np.repeat(d, t) - base) << np.int64(21)) | P)
        if not exp_keys:
            return []
        merged = np.unique(np.concatenate(exp_keys))

    if window is not None:
        # UNORDERED window (Lucene span_near inOrder=false shape): a
        # doc matches iff some token window of width <= `window`
        # contains every distinct query term. A minimal covering
        # window can always be slid left until its left edge sits ON
        # an occurrence, so it suffices to test starts = every
        # occurrence key x: for each term, the next occurrence >= x
        # must lie within [x, x + window - 1]. One searchsorted probe
        # per term over the merged sorted start array — the same
        # vectorized cost shape as a phrase step. Packed keys keep the
        # probe doc-local: pos occupies 21 bits and pos + window - 1
        # < 2^21, so a next-doc key always exceeds the window bound.
        starts = np.unique(
            np.concatenate([per_term[th][2] for th in per_term])
        )
        hi = starts + np.int64(window - 1)
        ok = np.ones(starts.shape[0], dtype=bool)
        for th in per_term:
            kt = per_term[th][2]
            j = np.searchsorted(kt, starts, side="left")
            jc = np.minimum(j, kt.size - 1)
            ok &= (j < kt.size) & (kt[jc] <= hi)
        cur = starts[ok]
        if not cur.size:
            return []
        docs_arr = np.unique(cur >> np.int64(21)) + base
        scores = np.zeros(docs_arr.shape[0], dtype=np.float64)
        for th, _term, idf in ordered_terms:  # ascending term order
            d, t, _keys = per_term[th]
            ix = np.searchsorted(d, docs_arr)
            scores += idf * _partial(t[ix], dl[docs_arr - base], k1, b,
                                     avgdl)
        return _topk_pairs(docs_arr, scores, k, after=after)

    # adjacency fully vectorized: walk the phrase left to right
    # intersecting (occurrence keys + 1) with the next term's keys —
    # no per-candidate Python loop (a two-head-term phrase over a web
    # shard has ~1e5 candidates; looping them costs ~30 s). Both key
    # arrays are sorted, so the intersection is a searchsorted probe —
    # np.isin would re-sort both sides every step.
    # with exp_terms the walk gains one final step over the merged
    # expansion keys; a pure-prefix query (no fixed terms) starts there
    steps = [per_term[th][2] for th in seq_hashes]
    if merged is not None:
        steps.append(merged)
    cur = steps[0]
    for nxt in steps[1:]:
        if slop == 0:
            shifted = cur + 1
            j = np.searchsorted(nxt, shifted)
            j[j == nxt.size] = 0  # out-of-range probes can't match
            cur = shifted[nxt[j] == shifted]
        else:
            # proximity: keep each next-term occurrence that has a
            # predecessor within [key - slop - 1, key - 1], clamped to
            # the occurrence's own doc (pos bits < 2^20, so the packed
            # doc prefix is the hard floor of the window)
            doc_start = nxt & ~np.int64((1 << 21) - 1)
            lo = np.maximum(nxt - np.int64(slop + 1), doc_start)
            j = np.searchsorted(cur, lo, side="left")
            jc = np.minimum(j, max(cur.size - 1, 0))
            ok = (j < cur.size) & (cur[jc] <= nxt - 1)
            cur = nxt[ok]
        if not cur.size:
            return []
    if first_end is not None:
        # span_first (Lucene SpanFirstQuery): the match must END within
        # the first `first_end` tokens — last-term pos + 1 <= end, i.e.
        # the packed key's position bits < first_end
        cur = cur[(cur & np.int64((1 << 21) - 1)) < np.int64(first_end)]
        if not cur.size:
            return []
    docs_arr = np.unique(cur >> np.int64(21)) + base
    scores = np.zeros(docs_arr.shape[0], dtype=np.float64)
    scorables = [
        (term, idf, per_term[th][0], per_term[th][1], True)
        for th, term, idf in ordered_terms
    ] + [(term, idf, d, t, False) for term, idf, d, t in exp_present]
    for term, idf, d, t, required in sorted(scorables):  # asc term order
        ix = np.searchsorted(d, docs_arr)
        if required:  # every matching doc contains every fixed term
            scores += idf * _partial(t[ix], dl[docs_arr - base], k1, b,
                                     avgdl)
        else:  # expansion: add only where the doc contains the term
            ixc = np.minimum(ix, max(d.size - 1, 0))
            mem = (ix < d.size) & (d[ixc] == docs_arr)
            if mem.any():
                scores[mem] += idf * _partial(
                    t[ixc[mem]], dl[docs_arr[mem] - base], k1, b, avgdl
                )
    return _topk_pairs(docs_arr, scores, k, after=after)

def phrase_search(
    index: Index,
    phrase_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    serving: str = "auto",
    slop: int = 0,
    after: tuple[int, float] | None = None,
    first_end: int | None = None,
    _window: int | None = None,
    _expansions: list[str] | None = None,
    _seq: list[str] | None = None,
) -> DataFrame:
    """Exact-phrase BM25 top-k over a positional index
    (``build_index(..., positions=True)``).

    The phrase is the tokenized text IN ORDER (duplicates kept; synonym
    rewrite applies per token without dedup). A doc matches iff the
    terms occur at consecutive token positions. Matching docs are
    ranked by the same BM25 per-term partials as ``mode="and"``.

    ``first_end`` (Lucene/ES span_first): the match must additionally
    END within the first ``first_end`` tokens of the document — the
    "title-ish leading text" positional filter; composes with ``slop``.

    ``slop`` relaxes adjacency into ORDERED PROXIMITY: each adjacent
    pair of phrase terms may be separated by up to ``slop`` intervening
    tokens (still in phrase order, still within one document) —
    ``slop=0`` is the exact phrase. This is the per-gap window
    semantics (each step independently within ``slop``), simpler and
    strictly cheaper than Lucene's move-count slop: evaluation stays
    one vectorized searchsorted probe per phrase step. A slop match is
    always a superset of the exact-phrase match set and a subset of
    ``mode="and"`` (by test).
    """
    if not getattr(index.stats, "positions", False):
        raise ValueError(
            "phrase_search needs a positional index: build_index(..., "
            "positions=True)"
        )
    slop = int(slop)
    if not (0 <= slop < (1 << 20)):
        raise ValueError(f"slop must be in [0, 2^20), got {slop}")
    if _window is not None:
        _window = int(_window)
        if not (1 <= _window <= (1 << 20)):
            raise ValueError(
                f"window must be in [1, 2^20], got {_window}"
            )
    if first_end is not None:
        first_end = int(first_end)
        if not (1 <= first_end < (1 << 20)):
            raise ValueError(
                f"first_end must be in [1, 2^20), got {first_end}"
            )
        if _window is not None:
            raise ValueError(
                "first_end (span_first) applies to ordered spans, not "
                "the unordered window"
            )
    from ..functions.tokenizer import tokenize

    syn = synonyms or {}
    tfn = index.token_fn()
    if _seq is not None:
        seq = list(_seq)  # pre-analyzed terms (phrase_prefix_search)
    else:
        seq = [syn.get(t, t) for t in tokenize(phrase_text)]
        if tfn is not None:
            # analyzed index: stopwords vanish from the phrase
            # (positions were renumbered contiguously at build, so the
            # remaining terms ARE adjacent), stems match the indexed
            # surface forms
            from ..functions.analyzer import apply_token_fn

            seq = apply_token_fn(seq, tfn)
    spark = index.spark
    if _expansions is not None and _window is not None:
        raise ValueError("phrase-prefix expansion and unordered window "
                         "cannot combine")
    if not seq and not _expansions:
        return _empty_df(spark, TOPK_SCHEMA)
    distinct = sorted(set(seq))
    meta = _lookup_terms(index, distinct)
    if len(meta) < len(distinct):
        return _empty_df(spark, TOPK_SCHEMA)
    stats = index.stats
    ordered_terms = [
        (int(m["hash"]), t, float(m["idf"])) for t, m in sorted(meta.items())
    ]
    seq_hashes = [int(meta[t]["hash"]) for t in seq]
    exp_terms = None
    if _expansions is not None:
        # expansion terms come FROM the lexicon (prefix probe) so the
        # lookup can't miss; drop any that duplicate a fixed term so
        # each distinct term scores exactly once
        exp_list = sorted(set(_expansions) - set(distinct))
        emeta = _lookup_terms(index, exp_list)
        exp_terms = [
            (int(m["hash"]), t, float(m["idf"]))
            for t, m in sorted(emeta.items())
        ]
        if not exp_terms:
            return _empty_df(spark, TOPK_SCHEMA)
    k_eff = _overfetch_k(index, k, "phrase-search")

    import functools

    pairs_fn = functools.partial(
        _phrase_pairs, ordered_terms=ordered_terms, seq_hashes=seq_hashes,
        k1=stats.k1, b=stats.b, avgdl=stats.avgdl, k=k_eff, slop=slop,
        window=_window, after=_check_after(after), exp_terms=exp_terms,
        first_end=first_end,
    )
    # the scorer reads the postings of every term, expansions included
    read = ordered_terms + (exp_terms or [])

    # auto picks driver serving whenever the index is small enough for
    # the driver-pinned norms/lexicon — measured faster than the
    # executor path even for two-head-term phrases (the distributed
    # path ships the probed position blobs through an extra shuffle +
    # Arrow transfer; at >20M docs there is no choice and it shards the
    # decode in parallel).
    return _execute(index, stats, [_Query(None, read, pairs_fn)], k, "and",
                    serving)

def near_search(
    index: Index,
    query_text: str,
    window: int,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    serving: str = "auto",
    after: tuple[int, float] | None = None,
) -> DataFrame:
    """UNORDERED proximity search (Lucene ``SpanNearQuery`` with
    ``inOrder=false`` / interval "within" query): a doc matches iff
    some token window of width <= ``window`` contains at least one
    occurrence of EVERY distinct query term, in ANY order. Matching
    docs are BM25-ranked exactly like ``mode="and"`` restricted to the
    window-matching set.

    Relationships (by test): ``near_search(w)`` matches a SUPERSET of
    ``phrase_search(slop=w - len(terms))``-style ordered matches once
    the window covers the phrase span, and a SUBSET of ``mode="and"``;
    ``window`` large enough degenerates to ``mode="and"``. Evaluation
    is the same per-shard vectorized packed-key machinery as
    :func:`phrase_search` — one searchsorted probe per term over the
    merged occurrence array, no per-candidate Python loop.
    """
    if window is None:
        raise ValueError("window is required")
    return phrase_search(
        index, query_text, k=k, synonyms=synonyms, serving=serving,
        slop=0, after=after, _window=window,
    )

def phrase_prefix_search(
    index: Index,
    phrase_text: str,
    k: int = 10,
    max_expansions: int = 50,
    synonyms: dict[str, str] | None = None,
    serving: str = "auto",
    slop: int = 0,
    after: tuple[int, float] | None = None,
) -> DataFrame:
    """Search-as-you-type (ES ``match_phrase_prefix`` / Lucene
    ``MatchPhrasePrefixQuery``) over a positional index: the input is
    analyzed like any phrase, every token but the LAST must match at
    consecutive positions, and the last token is a PREFIX — expanded
    against the lexicon to at most ``max_expansions`` terms by
    (df desc, term asc), the MultiTermQuery rewrite order shared with
    :func:`expand_terms` — any of which may occupy the final slot.

    Match semantics: doc matches iff the fixed phrase occurs with SOME
    expansion at the next position (``slop`` relaxes each gap exactly
    as in :func:`phrase_search`). A single-token query degenerates to
    "contains any expansion" — :func:`prefix_search`'s match set.

    Scoring: BM25 partials of the fixed terms plus, for each expansion
    term the document actually contains, that term's partial —
    ascending term order across the union, so a doc matching several
    completions outranks a doc matching one (the disjunctive-expansion
    shape of :func:`wildcard_search`, restricted to the phrase-prefix
    match set).

    Execution shape: the expansion probe is vocab-sized (driver cache
    or pushed-down StartsWith); evaluation merges the expansions'
    packed (doc, pos) occurrence keys into ONE sorted array per shard,
    so the final step costs one searchsorted probe regardless of how
    many completions exist — never one phrase query per expansion.
    The reference engine has no positional or prefix surface at all
    (its index maps whole terms to doc lists, README.md:423-427).
    """
    from ..functions.tokenizer import tokenize

    syn = synonyms or {}
    tfn = index.token_fn()
    raw = [syn.get(t, t) for t in tokenize(phrase_text)]
    if tfn is not None:
        from ..functions.analyzer import apply_token_fn

        raw = apply_token_fn(raw, tfn)
    if not raw:
        return _empty_df(index.spark, TOPK_SCHEMA)
    fixed, prefix = raw[:-1], raw[-1]
    rows = suggest_terms(index, prefix, k=max_expansions).collect()
    expansions = [r["term"] for r in rows]
    if not expansions:
        return _empty_df(index.spark, TOPK_SCHEMA)
    return phrase_search(
        index, "", k=k, serving=serving, slop=slop,
        after=after, _expansions=expansions, _seq=fixed,
    )
