"""Boolean query search: nested AND / OR / NOT with parentheses.

The reference engine evaluates only a flat OR-union of query terms
(server/src/services/search.service.js:12-16 — one in-memory map probe
per term, first-seen union). ``search_topk``'s ``mode="and"`` added the
flat conjunction; this module adds the full boolean retrieval model on
top of the same block index:

    spark AND (query OR merge) NOT vector

**Semantics** (the classic ranked-boolean contract, Lucene-style):

* the boolean expression defines the ELIGIBLE document set — a term
  leaf means "the document contains this term" (same tokenizer +
  synonym rewrite as every other query path);
* ``NOT`` may appear as a prefix operator (``NOT a``) or, Lucene-style,
  as a binary operator (``a NOT b`` == ``a AND (NOT b)``); adjacency is
  an implicit AND (``a b`` == ``a AND b``); precedence NOT > AND > OR;
* ranking is BM25 over the POSITIVE query terms (leaves with at least
  one non-negated occurrence), summed in ascending term order — the
  same partials, order, and (k1, b) override rules as ``search_topk``;
* documents that satisfy the expression but match no positive term
  score 0 and are EXCLUDED (a pure-negation disjunct like
  ``a OR NOT b`` can therefore never return the "everything except b"
  tail — BM25 has no basis to rank it; standard engines reject such
  clauses outright, we simply don't rank them).

**Execution shape.** A document's postings for all its terms live in
the doc's own shard (shard = doc_id // shard_span), so boolean
evaluation is SHARD-LOCAL and embarrassingly parallel: each shard task
batch-decodes the posting blocks of every leaf term present (one
varint pass per term, the dense scorer's decode), builds a boolean
presence vector per leaf over the shard span, evaluates the expression
tree bottom-up with NumPy vector ops (``&``, ``|``, ``~``), and ranks
the eligible docs by the accumulated positive-term scores. NOT costs
exactly one extra posting-list decode for the negated term — never a
corpus scan: the complement is represented implicitly by evaluating
over the dense span vector. Serving rides the shared plumbing:
driver mode (bucket-pruned pyarrow reads + hot-postings LRU, no Spark
job) or the distributed grouped-map scorer, identical results by
construction.

At 10^12 docs the eligibility vectors are span-sized bools per shard
(shard_span is a build constant, default 2^17 — 128 KiB per leaf),
independent of cluster size or corpus size.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import codec
from ..functions.tokenizer import tokenize
from .query_exec import (
    TOPK_SCHEMA,
    Index,
    _Query,
    _empty_df,
    _execute,
    _lookup_terms,
    _overfetch_k,
    _partial,
    _topk_pairs,
)

# AST nodes are plain nested tuples — hashable, picklable, printable:
#   ("term", "spark") | ("and", (c1, c2, ...)) | ("or", (c1, ...))
#   | ("not", child)


class BooleanQueryError(ValueError):
    """Raised for malformed boolean query strings."""


def _lex(query_text: str) -> list[str]:
    """Split into parens and words; AND/OR/NOT are keywords only in
    UPPERCASE (a lowercase "not" is a search term, matching user
    expectations from Lucene's classic parser)."""
    out: list[str] = []
    buf: list[str] = []
    for ch in query_text:
        if ch in "()":
            if buf:
                out.append("".join(buf))
                buf = []
            out.append(ch)
        elif ch.isspace():
            if buf:
                out.append("".join(buf))
                buf = []
        else:
            buf.append(ch)
    if buf:
        out.append("".join(buf))
    return out


def parse_boolean_query(
    query_text: str,
    synonyms: dict[str, str] | None = None,
    token_fn=None,
):
    """Boolean query string -> AST of nested tuples.

    Grammar (NOT > AND > OR; adjacency = AND; ``a NOT b`` = Lucene's
    binary exclusion)::

        expr  := conj (OR conj)*
        conj  := unary ((AND | NOT | <adjacent>) unary)*
        unary := NOT unary | '(' expr ')' | WORD

    Each WORD runs through the standard tokenizer + synonym rewrite; a
    word that tokenizes to several canonical terms becomes their
    conjunction (same containment semantics the flat paths get from
    tokenize-then-dedup), and a word that tokenizes to nothing (pure
    punctuation) is rejected.

    ``token_fn`` (the index's analyzer) is applied per term after the
    synonym rewrite; a clause whose every term the analyzer drops (a
    stopword) VANISHES Lucene-style — ``spark AND the`` == ``spark``,
    ``a NOT the`` == ``a`` — and a query that drops entirely returns
    None (matches nothing).
    """
    syn = synonyms or {}
    toks = _lex(query_text)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def leaf(word: str):
        terms = [syn.get(t, t) for t in tokenize(word)]
        if not terms:
            raise BooleanQueryError(
                f"term {word!r} tokenizes to nothing"
            )
        if token_fn is not None:
            from ..functions.analyzer import apply_token_fn

            terms = apply_token_fn(terms, token_fn)
            if not terms:
                return None  # all-stopword clause: drop, Lucene-style
        nodes = tuple(("term", t) for t in dict.fromkeys(terms))
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def unary():
        t = peek()
        if t is None:
            raise BooleanQueryError("unexpected end of query")
        if t == "NOT":
            take()
            u = unary()
            return None if u is None else ("not", u)
        if t == "(":
            take()
            node = expr()
            if peek() != ")":
                raise BooleanQueryError("missing ')'")
            take()
            return node
        if t in (")", "AND", "OR"):
            raise BooleanQueryError(f"unexpected {t!r}")
        return leaf(take())

    def conj():
        parts = [unary()]
        while True:
            t = peek()
            if t is None or t in (")", "OR"):
                break
            if t == "AND":
                take()
                parts.append(unary())
            elif t == "NOT":
                take()
                u = unary()
                parts.append(None if u is None else ("not", u))
            else:  # adjacency
                parts.append(unary())
        parts = [p for p in parts if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else ("and", tuple(parts))

    def expr():
        parts = [conj()]
        while peek() == "OR":
            take()
            parts.append(conj())
        parts = [p for p in parts if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else ("or", tuple(parts))

    node = expr()
    if pos != len(toks):
        raise BooleanQueryError(f"trailing input at {toks[pos]!r}")
    return node


def _walk_leaves(node, negated: bool, pos: set, neg: set) -> None:
    kind = node[0]
    if kind == "term":
        (neg if negated else pos).add(node[1])
    elif kind == "not":
        _walk_leaves(node[1], not negated, pos, neg)
    else:
        for c in node[1]:
            _walk_leaves(c, negated, pos, neg)


def query_terms(node) -> tuple[set, set]:
    """(positive, negative) leaf-term sets of an AST. A term counts as
    positive if it has at least one occurrence under an EVEN number of
    NOTs; it may appear in both sets (e.g. ``(a NOT b) OR b``)."""
    pos: set = set()
    neg: set = set()
    _walk_leaves(node, False, pos, neg)
    return pos, neg


def _eval_node(node, presence: dict) -> np.ndarray:
    """Evaluate the AST over per-leaf boolean presence vectors
    (span-length). Absent leaves (term unknown to the index / no
    postings in this shard) share one constant all-False vector."""
    kind = node[0]
    if kind == "term":
        return presence[node[1]]
    if kind == "not":
        return ~_eval_node(node[1], presence)
    it = iter(node[1])
    acc = _eval_node(next(it), presence).copy()
    if kind == "and":
        for c in it:
            acc &= _eval_node(c, presence)
    else:
        for c in it:
            acc |= _eval_node(c, presence)
    return acc


def _boolean_pairs(
    left: pd.DataFrame, dl: np.ndarray, base: int,
    ast,
    leaf_hashes: dict,
    ordered_terms: list,
    k1: float, b: float, avgdl: float, k: int,
) -> list:
    """One shard: decode every leaf term's postings once, build
    presence vectors, evaluate the AST, score eligible docs over the
    positive terms (ascending term order — oracle summation order)."""
    span = dl.shape[0]
    hashes = left["term_hash"].to_numpy(np.int64)
    false_vec = np.zeros(span, dtype=bool)
    presence: dict = {}
    decoded: dict = {}
    for term, th in leaf_hashes.items():
        if th is None:
            presence[term] = false_vec
            continue
        grp = left[hashes == th]
        if not len(grp):
            presence[term] = false_vec
            continue
        d, t, _ = codec.decode_blocks(
            grp["doc_ids"].tolist(), grp["tfs"].tolist(),
            grp["n_docs"].to_numpy(np.int64),
            grp["first_doc_id"].to_numpy(np.int64),
        )
        off = d - base
        decoded[term] = (off, t)
        v = np.zeros(span, dtype=bool)
        v[off] = True
        presence[term] = v

    eligible = _eval_node(ast, presence)
    scores = np.zeros(span, dtype=np.float64)
    matched = np.zeros(span, dtype=bool)
    for _th, term, idf in ordered_terms:  # ascending term order
        got = decoded.get(term)
        if got is None:
            continue
        off, t = got
        scores[off] += idf * _partial(t, dl[off], k1, b, avgdl)
        matched[off] = True
    idx = np.flatnonzero(eligible & matched)
    if not idx.size:
        return []
    return _topk_pairs(idx + base, scores[idx], k)


def search_topk_boolean(
    index: Index,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    serving: str = "auto",
    k1: float | None = None,
    b: float | None = None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for a boolean query over the block index.

    See the module docstring for semantics. ``serving`` / ``k1`` /
    ``b`` behave exactly as in :func:`~.query_exec.search_topk`; both
    serving modes are rank- and score-identical by construction (the
    per-shard evaluator is shared) and by test.

    ``doc_filter`` (a doc_id eligibility frame, e.g. a metadata
    predicate projection) composes EXACTLY by disabling the per-shard
    cut — every boolean-eligible doc is scored (the ``scored_docs``
    cost class, proportional to the query terms' df), the filter
    rides the cogroup eligibility page (pairs of docs absent from it
    are dropped), and the top-k follows — a doc the filter admits can
    never be displaced by one it rejects.
    Distributed serving only (the filter is a DataFrame).
    """
    if serving not in ("auto", "driver", "spark"):
        raise ValueError(f"serving must be auto|driver|spark, got {serving!r}")
    spark = index.spark
    stats = index.stats
    if k1 is not None or b is not None:
        import dataclasses

        stats = dataclasses.replace(
            stats,
            k1=stats.k1 if k1 is None else float(k1),
            b=stats.b if b is None else float(b),
        )
    ast = parse_boolean_query(query_text, synonyms, index.token_fn())
    if ast is None:  # every clause was an analyzer-dropped stopword
        return _empty_df(spark, TOPK_SCHEMA)
    pos_terms, neg_terms = query_terms(ast)
    meta = _lookup_terms(index, sorted(pos_terms | neg_terms))
    # leaves the lexicon doesn't know keep a None hash -> constant
    # all-False presence (NOT unknown == always true; AND unknown ==
    # always false), which is exactly the containment semantics.
    leaf_hashes = {
        t: (int(meta[t]["hash"]) if t in meta else None)
        for t in (pos_terms | neg_terms)
    }
    ordered_terms = [
        (int(meta[t]["hash"]), t, float(meta[t]["idf"]))
        for t in sorted(pos_terms)
        if t in meta
    ]
    if not ordered_terms:
        return _empty_df(spark, TOPK_SCHEMA)  # nothing can score > 0

    k_eff = _overfetch_k(index, k, "boolean-search")
    if doc_filter is not None:
        # no per-shard cut: rank-exactness under the filter needs the
        # full eligible score set (df-proportional, the scored_docs
        # cost class)
        k_eff = stats.num_shards * stats.shard_span

    pairs_fn = functools.partial(
        _boolean_pairs, ast=ast, leaf_hashes=leaf_hashes,
        ordered_terms=ordered_terms, k1=stats.k1, b=stats.b,
        avgdl=stats.avgdl, k=k_eff,
    )
    # the postings scan needs every PRESENT leaf (negative terms too:
    # their presence vectors are what NOT complements)
    read = [(int(m["hash"]), t, float(m["idf"]))
            for t, m in sorted(meta.items())]
    return _execute(index, stats, [_Query(None, read, pairs_fn)], k, "or",
                    serving, doc_filter)


def boolean_topk_dataframe(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """Exhaustive no-index boolean BM25 — the oracle-form baseline
    (mirrors :func:`~.query_exec.bm25_topk_dataframe`'s two-scan plan):
    scan 1 aggregates corpus stats + per-positive-term df, scan 2
    evaluates the boolean predicate over per-term array-filter tf
    counts and sums the per-term partials left-to-right in ascending
    term order (``score_col``'s exact 0.0 for absent terms is a sum
    identity). Pure JVM expressions — no Python on the row path, no
    explode, no join tree — so Catalyst prunes the scan to
    (doc_id, text) and the plan stays in whole-stage codegen."""
    from .. import BM25_B, BM25_K1
    from ..functions.bm25 import idf_col, score_col
    from ..functions.tokenizer import tokens_col

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    ast = parse_boolean_query(query_text, synonyms)
    pos_terms, neg_terms = query_terms(ast)
    leaves = sorted(pos_terms | neg_terms)
    pos_sorted = sorted(pos_terms)
    if not pos_sorted:
        return _empty_df(docs.sparkSession, TOPK_SCHEMA)
    col_of = {t: f"tf_{i}" for i, t in enumerate(leaves)}

    def _tf_of(term: str):
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    per_doc = toks.select(
        "doc_id",
        F.size("toks").cast("double").alias("doc_len"),
        *[
            _tf_of(t).cast("double").alias(col_of[t])
            for t in leaves
        ],
    )
    stats = per_doc.where(F.col("doc_len") > 0).agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        *[
            F.sum((F.col(col_of[t]) > 0).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(pos_sorted)
        ],
    )

    def elig(node):
        kind = node[0]
        if kind == "term":
            return F.col(col_of[node[1]]) > 0
        if kind == "not":
            return ~elig(node[1])
        acc = elig(node[1][0])
        for c in node[1][1:]:
            acc = (acc & elig(c)) if kind == "and" else (acc | elig(c))
        return acc

    # eligible AND matching >= 1 positive term (score-0 docs excluded)
    any_pos = (
        F.greatest(*[F.col(col_of[t]) for t in pos_sorted])
        if len(pos_sorted) > 1
        else F.col(col_of[pos_sorted[0]])
    )
    matched = per_doc.where(elig(ast) & (any_pos > 0))
    score = F.lit(0.0)
    for i, t in enumerate(pos_sorted):
        score = score + score_col(
            F.col(col_of[t]), F.col("doc_len"),
            idf_col(F.col("n_docs").cast("int"), F.col(f"df_{i}")),
            F.col("avgdl"), k1=k1, b=b,
        )
    scored = matched.crossJoin(F.broadcast(stats)).select(
        "doc_id", score.alias("score")
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)
