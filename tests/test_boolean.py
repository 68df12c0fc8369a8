"""Boolean query search (AND/OR/NOT with parens) vs the set-algebra
NumPy oracle, across both serving modes and the exhaustive baseline."""

from __future__ import annotations

import math

import pytest

from hadoop_search_engine_spark.operators.boolean import (
    BooleanQueryError,
    boolean_topk_dataframe,
    parse_boolean_query,
    query_terms,
    search_topk_boolean,
)
from hadoop_search_engine_spark.operators.index_build import build_index
from hadoop_search_engine_spark.operators.query_exec import Index, search_topk
from hadoop_search_engine_spark.oracle.bm25_oracle import BM25Oracle

ROWS = [
    (0, "spark query table merge fast"),
    (1, "spark query vector slow"),
    (2, "spark merge merge merge"),
    (3, "query table vector"),
    (4, "spark table"),
    (5, "merge vector spark query"),
    (6, "completely unrelated words here"),
    (7, "spark spark spark query query table"),
    (8, "table merge"),
    (9, "vector vector vector"),
]


@pytest.fixture(scope="module")
def bool_setup(spark, tmp_path_factory):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("bidx") / "idx")
    build_index(spark, docs, out, n_buckets=4, block_size=4)
    return Index.load(spark, out), BM25Oracle(ROWS), docs.persist()


# ---------------------------------------------------------------- parser

def test_parser_precedence_and_parens():
    # NOT > AND > OR
    assert parse_boolean_query("a AND b OR c") == (
        "or", (("and", (("term", "a"), ("term", "b"))), ("term", "c"))
    )
    assert parse_boolean_query("a AND (b OR c)") == (
        "and", (("term", "a"), ("or", (("term", "b"), ("term", "c"))))
    )
    assert parse_boolean_query("NOT a AND b") == (
        "and", (("not", ("term", "a")), ("term", "b"))
    )


def test_parser_binary_not_and_adjacency():
    # Lucene-style binary NOT == AND (NOT x); adjacency == AND
    assert parse_boolean_query("a NOT b") == parse_boolean_query(
        "a AND NOT b"
    )
    assert parse_boolean_query("a b c") == parse_boolean_query(
        "a AND b AND c"
    )


def test_parser_tokenizes_leaves():
    # leaves run the standard tokenizer: case-folding, punctuation
    assert parse_boolean_query("Spark QUERY") == parse_boolean_query(
        "spark query"
    )
    # lowercase not is a term, not an operator
    node = parse_boolean_query("not a")
    pos, neg = query_terms(node)
    assert pos == {"not", "a"} and neg == set()


def test_parser_errors():
    for bad in ["a AND", "(a OR b", "a )", "AND a", "a OR OR b", ""]:
        with pytest.raises(BooleanQueryError):
            parse_boolean_query(bad)


def test_query_terms_dual_polarity():
    pos, neg = query_terms(parse_boolean_query("(a NOT b) OR b"))
    assert pos == {"a", "b"} and neg == {"b"}


# ------------------------------------------------------------- semantics

QUERIES = [
    "spark AND (query OR merge) NOT vector",
    "spark AND query",
    "spark OR merge",
    "spark NOT vector",
    "(spark OR table) AND NOT (merge OR vector)",
    "spark AND NOT spark",          # contradiction -> empty
    "merge OR NOT vector",          # pure-negative disjunct: only scored docs
    "(spark NOT query) OR (query NOT spark)",  # symmetric difference
    "zzz OR spark",                 # unknown term in OR
    "zzz AND spark",                # unknown term in AND -> empty
    "spark NOT zzz",                # NOT unknown == always true
]


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _check(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"{label}: {got} vs {want}"
    )
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-12), (
            f"{label}: {gd}={gs} vs {wd}={ws}"
        )


@pytest.mark.parametrize("serving", ["driver", "spark"])
def test_boolean_matches_oracle(bool_setup, serving):
    idx, oracle, _docs = bool_setup
    for q in QUERIES:
        got = _pairs(search_topk_boolean(idx, q, k=10, serving=serving))
        want = oracle.boolean_search(q, k=10)
        _check(got, want, f"{serving}:{q!r}")


def test_boolean_dataframe_matches_oracle(bool_setup):
    _idx, oracle, docs = bool_setup
    for q in QUERIES:
        got = _pairs(boolean_topk_dataframe(docs, q, k=10))
        want = oracle.boolean_search(q, k=10)
        _check(got, want, f"exhaustive:{q!r}")


def test_flat_or_and_agree_with_search_topk(bool_setup):
    """A flat boolean expression must equal search_topk's or/and modes
    (same partials, same order, same ties)."""
    idx, _oracle, _docs = bool_setup
    or_flat = _pairs(search_topk(idx, "spark query table", k=10))
    or_bool = _pairs(search_topk_boolean(idx, "spark OR query OR table", k=10))
    _check(or_bool, or_flat, "flat-or")
    and_flat = _pairs(search_topk(idx, "spark query", k=10, mode="and"))
    and_bool = _pairs(search_topk_boolean(idx, "spark AND query", k=10))
    _check(and_bool, and_flat, "flat-and")


def test_not_excludes_and_preserves_scores(bool_setup):
    """NOT must subtract docs without perturbing survivors' scores
    (global statistics, same partials)."""
    idx, _oracle, _docs = bool_setup
    base = dict(_pairs(search_topk(idx, "spark", k=10)))
    excl = _pairs(search_topk_boolean(idx, "spark NOT vector", k=10))
    vec_docs = {d for d, _ in _pairs(search_topk(idx, "vector", k=10))}
    assert excl and all(d not in vec_docs for d, _ in excl)
    for d, s in excl:
        assert math.isclose(s, base[d], rel_tol=1e-12)


def test_boolean_respects_tombstones(spark, tmp_path):
    from hadoop_search_engine_spark.operators.index_maint import delete_docs

    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_buckets=4, block_size=4)
    idx = Index.load(spark, out)
    q = "spark NOT vector"
    servings = ("driver", "spark")
    before = {s: _pairs(search_topk_boolean(idx, q, serving=s))
              for s in servings}
    assert 0 in {d for d, _ in before["driver"]}
    assert before["spark"] == before["driver"]
    delete_docs(idx, [0])
    for s in servings:
        after = _pairs(search_topk_boolean(idx, q, serving=s))
        assert after == [p for p in before[s] if p[0] != 0], s


def test_boolean_tuned_k1_b(bool_setup):
    """(k1, b) overrides flow through to the partials (parity with the
    oracle re-parameterized the same way)."""
    idx, _oracle, _docs = bool_setup
    tuned_oracle = BM25Oracle(ROWS, k1=0.9, b=0.3)
    got = _pairs(search_topk_boolean(
        idx, "spark AND (query OR merge) NOT vector", k=10, k1=0.9, b=0.3
    ))
    want = tuned_oracle.boolean_search(
        "spark AND (query OR merge) NOT vector", k=10
    )
    _check(got, want, "tuned")
