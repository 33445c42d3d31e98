"""The distributed tier's two drivers agree bitwise.

``InvertedIndex.search``/``search_expr``/``search_batch`` answer a query
whose postings fit ``query._COLLECT_BUDGET`` through the fetch driver:
one bucket-pruned collect, then the numpy evaluator
(``functions/evaluator.py``) on the driver. Past the budget the
DataFrame evaluator runs on the executors. Patching the budget to 0
forces the executor driver, so the same handle answers every query both
ways and the answers must agree in (rank, doc_id, score) to the bit —
or both raise ``ValueError``. Queries come from
``test_expr_equivalence``'s grammar, on its three indexes (single-field
layered and tombstoned, two-field ``detail='full'``, two-field
``detail='none'``), plus bag-of-words OR, ``mode='and'``, weighted OR,
a rank configuration and batches.

The fetch driver runs ONE Spark job per query, the caller's
``collect()`` included, once the handle's ``term_ubs`` are loaded.
"""

from __future__ import annotations

import shutil
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkgrep.operators import query
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.plans.manifest import append_batch_delta, set_rank
from tests.test_expr_equivalence import (  # noqa: F401 (fixtures)
    STEMS,
    V,
    _grammar,
    detail_none,
    full,
    single_field,
)

K = 50
SETTINGS = settings(max_examples=12, deadline=None, derandomize=True)
BOW = settings(max_examples=4, deadline=None, derandomize=True)


def _rows(df) -> list[tuple]:
    return [(int(r.rank), int(r.doc_id), float(r.score)) for r in df.collect()]


def _both(call):
    """(fetch driver's answer, executor driver's answer) of ``call``, or
    None after asserting that both raise ``ValueError``."""
    try:
        got = _rows(call())
    except ValueError:
        with mock.patch.object(query, "_COLLECT_BUDGET", 0), pytest.raises(ValueError):
            call()
        return None
    with mock.patch.object(query, "_COLLECT_BUDGET", 0):
        want = _rows(call())
    return got, want


def _check(call, q):
    pair = _both(call)
    if pair is not None:
        got, want = pair
        assert got == want, q  # bitwise: floats compare exactly


# -- the query language -------------------------------------------------------


@SETTINGS
@given(q=_grammar(positional=True, colsets=False))
def test_expr_single_field_layered(single_field, q):
    idx = single_field[0]
    _check(lambda: idx.search_expr(q, k=K), q)


@SETTINGS
@given(q=_grammar(positional=True, colsets=True))
def test_expr_two_field_full(full, q):
    idx = full[0]
    _check(lambda: idx.search_expr(q, k=K), q)


@SETTINGS
@given(q=_grammar(positional=False, colsets=False))
def test_expr_two_field_detail_none(detail_none, q):
    idx = detail_none[0]
    _check(lambda: idx.search_expr(q, k=K), q)


# -- bag-of-words -------------------------------------------------------------

_words = st.lists(st.sampled_from(V + ("zzz",)), min_size=1, max_size=4).map(" ".join)
_weights = st.lists(st.sampled_from([0.0, 0.5, 1.0, 2.0, 3.0]), min_size=2, max_size=2)


@BOW
@given(q=_words)
def test_or_and_single_field_layered(single_field, q):
    idx = single_field[0]
    _check(lambda: idx.search(q, k=K), q)
    _check(lambda: idx.search(q, k=K, mode="and"), q)


@BOW
@given(q=_words, w=_weights)
def test_or_and_weighted_two_field(full, q, w):
    idx = full[0]
    _check(lambda: idx.search(q, k=K), q)
    _check(lambda: idx.search(q, k=K, mode="and"), q)
    _check(lambda: idx.search(q, k=K, weights=w), (q, w))


@pytest.fixture(scope="module")
def ranked(spark, full, tmp_path_factory):
    """The two-field full index under a persisted rank configuration."""
    out = str(tmp_path_factory.mktemp("fd_rank") / "idx")
    shutil.copytree(full[0].index_dir, out)
    set_rank(out, "bm25(3.0, 0.5)")
    return InvertedIndex(spark, out)


@BOW
@given(q=_words)
def test_rank_configured_search(ranked, q):
    _check(lambda: ranked.search(q, k=K), q)


def _batch(idx, queries):
    return sorted(
        (r.query_id, int(r.rank), int(r.doc_id), float(r.score))
        for r in idx.search_batch(queries).collect()
    )


@BOW
@given(qs=st.lists(_words, min_size=1, max_size=4))
def test_batch(single_field, full, ranked, qs):
    queries = [(f"q{i}", q, 1 + 7 * i) for i, q in enumerate(qs)]
    for idx in (single_field[0], full[0], ranked):
        got = _batch(idx, queries)
        with mock.patch.object(query, "_COLLECT_BUDGET", 0):
            assert got == _batch(idx, queries), qs
        # each answer is search()'s
        per_query = sorted(
            (qid, rank, doc, score)
            for qid, q, k in queries
            for rank, doc, score in _rows(idx.search(q, k=k))
        )
        assert got == per_query, qs


# -- job counts ---------------------------------------------------------------

QUERIES = {
    "or": lambda idx: idx.search("alpha beta", k=10),
    "and": lambda idx: idx.search("alpha beta", k=10, mode="and"),
    "bool": lambda idx: idx.search_expr("alpha NOT gamma", k=10),
    "phrase": lambda idx: idx.search_expr('"alpha beta" OR "beta gamma"', k=10),
    "near": lambda idx: idx.search_expr("NEAR(alpha delta, 3)", k=10),
    "prefix": lambda idx: idx.search_expr(f"{STEMS[0]}* {STEMS[1]}*", k=10),
    "batch": lambda idx: idx.search_batch([("a", "alpha", 5), ("b", "beta gamma", 5)]),
}


def _jobs(sc, group: str, call) -> tuple[int, list]:
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        rows = call().collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


@pytest.mark.parametrize("cls", sorted(QUERIES))
def test_one_job_under_the_budget(spark, full, cls):
    idx = full[0]
    idx.term_ubs(list(V))  # the handle's first-touch load, outside the group
    sc = spark.sparkContext
    n, rows = _jobs(sc, f"fetch_{cls}", lambda: QUERIES[cls](idx))
    assert rows, cls
    assert n == 1, f"{cls}: the fetch driver ran {n} jobs"
    with mock.patch.object(query, "_COLLECT_BUDGET", 0):
        n_exec, rows_exec = _jobs(sc, f"exec_{cls}", lambda: QUERIES[cls](idx))
    assert n_exec > 1, f"{cls}: budget 0 did not take the executor path"
    assert [tuple(r) for r in rows_exec] == [tuple(r) for r in rows], cls


def test_reused_doc_id_refused_by_the_distributed_tier(spark, tmp_path):
    """Two live rows of a term holding one doc: the fetch driver raises,
    like the resident tier, instead of double-counting it."""
    rows = [(1, "alpha beta"), (2, "beta gamma")]
    out = str(tmp_path / "dup")
    append_batch_delta(
        spark.createDataFrame(rows, "doc_id long, content string"), out, "b0",
        store_positions=True,
    )
    append_batch_delta(
        spark.createDataFrame([(2, "beta delta")], "doc_id long, content string"),
        out, "b1",
    )
    idx = InvertedIndex(spark, out)
    with pytest.raises(ValueError, match="doc_id 2"):
        idx.search("beta", k=5)
    with pytest.raises(ValueError, match="doc_id 2"):
        idx.search_expr('"beta delta" OR "beta gamma"', k=5)
    with pytest.raises(ValueError, match="doc_id 2"):
        idx.search_expr("NEAR(be* alpha)", k=5)
    with pytest.raises(ValueError, match="doc_id 2"):
        idx.search_batch([("a", "beta", 5)])
