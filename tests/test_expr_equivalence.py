"""Distributed ≡ resident, bitwise, over random query-language queries.

``InvertedIndex.search_expr`` (Spark plans) and ``LocalServer.search_expr``
(numpy) are two drivers of one per-(doc, field) unit model with shared
gates (``InvertedIndex._expr_weights``). Hypothesis draws queries from
the grammar — phrases, tail and internal ``*``, ``^``, NEAR with
phrase/prefix members and n in 0–6, NOT, parentheses and, where the
index has per-field streams, column filters — and every answer must
agree in (rank, doc_id, score) to the bit, on:

- a single-field index with one delta append and one delete (the
  tombstone mask runs through the raw decode kernel);
- a two-field ``detail='full'`` index;
- a two-field ``detail='none'`` index (terms, prefixes and boolean
  operators: it stores no positions and refuses colsets).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.operators.serve import LocalServer
from sparkgrep.plans.manifest import append_batch_delta, delete_batch_delta

V = ("alpha", "beta", "gamma", "delta", "alpine", "code", "data")
STEMS = ("alp", "be", "d", "ga", "co")
FIELDS = ["title", "body"]
K = 50
SETTINGS = settings(max_examples=12, deadline=None, derandomize=True)


def _rows(n: int, seed: int, first: int = 0):
    import random

    rnd = random.Random(seed)
    return [
        (
            first + i,
            " ".join(rnd.choices(V, k=rnd.randint(0, 4))),
            " ".join(rnd.choices(V, k=rnd.randint(1, 14))),
        )
        for i in range(n)
    ]


# -- query grammar ----------------------------------------------------------

_term = st.sampled_from(V)
_prefix = st.sampled_from(STEMS).map(lambda s: s + "*")


@st.composite
def _phrase(draw):
    words = draw(st.lists(_term, min_size=2, max_size=3))
    shape = draw(st.sampled_from(["plain", "tail", "internal"]))
    if shape == "internal":  # FTS5 'a* + b': slot 0 is a prefix stem
        return f"{draw(_prefix)} + " + " + ".join(words[1:])
    return '"' + " ".join(words) + '"' + ("*" if shape == "tail" else "")


def _grammar(positional: bool, colsets: bool):
    members = st.one_of(_term, _prefix, _phrase()) if positional else None
    atoms = [_term, _prefix]
    if positional:
        atoms += [
            _phrase(),
            st.one_of(_term, _phrase()).map(lambda a: "^" + a),
            st.builds(
                lambda ms, n: f"NEAR({' '.join(ms)}, {n})",
                st.lists(members, min_size=2, max_size=3),
                st.integers(0, 6),
            ),
        ]
    atom = st.one_of(*atoms)
    if colsets:
        colspec = st.sampled_from(["title:", "body:", "{title body}:", "-title:"])
        atom = st.one_of(atom, st.builds(lambda c, a: c + a, colspec, atom))

    def extend(sub):
        return st.one_of(
            st.builds(lambda a, b: f"{a} {b}", sub, sub),
            st.builds(lambda a, b: f"{a} AND {b}", sub, sub),
            st.builds(lambda a, b: f"{a} OR {b}", sub, sub),
            st.builds(lambda a, b: f"{a} NOT {b}", sub, sub),
            sub.map(lambda a: f"({a})"),
        )

    return st.recursive(atom, extend, max_leaves=4)


def _check(idx: InvertedIndex, srv: LocalServer, q: str) -> None:
    try:
        want = idx.search_expr(q, k=K).toPandas()
    except ValueError:
        with pytest.raises(ValueError):
            srv.search_expr(q, k=K)
        return
    got = srv.search_expr(q, k=K)
    assert got["rank"].tolist() == want["rank"].tolist(), q
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), q
    assert got["score"].tolist() == want["score"].tolist(), q  # bitwise


# -- indexes ----------------------------------------------------------------


@pytest.fixture(scope="module")
def single_field(spark, tmp_path_factory):
    """Base + one delta append + one delete (tombstoned layers)."""
    schema = "doc_id long, content string"
    out = str(tmp_path_factory.mktemp("eq_sf") / "idx")
    base = [(d, b) for d, _t, b in _rows(50, 1)]
    append_batch_delta(
        spark.createDataFrame(base, schema), out, "b0", store_positions=True
    )
    delta = [(d, b) for d, _t, b in _rows(20, 2, first=100)]
    append_batch_delta(spark.createDataFrame(delta, schema), out, "b1")
    delete_batch_delta(
        spark.createDataFrame(base[::5] + delta[::7], schema), out, "d0"
    )
    idx = InvertedIndex(spark, out)
    assert idx.is_layered and idx._tomb_spec
    return idx, LocalServer(idx)


def _two_field(spark, tmp_path_factory, detail: str):
    df = spark.createDataFrame(
        _rows(60, 3), "doc_id long, title string, body string"
    )
    out = str(tmp_path_factory.mktemp(f"eq_{detail}") / "idx")
    build_index(
        df, out, analyzer="simple", store_positions=detail == "full",
        fields=FIELDS, detail=detail, n_buckets=4,
    )
    idx = InvertedIndex(spark, out)
    return idx, LocalServer(idx)


@pytest.fixture(scope="module")
def full(spark, tmp_path_factory):
    return _two_field(spark, tmp_path_factory, "full")


@pytest.fixture(scope="module")
def detail_none(spark, tmp_path_factory):
    return _two_field(spark, tmp_path_factory, "none")


# -- properties ---------------------------------------------------------------


@SETTINGS
@given(q=_grammar(positional=True, colsets=False))
def test_single_field_layered(single_field, q):
    _check(*single_field, q)


@SETTINGS
@given(q=_grammar(positional=True, colsets=True))
def test_two_field_full(full, q):
    _check(*full, q)


@SETTINGS
@given(q=_grammar(positional=False, colsets=False))
def test_two_field_detail_none(detail_none, q):
    _check(*detail_none, q)

