"""Multi-field index build, colspec parsing, and LSM composition.

Complements tests/test_multicol_parity.py (which pins scoring against
real SQLite): here we pin the parser's colspec algebra, the zero-length
position-segment codec, and that delta appends / tombstone deletes /
compaction on a multi-field index stay bitwise-identical to a
from-scratch rebuild over the surviving corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkgrep.functions.querylang import parse_query
from sparkgrep.functions.varint import (
    delta_decode_segments,
    delta_encode_segments,
)
from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.plans.manifest import (
    append_batch_delta,
    compact_index,
    delete_batch_delta,
)

FIELDS = ["title", "body"]


# -- colspec parsing ---------------------------------------------------------

def _inc_uids(pq):
    return [[u.uid for u in c.includes] for c in pq.disjuncts]


@pytest.mark.smoke
def test_colspec_binds_next_atom():
    pq = parse_query("title:alpha beta", "simple", fields=FIELDS)
    assert _inc_uids(pq) == [["f0|t:alpha", "t:beta"]]


def test_colspec_distributes_over_group():
    pq = parse_query("title:(alpha OR beta) gamma", "simple", fields=FIELDS)
    assert _inc_uids(pq) == [
        ["f0|t:alpha", "t:gamma"],
        ["f0|t:beta", "t:gamma"],
    ]


def test_colset_and_negation():
    pq = parse_query("{title body}:alpha", "simple", fields=FIELDS)
    assert _inc_uids(pq) == [["f0,1|t:alpha"]]
    pq = parse_query("-title:alpha", "simple", fields=FIELDS)
    assert _inc_uids(pq) == [["f1|t:alpha"]]


def test_nested_colspecs_intersect():
    # pinned against SQLite: c0:(c1:x) matches nothing, c0:(c0:x) = c0:x
    pq = parse_query("title:(body:alpha)", "simple", fields=FIELDS)
    assert pq.disjuncts[0].includes[0].cols == ()
    pq = parse_query("title:(title:alpha)", "simple", fields=FIELDS)
    assert pq.disjuncts[0].includes[0].cols == (0,)


def test_colspec_on_not_operand_and_near():
    pq = parse_query("x NOT title:(a b)", "simple", fields=FIELDS)
    ee = pq.disjuncts[0].exclude_exprs[0][0]
    assert all(u.cols == (0,) for u in ee.includes)
    pq = parse_query("body:NEAR(a b, 3)", "simple", fields=FIELDS)
    grp = pq.disjuncts[0].nears[0]
    assert grp.cols == (1,) and all(u.cols == (1,) for u in grp.phrases)


def test_unknown_column_raises_and_legacy_ignores():
    with pytest.raises(ValueError, match="no such column"):
        parse_query("nope:alpha", "simple", fields=FIELDS)
    # single-field surface (fields=None): colons are plain text
    pq = parse_query("title:alpha", "simple")
    assert _inc_uids(pq) == [["t:title", "t:alpha"]]


def test_spaces_around_colon():
    pq = parse_query("alpha title : beta", "simple", fields=FIELDS)
    assert _inc_uids(pq) == [["t:alpha", "f0|t:beta"]]


# -- zero-length position segments (a doc with tf=0 in one field) -----------

def test_delta_segments_roundtrip_with_zero_counts():
    rng = np.random.default_rng(3)
    for _ in range(50):
        counts = rng.integers(0, 4, size=rng.integers(1, 12))
        vals = np.concatenate(
            [np.sort(rng.integers(0, 50, size=c)) for c in counts]
        ) if counts.sum() else np.empty(0, np.int64)
        buf = delta_encode_segments(vals, counts)
        out = delta_decode_segments(buf, counts)
        assert np.array_equal(out, vals), (counts, vals)


# -- multi-field build + LSM composition ------------------------------------

@pytest.fixture(scope="module")
def mc_corpus(spark):
    import random

    random.seed(5)
    V = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "code", "data"]
    rows = [
        (
            i,
            " ".join(random.choices(V, k=random.randint(0, 4))),
            " ".join(random.choices(V, k=random.randint(0, 18))),
        )
        for i in range(90)
    ]
    return spark.createDataFrame(rows, "doc_id long, title string, body string")


MC_QS = [
    ("alpha beta", None),
    ("title:alpha", None),
    ('body:"alpha beta"', None),
    ("title:NEAR(alpha gamma, 3)", None),
    ("^alpha", None),
    ("alpha", [4.0, 0.5]),
    ("-title:code", None),
]


def _same(a, b):
    return a["doc_id"].tolist() == b["doc_id"].tolist() and (
        a["score"].to_numpy() == b["score"].to_numpy()
    ).all()


def test_mc_delta_tombstone_compact_bitwise(spark, mc_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mc_lsm") / "idx")
    kw = dict(analyzer="fts5", idf_variant="fts5", n_buckets=8)
    append_batch_delta(
        mc_corpus.filter("doc_id < 50"), out, "b0",
        store_positions=True, fields=FIELDS, **kw,
    )
    append_batch_delta(mc_corpus.filter("doc_id >= 50 and doc_id < 70"), out, "b1")
    delete_batch_delta(mc_corpus.filter("doc_id < 70 and doc_id % 5 = 2"), out, "b2")
    append_batch_delta(mc_corpus.filter("doc_id >= 70"), out, "b3")
    layered = InvertedIndex(spark, out)
    assert tuple(layered.meta.fields) == tuple(FIELDS)
    assert layered.is_layered

    ref_dir = str(tmp_path_factory.mktemp("mc_ref") / "idx")
    build_index(
        mc_corpus.filter("doc_id >= 70 or doc_id % 5 != 2"), ref_dir,
        store_positions=True, fields=FIELDS, **kw,
    )
    ref = InvertedIndex(spark, ref_dir)

    for q, w in MC_QS:
        a = layered.search_expr(q, k=10, weights=w).toPandas()
        b = ref.search_expr(q, k=10, weights=w).toPandas()
        assert _same(a, b), ("layered", q, w)

    compact_index(spark, out)
    compacted = InvertedIndex(spark, out)
    assert not compacted.meta.layers and not compacted.meta.tombstones
    assert tuple(compacted.meta.fields) == tuple(FIELDS)
    for q, w in MC_QS:
        a = compacted.search_expr(q, k=10, weights=w).toPandas()
        b = ref.search_expr(q, k=10, weights=w).toPandas()
        assert _same(a, b), ("compacted", q, w)


def _dict_wfold(docs, dls, tf_mat, w, cols):
    """Per-doc Python reference of the weighted fold: ascending-field
    left-associated float adds, kept when ANY colset field has a tf."""
    ids, tfw, out_dls = [], [], []
    for d, dl, tfc in zip(docs.tolist(), dls.tolist(), tf_mat.tolist()):
        if not any(tfc[c] for c in cols):
            continue
        v = w[cols[0]] * float(tfc[cols[0]])
        for c in cols[1:]:
            v = v + w[c] * float(tfc[c])
        ids.append(d)
        tfw.append(v)
        out_dls.append(dl)
    return (
        np.asarray(ids, np.int64),
        np.asarray(tfw, np.float64),
        np.asarray(out_dls, np.int64),
    )


def test_wfold_term_fast_path_bitwise(spark, mc_corpus, tmp_path_factory):
    """The vectorized weighted fold (`evaluator._wfold`) must be bitwise
    identical to a per-doc dict fold — same doc order, same IEEE float64
    weighted tf bytes — for term and prefix units, including on a
    LAYERED index with tombstones (masking already applied at fetch),
    for full and restricted colsets and zero weights."""
    from sparkgrep.functions.querylang import Unit
    from sparkgrep.functions.evaluator import _unit_tf, _wfold
    from sparkgrep.operators.serve import LocalServer

    out = str(tmp_path_factory.mktemp("mc_fast") / "idx")
    kw = dict(analyzer="fts5", idf_variant="fts5", n_buckets=8)
    append_batch_delta(
        mc_corpus.filter("doc_id < 60"), out, "b0",
        store_positions=True, fields=FIELDS, **kw,
    )
    append_batch_delta(mc_corpus.filter("doc_id >= 60"), out, "b1")
    delete_batch_delta(mc_corpus.filter("doc_id % 7 = 3"), out, "b2")
    idx = InvertedIndex(spark, out)
    srv = LocalServer(idx)
    terms = ["alpha", "beta", "code", "zeta"]
    srv._fetch(terms)
    for t in terms:
        for cols, w in (
            ([0, 1], [1.0, 1.0]),
            ([0, 1], [4.0, 0.5]),
            ([0], [3.0, 1.0]),
            ([1], [1.0, 2.0]),
            ([0, 1], [0.0, 2.0]),  # zero weight still matches
        ):
            # term unit, then the prefix unit over the same stem's scan
            for unit in (Unit((t,)), Unit((t[:2],), prefix=True)):
                rel = _unit_tf(srv, unit)
                slow = _dict_wfold(*rel, w, cols)
                fast = _wfold(*rel, w, cols)
                assert (slow[0] == fast[0]).all(), (unit, cols, w)
                assert slow[1].tobytes() == fast[1].tobytes(), (unit, cols, w)
                assert (slow[2] == fast[2]).all(), (unit, cols, w)
    # end-to-end: the serve tier (fast paths live) equals the distributed
    # path on the layered index — weighted, colset-filtered, and prefix
    for q, w in MC_QS + [("alp* beta", [2.0, 1.0]), ("title:alp*", None)]:
        a = srv.search_expr(q, k=10, weights=w)
        b = idx.search_expr(q, k=10, weights=w).toPandas()
        assert _same(a, b), (q, w)


def test_mc_stored_df_counts_distinct_docs(spark, mc_corpus, tmp_path):
    """A doc with a term in BOTH fields is one posting: stored df (and
    the n stream length) count unique docs, and the total-tf stream sums
    the per-field tfs."""
    out = str(tmp_path / "idx")
    build_index(mc_corpus, out, analyzer="fts5", fields=FIELDS, n_buckets=4)
    idx = InvertedIndex(spark, out)
    raw = idx.decode_raw().toPandas()  # (term, doc_id, col, tf, dl)
    per_doc = raw.groupby(["term", "doc_id"])["tf"].sum().reset_index()
    want_df = per_doc.groupby("term")["doc_id"].nunique()
    stored = (
        idx.postings.groupBy("term").agg(F.first("df").alias("df")).toPandas()
        .set_index("term")["df"]
    )
    for term, df in want_df.items():
        assert stored[term] == df, term
