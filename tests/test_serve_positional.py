"""The resident tier's flat positional path against the distributed
path, bitwise, on doc ids far past 2^32 — and the serve tier's loud
refusal of a doc_id held by two live postings rows."""

from __future__ import annotations

import pytest

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.operators.serve import LocalServer
from sparkgrep.plans.manifest import append_batch_delta, delete_batch_delta

FIELDS = ["title", "body"]
BASE = 1 << 40


def _rows(n: int, seed: int, base: int):
    import random

    rnd = random.Random(seed)
    V = ["alpha", "beta", "gamma", "delta", "alpine", "code", "data"]
    return [
        (
            # doc ids >= 2^40, several sharing their low 32 bits
            base + (i % 7) * (1 << 32) + i * 3 + (i % 2) * (1 << 61),
            " ".join(rnd.choices(V, k=rnd.randint(0, 5))),
            " ".join(rnd.choices(V, k=rnd.randint(0, 20))),
        )
        for i in range(n)
    ]


def _same(a, b):
    return a["doc_id"].tolist() == b["doc_id"].tolist() and (
        a["score"].to_numpy() == b["score"].to_numpy()
    ).all()


QUERIES = [
    '"alpha beta"',
    '"alp beta"*',
    'alp* + beta',
    '^"alpha beta"',
    'NEAR("alpha beta" gamma, 3)',
    'NEAR(alp* data, 2)',
    'title:NEAR(alpha gamma, 4)',
    '{title body}:NEAR("beta gamma" delta, 2) OR code',
]


def test_serve_equals_distributed_on_large_doc_ids(spark, tmp_path):
    df = spark.createDataFrame(
        _rows(120, 3, BASE), "doc_id long, title string, body string"
    )
    out = str(tmp_path / "mc")
    build_index(
        df, out, analyzer="simple", store_positions=True, fields=FIELDS,
        n_buckets=4,
    )
    idx = InvertedIndex(spark, out)
    srv = LocalServer(idx).warm(QUERIES)
    assert min(r["doc_id"] for r in df.select("doc_id").collect()) >= BASE
    seen = 0
    for q in QUERIES:
        a = srv.search_expr(q, k=20)
        b = idx.search_expr(q, k=20).toPandas()
        assert _same(a, b), q
        seen += len(a)
    assert seen > 0


@pytest.mark.smoke
def test_reused_doc_id_refused_by_serve(spark, tmp_path):
    """Two live rows of a term holding one doc: every resident tier
    raises instead of double-counting it."""
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
        LocalServer(idx).search("beta", k=5)
    with pytest.raises(ValueError, match="doc_id 2"):
        LocalServer(idx).search_expr('"beta delta" OR "beta gamma"', k=5)
    with pytest.raises(ValueError, match="doc_id 2"):
        LocalServer(idx).search_expr("NEAR(be* alpha)", k=5)


def test_delete_then_reappend_serves(spark, tmp_path):
    """The legal way to reuse a doc_id — delete, then re-append — masks
    the old row, so every tier serves the new content."""
    old = [(1, "alpha beta"), (2, "beta gamma alpha")]
    out = str(tmp_path / "upd")
    schema = "doc_id long, content string"
    append_batch_delta(
        spark.createDataFrame(old, schema), out, "b0", store_positions=True
    )
    delete_batch_delta(spark.createDataFrame(old[1:], schema), out, "d0")
    append_batch_delta(
        spark.createDataFrame([(2, "beta delta beta")], schema), out, "b1"
    )
    idx = InvertedIndex(spark, out)
    srv = LocalServer(idx)
    assert _same(srv.search("beta", k=5), idx.search("beta", k=5).toPandas())
    for q in ('"beta delta"', "NEAR(beta alpha, 1)", "^beta", "be* NOT gamma"):
        a = srv.search_expr(q, k=5)
        assert _same(a, idx.search_expr(q, k=5).toPandas()), q
    assert srv.search_expr('"beta delta"', k=5)["doc_id"].tolist() == [2]
