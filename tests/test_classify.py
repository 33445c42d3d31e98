"""Classification cascade (reference classification_service.py:47-134
composed end-to-end; the DuckDB oracle in __spark_entry__ pins per-doc
verdicts and summary counts — these tests pin the pluggable seams and
the phase semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgrep.operators.classify import classification_summary, classify_cascade
from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex

CATS = [("cat_hash", "hash join table"), ("cat_sort", "sort merge batch")]


@pytest.fixture(scope="module")
def cascade(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cls") / "idx")
    build_index(corpus, out, analyzer="simple", n_buckets=4)
    idx = InvertedIndex(spark, out)
    res = classify_cascade(idx, corpus, CATS, k_candidates=50).cache()
    res.count()
    return idx, res


def test_phases_partition_candidates(spark, cascade, corpus):
    _idx, res = cascade
    n_docs = corpus.count()
    pdf = res.toPandas()
    # every (category, doc) pair exactly once
    assert len(pdf) == 2 * n_docs
    assert pdf.groupby(["category", "doc_id"]).size().max() == 1
    for cat in ("cat_hash", "cat_sort"):
        sub = pdf[pdf.category == cat]
        phases = sub.phase.value_counts().to_dict()
        # 50 candidates split across the three confidence phases (85/15
        # percentiles → roughly 8 high / 8 low / 34 grey on 50 rows)
        n_cand = sum(v for k, v in phases.items() if k != "default")
        assert n_cand == 50
        assert phases.get("high_confidence", 0) >= 1
        assert phases.get("low_confidence", 0) >= 1
        assert phases.get("default", 0) == n_docs - 50
        # verdicts: high TRUE, low FALSE, defaults FALSE (P6)
        assert sub[sub.phase == "high_confidence"].is_in.all()
        assert not sub[sub.phase == "low_confidence"].is_in.any()
        assert not sub[sub.phase == "default"].is_in.any()
        # thresholds honored: every high prob >= every grey prob etc.
        if phases.get("grey_area"):
            assert (
                sub[sub.phase == "high_confidence"].prob.min()
                >= sub[sub.phase == "grey_area"].prob.max()
            )
            assert (
                sub[sub.phase == "grey_area"].prob.min()
                >= sub[sub.phase == "low_confidence"].prob.max()
            )


@pytest.mark.smoke
def test_summary_counts(cascade, corpus):
    _idx, res = cascade
    n_docs = corpus.count()
    s = {r["category"]: r.asDict() for r in classification_summary(res).collect()}
    for cat, row in s.items():
        assert row["total"] == n_docs
        assert row["in_category"] + row["not_in_category"] == n_docs
        assert (
            row["high_confidence"] + row["grey_area"] + row["low_confidence"]
            == row["candidates"]
            == 50
        )


def test_pluggable_rescorer_and_validator(spark, cascade, corpus):
    """The cross-encoder (X2) and LLM (X3) tiers plug in as DataFrame →
    DataFrame callables; a constant-TRUE validator must flip every grey
    doc to TRUE and nothing else."""
    idx, base = cascade
    res = classify_cascade(
        idx, corpus, CATS, k_candidates=50,
        rescorer=lambda df: df.withColumn("score", F.col("score") * 2.0),
        validator=lambda grey: grey.withColumn("is_in", F.lit(True)),
    ).toPandas()
    bp = base.toPandas()
    # doubling scores before sigmoid keeps the ORDER, so phase sets match
    merged = res.merge(bp, on=["category", "doc_id"], suffixes=("_n", "_b"))
    assert (merged.phase_n == merged.phase_b).all()
    grey = merged[merged.phase_n == "grey_area"]
    assert grey.is_in_n.all()  # validator override applied
    rest = merged[merged.phase_n != "grey_area"]
    assert (rest.is_in_n == rest.is_in_b).all()
