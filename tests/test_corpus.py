"""Corpus ingest: doc_id derivation, sha256 invariant gate, documents→
corpus mapping, and the distributed synthetic generator's determinism."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sparkgrep.sources.corpus import (
    assert_content_hashes,
    documents_as_corpus,
    load_documents,
    synth_code_corpus,
    with_ingest_columns,
)

SF = "/root/testdata/sf0.001"


def test_documents_mapping(spark):
    corpus = documents_as_corpus(load_documents(spark, SF))
    assert set(corpus.columns) == {"repo", "path", "commit", "lang", "content", "doc_id"}
    r = corpus.filter("doc_id = 7").collect()[0]
    assert r["path"] == "src/file_7.py" and len(r["commit"]) == 40


@pytest.mark.smoke
def test_sha256_matches_hashlib(spark):
    ing = with_ingest_columns(documents_as_corpus(load_documents(spark, SF)))
    rows = ing.select("content", "content_sha256").limit(5).collect()
    for r in rows:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_doc_id_derivation_when_absent(spark):
    df = spark.createDataFrame(
        [("r", "b.py", "c1", "py", "x"), ("r", "a.py", "c1", "py", "y")],
        "repo string, path string, commit string, lang string, content string",
    )
    out = with_ingest_columns(df).orderBy("doc_id").collect()
    # dense ids over the key set (order follows (bucket, key))
    assert sorted(r["doc_id"] for r in out) == [0, 1]
    assert len({r["path"] for r in out}) == 2


def test_doc_id_assignment_partitioning_invariant(spark):
    """assign_doc_ids must give each key the SAME id under any input
    partitioning/parallelism (the two-cluster-size determinism gate) and
    must not use a single-partition global window."""
    rows = [
        (f"org{i % 5}/proj", f"src/f_{i}.py", f"c{i}", "py", f"body {i}")
        for i in range(200)
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    base = spark.createDataFrame(rows, schema)
    a = (
        with_ingest_columns(base.repartition(2))
        .select("path", "doc_id").toPandas().sort_values("path").reset_index(drop=True)
    )
    b = (
        with_ingest_columns(base.repartition(32).sortWithinPartitions("commit"))
        .select("path", "doc_id").toPandas().sort_values("path").reset_index(drop=True)
    )
    assert a.equals(b)
    assert sorted(a["doc_id"]) == list(range(200))  # dense 0..N-1
    # plan audit: the rank window is partitioned (parallel), never a
    # single-partition exchange
    from sparkgrep.sources.corpus import assign_doc_ids

    plan = (
        assign_doc_ids(base)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan


def test_assign_doc_ids_assert_unique(spark):
    """assert_unique=True refuses duplicate (repo, path, commit) keys —
    duplicates would get nondeterministic relative ids, breaking the
    two-parallelism determinism gate."""
    import pytest

    from sparkgrep.sources.corpus import assign_doc_ids

    schema = "repo string, path string, commit string, lang string, content string"
    uniq = spark.createDataFrame(
        [("r", f"p{i}", "c", "py", "x") for i in range(5)], schema
    )
    assert assign_doc_ids(uniq, assert_unique=True).count() == 5
    dup = spark.createDataFrame(
        [("r", "p", "c", "py", "x"), ("r", "p", "c", "py", "y")], schema
    )
    with pytest.raises(ValueError, match="duplicate"):
        assign_doc_ids(dup, assert_unique=True).count()


def test_assert_content_hashes_gate(spark):
    ing = with_ingest_columns(documents_as_corpus(load_documents(spark, SF)))
    expected = ing.select("doc_id", "content_sha256")
    assert_content_hashes(ing, expected)  # passes silently
    tampered = expected.withColumn(
        "content_sha256",
        F.when(F.col("doc_id") == 3, F.lit("0" * 64)).otherwise(F.col("content_sha256")),
    )
    with pytest.raises(AssertionError, match="sha256 mismatch"):
        assert_content_hashes(ing, tampered)


def test_synth_code_corpus_partitioning_invariant(spark):
    a = (
        synth_code_corpus(spark, 60, seed=9)
        .select("doc_id", "content_sha256")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        synth_code_corpus(spark, 60, seed=9)
        .repartition(11)
        .select("doc_id", "content_sha256")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)
    # different seed → different corpus
    c = synth_code_corpus(spark, 60, seed=10).select("content_sha256").toPandas()
    assert set(c["content_sha256"]) != set(a["content_sha256"])


def test_assert_content_hashes_catches_missing_and_null(spark):
    """Review r5: the old inner join silently passed corpora MISSING
    reference docs (or carrying extras), and the null-unsafe != dropped
    NULL hashes — the full-outer + eqNullSafe form catches all three."""
    ing = with_ingest_columns(documents_as_corpus(load_documents(spark, SF)))
    expected = ing.select("doc_id", "content_sha256")
    with pytest.raises(AssertionError, match="sha256 mismatch"):
        assert_content_hashes(ing.filter("doc_id != 3"), expected)  # missing
    with pytest.raises(AssertionError, match="sha256 mismatch"):
        assert_content_hashes(ing, expected.filter("doc_id != 3"))  # extra
    nulled = ing.withColumn(
        "content_sha256",
        F.when(F.col("doc_id") == 3, F.lit(None)).otherwise(
            F.col("content_sha256")
        ),
    )
    with pytest.raises(AssertionError, match="sha256 mismatch"):
        assert_content_hashes(nulled, expected)  # NULL hash
