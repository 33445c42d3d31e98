"""Persisted ANN index: build → save → load → query lifecycle
(reference analogue: FAISS index + id map persistence,
faiss_manager.py:52-95,135-178)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgrep.operators.ann_index import AnnIndex, build_ann_index, load_ann_meta
from sparkgrep.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def ann(spark, emb, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ann") / "idx")
    # few planes × many tables: random high-dim vectors have
    # near-orthogonal "neighbors" — hyperplane LSH's hardest case —
    # so recall needs wide OR-ing across tables
    build_ann_index(emb, out, n_planes=4, n_tables=16)
    return AnnIndex(spark, out)


@pytest.mark.smoke
def test_meta_roundtrip(ann, emb):
    m = load_ann_meta(ann.index_dir)
    assert m == ann.meta
    assert m.dim == 64 and m.n_vectors == emb.count()


def test_search_matches_bruteforce_topk(ann, emb):
    qvec = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    want = cosine_topk(emb, qvec, k=10).collect()
    got = ann.search(qvec, k=10, probe_hamming=1).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    assert all(abs(a["cosine"] - b["cosine"]) < 1e-12 for a, b in zip(got, want))


def test_partition_pruning_in_plan(ann, emb):
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    res = ann.search(qvec, k=5, probe_hamming=0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the tbl=/bucket= filter must reach the scan as partition pruning,
    # not a post-scan filter over the whole table
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tbl" in seg and "bucket" in seg


def test_more_probes_never_lose_candidates(ann, emb):
    qvec = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    r1 = {r["vec_id"] for r in ann.search(qvec, k=50, probe_hamming=0).collect()}
    r2 = {r["vec_id"] for r in ann.search(qvec, k=50, probe_hamming=1).collect()}
    assert len(r2) >= len(r1)


def test_empty_build_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        build_ann_index(empty, "/tmp/should_not_exist_ann")
