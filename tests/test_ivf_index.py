"""IVF ANN index: train → assign → persist → probe lifecycle
(reference analogue: the FAISS index lifecycle, faiss_manager.py:52-95,
135-178; IVF is FAISS's documented scale path past a flat index)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkgrep.operators.ivf_index import (
    IvfIndex,
    build_ivf_index,
    load_ivf_meta,
    train_centroids,
)
from sparkgrep.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def ivf(spark, emb, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivf") / "idx")
    build_ivf_index(emb, out, nlist=16, train_size=512)
    return IvfIndex(spark, out)


def test_meta_and_centroids_roundtrip(ivf, emb):
    m = load_ivf_meta(ivf.index_dir)
    assert m == ivf.meta
    assert m.dim == 64 and m.n_vectors == emb.count() and m.nlist == 16
    # spherical k-means: persisted centroids are unit-norm
    assert np.allclose(np.linalg.norm(ivf.centroids, axis=1), 1.0)


def test_full_probe_equals_bruteforce(ivf, emb):
    """nprobe = nlist degenerates to exact brute force — candidates are
    the whole corpus and the re-rank expression is the baseline's."""
    qvec = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    want = cosine_topk(emb, qvec, k=10).collect()
    got = ivf.search(qvec, k=10, nprobe=ivf.meta.nlist).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    assert all(a["cosine"] == b["cosine"] for a, b in zip(got, want))


def test_partition_pruning_in_plan(ivf, emb):
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    res = ivf.search(qvec, k=5, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the list IN (...) filter must reach the scan as partition pruning,
    # not a post-scan filter over the whole table
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "list" in seg


def test_probe_order_and_monotone_candidates(ivf, emb):
    qvec = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    p2 = ivf.probe_lists(qvec, 2)
    p4 = ivf.probe_lists(qvec, 4)
    assert set(p2) <= set(p4) and len(p2) == 2 and len(p4) == 4
    # more probes never hurt: the candidate set grows, so the top-50
    # cosine floor is monotone non-decreasing (set-subset does NOT hold
    # at a fixed k — new candidates can displace old ones)
    r2 = ivf.search(qvec, k=50, nprobe=2).collect()
    r4 = ivf.search(qvec, k=50, nprobe=4).collect()
    assert len(r4) >= len(r2)
    if len(r2) == 50 and len(r4) == 50:
        assert r4[-1]["cosine"] >= r2[-1]["cosine"]


def test_home_list_always_probed(ivf, emb):
    """A corpus vector used as its own query must find itself: its home
    list is by construction the top-1 probe (same argmax kernel at build
    and query time)."""
    for vid in (0, 11, 42):
        row = emb.filter(f"vec_id = {vid}").first()
        qvec = [float(x) for x in row["embedding"]]
        got = ivf.search(qvec, k=1, nprobe=1).first()
        assert got["vec_id"] == vid


def test_build_determinism(spark, emb, tmp_path):
    a = build_ivf_index(emb, str(tmp_path / "a"), nlist=8, train_size=256)
    b = build_ivf_index(emb, str(tmp_path / "b"), nlist=8, train_size=256)
    assert a == b
    ca = IvfIndex(spark, str(tmp_path / "a")).centroids
    cb = IvfIndex(spark, str(tmp_path / "b")).centroids
    assert np.array_equal(ca, cb)
    va = spark.read.parquet(str(tmp_path / "a") + "/vectors")
    vb = spark.read.parquet(str(tmp_path / "b") + "/vectors")
    assert (
        va.select("vec_id", "list").exceptAll(vb.select("vec_id", "list")).count() == 0
    )


def test_every_vector_in_exactly_one_list(ivf, emb):
    per = ivf.vectors.groupBy("vec_id").count()
    assert per.filter("count != 1").count() == 0
    assert ivf.vectors.count() == emb.count()


def test_train_centroids_guards():
    with pytest.raises(ValueError, match="smaller than nlist"):
        train_centroids(np.ones((4, 8)), nlist=16)


@pytest.mark.smoke
def test_empty_build_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        build_ivf_index(empty, "/tmp/should_not_exist_ivf")

# ---- two-level IVF (clustered coarse quantizer — the nlist ~ 10^6 shape)


@pytest.fixture(scope="module")
def ivf2(spark, emb, tmp_path_factory):
    from sparkgrep.operators.ivf_index import Ivf2Index, build_ivf2_index

    out = str(tmp_path_factory.mktemp("ivf2") / "idx")
    build_ivf2_index(emb, out, nlist=16, ngroups=4, train_size=512)
    return Ivf2Index(spark, out)


def test_ivf2_fine_level_identical_to_flat(ivf, ivf2):
    """Same parameters → the fine quantizer IS the flat index's: same
    centroids (fetched via the group blocks) and the same per-vector
    list assignment on disk."""
    ids = np.concatenate([ivf2._group_block(g)[0] for g in range(4)])
    cents = np.concatenate([ivf2._group_block(g)[1] for g in range(4)])
    order = np.argsort(ids)
    assert np.array_equal(ids[order], np.arange(16))
    assert np.array_equal(cents[order], ivf.centroids)
    a = ivf.vectors.select("vec_id", "list")
    b = ivf2.vectors.select("vec_id", "list")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf2_full_group_probe_equals_flat_probe(ivf, ivf2, emb):
    """nprobe_groups = ngroups considers every fine centroid, so the
    probed-list choice equals the flat index's exactly (same dots, same
    lowest-id ties)."""
    for vid in (0, 3, 7, 42):
        qvec = [float(x) for x in emb.filter(f"vec_id = {vid}").first()["embedding"]]
        for np_ in (1, 2, 4, 16):
            assert ivf2.probe_lists(qvec, nprobe_groups=4, nprobe=np_) == \
                ivf.probe_lists(qvec, np_)


def test_ivf2_full_probe_equals_bruteforce(ivf2, emb):
    qvec = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    want = cosine_topk(emb, qvec, k=10).collect()
    got = ivf2.search(
        qvec, k=10, nprobe_groups=ivf2.meta.ngroups, nprobe=ivf2.meta.nlist
    ).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    assert all(a["cosine"] == b["cosine"] for a, b in zip(got, want))


def test_ivf2_residency_is_lazy_and_bounded(spark, ivf2, emb):
    """Init loads only the (ngroups × dim) group centroids; fine-centroid
    blocks arrive per probed group and are memoized."""
    from sparkgrep.operators.ivf_index import Ivf2Index

    fresh = Ivf2Index(spark, ivf2.index_dir)
    assert fresh.group_centroids.shape == (4, fresh.meta.dim)
    assert fresh._blocks == {}
    qvec = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    fresh.probe_lists(qvec, nprobe_groups=1, nprobe=2)
    assert len(fresh._blocks) == 1
    fresh.probe_lists(qvec, nprobe_groups=2, nprobe=2)
    assert len(fresh._blocks) == 2


def test_ivf2_centroid_fetch_and_vector_scan_prune(ivf2, emb):
    """Both levels prune: the centroid-block fetch reads only its group=
    partition, the vectors scan only the probed list= partitions."""
    cent_plan = (
        ivf2._cent_table.filter(F.col("group") == 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in cent_plan
    assert "group" in cent_plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    plan = (
        ivf2.search(qvec, k=5, nprobe_groups=1, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan
    assert "list" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_ivf2_home_list_probed(ivf2, emb):
    """With every group probed, the top-1 fine list is the flat index's
    (build-time argmax kernel) — a corpus vector finds itself. A PRUNED
    group probe carries no such guarantee: the home list's group need
    not be the query's nearest group (that recall loss is the level-2
    trade-off the nprobe_groups knob prices)."""
    for vid in (0, 11, 42):
        qvec = [float(x) for x in emb.filter(f"vec_id = {vid}").first()["embedding"]]
        got = ivf2.search(
            qvec, k=1, nprobe_groups=ivf2.meta.ngroups, nprobe=1
        ).first()
        assert got is not None and got["vec_id"] == vid


def test_ivf2_determinism_and_guards(spark, emb, tmp_path):
    from sparkgrep.operators.ivf_index import Ivf2Index, build_ivf2_index

    a = build_ivf2_index(emb, str(tmp_path / "a"), nlist=8, ngroups=2, train_size=256)
    b = build_ivf2_index(emb, str(tmp_path / "b"), nlist=8, ngroups=2, train_size=256)
    assert a == b
    ga = Ivf2Index(spark, str(tmp_path / "a")).group_centroids
    gb = Ivf2Index(spark, str(tmp_path / "b")).group_centroids
    assert np.array_equal(ga, gb)
    with pytest.raises(ValueError, match="ngroups"):
        build_ivf2_index(emb, str(tmp_path / "c"), nlist=8, ngroups=9)


def test_ivf2_empty_group_probe_is_safe(spark, tmp_path):
    """Review r5: group-level k-means can leave a group with zero fine
    centroids (here: all vectors identical → every fine centroid lands
    in one group). Probing an empty group used to crash the concatenate
    in probe_lists with a shape-(0,) block; it must contribute nothing."""
    from sparkgrep.operators.ivf_index import Ivf2Index, build_ivf2_index

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "ivf2e")
    build_ivf2_index(emb, out, nlist=4, ngroups=4, train_size=64)
    idx = Ivf2Index(spark, out)
    # at least one group must actually be empty for this to test anything
    sizes = [idx._group_block(g)[0].size for g in range(4)]
    assert 0 in sizes, sizes
    # probing every group (including the empty ones) must work and find
    # the identical vectors
    lists = idx.probe_lists([1.0, 0.0, 0.0, 0.0], nprobe_groups=4, nprobe=4)
    assert lists, sizes
    got = idx.search([1.0, 0.0, 0.0, 0.0], k=5, nprobe_groups=4, nprobe=4)
    assert got.count() == 5
