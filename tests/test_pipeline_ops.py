"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing — invariants + small numpy/pandas oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkgrep.operators import dedup as D
from sparkgrep.operators import multimodal as M
from sparkgrep.operators import similarity as SIM
from sparkgrep.operators import textstats as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),          # near dup
        (3, "spark shuffles data between stages for the join"),
        (4, "совершенно другой текст на русском языке"),
        (5, "le chat est sur la table et il dort"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.mark.smoke
def test_exact_dedup(docs):
    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["keeper"] == 0
    kept = D.dedup_exact(docs)
    assert kept.count() == 5
    assert kept.filter(F.col("doc_id") == 1).count() == 0


def test_shingles(docs):
    sh = D.shingles(docs.filter("doc_id = 3"), k=3).orderBy("pos").collect()
    assert sh[0]["shingle"] == "spark shuffles data"
    assert sh[-1]["shingle"] == "for the join"
    assert len(sh) == 8 - 2  # n_tokens - k + 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["est_jaccard"]
        for r in D.lsh_candidate_pairs(docs, n_hashes=16, bands=4).collect()
    }
    assert pairs.get((0, 1)) == 1.0          # identical docs always collide
    assert (0, 3) not in pairs and (0, 4) not in pairs


def test_ngram_jaccard(docs):
    rows = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.1).collect()
    }
    assert rows[(0, 1)] == 1.0
    # doc 2 differs in 1 token of 9 → shares 4 of its 7 shingles with doc 0
    got = rows[(0, 2)]
    assert 0.3 < got < 0.7


def test_simhash(docs):
    s = {r["doc_id"]: r["simhash"] for r in D.simhash32(docs).collect()}
    assert s[0] == s[1]
    assert all(0 <= v < 2**32 for v in s.values())
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in D.simhash_pairs(docs, 5).collect()}
    assert pairs[(0, 1)] == 0
    near = D.simhash_pairs(docs, max_hamming=8).collect()
    assert any({r["doc_id_a"], r["doc_id_b"]} == {0, 2} for r in near)


@pytest.mark.smoke
def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.toPandas()
    q = list(map(float, pdf.loc[pdf.vec_id == 0, "embedding"].iloc[0]))
    got = SIM.cosine_topk(emb, q, k=5).toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    qv = np.asarray(q)
    cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(range(len(cos)), key=lambda i: (-cos[i], pdf["vec_id"][i]))[:5]
    assert got["vec_id"].tolist() == [int(pdf["vec_id"][i]) for i in order]
    assert got["vec_id"].iloc[0] == 0 and got["cosine"].iloc[0] == pytest.approx(1.0)
    np.testing.assert_allclose(
        got["cosine"].to_numpy(), [cos[i] for i in order], atol=1e-6
    )


def test_lsh_cosine_is_subset_of_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = list(map(float, emb.filter("vec_id = 7").collect()[0]["embedding"]))
    approx = SIM.lsh_cosine_topk(emb, q, k=5, n_planes=4)
    rows = approx.collect()
    assert rows and rows[0]["vec_id"] == 7  # query's own vector shares its bucket


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "Hello, world! 42 times")], "doc_id long, text string")
    r = T.token_counts(df).collect()[0]
    assert r["n_ws"] == 4
    # hello , world ! 42 times
    assert r["n_bpe"] == 6


def test_quality_scores(docs):
    rows = {r["doc_id"]: r for r in T.quality_scores(docs).collect()}
    assert rows[0]["stop_ratio"] == pytest.approx(2 / 9)
    assert 0.0 <= rows[4]["score"] <= 1.0
    assert rows[0]["score"] > rows[4]["score"]  # english prose beats foreign short text


def test_lang_id(docs):
    preds = {r["doc_id"]: r["pred_lang"] for r in T.lang_id(docs).collect()}
    assert preds[0] == "en"
    assert preds[5] == "fr"


def test_winnow_fingerprints(docs):
    fps = T.winnow_fingerprints(docs, k=3, w=4)
    a = set(r["fp"] for r in fps.filter("doc_id = 0").collect())
    b = set(r["fp"] for r in fps.filter("doc_id = 1").collect())
    c = set(r["fp"] for r in fps.filter("doc_id = 2").collect())
    assert a and a == b           # identical docs → identical fingerprints
    assert a != c and a & c       # near dup → overlapping but not equal


def test_multimodal_features(spark):
    media = M.synth_media(spark, 24)
    feats = M.extract_features(media).toPandas()
    assert len(feats) == 24
    assert all(len(f) == M.FEATURE_DIM for f in feats["feature"])
    # deterministic: same payload → same feature
    again = M.extract_features(media).toPandas().sort_values("media_id")
    assert (
        np.stack(feats.sort_values("media_id")["feature"].map(np.asarray))
        == np.stack(again["feature"].map(np.asarray))
    ).all()


def test_multimodal_frame_sampling(spark):
    media = M.synth_media(spark, 9)
    frames = M.sample_frames(media, every_ms=500).toPandas()
    vids = media.filter("kind = 'video'").toPandas()
    want = int(sum(v // 500 + 1 for v in vids["duration_ms"]))
    assert len(frames) == want


def test_resize_is_stubbed(spark):
    with pytest.raises(NotImplementedError):
        M.resize_images(M.synth_media(spark, 3), 32, 32)


# ---------------------------------------------------------------------------
# scale-path pair ops: banded blocking, never a cross join


def _assert_no_cross_join(df):
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan, "plan contains a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, "plan contains a nested-loop join"


def test_simhash_pairs_banded_matches_bruteforce(docs):
    res = D.simhash_pairs(docs, max_hamming=8)
    _assert_no_cross_join(res)
    got = {(r["doc_id_a"], r["doc_id_b"], r["hamming"]) for r in res.collect()}
    s = {r["doc_id"]: r["simhash"] for r in D.simhash32(docs).collect()}
    want = {
        (a, b, bin(s[a] ^ s[b]).count("1"))
        for a in s
        for b in s
        if a < b and bin(s[a] ^ s[b]).count("1") <= 8
    }
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def planted_emb(spark):
    """40 random vectors + 5 planted near-duplicates (cosine ≈ 0.9999)."""
    rng = np.random.Generator(np.random.PCG64(7))
    base = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    for i in range(5):
        v = base[i] + rng.normal(size=16) * 0.01
        rows.append((100 + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_dup_pairs_blocked_matches_bruteforce(planted_emb):
    res = SIM.cosine_dup_pairs(planted_emb, threshold=0.95)
    _assert_no_cross_join(res)
    got = {(r["id_a"], r["id_b"]) for r in res.collect()}
    rows = planted_emb.orderBy("vec_id").collect()
    M = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = [r["vec_id"] for r in rows]
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn @ Mn.T
    want = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if C[i, j] >= 0.95
    }
    assert got == want
    assert len(want) == 5  # exactly the planted pairs


def test_ngram_jaccard_candidates_param(docs):
    full = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.1).collect()
    }
    cands = D.lsh_candidate_pairs(docs, n_hashes=16, bands=4, k=3)
    via = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, k=3, threshold=0.1, candidates=cands
        ).collect()
    }
    for p, j in via.items():  # candidate-driven jaccard identical where computed
        assert full[p] == j
    assert (0, 1) in via


def test_dedup_pipeline(docs):
    # byte-identical dups are collapsed upstream: the (0, 1) exact pair is
    # reported by exact_dup_groups, NOT re-found by LSH
    pipe = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.dedup_pipeline(docs, threshold=0.1).collect()
    }
    assert (0, 1) not in pipe
    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["keeper"] == 0
    # pipeline == exact Jaccard (≥ t) over representatives restricted to
    # the LSH candidates among representatives
    reps = D.dedup_exact(docs)
    cands = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.lsh_candidate_pairs(reps, n_hashes=16, bands=4, k=3).collect()
    }
    full = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(reps, k=3, threshold=0.1).collect()
    }
    assert pipe == {p: j for p, j in full.items() if p in cands}
    # higher LSH recall (1-row bands) surfaces the (0, 2) near dup
    deep = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.dedup_pipeline(docs, n_hashes=16, bands=16, threshold=0.1).collect()
    }
    assert (0, 2) in deep and (0, 1) not in deep


def test_dedup_pipeline_duplicate_cluster(spark):
    """1,000 byte-identical docs must NOT produce O(cluster²) candidate
    pairs: the exact pass collapses them to one representative before
    banding (the 100 TB boilerplate-cluster case)."""
    clones = [(i, "def main parse config and build the index") for i in range(1000)]
    others = [
        (1000, "def main parse config and build the index quickly"),  # near dup
        (1001, "spark shuffles data between stages for the join"),
        (1002, "totally unrelated text about cats and tables"),
    ]
    docs = spark.createDataFrame(clones + others, "doc_id long, text string")
    reps = D.dedup_exact(docs)
    assert reps.count() == 4  # 1 keeper + 3 distinct
    cands = D.lsh_candidate_pairs(reps, n_hashes=16, bands=16, k=3).collect()
    # O(cluster): a handful of candidate pairs, never ~500k
    assert len(cands) <= 6
    pipe = D.dedup_pipeline(docs, n_hashes=16, bands=16, threshold=0.3).collect()
    pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in pipe}
    assert (0, 1000) in pairs  # keeper ↔ near-dup survives
    assert len(pipe) <= 6
    # cluster membership stays available through the exact grouping
    g = D.exact_dup_groups(docs).collect()
    assert len(g) == 1 and g[0]["n_dups"] == 1000 and g[0]["keeper"] == 0


def test_lsh_max_bucket_cap(spark):
    """max_bucket drops oversized near-identical buckets (defense when
    callers skip the exact pass)."""
    clones = [(i, "def main parse config and build the index") for i in range(100)]
    others = [(100, "spark shuffles data between stages for the join"),
              (101, "le chat est sur la table et il dort")]
    docs = spark.createDataFrame(clones + others, "doc_id long, text string")
    capped = D.lsh_candidate_pairs(docs, n_hashes=16, bands=4, max_bucket=10)
    assert capped.count() == 0  # the 100-clone bucket is dropped entirely
    uncapped = D.lsh_candidate_pairs(docs, n_hashes=16, bands=4)
    assert uncapped.count() == 100 * 99 // 2


def test_lsh_bands_validation(docs):
    """Review r5: bands > n_hashes silently returned ZERO candidates
    (rows_per_band 0 → NULL band ids → the self-join matched nothing);
    a non-divisor silently changed the banding scheme. Both raise now."""
    import pytest

    from sparkgrep.operators.dedup import lsh_candidate_pairs

    with pytest.raises(ValueError, match="divisor"):
        lsh_candidate_pairs(docs, n_hashes=16, bands=32)
    with pytest.raises(ValueError, match="divisor"):
        lsh_candidate_pairs(docs, n_hashes=16, bands=6)
    with pytest.raises(ValueError, match="divisor"):
        lsh_candidate_pairs(docs, n_hashes=16, bands=0)


def test_cosine_dup_pairs_empty_input_preserves_id_type(spark):
    """Review r5: the empty-input early return hardcoded long ids; with
    string ids the empty and non-empty paths disagreed on schema."""
    from sparkgrep.operators.similarity import cosine_dup_pairs

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = cosine_dup_pairs(empty)
    assert out.count() == 0
    assert dict(out.dtypes) == {
        "id_a": "string", "id_b": "string", "cosine": "double"
    }
