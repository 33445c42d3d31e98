"""IVF (inverted-file) approximate-nearest-neighbor index.

The second ANN family next to :mod:`sparkgrep.operators.ann_index`'s
hyperplane-LSH tables, mirroring FAISS's ``IndexIVFFlat`` lifecycle
(reference analogue: ``faiss_manager.py:52-95`` build/persist,
``:135-178`` load/search — the reference uses a flat index; IVF is its
documented scale path). Spark-native rebuild:

- **train**: a spherical k-means coarse quantizer is trained driver-side
  in numpy on a bounded deterministic sample (``orderBy(xxhash64(id))
  LIMIT train_size`` — TakeOrderedAndProject, driver memory bounded by
  ``train_size × dim`` regardless of corpus size). Exactly FAISS's
  training model: the quantizer sees a sample, never the corpus.
  Deterministic end to end — hash-ordered sample, first-``nlist`` init,
  fixed Lloyd iteration count, argmax ties to the lowest list id,
  empty clusters keep their previous centroid.
- **build**: every vector is assigned to its nearest centroid by an
  Arrow pandas UDF (one ``V @ C.T`` matmul per batch; centroids are
  unit-norm so the raw-dot argmax IS the cosine argmax) and the table is
  written partitioned by ``list=`` — one parquet partition per inverted
  list. Centroids persist next to it as parquet + a ``meta.json`` recipe.
- **query**: the ``nprobe`` nearest centroids are found driver-side
  (same numpy kernel), the scan prunes to those ``list=`` directories
  via partition pruning, and exact cosine re-ranks the candidates with
  the same JVM expression as :func:`similarity.cosine_topk` — so on the
  probed candidate set the scores are bitwise-identical to brute force.

Scan fraction ≈ nprobe/nlist of the corpus (vs 1.0 for the brute-force
baseline and ~probed-buckets/2^n_planes per table for the LSH index);
``nprobe = nlist`` degenerates to exact brute force, which the tests pin.
At 10^12 vectors a single-level quantizer needs nlist ~ 10^6 — the
centroid table (~GBs at 768-d) then itself wants the two-level IVF
(quantize the centroids) noted on :class:`IvfMeta`; the lifecycle and
layout here are unchanged by that extension.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sparkgrep.operators.similarity import cosine_col
from sparkgrep.sources import fsio


@dataclass(frozen=True)
class IvfMeta:
    """Recipe sidecar. ``nlist`` is expected ~sqrt(n_vectors) (FAISS
    guidance); the driver-side centroid residency this implies is
    ``nlist × dim`` floats — a deployment past ~10^5 lists shards the
    quantizer with a second IVF level over the centroids."""

    dim: int
    nlist: int
    n_iters: int
    train_size: int
    seed: int
    n_vectors: int
    id_col: str
    version: int = 1


def train_centroids(
    sample: np.ndarray, nlist: int, n_iters: int = 10
) -> np.ndarray:
    """Deterministic spherical k-means over a (n × dim) float64 sample.
    Returns unit-norm (nlist × dim) centroids. Init = the first nlist
    sample rows (the caller feeds a hash-ordered, i.e. pseudo-random,
    sample); ties in the assignment argmax go to the lowest list id;
    a list that loses all members keeps its previous centroid."""
    n, _dim = sample.shape
    if n < nlist:
        raise ValueError(f"training sample ({n}) smaller than nlist ({nlist})")
    norms = np.linalg.norm(sample, axis=1)
    norms[norms == 0.0] = 1.0
    pts = sample / norms[:, None]
    centroids = pts[:nlist].copy()
    for _ in range(n_iters):
        assign = np.argmax(pts @ centroids.T, axis=1)
        nxt = centroids.copy()
        for c in range(nlist):
            members = pts[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0.0:
                    nxt[c] = m / nrm
        centroids = nxt
    return centroids


def _assign_udf(centroids: np.ndarray):
    """pandas UDF: nearest-centroid list id per vector (batch matmul).
    Centroids are unit-norm, so argmax over raw dots equals the cosine
    argmax (the per-row 1/||v|| factor cannot change an argmax)."""
    ct = centroids.T.copy()  # (dim × nlist), closure-captured, broadcast once

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):  # empty Arrow batch: shape-(0,) @ (dim, nlist) raises
            return pd.Series([], dtype="int32")
        mat = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(np.argmax(mat @ ct, axis=1).astype(np.int32))

    return _assign


def build_ivf_index(
    embeddings: DataFrame,
    out_dir: str,
    nlist: int = 16,
    n_iters: int = 10,
    train_size: int = 16384,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfMeta:
    """Train → assign → persist. The vectors table is partitioned by
    ``list=`` so a query scan prunes to its probed inverted lists."""
    spark = embeddings.sparkSession
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an IVF index over an empty table")
    dim = int(first["d"])
    named = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # bounded deterministic pseudo-random sample: TakeOrderedAndProject,
    # never a full collect (xxhash64 seeded so `seed` changes the draw)
    sample_rows = (
        named.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
        .limit(train_size)
        .select("embedding")
        .collect()
    )
    sample = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    centroids = train_centroids(sample, nlist=nlist, n_iters=n_iters)

    meta = IvfMeta(
        dim=dim,
        nlist=nlist,
        n_iters=n_iters,
        train_size=train_size,
        seed=seed,
        n_vectors=named.count(),
        id_col=id_col,
    )
    assigned = named.withColumn("list", _assign_udf(centroids)(F.col("embedding")))
    fsio.write_parquet(
        assigned.repartition("list"), f"{out_dir}/vectors", partition_by=("list",)
    )
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list int, centroid array<double>",
    )
    fsio.write_parquet(cent_df.coalesce(1), f"{out_dir}/centroids")
    fsio.write_text(f"{out_dir}/meta.json", json.dumps(asdict(meta), indent=2))
    return meta


def load_ivf_meta(index_dir: str) -> IvfMeta:
    return IvfMeta(**json.loads(fsio.read_text(f"{index_dir}/meta.json")))


class IvfIndex:
    """Handle over a persisted IVF index directory (load-and-query path,
    mirroring :class:`sparkgrep.operators.ann_index.AnnIndex`)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = load_ivf_meta(index_dir)
        self.vectors = spark.read.parquet(f"{index_dir}/vectors")
        rows = spark.read.parquet(f"{index_dir}/centroids").collect()
        cents = np.zeros((self.meta.nlist, self.meta.dim), dtype=np.float64)
        for r in rows:
            cents[r["list"]] = r["centroid"]
        self.centroids = cents

    def probe_lists(self, query_vec: list[float], nprobe: int) -> list[int]:
        """The nprobe nearest inverted lists, driver-side (same metric as
        the build-time assignment; ties to the lowest list id). Shares
        ``_nearest`` with the two-level index — the ivf2 'full group
        probe equals the flat index exactly' guarantee rests on both
        probe paths using the same tie-break and clamp."""
        q = np.asarray(query_vec, dtype=np.float64)
        ids = np.arange(self.meta.nlist, dtype=np.int64)
        return _nearest(self.centroids, ids, q, nprobe)

    def search(
        self, query_vec: list[float], k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """(vec_id, cosine) top-k over the probed lists only. The
        ``list IN (...)`` filter compiles to partition pruning on the
        ``list=`` directories; exact cosine re-ranks the candidates with
        the same expression as the brute-force baseline, so scores are
        bitwise-identical on the candidate set. ``nprobe = nlist`` is
        exact brute force."""
        return _search_lists(
            self.vectors, self.probe_lists(query_vec, nprobe), query_vec, k
        )


def _search_lists(
    vectors: DataFrame, probes: list[int], query_vec: list[float], k: int
) -> DataFrame:
    """Shared probe→re-rank tail of both IVF levels: partition-pruned
    scan of the probed ``list=`` directories, exact cosine re-rank (same
    JVM expression as the brute-force baseline), deterministic ties."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        vectors.filter(F.col("list").isin(probes))
        .select("vec_id", cosine_col(F.col("embedding"), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _nearest(cands: np.ndarray, ids: np.ndarray, q: np.ndarray, n: int) -> list[int]:
    """ids of the ``n`` candidate rows with the highest dot against ``q``
    (ties to the lowest id — the same rule as the level-1 assignment)."""
    dots = cands @ q
    order = np.lexsort((ids, -dots))
    return sorted(int(ids[i]) for i in order[: max(1, min(n, len(ids)))])


@dataclass(frozen=True)
class Ivf2Meta:
    """Two-level recipe sidecar. The fine level is EXACTLY the flat
    :class:`IvfMeta` quantizer (same training, same assignment); the
    added coarse level exists so a deployment with nlist ~ 10^6 (the
    FAISS sqrt-N guidance at 10^12 vectors) never holds all fine
    centroids on one node: the driver keeps only ``ngroups`` group
    centroids resident and fetches probed groups' centroid blocks on
    demand (each ``nlist/ngroups × dim`` — MBs, not GBs)."""

    dim: int
    nlist: int
    ngroups: int
    n_iters: int
    train_size: int
    seed: int
    n_vectors: int
    id_col: str
    version: int = 1


def build_ivf2_index(
    embeddings: DataFrame,
    out_dir: str,
    nlist: int = 64,
    ngroups: int = 8,
    n_iters: int = 10,
    train_size: int = 16384,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Ivf2Meta:
    """Two-level IVF build (FAISS ``IndexIVFFlat`` with a clustered
    coarse quantizer — the scale shape its docs prescribe past ~10^5
    lists; reference analogue ``ARCHITECTURE.md:826-836`` "then use
    IVF"). The FINE level is bit-identical to :func:`build_ivf_index`
    with the same parameters: same sample, same k-means, same per-vector
    assignment, same ``list=``-partitioned vectors layout. On top of it:

    - the nlist fine centroids are themselves clustered into ``ngroups``
      spherical-k-means groups (trained on the centroids — they ARE the
      level-2 sample) and persisted partitioned by ``group=``, so a
      probe reads only its groups' centroid blocks (partition pruning);
    - the tiny (ngroups × dim) group-centroid table is the only thing a
      query node keeps resident.

    Deterministic end to end; ``ngroups = 1`` degenerates to the flat
    index (one group holding every centroid)."""
    spark = embeddings.sparkSession
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an IVF index over an empty table")
    dim = int(first["d"])
    if not 1 <= ngroups <= nlist:
        raise ValueError(f"ngroups ({ngroups}) must be in [1, nlist={nlist}]")
    named = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    sample_rows = (
        named.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
        .limit(train_size)
        .select("embedding")
        .collect()
    )
    sample = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    centroids = train_centroids(sample, nlist=nlist, n_iters=n_iters)
    # level 2: cluster the centroids (unit-norm already); ties to the
    # lowest group id, same argmax rule as the vector assignment
    group_cents = train_centroids(centroids, nlist=ngroups, n_iters=n_iters)
    grp = np.argmax(centroids @ group_cents.T, axis=1)

    meta = Ivf2Meta(
        dim=dim,
        nlist=nlist,
        ngroups=ngroups,
        n_iters=n_iters,
        train_size=train_size,
        seed=seed,
        n_vectors=named.count(),
        id_col=id_col,
    )
    assigned = named.withColumn("list", _assign_udf(centroids)(F.col("embedding")))
    fsio.write_parquet(
        assigned.repartition("list"), f"{out_dir}/vectors", partition_by=("list",)
    )
    cent_df = spark.createDataFrame(
        [
            (int(grp[i]), int(i), [float(x) for x in c])
            for i, c in enumerate(centroids)
        ],
        "group int, list int, centroid array<double>",
    )
    fsio.write_parquet(
        cent_df.repartition("group"), f"{out_dir}/centroids", partition_by=("group",)
    )
    gc_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(group_cents)],
        "group int, centroid array<double>",
    )
    fsio.write_parquet(gc_df.coalesce(1), f"{out_dir}/group_centroids")
    fsio.write_text(f"{out_dir}/meta.json", json.dumps(asdict(meta), indent=2))
    return meta


def load_ivf2_meta(index_dir: str) -> Ivf2Meta:
    return Ivf2Meta(**json.loads(fsio.read_text(f"{index_dir}/meta.json")))


class Ivf2Index:
    """Handle over a persisted two-level IVF index. Init loads ONLY the
    (ngroups × dim) group centroids — never the full fine-centroid
    table, which at nlist ~ 10^6 × 768-d is GBs. Probed groups' centroid
    blocks are fetched through a ``group=``-pruned scan (bounded:
    ~nlist/ngroups rows per group) and memoized, so a query node's
    residency grows only with the groups its queries actually touch."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = load_ivf2_meta(index_dir)
        self.vectors = spark.read.parquet(f"{index_dir}/vectors")
        self._cent_table = spark.read.parquet(f"{index_dir}/centroids")
        rows = spark.read.parquet(f"{index_dir}/group_centroids").collect()
        gc = np.zeros((self.meta.ngroups, self.meta.dim), dtype=np.float64)
        for r in rows:
            gc[r["group"]] = r["centroid"]
        self.group_centroids = gc
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def probe_groups(self, query_vec: list[float], nprobe_groups: int) -> list[int]:
        q = np.asarray(query_vec, dtype=np.float64)
        return _nearest(
            self.group_centroids,
            np.arange(self.meta.ngroups),
            q,
            nprobe_groups,
        )

    def _group_block(self, group: int) -> tuple[np.ndarray, np.ndarray]:
        blk = self._blocks.get(group)
        if blk is None:
            rows = self._cent_table.filter(F.col("group") == group).collect()
            ids = np.array([r["list"] for r in rows], dtype=np.int64)
            # an EMPTY k-means group (its members drifted to other
            # groups in the final assignment) must keep a (0, dim)
            # shape: np.array([]) is (0,), which breaks the probe-path
            # concatenate/matmul
            cents = np.array(
                [r["centroid"] for r in rows], dtype=np.float64
            ).reshape(len(rows), self.meta.dim)
            blk = self._blocks[group] = (ids, cents)
        return blk

    def probe_lists(
        self, query_vec: list[float], nprobe_groups: int = 2, nprobe: int = 4
    ) -> list[int]:
        """Two-level probe: nearest ``nprobe_groups`` groups from the
        resident level-2 centroids, then the ``nprobe`` nearest fine
        lists among those groups' (fetched, memoized) centroid blocks.
        With ``nprobe_groups = ngroups`` the candidate set is every fine
        centroid, so the choice equals the flat index's
        :meth:`IvfIndex.probe_lists` exactly (same dots, same ties)."""
        q = np.asarray(query_vec, dtype=np.float64)
        groups = self.probe_groups(query_vec, nprobe_groups)
        blocks = [self._group_block(g) for g in groups]
        ids = np.concatenate([b[0] for b in blocks])
        cents = np.concatenate([b[1] for b in blocks])
        return _nearest(cents, ids, q, nprobe)

    def search(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe_groups: int = 2,
        nprobe: int = 4,
    ) -> DataFrame:
        """Top-k over the two-level-probed lists; the vectors scan and
        exact-cosine re-rank are the flat index's (``list=`` partition
        pruning, bitwise-identical scores on the candidate set). Full
        probe (``nprobe_groups = ngroups``, ``nprobe = nlist``) is exact
        brute force."""
        return _search_lists(
            self.vectors,
            self.probe_lists(query_vec, nprobe_groups, nprobe),
            query_vec,
            k,
        )
