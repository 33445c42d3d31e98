"""Persisted approximate-nearest-neighbor index over an embedding column.

Reference analogue: the FAISS index lifecycle — build → save (index +
id map) → load → query (``faiss_manager.py:52-95`` build/persist,
``:135-178`` load/search). The engine's rebuild is Spark-native:

- **build**: bucket every vector by random-hyperplane sign pattern in
  ``n_tables`` independent tables (Arrow pandas UDF, numpy matmul per
  batch), write one parquet table partitioned by ``(tbl, bucket)`` plus
  a ``meta.json`` sidecar (dim, planes seed/shape, counts) through the
  Hadoop FS API. Hyperplanes are derived deterministically from the
  seed, so meta stores only the recipe, not the matrices.
- **query**: recompute the query's bucket per table driver-side (same
  numpy kernel — bit-identical bucketing), multiprobe the buckets within
  ``probe_hamming`` bit flips, and let partition pruning on the
  ``tbl=/bucket=`` directories restrict the scan to probed buckets.
  Exact cosine re-ranks the candidates.

At 10^12 vectors the probed fraction is ~(probed buckets / 2^n_planes)
per table — the scan never touches the rest of the corpus, which is the
entire point vs :func:`sparkgrep.operators.similarity.cosine_topk`'s
full-scan baseline.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkgrep.operators.similarity import (
    cosine_col,
    deterministic_hyperplanes,
    lsh_buckets_udf,
)
from sparkgrep.sources import fsio


@dataclass(frozen=True)
class AnnMeta:
    dim: int
    n_planes: int
    n_tables: int
    seed: int
    n_vectors: int
    id_col: str
    version: int = 1


def _planes(meta: AnnMeta) -> list[np.ndarray]:
    return [
        deterministic_hyperplanes(meta.dim, meta.n_planes, meta.seed + 1000 * t)
        for t in range(meta.n_tables)
    ]


def build_ann_index(
    embeddings: DataFrame,
    out_dir: str,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnMeta:
    """Bucket + persist. The vectors table is written partitioned by
    (tbl, bucket) so a query scan prunes to its probed buckets."""
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an ANN index over an empty table")
    dim = int(first["d"])
    meta = AnnMeta(
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        n_vectors=embeddings.count(),
        id_col=id_col,
    )
    planes = _planes(meta)
    # crash ordering on a REBUILD into an existing dir: drop the old
    # meta BEFORE overwriting vectors, write the new meta LAST. A crash
    # in between leaves vectors without meta — AnnIndex then fails
    # LOUDLY on the missing meta.json instead of silently bucketing
    # queries with the OLD planes against data written with the new ones
    fsio.delete(f"{out_dir}/meta.json")
    bucketed = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("bks", lsh_buckets_udf(planes)(F.col("embedding")))
    exploded = bucketed.select(
        "vec_id", "embedding", F.posexplode("bks").alias("tbl", "bucket")
    )
    fsio.write_parquet(
        exploded.repartition("tbl", "bucket"),
        f"{out_dir}/vectors",
        partition_by=("tbl", "bucket"),
    )
    fsio.write_text(f"{out_dir}/meta.json", json.dumps(asdict(meta), indent=2))
    return meta


def load_ann_meta(index_dir: str) -> AnnMeta:
    return AnnMeta(**json.loads(fsio.read_text(f"{index_dir}/meta.json")))


class AnnIndex:
    """Handle over a persisted ANN index directory (load-and-query path,
    mirroring :class:`sparkgrep.operators.query.InvertedIndex`)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = load_ann_meta(index_dir)
        self.vectors = spark.read.parquet(f"{index_dir}/vectors")

    def _query_buckets(self, query_vec: list[float], probe_hamming: int) -> dict[int, list[int]]:
        """Per-table probed bucket ids — the query-side bucketing uses
        the SAME sequential-sum numpy kernel as the build UDF, so the
        home bucket is bit-identical."""
        meta = self.meta
        q = np.asarray(query_vec, dtype=np.float64)
        out: dict[int, list[int]] = {}
        for t, planes in enumerate(_planes(meta)):
            dots = np.cumsum(q[None, :] * planes, axis=-1)[:, -1]
            bits = (dots > 0).astype(np.int64)
            home = int(bits @ (1 << np.arange(meta.n_planes, dtype=np.int64)))
            probes = {home}
            for r in range(1, probe_hamming + 1):
                for flip in combinations(range(meta.n_planes), r):
                    m = 0
                    for b in flip:
                        m |= 1 << b
                    probes.add(home ^ m)
            out[t] = sorted(probes)
        return out

    def search(
        self, query_vec: list[float], k: int = 10, probe_hamming: int = 1
    ) -> DataFrame:
        """(vec_id, cosine) top-k over the probed buckets only. Raising
        ``probe_hamming`` trades scan size for recall; the filter below
        compiles to partition pruning on tbl=/bucket= directories."""
        probes = self._query_buckets(query_vec, probe_hamming)
        cond = None
        for t, buckets in probes.items():
            c = (F.col("tbl") == t) & F.col("bucket").isin(buckets)
            cond = c if cond is None else (cond | c)
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        cands = (
            self.vectors.filter(cond)
            .groupBy("vec_id")  # a vector can appear via several tables
            .agg(F.first("embedding").alias("embedding"))
        )
        return (
            cands.select(
                "vec_id", cosine_col(F.col("embedding"), q).alias("cosine")
            )
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k)
        )
