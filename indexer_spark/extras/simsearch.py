"""Similarity search over embedding columns (array<float>).

- `brute_force_topk`: exact cosine top-k — the correctness baseline.
  JVM-side zip_with/aggregate expressions; distributed
  TakeOrderedAndProject for the top-k (no driver-side sort of the corpus).
- `IvfIndex`: the scale path — IVF (inverted-file) partitioning: k-means
  centroids fitted with DISTRIBUTED Lloyd iterations over the full table
  (broadcast centroids, per-task partial sums, driver merge — supports
  the 10^3-10^4 centroid counts a 100 TB corpus needs), every vector
  assigned to its nearest centroid, the table written partitioned by
  centroid id. A query probes only the `nprobe` nearest centroids =>
  scan cost drops by ~n_centroids/nprobe, and the partition column
  prunes files at the source (same pushdown discipline as the postings
  table).
"""

# NOTE: no `from __future__ import annotations` - pandas_udf needs real hints

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn("v", F.transform(vec_col, lambda x: x.cast("double")))


def _cosine_expr(vcol, qlit):
    dot = F.aggregate(F.zip_with(vcol, qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda s, x: s + x)
    sq = lambda c: F.aggregate(F.transform(c, lambda x: x * x),  # noqa: E731
                               F.lit(0.0), lambda s, x: s + x)
    return dot / F.sqrt(sq(vcol) * sq(qlit))


def brute_force_topk(
    emb: DataFrame, query_vec, k: int = 10,
    vec_col="embedding", id_col="vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    d = _as_double(emb, vec_col)
    return (
        d.select(id_col, _cosine_expr(F.col("v"), qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _assign_dists(m: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Squared euclidean distances (batch, centroids) via the expanded
    form — one BLAS matmul instead of a (batch, k, dim) broadcast."""
    return (
        (m * m).sum(1)[:, None] - 2.0 * (m @ cent.T) + (cent * cent).sum(1)[None, :]
    )


def _rows_matrix(vs, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix from a pandas Series of fixed-dim vector
    rows via ONE C-level concatenate over the row buffers — replaces the
    per-row Python `.map(np.asarray)` + np.stack. Ragged rows raise
    (np.stack semantics): without the explicit length check a ragged
    batch whose lengths happen to sum to n*dim would silently reshape
    into wrong rows."""
    arr = vs.to_numpy()
    lens = np.fromiter((len(x) for x in arr), dtype=np.intp, count=len(arr))
    if lens.size and not (lens == dim).all():
        raise ValueError(
            f"ragged vector column: row lengths {np.unique(lens)} != {dim}"
        )
    return np.concatenate(arr).astype(np.float64, copy=False).reshape(
        len(arr), dim)


def _list_col_matrix(col, n_rows: int, dim: int):
    """(n_rows, dim) float64 matrix straight from an Arrow list column's
    flattened value buffer (zero per-row work). Returns None when the
    column has nulls or any row whose length is not ``dim`` (a matching
    total length alone would reshape ragged rows silently) — callers
    fall back to the row-wise path, which raises on ragged rows."""
    flat = col.flatten()
    if len(flat) != n_rows * dim or col.null_count:
        return None
    if not (np.diff(col.offsets.to_numpy()) == dim).all():
        return None
    m = flat.to_numpy(zero_copy_only=False)
    return m.astype(np.float64, copy=False).reshape(n_rows, dim)


def _kmeans_fit_distributed(
    spark, vdf: DataFrame, n_centroids: int, iters: int, seed: int,
    id_col: str,
) -> np.ndarray:
    """Distributed Lloyd k-means over the full table (scales to any row
    count and centroid counts in the 10^3-10^4 range a 100 TB IVF needs;
    the old driver-sample fit capped out at toy centroid counts).

    Per iteration: centroids are broadcast; every task computes
    per-centroid partial (count, sum) for its partition in one vectorized
    pass (the classic map-side combine), and the driver merges
    tasks x centroids partial rows. At extreme (executors x centroids)
    products the merge becomes a treeAggregate / applyInPandas stage —
    same dataflow, one more combine level.

    Init: deterministic hash-ordered sample (TakeOrdered under the hood —
    no full sort, no collect of the corpus)."""
    init = (
        vdf.orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .toPandas()
    )
    cent = np.stack(init["v"].map(np.asarray).to_numpy()).astype(np.float64)
    k, dim = cent.shape
    sc = spark.sparkContext
    for _ in range(iters):
        centb = sc.broadcast(cent)

        def partials(batches):
            # mapInArrow: each record batch's list<double> column is ONE
            # contiguous value buffer + offsets, so the (rows, dim)
            # matrix is a flatten + reshape — no per-row Python work
            # (the old mapInPandas path paid a .map(np.asarray) +
            # np.stack per batch; guide §4.2)
            import pyarrow as pa

            c = centb.value
            sums = np.zeros((k, dim), dtype=np.float64)
            cnts = np.zeros(k, dtype=np.int64)
            seen = False
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                seen = True
                col = rb.column(0)
                m = _list_col_matrix(col, rb.num_rows, dim)
                if m is None:  # nulls/ragged: row-wise fallback
                    m = np.stack([
                        np.asarray(x, dtype=np.float64)
                        for x in col.to_pylist()
                    ])
                a = _assign_dists(m, c).argmin(axis=1)
                np.add.at(sums, a, m)
                np.add.at(cnts, a, 1)
            if not seen:
                return
            nz = np.nonzero(cnts)[0]
            yield pa.record_batch({
                "cid": pa.array(nz.astype(np.int32), type=pa.int32()),
                "cnt": pa.array(cnts[nz], type=pa.int64()),
                "vsum": pa.array([sums[i].tobytes() for i in nz],
                                 type=pa.binary()),
            })

        rows = vdf.select("v").mapInArrow(
            partials, "cid int, cnt long, vsum binary"
        ).collect()
        centb.destroy()
        sums = np.zeros((k, dim), dtype=np.float64)
        cnts = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r["cid"]] += np.frombuffer(bytes(r["vsum"]), dtype=np.float64)
            cnts[r["cid"]] += int(r["cnt"])
        nz = cnts > 0
        cent = cent.copy()
        cent[nz] = sums[nz] / cnts[nz, None]  # empty centroids keep position
    return cent


class IvfIndex:
    """IVF index handle: centroids + a parquet table partitioned by list id."""

    def __init__(self, spark, path: str, centroids: np.ndarray,
                 vec_col: str, id_col: str):
        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls, spark, emb: DataFrame, path: str,
        n_centroids: int = 16, iters: int = 8,
        vec_col="embedding", id_col="vec_id", seed: int = 42,
    ) -> "IvfIndex":
        """Fit centroids with distributed Lloyd iterations over the FULL
        table (no driver-side sample bottleneck — supports the 10^3-10^4
        centroid counts a 100 TB corpus needs), then write the table
        partitioned by nearest-centroid list id."""
        vdf = _as_double(emb, vec_col).select(id_col, "v")
        cent = _kmeans_fit_distributed(
            spark, vdf, n_centroids, iters, seed, id_col
        )
        centb = spark.sparkContext.broadcast(cent)

        dim = cent.shape[1]

        @F.pandas_udf(IntegerType())
        def assign_udf(vs: pd.Series) -> pd.Series:
            m = _rows_matrix(vs, dim)
            return pd.Series(
                _assign_dists(m, centb.value).argmin(axis=1).astype(np.int32)
            )

        (
            emb.withColumn("list_id", assign_udf(F.col(vec_col)))
            .write.partitionBy("list_id").mode("overwrite").parquet(path)
        )
        # persist centroids next to the data: an index is reopenable
        # without refitting
        np.save(os.path.join(path, "_centroids.npy"), cent)
        return cls(spark, path, cent, vec_col, id_col)

    @classmethod
    def open(
        cls, spark, path: str, vec_col="embedding", id_col="vec_id"
    ) -> "IvfIndex":
        cent = np.load(os.path.join(path, "_centroids.npy"))
        return cls(spark, path, cent, vec_col, id_col)

    def search(self, query_vec, k: int = 10, nprobe: int = 4) -> DataFrame:
        """Probe the nprobe nearest centroid partitions only (partition
        pruning via the list_id filter), exact cosine within them."""
        q = np.asarray(query_vec, dtype=np.float64)
        d2 = ((self.centroids - q) ** 2).sum(axis=1)
        probe = [int(i) for i in np.argsort(d2)[:nprobe]]
        qlit = F.array(*[F.lit(float(x)) for x in q])
        scan = (
            self.spark.read.parquet(self.path)
            .filter(F.col("list_id").isin(probe))
        )
        d = _as_double(scan, self.vec_col)
        return (
            d.select(self.id_col, _cosine_expr(F.col("v"), qlit).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(self.id_col))
            .limit(k)
        )
