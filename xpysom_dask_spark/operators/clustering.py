"""Distributed KMeans (Lloyd's) over an embedding column.

The SOM training loop (plans/training.py) already IS a generalized
KMeans — a batch-SOM epoch with σ→0 degenerates to a Lloyd step — but a
pipeline wants the plain operator: cluster an ``array<float>`` column,
get centroids + assignments, no topology.  Reference parity note:
xpysom-dask has no KMeans; this is beyond-reference pipeline surface
(codebook training for IVF indexes, corpus bucketing, telemetry
segmentation).

Spark-first shape (mirrors the SOM epoch, NOT a crossJoin):

* **assignment** — the (k, dim) centroid matrix broadcasts (k·dim·8 B,
  KBs for any sane k); one Arrow pass over the corpus computes the
  ‖x−c‖² GEMM and the argmin.  The corpus never shuffles.
* **update** — the same pass sums per-cluster (count, Σx) per task —
  the SOM epoch's ``epoch_sums`` with the euclidean kernel — and
  ``plans.exchange.partial_sums`` adds the tasks' partials on the
  driver, which applies the mean: traffic O(partitions · k · dim)
  regardless of row count.
* **iteration** — T Lloyd steps are T jobs + T driver barriers
  (irreducible in Spark's execution model, same argument as the SOM
  epoch loop); the feature column is persisted across them.

At 100 TB: everything scales per-partition; the only driver state is
(k, dim) doubles.  k is bounded by the broadcast (k·dim·8 B ≤ ~100 MB →
k ≤ ~200k at dim 64) — far beyond any Lloyd's-converging use.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_matrix(col) -> np.ndarray:
    return np.stack([np.asarray(v, np.float64) for v in col])


def kmeans_init(df: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", k: int = 8) -> np.ndarray:
    """Deterministic (k, dim) seed: the k rows with the smallest
    ``md5(id)`` — a content-addressed pseudo-random draw, reproducible
    on any partitioning (the engine-wide determinism idiom, same as
    sampling.hash_sample).  TakeOrderedAndProject, not a global sort."""
    rows = (df.select(F.col(vec_col).alias("v"),
                      F.md5(F.col(id_col).cast("string")).alias("h"))
            .orderBy("h").limit(int(k)).collect())
    if len(rows) < k:
        raise ValueError(f"kmeans_init: need {k} rows, corpus has "
                         f"{len(rows)}")
    return _as_matrix([r["v"] for r in rows])


def _assign_kernel(bc, keep: list[str] | None = None):
    """mapInPandas kernel: per-batch argmin over the broadcast centroid
    matrix.  ``keep`` columns pass through untouched (no join needed to
    carry payloads alongside the assignment)."""
    import pandas as pd

    def fn(batches):
        C = bc.value                       # (k, dim) float64
        c_sq = (C * C).sum(axis=1)         # ‖c‖² once per task
        for pdf in batches:
            if not len(pdf):
                continue
            X = _as_matrix(pdf["v"])
            # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² constant per row, so
            # the argmin only needs the GEMM term
            scores = -2.0 * (X @ C.T) + c_sq[None, :]
            a = scores.argmin(axis=1)      # ties → lowest index
            x_sq = (X * X).sum(axis=1)
            d2 = x_sq + scores[np.arange(len(a)), a]
            out = {
                "id": pdf["id"].to_numpy(np.int64),
                "cluster_id": a.astype(np.int32),
                "dist2": np.maximum(d2, 0.0),
            }
            for c in (keep or []):
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return fn


def _lloyd_parts(bc, k: int, dim: int):
    """A task's part of one Lloyd step (``plans.exchange.partial_sums``):
    per-cluster (count, Σx) of its Arrow batches against the broadcast
    centroids — ``epoch_sums`` under the euclidean kernel, whose
    argmin is the nearest centroid (ties → lowest index)."""
    from ..functions.distances import codebook_sq_norms, resolve_distance
    from ..plans.exchange import feature_matrix
    from ..plans.training import epoch_sums

    kernel = resolve_distance("euclidean")

    def parts(batches):
        C = bc.value
        yield epoch_sums(
            kernel, (feature_matrix(b.column(0), dim, np.float64)
                     for b in batches), C, codebook_sq_norms(C), k, dim)

    return parts


def kmeans_fit(df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id", k: int = 8, max_iter: int = 10,
               tol: float = 1e-6,
               init: np.ndarray | None = None) -> np.ndarray:
    """Lloyd's iterations; returns the (k, dim) centroid matrix.

    Empty clusters keep their previous centroid (the standard batch
    rule, same as the SOM update's den==0 guard).  Stops after
    ``max_iter`` steps or when the max centroid shift² ≤ ``tol``.
    """
    from pyspark.storagelevel import StorageLevel

    from ..plans.exchange import partial_sums

    sc = df.sparkSession.sparkContext
    C = kmeans_init(df, vec_col, id_col, k) if init is None \
        else np.asarray(init, np.float64)
    k, dim = C.shape
    zeros = (np.zeros(k), np.zeros((k, dim)))
    feats = df.select(F.col(vec_col).alias("v")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for _ in range(int(max_iter)):
            bc = sc.broadcast(C)
            cnt, S = partial_sums(feats, zeros, _lloyd_parts(bc, k, dim))
            bc.unpersist(blocking=False)
            nz = cnt > 0
            new = C.copy()
            new[nz] = S[nz] / cnt[nz, None]
            shift = float(((new - C) ** 2).sum(axis=1).max())
            C = new
            if shift <= tol:
                break
    finally:
        feats.unpersist()
    return C


def kmeans_assign(df: DataFrame, centroids: np.ndarray,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  out_col: str = "cluster_id",
                  dist_col: str | None = None,
                  keep: list[str] | None = None) -> DataFrame:
    """Assign every row to its nearest centroid (squared-euclidean
    argmin, ties → lowest centroid index):
    (id, cluster_id[, dist2][, keep...]).

    One narrow Arrow pass, no shuffle — the scoring half of the Lloyd
    step exposed as its own operator (bucket a corpus by a trained
    codebook without re-fitting).  ``keep`` columns ride through the
    kernel, so downstream consumers (the IVF index build) never join
    back on id to recover payloads."""
    from ..plans.exchange import ship_package

    spark = df.sparkSession
    ship_package(spark)
    C = np.asarray(centroids, np.float64)
    bc = spark.sparkContext.broadcast(C)
    keep = keep or []
    slim = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).alias("v"), *keep)
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out = slim.mapInPandas(
        _assign_kernel(bc, keep),
        f"id bigint, cluster_id int, dist2 double{keep_schema}")
    out = out.withColumnRenamed("id", id_col) \
             .withColumnRenamed("cluster_id", out_col)
    if dist_col is None:
        return out.drop("dist2")
    return out.withColumnRenamed("dist2", dist_col)


def cluster_sizes(assigned: DataFrame,
                  cluster_col: str = "cluster_id") -> DataFrame:
    """(cluster_id, n) — one map-side-combined aggregate."""
    return assigned.groupBy(cluster_col).agg(F.count("*").alias("n"))
