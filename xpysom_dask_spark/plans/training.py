"""The iterative batch-SOM training plan.

One Spark job per epoch, shaped exactly like MLlib's KMeans iteration
(SURVEY.md §3.1 "Spark lifecycle"):

    driver:    decay η, σ; hoist ‖w‖² if cacheable; broadcast (W_flat, ‖w‖²)
    executors: mapInArrow over the persisted features — per partition, one
               (cell-count, cell-feature-sum) partial pair from BMU argmin
               + bincount scatters; the neighborhood NEVER runs on workers
    exchange:  partials collected directly when the partition count is
               small; at scale, a bucketed ``groupBy().applyInPandas`` tree
               level first reduces P partials to ``agg_fanout`` rows so the
               driver never materializes O(P) tensors
    driver:    (num, den) = Gᵀ·(S, c) via SparkSom._apply_influence —
               by linearity the (K, K) influence matrix applies AFTER the
               merge, so it is never broadcast and never shipped; above a
               memory budget it evaluates in row blocks (O(block·K), VERDICT
               r03 #4), so a 100×100 grid trains without any O(K²) tensor
               leaving the driver — then W ← where(den ≠ 0, num/den, W)

Contrasts with the reference's dask path (xpysom.py:545-558), which
re-ships the codebook inside every task closure: we torrent-broadcast it
once per epoch, and the input DataFrame is persisted so epochs 2..T never
re-scan the source (SURVEY.md §4 O13).  Per-epoch traffic is
O(partitions · x·y·d) regardless of data size — the property that makes
this hold at 100 TB.

Small fits skip the loop: the feature matrix is collected once through
Arrow and every epoch runs driver-side (``SparkSom._train_local``).  Why,
measured on 4 cores (Spark 4.1.2, Python 3.11), one distributed epoch of
300k × 8 rows on a 10×10 grid:

* ~0.13 s driver round trip (job submit, broadcast, collect);
* 0.25-0.35 s per task of Python worker set-up — PySpark's
  ``setup_spark_files`` calls ``importlib.invalidate_caches()``, which
  re-reads the ``pyspark.zip`` and spark-core jar directories on every
  task;
* ~0.05 s of actual work: Arrow transfer, BMU argmin, bincount.

The same two epochs take 0.25 s on the driver.  Running all epochs in
one barrier stage (``mapInArrow(barrier=True)`` with a
``BarrierTaskContext.allGather`` of the (c, S) partials per epoch) does
not remove that floor: each ``allGather`` took 1.0 s on the same box (1,
2 and 5 rounds took 1.0, 2.0 and 5.0 s in-task), so it is no faster than
a job per epoch.

The choice between the two paths (``choose_path``) is a deterministic
function of the input: the two paths group float sums differently, so
the same input must always take the same path, and nothing is timed at
run time.  It fuses while the per-epoch kernel work n·K·d × the kernel's
``relative_cost`` is at most ``FUSE_WORK_CAP`` and the features fit
``SparkSom.fuse_local_bytes``.  n comes from the input's cache statistics
when the caller materialized a cache, and from a ``count()`` (which also
fills the plan's own cache) otherwise.
"""

from __future__ import annotations

import time

import numpy as np

from ..functions.distances import codebook_sq_norms
from .exchange import feature_matrix, ship_package

_PARTIAL_SCHEMA = "bucket int, num binary, den binary"

#: Largest per-epoch work n·K·d × kernel ``relative_cost`` the driver
#: loop takes on.  Fused vs distributed fit, median of 5, on 4 cores with
#: 300k × 8 cached float32 rows, euclidean, 2 epochs: 10×10 (2.4e8 per
#: epoch) 0.38 vs 0.92 s; 20×20 (9.6e8) 0.98 vs 1.09 s; 40×40 (3.8e9)
#: 3.93 vs 2.05 s.  One epoch over 1M rows on 10×10 (8e8) breaks even
#: (0.73 vs 0.72 s).  The cap sits below the crossover, where the fused
#: path clearly wins.
FUSE_WORK_CAP = 5e8


class ProgressPrinter:
    """Reference-parity verbose progress (xpysom.py:50-69): per-epoch
    ``[ t / T ] p% - elapsed - left`` lines with an elapsed-rate ETA,
    restructured as an object (no module globals, newline per epoch so
    driver logs stay greppable) plus a per-epoch detail suffix."""

    def __init__(self, total):
        self.total = int(total)
        self.t0 = time.time()
        self.digits = len(str(self.total))
        print(" [ %*d / %d ]   0%% - ? it/s" % (self.digits, 0, self.total))

    def step(self, t, extra=""):
        from datetime import timedelta

        done = t + 1
        elapsed = time.time() - self.t0
        left = (self.total - done) * elapsed / done
        line = " [ %*d / %d ] %3.0f%% - %s elapsed - %s left" % (
            self.digits, done, self.total, 100.0 * done / self.total,
            str(timedelta(seconds=elapsed))[:7],
            str(timedelta(seconds=left))[:7])
        if extra:
            line += " - " + extra
        print(line)


def bmu_cell_sums(X, idx, n_cells):
    """Per-cell count vector and feature-sum matrix for one batch:
    ``c[k] = #{i: idx_i = k}``, ``S[k] = Σ_{idx_i = k} X_i``.

    ``np.bincount`` per feature column — C-speed O(n·d) scatter, float64
    accumulation (more accurate than the per-sample dtype GEMM it
    replaces)."""
    c = np.bincount(idx, minlength=n_cells).astype(np.float64)
    S = np.empty((n_cells, X.shape[1]), dtype=np.float64)
    for j in range(X.shape[1]):
        S[:, j] = np.bincount(idx, weights=X[:, j], minlength=n_cells)
    return c, S


def _partial_update_factory(bc, kernel, shape, dtype, fanout):
    """Build the per-partition update for ``mapInArrow``.

    The closure carries only the tiny model plumbing (kernel, shape);
    the per-epoch codebook and its cached norms travel via the
    broadcast ``bc``.  Inside, per Arrow batch (= mini-batch,
    SURVEY.md §4 O7): BMU argmin → per-cell count/sum scatters.  The
    partial is the G-FREE per-cell statistics ``(c, S)`` in float64 —
    by linearity ``Gᵀ·ΣS_p = Σ(Gᵀ·S_p)``, so the influence matrix
    applies once on the driver after the merge (math parity with
    xpysom.py:420-443 via the factorization ``Σ_i g(bmu_i)⊗x_i =
    Gᵀ·S``); workers never see the neighborhood function, and the
    per-sample (n, x·y) influence tensor never materializes anywhere.
    """
    x, y, d = shape
    K = x * y

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        w_flat, w_sq = bc.value
        c = np.zeros(K, dtype=np.float64)
        S = np.zeros((K, d), dtype=np.float64)
        for batch in batches:
            X = feature_matrix(batch.column(0), d, dtype)
            if len(X) == 0:
                continue
            idx = kernel(X, w_flat, w_sq).argmin(axis=1)
            cc, SS = bmu_cell_sums(X, idx, K)
            c += cc
            S += SS
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        yield pa.RecordBatch.from_pydict(
            {
                "bucket": pa.array([pid % fanout], pa.int32()),
                "num": pa.array([S.tobytes()], pa.binary()),
                "den": pa.array([c.tobytes()], pa.binary()),
            }
        )

    return fn


def _sum_partial_rows(rows, shape):
    """Merge (S, c) float64 partial blobs → (K, d) sums + (K,) counts."""
    x, y, d = shape
    S = np.zeros((x * y, d), dtype=np.float64)
    c = np.zeros(x * y, dtype=np.float64)
    for r in rows:
        S += np.frombuffer(r["num"], dtype=np.float64).reshape(x * y, d)
        c += np.frombuffer(r["den"], dtype=np.float64)
    return S, c


def _make_bucket_reducer(shape):
    x, y, d = shape

    def reduce_bucket(pdf):
        import pandas as pd

        S = np.zeros((x * y, d), dtype=np.float64)
        c = np.zeros(x * y, dtype=np.float64)
        for blob in pdf["num"]:
            S += np.frombuffer(blob, dtype=np.float64).reshape(x * y, d)
        for blob in pdf["den"]:
            c += np.frombuffer(blob, dtype=np.float64)
        return pd.DataFrame({"num": [S.tobytes()], "den": [c.tobytes()]})

    return reduce_bucket


def choose_path(rows, cells, dim, itemsize, relative_cost, byte_cap):
    """The training-path decision for ``rows`` × ``dim`` features on a
    ``cells``-cell map: ``"fused"`` (one collect, driver-side epochs)
    when the per-epoch kernel work fits ``FUSE_WORK_CAP`` and the
    feature bytes fit ``byte_cap``, else ``"distributed"``.  A zero
    ``byte_cap`` disables fusion; ``rows=None`` (not counted) cannot
    fuse.  Returns the decision record ``SparkSom.training_info_``
    starts from."""
    work = nbytes = None
    fused = False
    if rows is not None:
        work = rows * cells * dim * relative_cost
        nbytes = rows * dim * itemsize
        fused = bool(byte_cap) and work <= FUSE_WORK_CAP and nbytes <= byte_cap
    return {"path": "fused" if fused else "distributed", "rows": rows,
            "epoch_work": work, "work_cap": FUSE_WORK_CAP,
            "bytes": nbytes, "byte_cap": byte_cap}


def cached_row_count(df):
    """``(cached, rows)``: whether ``df``'s plan is in the session cache,
    and its row count when that cache is fully materialized (None
    otherwise).  Read from the cache's build statistics — no Spark job.
    The cache manager is asked rather than ``df.queryExecution``, whose
    optimized plan and its statistics are memoized: a DataFrame planned
    before it was persisted, or whose cache was still empty when its
    statistics were first read, would never report the count."""
    jss = df.sparkSession._jsparkSession
    entry = jss.sharedState().cacheManager().lookupCachedData(df._jdf)
    if entry.isEmpty():
        return False, None
    stats = entry.get().cachedRepresentation().computeStats()
    rows = stats.rowCount()
    return True, (int(rows.get()) if rows.isDefined() else None)


def _describe(info):
    if info["rows"] is None:
        return "training path: distributed (fusion off, rows not counted)"
    return ("training path: %s (%d rows from %s; epoch work %.3g, cap %.3g;"
            " %.1f MiB, cap %.1f MiB)" % (
                info["path"], info["rows"], info["rows_from"],
                info["epoch_work"], info["work_cap"], info["bytes"] / 2**20,
                info["byte_cap"] / 2**20))


def run_training(som, df, num_epochs, iter_beg=0, iter_end=None, verbose=False):
    """Run the epoch loop against a DataFrame; mutates ``som._weights``
    and records the path decision (plus, distributed, per-epoch
    timings) in ``som.training_info_``."""
    from pyspark.storagelevel import StorageLevel

    if iter_end is None:
        iter_end = num_epochs
    spark = df.sparkSession
    ship_package(spark)
    sc = spark.sparkContext

    # a select over a cached input reads that cache with column pruning,
    # so only an uncached input gets a cache of its own (so that epochs
    # 2..T never re-scan the source)
    cached, n_rows = cached_row_count(df)
    own_cache = not cached
    feats = df.select(df[som.features_col].alias("features"))
    if own_cache:
        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    x, y, d = som._weights.shape

    rows_from = "stats" if n_rows is not None else None
    byte_cap = getattr(som, "fuse_local_bytes", 0)
    if n_rows is None and byte_cap:
        # the count also fills the cache the distributed epochs read
        n_rows, rows_from = feats.count(), "count"
    info = choose_path(n_rows, x * y, d, np.dtype(som.dtype).itemsize,
                       som._distance.relative_cost, byte_cap)
    info["rows_from"] = rows_from
    som.training_info_ = info
    if verbose:
        print(_describe(info))
    if info["path"] == "fused":
        X = feature_matrix(feats.toArrow().column("features"), d, som.dtype)
        if own_cache:
            feats.unpersist()
        return som._train_local(X, num_epochs, iter_beg, iter_end,
                                verbose=verbose)

    n_parts = feats.rdd.getNumPartitions()
    two_level = n_parts > som.collect_threshold
    shape = (x, y, d)
    W = som._weights.astype(som.dtype)
    kernel = som._distance
    info["epochs"] = epochs = []

    progress = ProgressPrinter(iter_end - iter_beg) if verbose else None
    try:
        for t in range(iter_beg, iter_end):
            t0 = time.perf_counter()
            eta = float(som._decay(som._learning_rate, som._learning_rateN,
                                   t, num_epochs))
            sig = float(som._decay(som._sigma, som._sigmaN, t, num_epochs))
            w_flat = W.reshape(-1, d)
            w_sq = codebook_sq_norms(w_flat) if kernel.can_cache else None
            bc = sc.broadcast((w_flat, w_sq))
            t1 = time.perf_counter()

            fn = _partial_update_factory(
                bc, kernel, shape, som.dtype,
                som.agg_fanout if two_level else 1,
            )
            partials = feats.mapInArrow(fn, _PARTIAL_SCHEMA)
            if two_level:
                partials = partials.groupBy("bucket").applyInPandas(
                    _make_bucket_reducer(shape),
                    "num binary, den binary",
                )
            collected = partials.collect()
            t2 = time.perf_counter()
            S, c = _sum_partial_rows(collected, shape)
            bc.unpersist(blocking=False)

            # influence applies driver-side, blockwise above the memory
            # budget — no O(K²) broadcast, no per-partition (K,K) GEMM
            num, den = som._apply_influence(S, c, sig, eta)
            den3 = den.reshape(x, y)[:, :, None]
            W = np.where(den3 != 0, num.reshape(shape) / den3,
                         W).astype(som.dtype)
            t3 = time.perf_counter()
            epochs.append({"broadcast_s": t1 - t0, "job_s": t2 - t1,
                           "merge_s": t3 - t2})
            if progress is not None:
                progress.step(t - iter_beg,
                              "eta=%.4f sigma=%.4f broadcast %.3fs job "
                              "%.3fs merge %.3fs"
                              % (eta, sig, t1 - t0, t2 - t1, t3 - t2))
    finally:
        if own_cache:
            feats.unpersist()

    som._weights = W
    return som
