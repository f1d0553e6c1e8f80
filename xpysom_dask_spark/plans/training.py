"""The iterative batch-SOM training plan.

One Spark job per epoch, shaped exactly like MLlib's KMeans iteration
(SURVEY.md §3.1 "Spark lifecycle"):

    driver:    decay η, σ; hoist ‖w‖² if cacheable; broadcast (W_flat, ‖w‖²)
    executors: mapInArrow over the persisted features — per partition, one
               (cell-count, cell-feature-sum) partial pair from BMU argmin
               + bincount scatters; the neighborhood NEVER runs on workers
    exchange:  ``exchange.partial_sums`` — one row of (c, S) blobs per
               partition, summed on the driver in partition order; past
               its byte budget a bucketed ``groupBy().applyInPandas``
               level first merges them in ⌈√P⌉ groups
    driver:    (num, den) = Gᵀ·(S, c) via SparkSom._apply_influence —
               by linearity the (K, K) influence matrix applies AFTER the
               merge, so it is never broadcast and never shipped; it
               evaluates in row blocks of a memory budget (O(block·K),
               VERDICT r03 #4; one block up to ~53×53), so a 100×100 grid
               trains without any O(K²) tensor — then
               W ← where(den ≠ 0, num/den, W)

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

The same two epochs take ~0.16 s on the driver, the kernel chunks on
every driver core (``kernel_map``).  Running all epochs in one
barrier stage (``mapInArrow(barrier=True)`` with a
``BarrierTaskContext.allGather`` of the (c, S) partials per epoch) does
not remove that floor: each ``allGather`` took 1.0 s on the same box (1,
2 and 5 rounds took 1.0, 2.0 and 5.0 s in-task), so it is no faster than
a job per epoch.

Both paths run ``SparkSom._epochs`` over ``epoch_sums`` of blocks
(the fused fit's Arrow chunks, a task's Arrow batches), and every SOM
kernel pass runs in ``kernel_map`` chunks, which give a row the same
activations in any block, thread or worker BLAS setting:
forced-distributed fits equal fused ones bit for bit (measured with
executor BLAS at 1 and 4 threads).  So ``choose_path`` moves only the
cost; it stays a function of the input, nothing timed at run time, so
one input always pays the same.  It fuses while the per-epoch kernel
work n·K·d × the kernel's ``relative_cost`` is at most ``FUSE_WORK_CAP``
and the features fit ``SparkSom.fuse_local_bytes``.  n comes from the
input's cache statistics when the caller materialized a cache, and from
a ``count()`` (which also fills the plan's own cache) otherwise.
"""

from __future__ import annotations

import ctypes
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from functools import lru_cache

import numpy as np

from .exchange import feature_matrix, partial_sums

#: Largest per-epoch work n·K·d × kernel ``relative_cost`` the driver
#: loop takes on.  Fused (BMU search on 4 threads) vs distributed fit,
#: median of 5, on 4 cores with 300k × 8 cached float32 rows, euclidean,
#: 2 epochs: 10×10 (2.4e8 per epoch) 0.43 vs 1.28 s; 20×20 (9.6e8) 0.51
#: vs 1.45 s; 30×30 (2.2e9) 0.82 vs 1.93 s; 40×40 (3.8e9) 1.35 vs
#: 2.57 s; 60×60 (8.6e9) 4.74 vs 3.99 s.  One epoch over 1M rows on
#: 10×10 (8e8): 0.87 vs 1.48 s.  The crossover is near 6e9 (~1e9 for
#: a whole-block, single-threaded BMU search); the cap sits at half.
FUSE_WORK_CAP = 3e9


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


#: Chunks are padded with copies of their last row to a multiple of this:
#: a GEMM's last (rows mod unroll) output rows take an edge kernel with
#: other float grouping (OpenBLAS, AVX-512: unroll 4 float32, 2 float64),
#: which would tie a row's activations to where its chunk ends.
BMU_PAD_ROWS = 64

#: Activations (rows × cells) per kernel chunk: a chunk on a K-cell grid
#: has CHUNK_CELLS // K rows, rounded down to whole ``BMU_PAD_ROWS`` and at
#: least ``BMU_PAD_ROWS``, so a thread's (rows, K) arrays stay small.
CHUNK_CELLS = 1 << 20


def driver_threads():
    """Cores the kernel chunks may use: inside a Spark task the task's
    ``cpus()``, elsewhere the cores this process may run on."""
    try:
        from pyspark import TaskContext
        ctx = TaskContext.get()
    except ImportError:  # Spark is optional for local fits
        ctx = None
    if ctx is not None:
        return ctx.cpus()
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


@lru_cache(maxsize=None)
def _openblas_threads():
    """``((get, set), ...)`` thread-count entry points of every OpenBLAS
    mapped into this process (numpy's is ``openblas64_``-suffixed), or
    ``()`` — no OpenBLAS (MKL, Accelerate) or no ``/proc/self/maps``."""
    try:
        with open("/proc/self/maps") as f:
            paths = {line.split()[-1] for line in f
                     if "openblas" in line.rsplit("/", 1)[-1].lower()}
    except OSError:
        return ()
    found = []
    for path in sorted(paths):
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for suffix in ("", "64_"):
            get = getattr(lib, "openblas_get_num_threads" + suffix, None)
            set_ = getattr(lib, "openblas_set_num_threads" + suffix, None)
            if get is not None and set_ is not None:
                get.restype, get.argtypes = ctypes.c_int, []
                set_.restype, set_.argtypes = None, [ctypes.c_int]
                found.append((get, set_))
                break
    return tuple(found)


_BLAS_LOCK = threading.Lock()
#: (process id, thread count) -> ThreadPoolExecutor, created on first use;
#: keyed by pid because a forked child inherits the dict, not the threads
_pools = {}


@contextmanager
def _blas_single_threaded():
    """Run the block with every OpenBLAS at one thread, restoring the
    previous counts on exit; concurrent sections queue on one lock."""
    libs = _openblas_threads()
    with _BLAS_LOCK:
        prev = [get() for get, _ in libs]
        for _, set_ in libs:
            set_(1)
        try:
            yield
        finally:
            for (_, set_), n in zip(libs, prev):
                set_(n)


def blas_pinned():
    """Whether ``kernel_map`` pins a BLAS (an OpenBLAS is loaded)."""
    return bool(_openblas_threads())


def map_threads():
    """Threads ``kernel_map`` runs chunks on: one per core, or 1 without
    an OpenBLAS to pin (its own thread team would queue them)."""
    return driver_threads() if blas_pinned() else 1


def kernel_map(kernel, blocks, w_flat, w_sq, fn):
    """``fn(rows, kernel(rows, w_flat, w_sq))`` per ``CHUNK_CELLS`` chunk
    of every ``(n, d)`` matrix in ``blocks``, in chunk order.  A chunk is
    padded with copies of its last row to whole ``BMU_PAD_ROWS`` and run
    with OpenBLAS pinned to one thread: a row's activations are the same
    bits in any block, on any thread, at any thread count.  Kernel and
    ``fn`` run on ``map_threads()`` threads, at most 2·P chunks ahead of
    the consumer, so ``blocks`` is pulled lazily.  The pinned section
    spans the generator: consume it before starting another map."""
    step = max(1, CHUNK_CELLS // (len(w_flat) * BMU_PAD_ROWS)) * BMU_PAD_ROWS

    def run(rows):
        pad = -len(rows) % BMU_PAD_ROWS
        full = np.pad(rows, ((0, pad), (0, 0)), mode="edge") if pad else rows
        return fn(rows, kernel(full, w_flat, w_sq)[:len(rows)])

    chunks = (X[a:a + step] for X in blocks for a in range(0, len(X), step))
    p = map_threads()
    with _blas_single_threaded():
        key = (os.getpid(), p)
        pool = _pools.get(key)
        if pool is None:
            pool = _pools[key] = ThreadPoolExecutor(
                p, thread_name_prefix="kernel")
        window = []
        try:
            for rows in chunks:
                window.append(pool.submit(run, rows))
                if len(window) == 2 * p:
                    yield window.pop(0).result()
            while window:
                yield window.pop(0).result()
        finally:
            # no chunk may still run once the BLAS counts are restored
            wait(window)


def map_rows(kernel, X, w_flat, w_sq, fn):
    """``kernel_map`` over one block ``X``, ``fn``'s per-row outputs
    joined along the rows (element-wise when ``fn`` returns a tuple)."""
    parts = list(kernel_map(kernel, (X,), w_flat, w_sq, fn))
    if not parts:   # no rows: fn of the empty block gives the shapes
        parts = [fn(X, kernel(X, w_flat, w_sq))]
    if isinstance(parts[0], tuple):
        return tuple(np.concatenate(p) for p in zip(*parts))
    return np.concatenate(parts)


def bmu_indices(kernel, X, w_flat, w_sq):
    """BMU index per row of ``X``, the argmin of ``kernel_map``: the BMU
    search of training, scoring and local prediction alike."""
    return map_rows(kernel, X, w_flat, w_sq,
                    lambda rows, act: act.argmin(axis=1))


def epoch_sums(kernel, blocks, w_flat, w_sq, n_cells, d):
    """One epoch's per-cell ``(c, S)`` over ``blocks`` of ``(rows, d)``
    matrices: each chunk's ``bmu_cell_sums`` of its BMUs, computed on a
    ``kernel_map`` thread and added in chunk order."""
    c = np.zeros(n_cells, dtype=np.float64)
    S = np.zeros((n_cells, d), dtype=np.float64)
    for cc, SS in kernel_map(kernel, blocks, w_flat, w_sq, lambda rows, act:
                             bmu_cell_sums(rows, act.argmin(axis=1), n_cells)):
        c += cc
        S += SS
    return c, S


def _epoch_parts(bc, kernel, n_cells, d, dtype):
    """A task's part of a distributed epoch (``exchange.partial_sums``):
    ``epoch_sums`` of its Arrow batches (SURVEY.md §4 O7) against the
    codebook and norms broadcast in ``bc``.  The partial is the G-FREE
    per-cell ``(c, S)`` in float64 — by linearity ``Gᵀ·ΣS_p =
    Σ(Gᵀ·S_p)``, so the influence matrix applies once on the driver
    after the merge (parity with xpysom.py:420-443 via ``Σ_i
    g(bmu_i)⊗x_i = Gᵀ·S``); workers never see the neighborhood.
    """

    def parts(batches):
        w_flat, w_sq = bc.value
        yield epoch_sums(
            kernel, (feature_matrix(b.column(0), d, dtype) for b in batches),
            w_flat, w_sq, n_cells, d)

    return parts


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
    sc = df.sparkSession.sparkContext

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
        col = feats.toArrow().column("features")
        blocks = [feature_matrix(chunk, d, som.dtype) for chunk in col.chunks]
        if own_cache:
            feats.unpersist()
        return som._train_local(blocks, num_epochs, iter_beg, iter_end,
                                verbose=verbose, info=info)

    zeros = (np.zeros(x * y), np.zeros((x * y, d)))

    def sums(w_flat, w_sq):
        bc = sc.broadcast((w_flat, w_sq))
        t1 = time.perf_counter()
        c, S = partial_sums(feats, zeros, _epoch_parts(
            bc, som._distance, x * y, d, som.dtype))
        t2 = time.perf_counter()
        bc.unpersist(blocking=False)
        return c, S, [("broadcast", t1), ("job", t2)]

    try:
        return som._epochs(sums, num_epochs, iter_beg, iter_end,
                           verbose=verbose, info=info)
    finally:
        if own_cache:
            feats.unpersist()
