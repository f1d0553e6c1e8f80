"""SparkSom — a PySpark-native batch Self-Organizing Map.

One mutable estimator+model class carrying the whole public surface,
mirroring the reference's ``XPySom`` API (/root/reference/xpysom_dask/
xpysom.py:72) so a reference user can switch with minimal edits:

* every method accepts either a **Spark DataFrame** (with an
  ``array<float>`` features column) — the distributed path, replacing the
  reference's ``use_dask=True`` — or a local ndarray/list-of-lists — the
  reference's host path (ingestion dispatch, xpysom.py:484-510).
* training is one epoch loop (``SparkSom._epochs``) over per-cell sums
  from the driver or from the MLlib-style job in ``plans.training``
  (broadcast codebook → Arrow partials → ``plans.exchange.partial_sums``),
  with the same weights either way; scoring/metrics ride
  ``plans.scoring.attach`` plus plain declarative aggregates that Catalyst
  plans (``groupBy().count()``, ``collect_list``, ``avg`` — SURVEY.md §2.5
  X16, X21-X23).

Determinism: seeded weight init is bit-identical to xpysom.py:189-190
(``RandomState(seed).rand(x,y,d)*2−1``, row-L2-normalized), so differential
tests against the reference semantics hold exactly at epoch 0.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from warnings import warn

import numpy as np

from ..functions.decays import resolve_decay
from ..functions.distances import (codebook_sq_norms, euclidean,
                                   resolve_distance)
from ..functions.neighborhoods import make_neighborhood

try:  # Spark is optional for the pure-local paths
    from pyspark.sql import DataFrame as _SparkDataFrame
except Exception:  # pragma: no cover
    _SparkDataFrame = ()


def _is_df(data) -> bool:
    return isinstance(data, _SparkDataFrame)


class SparkSom:
    """Batch SOM estimator/model over Spark DataFrames.

    Parameters follow the reference ``XPySom.__init__`` (xpysom.py:73-253)
    minus the backend knobs (``xp``/``use_dask``/``dask_chunks`` — the
    DataFrame input *is* the distributed form), plus:

    features_col : name of the ``array<float>`` column to read.
    dtype : np.float32 (reference hot-path parity, SURVEY.md §4 O10) or
        np.float64 for oracle-grade comparisons.
    n_parallel : the reference's mini-batch bound, ignored (warned): every
        kernel pass runs in grid-sized ``plans.training.kernel_map`` chunks.
    fuse_local_bytes : driver-memory guard of the fused training path
        (0 disables fusion).  ``train(DataFrame)`` fuses — collects the
        features once through Arrow and runs every epoch driver-side,
        one Spark job instead of one per epoch — when the per-epoch
        kernel work n·K·d (times the distance kernel's relative cost)
        is at most ``plans.training.FUSE_WORK_CAP`` AND the feature
        matrix is at most this many bytes.  The work cap sits at half
        the point where the driver loop, its BMU search on every driver
        core, stops beating the per-epoch job, whose floor is ~0.4-0.5 s
        (driver round trip plus Python worker set-up per task, measured
        on 4 cores): 3e9 euclidean row·cell·features, e.g. 300k × 8
        rows on a 35×35 grid.  This
        byte cap bounds what is collected to the driver (``toArrow`` of
        64 MiB takes ~0.4 s) and what stays there: when the input is a
        materialized cache, the fused fit keeps its collected blocks in
        one slot (``plans.training._features_memo``), and a later fused
        fit of the same cache, features column, input_len and dtype
        reuses them and runs no Spark job; ``unpersist()`` or a recache
        makes the next fit collect again.  ``unpersist()`` does not free
        the kept blocks: the next DataFrame fit that does not reuse them
        (any path, any input) does.  Large grids and large
        inputs stay on the distributed plan.  Both paths give the same
        weights; the choice moves only the cost.  After a DataFrame fit,
        ``training_info_`` records the path taken and why, and on the
        fused path where the features came from (``features_from``:
        ``"collect"``, with its ``collect_s``, or ``"memo"``), the
        kernel thread count, whether OpenBLAS was pinned
        to one thread, and per-epoch ``bmu_s`` / ``merge_s``.  The
        distributed epochs sum their per-partition partials through
        ``plans.exchange.partial_sums``, which merges them in buckets
        first once partitions × partial bytes pass its budget; there is
        no merge option.
    """

    def __init__(self, x, y, input_len,
                 sigma=0, sigmaN=1,
                 learning_rate=0.5, learning_rateN=0.01,
                 decay_function="exponential",
                 neighborhood_function="gaussian", std_coeff=0.5,
                 topology="rectangular",
                 activation_distance="euclidean",
                 activation_distance_kwargs=None,
                 random_seed=None, compact_support=False,
                 features_col="features", dtype=np.float32,
                 fuse_local_bytes=64 << 20,
                 n_parallel=None, xp=None, use_dask=None,
                 dask_chunks=None):
        # reference-constructor compatibility (xpysom.py:145-175): the
        # backend-selection knobs have no meaning on Spark — the array
        # backend is NumPy inside Arrow batches and distribution is the
        # DataFrame's partitioning.  Accept them so reference call
        # sites run unchanged, map what maps, and say what replaced
        # the rest rather than failing.
        if n_parallel:
            # its reference default 0 means auto (xpysom.py:242-249)
            if int(n_parallel) < 0:
                raise ValueError(
                    f"n_parallel must be >= 0 (got {n_parallel}); "
                    "0 means auto")
            warn("n_parallel ignored: kernel chunks are sized by the "
                 "grid (plans.training.CHUNK_CELLS)")
        if xp is not None:
            name = getattr(xp, "__name__", str(xp))
            if name not in ("numpy",):
                warn(f"xp={name!r} ignored: the Spark engine computes "
                     "with NumPy inside Arrow batches (GPU arrays are "
                     "out of scope; see functions.distances."
                     "manhattan_cuda for the gated CUDA kernel)")
        if use_dask:
            warn("use_dask ignored: distribution comes from the input "
                 "DataFrame's partitioning (df.repartition(n)), not a "
                 "dask flag")
        if dask_chunks is not None:
            warn("dask_chunks ignored: the analog is the DataFrame "
                 "partition count plus spark.sql.execution.arrow."
                 "maxRecordsPerBatch")
        if sigma >= x or sigma >= y:
            warn("Warning: sigma is too high for the dimension of the map.")
        if topology not in ("rectangular", "hexagonal"):
            raise ValueError(
                "%s not supported only hexagonal and rectangular available"
                % topology)

        self._x, self._y = int(x), int(y)
        self._input_len = int(input_len)
        self._sigma = min(x, y) / 2 if sigma == 0 else sigma
        self._sigmaN = sigmaN
        self._learning_rate = learning_rate
        self._learning_rateN = learning_rateN
        self._std_coeff = std_coeff
        self.compact_support = compact_support
        self.topology = topology
        self.features_col = features_col
        self.dtype = np.dtype(dtype).type
        self.fuse_local_bytes = int(fuse_local_bytes)

        self._random_generator = np.random.RandomState(random_seed)
        # bit-identical seeded init (xpysom.py:189-190)
        self._weights = self._random_generator.rand(x, y, input_len) * 2 - 1
        self._weights /= np.linalg.norm(self._weights, axis=-1, keepdims=True)

        self._neigx = np.arange(x)
        self._neigy = np.arange(y)
        self._xx, self._yy = np.meshgrid(self._neigx, self._neigy)
        self._xx = self._xx.astype(float)
        self._yy = self._yy.astype(float)
        if topology == "hexagonal":
            # odd-row horizontal offset (xpysom.py:205-206)
            self._xx[::-2] -= 0.5
            if neighborhood_function == "triangle":
                warn("triangle neighborhood function does not "
                     "take in account hexagonal topology")

        self._decay_name = decay_function
        self._decay = resolve_decay(decay_function)

        self.neighborhood_func_name = neighborhood_function
        self._influence = make_neighborhood(
            neighborhood_function, topology, x, y,
            std_coeff=std_coeff, compact_support=compact_support,
            xx=self._xx, yy=self._yy, dtype=self.dtype)

        self._activation_distance_name = activation_distance
        self._activation_distance_kwargs = dict(activation_distance_kwargs or {})
        self._distance = resolve_distance(
            activation_distance, self._activation_distance_kwargs)

        # precomputed unravel tables (xpysom.py:240)
        self._ux, self._uy = np.unravel_index(
            np.arange(x * y, dtype=np.int64), (x, y))

    # ------------------------------------------------------------------ #
    # introspection helpers (X3-X5)

    def get_weights(self):
        """The codebook, shape (x, y, input_len)."""
        return self._weights

    def get_euclidean_coordinates(self):
        """Plane meshgrids (transposed), parity xpysom.py:291-305."""
        return self._xx.T, self._yy.T

    def convert_map_to_euclidean(self, xy):
        """Map (i, j) → plane coordinates, parity xpysom.py:308-320."""
        return self._xx.T[xy], self._yy.T[xy]

    # ------------------------------------------------------------------ #
    # local matrix plumbing

    def _as_matrix(self, data, dtype=None):
        X = np.asarray(data, dtype=dtype)
        if X.ndim == 0:
            X = X[None]
        if X.ndim == 1:
            X = X[None, :]
        if X.shape[-1] != self._input_len:
            raise ValueError("Received %d features, expected %d."
                             % (X.shape[-1], self._input_len))
        return X

    def _w_flat(self):
        """The flat codebook in the model dtype, as ``transform`` has it."""
        return self._weights.astype(self.dtype, copy=False).reshape(
            -1, self._input_len)

    def _kernel_rows(self, X, fn, use_euclidean=False):
        """``plans.training.map_rows`` of ``fn`` over a local matrix in the
        model dtype: its chunks bound the (n, x·y) activation like the
        reference's ``n_parallel`` (xpysom.py:389-398, 638, 665)."""
        from ..plans.training import map_rows
        X, w_flat = np.asarray(X, dtype=self.dtype), self._w_flat()
        if use_euclidean:
            return map_rows(euclidean, X, w_flat, None, fn)
        w_sq = codebook_sq_norms(w_flat) if self._distance.can_cache else None
        return map_rows(self._distance, X, w_flat, w_sq, fn)

    def _bmu_flat(self, X, use_euclidean=False):
        return self._kernel_rows(X, lambda rows, act: act.argmin(axis=1),
                                 use_euclidean)

    # ------------------------------------------------------------------ #
    # activation / BMU (X6, X7)

    def activate(self, x):
        """Activation map (n, x·y) under the configured distance.

        NB under the default ``'euclidean'`` these are *partial* squared
        distances — argmin-comparable only (SURVEY.md §4 O1).
        """
        return self._kernel_rows(self._as_matrix(x), lambda rows, act: act)

    def winner(self, x):
        """BMU coordinates for one sample (tuple) or a batch (list of
        tuples). Local/driver computation, parity xpysom.py:370-408."""
        X = self._as_matrix(x)
        idx = self._bmu_flat(X)
        if np.asarray(x).ndim == 1:
            return (int(self._ux[idx[0]]), int(self._uy[idx[0]]))
        return [(int(a), int(b)) for a, b in zip(self._ux[idx], self._uy[idx])]

    # ------------------------------------------------------------------ #
    # training (X8-X12)

    def train(self, data, num_epochs, iter_beg=0, iter_end=None,
              verbose=False):
        """Batch-SOM training.  DataFrame → distributed epoch loop
        (plans.training); ndarray/list → local mini-batch loop mirroring
        the reference's serial path (xpysom.py:560-575)."""
        if num_epochs < 1:
            raise ValueError("num_iteration must be > 1")
        if iter_end is None:
            iter_end = num_epochs
        if _is_df(data):
            from ..plans.training import run_training
            return run_training(self, data, num_epochs, iter_beg, iter_end,
                                verbose)
        return self._train_local([self._as_matrix(data, dtype=self.dtype)],
                                 num_epochs, iter_beg, iter_end,
                                 verbose=verbose)

    #: influence row-block budget for _apply_influence: one float64
    #: block of rows × K bytes (64 MB: the whole (K, K) matrix up to a
    #: 2900-cell grid)
    influence_block_bytes = 64 * 1024 * 1024

    def _apply_influence(self, S, c, sig, eta):
        """``(num, den) = η·Gᵀ·(S, c)`` for the (x·y, x·y) neighborhood
        matrix ``G[k, c]`` = influence of a BMU at flat cell ``k`` on
        cell ``c`` — the per-epoch factorization of the batch update.

        A sample's influence row depends only on its WINNER CELL, so
        the epoch sums factor through per-cell statistics:
        ``num = Gᵀ·S`` and ``den = Gᵀ·c`` with ``S[k] = Σ x_i`` and
        ``c[k] = #{i}`` over samples whose BMU is ``k``.  The (n, x·y)
        per-sample influence tensor and its (x·y, n)·(n, d) GEMM never
        materialize — per batch only the BMU argmin and O(n·d) bincount
        scatters remain, and the neighborhood function is evaluated on
        x·y points once per epoch instead of n (the big win for the
        non-separable hexagonal kernels).

        G streams in ROW blocks of ``influence_block_bytes`` —
        ``num = Σ_b G[b]ᵀ·S[b]`` — so peak memory is O(block·K) on any
        grid (VERDICT r03 #4); one block holds all of G while
        K²·8 ≤ ``influence_block_bytes``."""
        K = self._x * self._y
        d = S.shape[1]
        rows_per_block = max(1, self.influence_block_bytes // (K * 8))
        num = np.zeros((K, d), dtype=np.float64)
        den = np.zeros(K, dtype=np.float64)
        # one float64 block buffer, filled by 64-row influence calls: a
        # block's float32 influence and its float64 copy never coexist
        block = np.empty((min(rows_per_block, K), K))
        for b in range(0, K, rows_per_block):
            e = min(b + rows_per_block, K)
            Gb = block[:e - b]
            for r in range(b, e, 64):
                Gb[r - b: r - b + 64] = self._influence(
                    self._ux[r:min(r + 64, e)], self._uy[r:min(r + 64, e)],
                    sig).reshape(-1, K)
            Gb *= eta
            num += Gb.T @ S[b:e]
            den += Gb.T @ c[b:e]
        return num, den

    def _update(self, W, S, c, sig, eta):
        """``W ← num/den`` where ``den ≠ 0`` (else unchanged) for
        ``(num, den) = η·Gᵀ·(S, c)`` (``_apply_influence``)."""
        num, den = self._apply_influence(S, c, sig, eta)
        den3 = den.reshape(self._x, self._y)[:, :, None]
        out = W.astype(np.float64)
        np.divide(num.reshape(W.shape), den3, out=out, where=den3 != 0)
        return out.astype(self.dtype, copy=False)

    def _epochs(self, sums, num_epochs, iter_beg, iter_end, verbose=False,
                info=None):
        """The epoch loop of every training path: decay η and σ, codebook
        norms, the path's ``sums(w_flat, w_sq) → (c, S, laps)``, then
        ``_update``.  ``laps`` are ``(stage, perf_counter())`` marks; the
        record in ``info["epochs"]`` has each stage's seconds, then
        ``merge_s``'s."""
        from ..plans.training import ProgressPrinter
        W = self._weights.astype(self.dtype)
        epochs = []
        if info is not None:
            info["epochs"] = epochs
        progress = ProgressPrinter(iter_end - iter_beg) if verbose else None
        for t in range(iter_beg, iter_end):
            start = time.perf_counter()
            eta = self._decay(self._learning_rate, self._learning_rateN,
                              t, num_epochs)
            sig = self._decay(self._sigma, self._sigmaN, t, num_epochs)
            w_flat = W.reshape(-1, self._input_len)
            w_sq = (codebook_sq_norms(w_flat)
                    if self._distance.can_cache else None)
            c, S, laps = sums(w_flat, w_sq)
            W = self._update(W, S, c, sig, eta)
            record = {}
            for stage, mark in laps + [("merge", time.perf_counter())]:
                record[stage + "_s"], start = mark - start, mark
            epochs.append(record)
            if progress is not None:
                progress.step(t - iter_beg, "eta=%.4f sigma=%.4f " % (
                    eta, sig) + " ".join("%s %.3fs" % (k[:-2], v)
                                         for k, v in record.items()))
        self._weights = W
        return self

    def _train_local(self, blocks, num_epochs, iter_beg, iter_end,
                     verbose=False, info=None):
        """Driver-side epochs (ndarray fits, the fused DataFrame path):
        ``epoch_sums`` of ``blocks``, a sequence of feature matrices in the
        model dtype (one ndarray, or the fused fit's Arrow chunks).
        ``info`` (the fused ``training_info_``) gets the thread count,
        whether OpenBLAS was pinned and per-epoch ``bmu_s`` / ``merge_s``."""
        from ..plans.training import blas_pinned, epoch_sums, map_threads
        threads, pinned = map_threads(), blas_pinned()
        if info is not None:
            info.update(threads=threads, blas_pinned=pinned)
        if verbose:
            print("driver loop: %d kernel thread(s), BLAS %s"
                  % (threads, "pinned to 1" if pinned else "as configured"))

        def sums(w_flat, w_sq):
            c, S = epoch_sums(self._distance, blocks, w_flat, w_sq,
                              self._x * self._y, self._input_len)
            return c, S, [("bmu", time.perf_counter())]

        return self._epochs(sums, num_epochs, iter_beg, iter_end,
                            verbose=verbose, info=info)

    def train_batch(self, data, num_iteration, verbose=False):
        """MiniSom-compat alias (xpysom.py:597-599)."""
        return self.train(data, num_iteration, verbose=verbose)

    def train_random(self, data, num_iteration, verbose=False):
        """MiniSom-compat alias; batch algorithm ⇒ no random order
        (xpysom.py:602-605)."""
        print("WARNING: due to batch SOM algorithm, random order is not "
              "supported. Falling back to train_batch.")
        return self.train(data, num_iteration, verbose=verbose)

    # ------------------------------------------------------------------ #
    # scoring (X7, X13-X15)

    def transform(self, df, outputs=("bmu_x", "bmu_y", "cluster_id"),
                  keep=None, features_col=None):
        """Append model columns to a (batch or streaming) DataFrame in one
        narrow Arrow stage. See plans.scoring for column semantics;
        ``keep`` limits which input columns pass through (None = all);
        ``features_col`` overrides the configured column for this call
        only (no shared-state mutation)."""
        from ..plans.scoring import attach
        return attach(self, df, outputs, keep=keep,
                      features_col=features_col)

    def predict(self, data):
        """Flat cluster ids. DataFrame → + ``cluster_id`` column;
        ndarray → int64 array (parity xpysom.py:608-617)."""
        if _is_df(data):
            return self.transform(data, ("cluster_id",))
        return self._bmu_flat(self._as_matrix(data))

    def quantization(self, data):
        """BMU codebook row per sample, always under full euclidean
        distance (parity xpysom.py:620-645)."""
        if _is_df(data):
            return self.transform(data, ("quantized",))
        return self._w_flat()[self._bmu_flat(self._as_matrix(data),
                                             use_euclidean=True)]

    def distance_from_weights(self, data):
        """Full (n, x·y) euclidean distance matrix (xpysom.py:647-671).
        DataFrame → ``distances array<float>`` column; only materialize
        when a downstream op needs the whole matrix."""
        if _is_df(data):
            return self.transform(data, ("distances",))
        return self._kernel_rows(self._as_matrix(data),
                                 lambda rows, dist: dist, use_euclidean=True)

    # ------------------------------------------------------------------ #
    # map-quality metrics (X16, X17)

    def quantization_error(self, data):
        """Mean L2 residual to the BMU (xpysom.py:673-707)."""
        if _is_df(data):
            from pyspark.sql import functions as F
            scored = self.transform(data, ("qe",), keep=())
            return float(scored.agg(F.avg("qe")).collect()[0][0])
        X = self._as_matrix(data, dtype=self.dtype)
        return float(np.linalg.norm(X - self.quantization(X), axis=1).mean())

    def topographic_error(self, data):
        """Share of samples whose top-2 BMUs are not adjacent
        (xpysom.py:709-746)."""
        if self._x * self._y == 1:
            warn("The topographic error is not defined for a 1-by-1 map.")
            return float("nan")
        if _is_df(data):
            from pyspark.sql import functions as F
            scored = self.transform(data, ("te_err",), keep=())
            return float(scored.agg(F.avg("te_err")).collect()[0][0])
        from ..plans.scoring import _topographic_indicator
        errs = self._kernel_rows(
            self._as_matrix(data),
            lambda rows, dist: _topographic_indicator(
                dist, self._ux, self._uy, self._xx, self._yy, self.topology),
            use_euclidean=True)
        return float(errs.mean()) if len(errs) else float("nan")

    # ------------------------------------------------------------------ #
    # map summaries (X20-X23)

    def activation_response(self, data):
        """(x, y) win-count matrix (xpysom.py:819-829). DataFrame path is
        a real Spark hash aggregate."""
        a = np.zeros((self._x, self._y))
        if _is_df(data):
            rows = (self.transform(data, ("bmu_x", "bmu_y"), keep=())
                    .groupBy("bmu_x", "bmu_y").count().collect())
            for r in rows:
                a[r["bmu_x"], r["bmu_y"]] = r["count"]
            return a
        idx = self._bmu_flat(self._as_matrix(data))
        np.add.at(a, (self._ux[idx], self._uy[idx]), 1)
        return a

    def activation_response_df(self, df):
        """Distributed variant: DataFrame (bmu_x, bmu_y, n_wins)."""
        from pyspark.sql import functions as F
        return (self.transform(df, ("bmu_x", "bmu_y"))
                .groupBy("bmu_x", "bmu_y")
                .agg(F.count(F.lit(1)).alias("n_wins")))

    def win_map(self, data):
        """dict (i,j) → list of samples (xpysom.py:831-840); DataFrame path
        is ``groupBy().collect_list`` — keep for small/medium results."""
        winmap = defaultdict(list)
        if _is_df(data):
            from pyspark.sql import functions as F
            rows = (self.transform(data, ("bmu_x", "bmu_y"))
                    .groupBy("bmu_x", "bmu_y")
                    .agg(F.collect_list(self.features_col).alias("samples"))
                    .collect())
            for r in rows:
                winmap[(r["bmu_x"], r["bmu_y"])] = [
                    np.asarray(s) for s in r["samples"]]
            return winmap
        X = self._as_matrix(data)
        for row, win in zip(X, self.winner(X)):
            winmap[win].append(row)
        return winmap

    def labels_map(self, data, labels):
        """dict (i,j) → Counter of labels (xpysom.py:842-865).  DataFrame
        path: ``labels`` is a column name; two-key hash aggregate."""
        if _is_df(data):
            from pyspark.sql import functions as F
            rows = (self.transform(data, ("bmu_x", "bmu_y"))
                    .groupBy("bmu_x", "bmu_y", labels).count().collect())
            out = defaultdict(Counter)
            for r in rows:
                out[(r["bmu_x"], r["bmu_y"])][r[labels]] = r["count"]
            return out
        X = self._as_matrix(data)
        if not len(X) == len(labels):
            raise ValueError("data and labels must have the same length.")
        out = defaultdict(Counter)
        for win, lab in zip(self.winner(X), labels):
            out[win][lab] += 1
        return out

    def labels_map_df(self, df, label_col):
        """Distributed variant: DataFrame (bmu_x, bmu_y, label, n)."""
        from pyspark.sql import functions as F
        return (self.transform(df, ("bmu_x", "bmu_y"))
                .groupBy("bmu_x", "bmu_y",
                         F.col(label_col).alias("label"))
                .agg(F.count(F.lit(1)).alias("n")))

    # ------------------------------------------------------------------ #
    # model applications (reference Classification / OutliersDetection
    # notebook workflows as operators)

    def cell_labels(self, labeled_df, label_col):
        """Majority label per codebook cell: (bmu_x, bmu_y, label, n) —
        the classification codebook of the reference's Classification
        notebook (majority vote over labels_map, examples/
        Classification.ipynb).  Deterministic tie-break: higher count,
        then smaller label.  One two-key hash aggregate + a window over
        the (x·y · #labels)-row result — nothing scales with the data.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        counts = self.labels_map_df(labeled_df, label_col)
        w = Window.partitionBy("bmu_x", "bmu_y").orderBy(
            F.col("n").desc(), F.col("label"))
        return (counts.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def classify(self, df, labeled_df, label_col, keep=None):
        """Nearest-prototype classification: label every row of ``df``
        with the majority label of its BMU cell learned from
        ``labeled_df``.  The cell-label table is x·y rows — always a
        broadcast hash join against the scored stream; rows mapping to
        a cell no training label reached get null.
        """
        from pyspark.sql import functions as F

        cl = self.cell_labels(labeled_df, label_col) \
            .select("bmu_x", "bmu_y", "label")
        scored = self.transform(df, ("bmu_x", "bmu_y"), keep=keep)
        return scored.join(F.broadcast(cl), ["bmu_x", "bmu_y"], "left")

    def anomaly_threshold(self, df, quantile=0.99, exact=True):
        """The ``quantile`` of per-row quantization error — the decision
        boundary of the reference's OutliersDetection notebook.
        ``exact=False`` switches to the mergeable percentile_approx
        sketch (the 100 TB path)."""
        from pyspark.sql import functions as F

        qe = self.transform(df, ("qe",), keep=())
        col = (F.percentile("qe", F.lit(float(quantile))) if exact
               else F.percentile_approx("qe", F.lit(float(quantile)),
                                        F.lit(10000)))
        return float(qe.agg(col).collect()[0][0])

    def anomalies(self, df, quantile=0.99, threshold=None, keep=None,
                  exact=True):
        """Rows whose quantization error exceeds the corpus ``quantile``
        (or an explicit ``threshold``) — poorly-quantized samples are
        the SOM's outliers.  Two scans when the threshold is computed
        (one aggregate, one filter), both narrow."""
        from pyspark.sql import functions as F

        if threshold is None:
            threshold = self.anomaly_threshold(df, quantile, exact=exact)
        return (self.transform(df, ("qe",), keep=keep)
                .where(F.col("qe") > F.lit(float(threshold))))

    def distance_map(self):
        """U-matrix over the codebook — driver-side, the codebook is tiny
        (xpysom.py:788-817). Hexagonal parity: neighbor offsets depend on
        column parity; columns with even j use the second offset table."""
        W = self._weights
        x, y = self._x, self._y
        if self.topology == "hexagonal":
            offs = ([(1, 1), (1, 0), (1, -1), (0, -1), (-1, 0), (0, 1)],
                    [(0, 1), (1, 0), (0, -1), (-1, -1), (-1, 0), (-1, 1)])
        else:
            rect = [(0, -1), (-1, -1), (-1, 0), (-1, 1),
                    (0, 1), (1, 1), (1, 0), (1, -1)]
            offs = (rect, rect)
        um = np.zeros((x, y))
        for i in range(x):
            for j in range(y):
                table = offs[1] if j % 2 == 0 else offs[0]
                for di, dj in table:
                    ni, nj = i + di, j + dj
                    if 0 <= ni < x and 0 <= nj < y:
                        um[i, j] += np.linalg.norm(W[i, j] - W[ni, nj])
        return um / um.max()

    # ------------------------------------------------------------------ #
    # weight initialization (X18, X19)

    def random_weights_init(self, data):
        """Overwrite each neuron with a random data row.  Local path is
        bit-faithful to xpysom.py:749-759 (sequential draws from the
        instance RNG); DataFrame path uses a seeded distributed sample."""
        if _is_df(data):
            seed = int(self._random_generator.randint(0, 2**31 - 1))
            k = self._x * self._y
            rows = (data.select(self.features_col)
                    .rdd.takeSample(True, k, seed=seed))
            for flat_i, r in enumerate(rows):
                vec = np.asarray(r[0], dtype=float)
                if vec.shape[0] != self._input_len:
                    raise ValueError("Received %d features, expected %d."
                                     % (vec.shape[0], self._input_len))
                self._weights[self._ux[flat_i], self._uy[flat_i]] = vec
            return
        X = self._as_matrix(data)
        it = np.nditer(self._weights[:, :, 0], flags=["multi_index"])
        while not it.finished:
            rand_i = self._random_generator.randint(len(X))
            self._weights[it.multi_index] = X[rand_i]
            it.iternext()

    def pca_weights_init(self, data):
        """Span the first two principal components (xpysom.py:762-785,
        including its row-indexing of the eigenvector matrix — a faithful
        MiniSom-heritage quirk).  DataFrame path computes the covariance
        distributedly (single pass of (n, Σx, ΣxxT) partials) and solves
        the tiny eig on the driver."""
        if self._input_len == 1:
            raise ValueError(
                "The data needs at least 2 features for pca initialization")
        if self._x == 1 or self._y == 1:
            warn("PCA initialization inappropriate:"
                 "One of the dimensions of the map is 1.")
        if _is_df(data):
            cov = self._distributed_covariance(data)
        else:
            X = self._as_matrix(data)
            cov = np.cov(np.transpose(X))
        pc_length, pc = np.linalg.eig(cov)
        pc_order = np.argsort(-pc_length)
        for i, c1 in enumerate(np.linspace(-1, 1, self._x)):
            for j, c2 in enumerate(np.linspace(-1, 1, self._y)):
                self._weights[i, j] = c1 * pc[pc_order[0]] + c2 * pc[pc_order[1]]

    def _distributed_covariance(self, df):
        from ..plans.exchange import feature_covariance
        return feature_covariance(df.select(self.features_col),
                                  self._input_len)[1]

    # ------------------------------------------------------------------ #
    # persistence (X24, S7)

    def save(self, path):
        """Persist params + weights (npz + json side file)."""
        np.savez(path if path.endswith(".npz") else path + ".npz",
                 weights=self._weights)
        base = path[:-4] if path.endswith(".npz") else path
        with open(base + ".json", "w") as f:
            f.write(self._param_json())

    @classmethod
    def load(cls, path):
        base = path[:-4] if path.endswith(".npz") else path
        with open(base + ".json") as f:
            params = json.load(f)
        dtype = np.dtype(params.pop("dtype"))
        som = cls(dtype=dtype, **params)
        npz = np.load(base + ".npz")
        som._weights = npz["weights"]
        return som

    def _param_json(self) -> str:
        return json.dumps({
            "x": self._x, "y": self._y, "input_len": self._input_len,
            "sigma": self._sigma, "sigmaN": self._sigmaN,
            "learning_rate": self._learning_rate,
            "learning_rateN": self._learning_rateN,
            "decay_function": self._decay_name,
            "neighborhood_function": self.neighborhood_func_name,
            "std_coeff": self._std_coeff,
            "topology": self.topology,
            "activation_distance": self._activation_distance_name,
            "activation_distance_kwargs": self._activation_distance_kwargs,
            "compact_support": self.compact_support,
            "features_col": self.features_col,
            "dtype": np.dtype(self.dtype).name,
        })

    def save_table(self, spark, path: str, mode: str = "overwrite"):
        """Persist the model as a parquet table — the cluster-native
        exchange format (npz ``save`` needs a shared driver filesystem;
        a parquet path works on any storage Spark can reach: object
        stores, HDFS, ...).  One row per codebook cell
        ``(i, j, weights array, params json)``; the params ride every
        row so the table is self-describing without a side file."""
        from ..plans.exchange import local_frame
        K = self._x * self._y
        cells = local_frame(
            spark, [self._ux, self._uy,
                    list(self._weights.reshape(K, -1).astype(np.float64)),
                    [self._param_json()] * K],
            "i int, j int, weights array<double>, params string")
        cells.coalesce(1).write.mode(mode).parquet(path)

    @classmethod
    def load_table(cls, spark, path: str):
        """Rebuild a model from ``save_table`` output."""
        rows = spark.read.parquet(path).collect()
        if not rows:
            raise ValueError(f"empty model table at {path}")
        params = json.loads(rows[0]["params"])
        dtype = np.dtype(params.pop("dtype"))
        som = cls(dtype=dtype, **params)
        # a partially-written or filtered table would otherwise fill an
        # np.empty buffer with whatever cells exist and silently leave
        # the rest as uninitialized memory
        n_cells = som._x * som._y
        cells = {(r["i"], r["j"]) for r in rows}
        if len(rows) != n_cells or len(cells) != n_cells:
            raise ValueError(
                f"model table at {path} is not a complete codebook: "
                f"{len(rows)} rows covering {len(cells)} distinct (i, j) "
                f"cells, expected exactly {n_cells} ({som._x}x{som._y}) — "
                "the table was partially written, filtered, or duplicated")
        W = np.empty((som._x, som._y, som._input_len), dtype=dtype)
        for r in rows:
            W[r["i"], r["j"]] = np.asarray(r["weights"], dtype=dtype)
        som._weights = W
        return som

    def __getstate__(self):
        """Pickle support: drop the rebuildable closures, keep names —
        same contract as xpysom.py:868-892."""
        state = self.__dict__.copy()
        del state["_influence"]
        del state["_distance"]
        del state["_decay"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._decay = resolve_decay(self._decay_name)
        self._influence = make_neighborhood(
            self.neighborhood_func_name, self.topology, self._x, self._y,
            std_coeff=self._std_coeff, compact_support=self.compact_support,
            xx=self._xx, yy=self._yy, dtype=self.dtype)
        self._distance = resolve_distance(
            self._activation_distance_name, self._activation_distance_kwargs)
