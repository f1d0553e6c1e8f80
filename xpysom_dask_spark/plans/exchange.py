"""Arrow-batch exchange helpers shared by all UDF-kernel stages.

Spark ships ``array<float>`` feature columns to Python as Arrow
``ListArray`` batches.  ``feature_matrix`` turns one into a dense
``(n, d)`` matrix without per-row Python loops (offset-checked reshape of
the flat child buffer) — this is the n_parallel/mini-batch analog of the
reference (xpysom.py:45, 560-575): one Arrow batch = one mini-batch, sized
by ``spark.sql.execution.arrow.maxRecordsPerBatch``.

``ship_package`` makes this package importable on executors regardless of
how the SparkSession was created (it zips the source tree and registers it
via ``sc.addPyFile`` once per session) so UDF closures can be pickled by
reference.

``partial_sums`` is the one job of every fit merged on the driver (SOM
epochs, k-means and PQ Lloyd steps, covariance, the hashed logistic
regression): commutative partial sums per task, one row of blobs each,
summed on the driver — PAPER.md §1.1's epoch accumulators.
"""

from __future__ import annotations

import math
import os
import tempfile
import zipfile

import numpy as np
import pyarrow as pa

_SHIPPED_SESSIONS: set[str] = set()


def ship_package(spark) -> None:
    """Zip this package and addPyFile it so executors can unpickle our
    closures, even in sessions we did not configure. Idempotent per
    SparkContext: keyed on applicationId (stable and unique per context
    lifetime — ``id()`` of the context object can be reused by a later
    context after GC and would skip the ship), and the applicationId in
    the zip name means a fresh context in the same process re-zips
    current sources."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}-{key}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        # Session may disallow addPyFile (e.g. Connect); executors must then
        # already have the package on PYTHONPATH.
        pass
    _SHIPPED_SESSIONS.add(key)


def ensure_min_parallelism(df, min_parts: int | None = None):
    """Repartition tiny scans up to the cluster's parallelism.

    File-based partitioning follows bytes (``maxPartitionBytes``), so a
    small-but-CPU-expensive table (e.g. a documents table feeding
    tokenize/explode/hash chains) can arrive as ONE split and serialize
    the whole pipeline on one core.  No-op when the scan already has
    enough splits — at real scale the input is many splits and this
    adds nothing.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fetch_if_small(df, cap: int) -> pa.Table | None:
    """``df`` as a ``pa.Table`` when it has at most ``cap`` rows, else
    ``None`` — ONE ``limit(cap + 1).toArrow()`` action instead of a
    ``count()`` job followed by a Row ``collect()``.

    Meant for a relation that is already checkpointed: an over-cap
    answer then costs a rescan of at most ``cap + 1`` stored rows, and
    the caller's distributed fallback reuses the same blocks.
    """
    if cap < 0:
        return None
    # limit() takes a Java int; no driver holds 2³¹ fused rows anyway
    table = df.limit(min(cap, 2**31 - 2) + 1).toArrow()
    return None if table.num_rows > cap else table


def local_frame(spark, columns, schema: str):
    """A DataFrame over driver-computed ``columns`` (one sequence per
    field of the DDL ``schema``), built from a ``pa.Table``.

    The Arrow path yields a ``LocalRelation`` with known size
    statistics, so a join against it can plan as a broadcast hash join
    over ``LocalTableScan``.  ``createDataFrame(<list of tuples>)``
    instead goes through ``parallelize``: its ``Scan ExistingRDD`` has
    no statistics (joins plan as two-shuffle sort-merge) and every
    action over it runs Python-worker tasks.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, struct)


def feature_matrix(col: pa.Array, expected_len: int, dtype=np.float32) -> np.ndarray:
    """Convert an Arrow list<numeric> array to a dense ``(n, d)`` ndarray.

    Fails fast with the reference's width error message when any row width
    differs from ``expected_len`` (parity: xpysom.py:361-367).  Zero-copy
    when offsets are uniform and the child type already matches ``dtype``.
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, expected_len), dtype=dtype)
    if isinstance(col, pa.FixedSizeListArray):
        width = col.type.list_size
        if width != expected_len:
            raise ValueError(
                "Received %d features, expected %d." % (width, expected_len)
            )
        flat = col.flatten()
        return np.asarray(flat, dtype=dtype).reshape(n, width)
    offsets = np.asarray(col.offsets)
    widths = np.diff(offsets)
    if not np.all(widths == expected_len):
        bad = int(widths[widths != expected_len][0])
        raise ValueError(
            "Received %d features, expected %d." % (bad, expected_len)
        )
    flat = np.asarray(col.values, dtype=dtype)
    # offsets may not start at 0 when the array is a slice
    start = int(offsets[0])
    return flat[start : start + n * expected_len].reshape(n, expected_len)


def matrix_to_list_array(mat: np.ndarray, value_type=pa.float32()) -> pa.ListArray:
    """Dense ``(n, d)`` ndarray → Arrow list array (for array<float> output
    columns) without per-row Python objects."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    values = pa.array(np.ascontiguousarray(mat).ravel(), type=value_type)
    return pa.ListArray.from_arrays(offsets, values)


#: ``partial_sums`` collects one partial per partition while partitions ×
#: partial bytes stay at most this; beyond it the partials first merge in
#: ⌈√P⌉ bucketed groups, so the driver never holds O(P) of them.
TREE_MERGE_BYTES = 64 << 20


def _zeros(spec):
    return [np.zeros(shape, dtype) for shape, dtype in spec]


def _add_blobs(acc, rows):
    """Add each row's blobs, one per array of ``acc``, into ``acc``."""
    for blobs in rows:
        for a, blob in zip(acc, blobs):
            a += np.frombuffer(blob, a.dtype).reshape(a.shape)
    return acc


def _task_fold(spec, parts):
    """The ``mapInArrow`` function of ``partial_sums``: the partial
    tuples ``parts`` computes from the task's Arrow batches, added into
    zeros of ``spec`` ((shape, dtype) per array) and emitted as one row
    ``(pid, p0, p1, ...)`` of blobs."""

    def fn(batches):
        from pyspark import TaskContext

        acc = _zeros(spec)
        for part in parts(batches):
            for a, p in zip(acc, part):
                a += p
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32())]
            + [pa.array([a.tobytes()], pa.binary()) for a in acc],
            ["pid"] + [f"p{i}" for i in range(len(acc))])

    return fn


def partial_sums(df, zeros, parts):
    """One Spark job over ``df`` that returns a fit's partial sums,
    summed on the driver into arrays shaped like ``zeros`` (a tuple of
    float64 or int64 arrays).

    ``parts(batches)`` maps a task's Arrow batches of ``df`` to partial
    tuples shaped like ``zeros`` — one per block, or one for the whole
    task.  Each task adds them into one set of accumulators and emits
    them as one row of blobs.  When partitions × blob bytes exceed
    ``TREE_MERGE_BYTES`` the rows first merge in ⌈√P⌉ groups of
    consecutive partitions (``groupBy().applyInPandas``).  Every merge
    adds in partition order, so the result is a function of the
    partitioning alone; integer sums, and float sums of values on a
    coarse enough grid, are the same bits either way.
    """
    ship_package(df.sparkSession)
    spec = [(z.shape, z.dtype) for z in zeros]
    names = [f"p{i}" for i in range(len(spec))]
    schema = "pid int, " + ", ".join(f"{n} binary" for n in names)
    rows = df.mapInArrow(_task_fold(spec, parts), schema)
    n_parts = df.rdd.getNumPartitions()
    if n_parts * sum(z.nbytes for z in zeros) > TREE_MERGE_BYTES:
        groups = math.isqrt(n_parts - 1) + 1          # ⌈√P⌉
        per = -(-n_parts // groups)

        def merge(pdf):
            import pandas as pd

            pdf = pdf.sort_values("pid")
            acc = _add_blobs(_zeros(spec), zip(*(pdf[n] for n in names)))
            return pd.DataFrame({"pid": [int(pdf["pid"].iloc[0])],
                                 **{n: [a.tobytes()]
                                    for n, a in zip(names, acc)}})

        from pyspark.sql import functions as F
        rows = (rows.withColumn("bucket", F.expr(f"pid div {per}"))
                .groupBy("bucket").applyInPandas(merge, schema))
    collected = sorted(rows.collect(), key=lambda r: r["pid"])
    acc = _add_blobs(_zeros(spec),
                     (tuple(r[n] for n in names) for r in collected))
    return tuple(acc)


def feature_covariance(df, d):
    """``(mean, cov)`` of the ``d``-wide rows of ``df``'s first column
    (array<float> or array<double>): one ``partial_sums`` job over
    per-batch moments (n, Σx, ΣxxT) in float64, then the sample
    covariance ``(ΣxxT − n·x̄x̄ᵀ)/(n − 1)`` on the driver.  Driver traffic
    is O(partitions · d²) whatever the row count."""

    def parts(batches):
        for b in batches:
            X = feature_matrix(b.column(0), d, np.float64)
            yield len(X), X.sum(axis=0), X.T @ X

    n, sx, sxx = partial_sums(
        df, (np.zeros((), np.int64), np.zeros(d), np.zeros((d, d))), parts)
    n = int(n)
    if n < 2:
        raise ValueError(f"covariance needs >= 2 rows, got {n}")
    mean = sx / n
    return mean, (sxx - n * np.outer(mean, mean)) / (n - 1)
