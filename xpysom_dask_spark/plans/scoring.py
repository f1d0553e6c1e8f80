"""Stateless SOM scoring stages (narrow, shuffle-free).

``attach`` appends model-derived columns to any DataFrame in a single
``mapInArrow`` pass with the codebook broadcast once — the Spark home of
the reference's winner/predict/quantization family (SURVEY.md §3.2):
no shuffle, no driver loop, works identically on batch and streaming
DataFrames.

Column semantics (parity with /root/reference/xpysom_dask/xpysom.py):

* ``bmu_x, bmu_y, cluster_id`` — BMU under the *configured* activation
  distance (xpysom.py:370-417); ``cluster_id = bmu_x·y + bmu_y`` matches
  ``ravel_multi_index`` in predict (xpysom.py:608-617).
* ``quantized, qe`` — codebook row / L2 residual of the BMU under the
  **full euclidean** distance, regardless of the configured activation
  distance, exactly like ``_quantization`` (xpysom.py:632-645, which always
  measures with ``euclidean_distance``).
* ``te_err`` — 0/1 topographic-error indicator from the top-2 euclidean
  BMUs (xpysom.py:709-746).  The hexagonal branch looks the BMU pair up in
  the *untransposed* plane grids, faithfully mirroring xpysom.py:742-743
  (which indexes ``_xx[bx, by]`` while every other accessor uses
  ``_xx.T`` — a reference quirk noted in SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..functions.distances import codebook_sq_norms, euclidean
from .exchange import feature_matrix, matrix_to_list_array, ship_package
from .training import bmu_indices, map_rows

#: output column name → (Spark DDL type, Arrow type)
OUTPUT_TYPES = {
    "bmu_x": ("int", pa.int32()),
    "bmu_y": ("int", pa.int32()),
    "cluster_id": ("bigint", pa.int64()),
    "quantized": ("array<float>", pa.list_(pa.float32())),
    "qe": ("double", pa.float64()),
    "te_err": ("double", pa.float64()),
    "distances": ("array<float>", pa.list_(pa.float32())),
}

_NEEDS_ACT = {"bmu_x", "bmu_y", "cluster_id"}


def attach(som, df, outputs=("bmu_x", "bmu_y", "cluster_id"), keep=None,
           features_col=None):
    """Return ``df`` with the requested model columns appended.

    ``keep`` selects which input columns pass through (None = all).  A
    metric that only needs its own output (e.g. a global QE average)
    should pass ``keep=()`` so input columns don't round-trip through
    Arrow: the stage then reads just the features column and emits just
    the metric column.

    ``features_col`` overrides ``som.features_col`` for this call only —
    callers scoring an ad-hoc column (e.g. som_ivf_topk binding an
    embedding column) pass it here instead of mutating shared model
    state, which would race with concurrent transforms.
    """
    feat_col = features_col or som.features_col
    unknown = [o for o in outputs if o not in OUTPUT_TYPES]
    if unknown:
        raise ValueError(f"unknown outputs {unknown}; available: {list(OUTPUT_TYPES)}")
    if keep is not None:
        wanted = list(dict.fromkeys(list(keep) + [feat_col]))
        df = df.select(*wanted)
        drop_feats = feat_col not in keep
    else:
        drop_feats = False
    spark = df.sparkSession
    ship_package(spark)

    x, y, d = som._weights.shape
    w_flat = som._weights.astype(som.dtype).reshape(-1, d)
    w_sq = codebook_sq_norms(w_flat) if som._distance.can_cache else None
    bc = spark.sparkContext.broadcast((w_flat, w_sq))

    kernel = som._distance
    ux, uy = som._ux, som._uy
    dtype = som.dtype
    topology = som.topology
    xx, yy = som._xx, som._yy
    feat_name = feat_col
    outputs = tuple(outputs)
    need_act = any(o in _NEEDS_ACT for o in outputs)
    # per-chunk reads of the euclidean distance matrix: one kernel pass
    # gives the euclidean BMU (quantized, qe), distances and te_err
    dist_parts = {}
    if "quantized" in outputs or "qe" in outputs:
        dist_parts["eidx"] = lambda dist: dist.argmin(axis=1)
    if "distances" in outputs:
        dist_parts["distances"] = lambda dist: dist.astype(np.float32)
    if "te_err" in outputs:
        dist_parts["te_err"] = lambda dist: _topographic_indicator(
            dist, ux, uy, xx, yy, topology)

    from pyspark.sql.types import StructType, _parse_datatype_string

    keep_fields = [f for f in df.schema.fields
                   if not (drop_feats and f.name == feat_name)]
    keep_names = [f.name for f in keep_fields]
    out_schema = StructType(list(keep_fields))
    for o in outputs:
        out_schema = out_schema.add(o, _parse_datatype_string(OUTPUT_TYPES[o][0]))

    def fn(batches):
        wf, wsq = bc.value
        for batch in batches:
            names = batch.schema.names
            X = feature_matrix(batch.column(names.index(feat_name)), d, dtype)
            cols = {}
            if need_act:
                idx = bmu_indices(kernel, X, wf, wsq)
                cols["bmu_x"] = pa.array(ux[idx].astype(np.int32), pa.int32())
                cols["bmu_y"] = pa.array(uy[idx].astype(np.int32), pa.int32())
                cols["cluster_id"] = pa.array(idx, pa.int64())
            got = dict(zip(dist_parts, map_rows(
                euclidean, X, wf, None, lambda rows, dist: tuple(
                    f(dist) for f in dist_parts.values())))) \
                if dist_parts else {}
            if "quantized" in outputs:
                cols["quantized"] = matrix_to_list_array(
                    wf[got["eidx"]].astype(np.float32))
            if "qe" in outputs:
                cols["qe"] = pa.array(
                    np.linalg.norm(X - wf[got["eidx"]], axis=1).astype(
                        np.float64), pa.float64())
            if "distances" in outputs:
                cols["distances"] = matrix_to_list_array(got["distances"])
            if "te_err" in outputs:
                cols["te_err"] = pa.array(got["te_err"], pa.float64())
            kept_idx = [i for i, nm in enumerate(batch.schema.names)
                        if nm in keep_names]
            arrays = ([batch.column(i) for i in kept_idx]
                      + [cols[o] for o in outputs])
            fields = ([batch.schema.field(i) for i in kept_idx]
                      + [pa.field(o, OUTPUT_TYPES[o][1]) for o in outputs])
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    return df.mapInArrow(fn, out_schema)


def _topographic_indicator(dist, ux, uy, xx, yy, topology):
    """Per-row 0/1 error: are the two best euclidean BMUs non-adjacent?
    Parity: xpysom.py:731-746 (adjacency is symmetric in the BMU pair, so
    the unordered argpartition top-2 is sufficient)."""
    n, m = dist.shape
    if n == 0:
        return np.empty(0, np.float64)
    if m < 2:
        return np.full(n, np.nan)
    top2 = np.argpartition(dist, 1, axis=1)[:, :2]
    bx, by = ux[top2], uy[top2]
    if topology == "rectangular":
        bad = (np.abs(np.diff(bx, axis=1)) > 1) | (np.abs(np.diff(by, axis=1)) > 1)
        return bad.ravel().astype(np.float64)
    # hexagonal: plane distance between the two BMUs, untransposed lookup
    # (reference quirk, xpysom.py:742-743).  The quirk is only
    # well-defined on square maps (xx has shape (y, x)); on non-square
    # maps the reference raises IndexError, so we use the transposed
    # (consistent-with-every-other-accessor) lookup there instead.
    if xx.shape[0] == xx.shape[1]:
        px = xx[bx, by]
        py = yy[bx, by]
    else:
        px = xx.T[bx, by]
        py = yy.T[bx, by]
    dd = np.hypot(np.diff(px, axis=1), np.diff(py, axis=1))
    return (dd.ravel() > 1.5).astype(np.float64)
