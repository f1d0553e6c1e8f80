"""Product quantization (Jégou, Douze, Schmid — "Product Quantization
for Nearest Neighbor Search", IEEE TPAMI 2011): the memory-bound ANN
path the int8/binary signatures can't reach.

A 64-dim float32 vector is 256 B; its PQ code at m=8 sub-quantizers of
k=256 codewords is 8 B — a 32× compression under which a 1e11-row
corpus' vectors fit in ~1 TB of executor memory, and query scoring
becomes m table lookups + an integer/float add per candidate instead of
a dim-wide float GEMM.  This is FAISS's `PQx` / ScaNN's AH layer; here
it is expressed Spark-first:

* **fit** (:func:`pq_fit`) — the m sub-space KMeans problems share ONE
  Arrow pass per Lloyd iteration: the kernel reshapes each batch to
  (n, m, dsub), computes all m argmins against the broadcast
  (m, k, dsub) codebook, and sums (count, Σx) per (sub, cluster) with
  ``bmu_cell_sums`` — one (m, k) + (m, k, dsub) partial per task,
  summed on the driver by ``plans.exchange.partial_sums``, the job of
  the SOM epoch (plans/training.py) and :func:`~.clustering.kmeans_fit`.
  The corpus never shuffles; driver state is (m·k·dsub) doubles.
* **encode** (:func:`pq_encode`) — broadcast codebook, one narrow
  mapInPandas pass → `codes array<int>` (+ optional reconstruction
  error).  No shuffle: at 100 TB this is a scan-speed re-writing of
  the corpus into its compressed serving form.
* **search** (:func:`pq_adc_topk`) — asymmetric distance computation:
  per query a (m, k) lookup table of exact sub-space distances to every
  codeword broadcasts (KBs), each batch scores candidates by summing m
  LUT entries per code, prunes to a per-batch top-k with a
  (dist, neighbor_id) lexsort tie-break, and a final window takes the
  exact global top-k over batches·k·|Q| candidate rows — the
  :func:`~.embeddings.hamming_topk` plan shape with a LUT-gather kernel.

Determinism contract (the engine-wide reproducibility idiom): all
sub-space distances accumulate coordinate-by-coordinate in float64 —
the same left-fold order an external SQL engine uses — so fits, codes,
and (with ``lut_scale``, which floors the LUT into integer units so
candidate sums are order-free) ADC rankings are bit-reproducible on
any partitioning and replayable row-for-row by the DuckDB oracle.

No reference counterpart (xpysom-dask has no vector-compression ops);
beyond-reference pipeline surface, same family as
:mod:`~.embeddings`/:mod:`~.similarity`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_matrix(col) -> np.ndarray:
    return np.stack([np.asarray(v, np.float64) for v in col])


def _seq_sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) × (k, d) → (n, k) squared-L2, accumulated one coordinate
    at a time in float64.  numpy's blocked/pairwise `sum` is faster but
    order-dependent; a sequential left fold is what SQL engines do, so
    this is the kernel that makes codes/LUTs bit-identical across
    engines and partitionings.  d here is dsub (4-16): the explicit
    loop costs nothing against the (n, k) broadcasting it drives."""
    out = np.zeros((X.shape[0], C.shape[0]), np.float64)
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        out += diff * diff
    return out


def _check_geometry(dim: int, m: int) -> int:
    if dim % m:
        raise ValueError(f"pq: dim={dim} not divisible by m={m} "
                         "sub-quantizers")
    return dim // m


def pq_init(df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id", m: int = 8,
            k: int = 16) -> np.ndarray:
    """Deterministic (m, k, dsub) seed codebook: the k corpus rows with
    the smallest ``md5(id)`` (the content-addressed draw every sampler
    here uses — reproducible on any partitioning), sliced into the m
    sub-vectors.  TakeOrderedAndProject, not a global sort."""
    rows = (df.select(F.col(vec_col).alias("v"),
                      F.md5(F.col(id_col).cast("string")).alias("h"))
            .orderBy("h").limit(int(k)).collect())
    if len(rows) < k:
        raise ValueError(f"pq_init: need {k} rows, corpus has "
                         f"{len(rows)}")
    M = _as_matrix([r["v"] for r in rows])          # (k, dim)
    dsub = _check_geometry(M.shape[1], m)
    return M.reshape(k, m, dsub).transpose(1, 0, 2).copy()


def pq_fit(df: DataFrame, vec_col: str = "embedding",
           id_col: str = "vec_id", m: int = 8, k: int = 16,
           max_iter: int = 10, tol: float = 1e-6,
           init: np.ndarray | None = None) -> np.ndarray:
    """Fit the (m, k, dsub) codebook: m independent sub-space Lloyd
    fits sharing one Arrow pass per iteration.

    Empty clusters keep their previous codeword (the standard batch
    rule); stops after ``max_iter`` steps or when the max codeword
    shift² ≤ ``tol``.  Broadcast bound: m·k·dsub·8 B — ~131 KB at the
    FAISS-standard m=8, k=256, dim=64."""
    from pyspark.storagelevel import StorageLevel

    from ..plans.exchange import feature_matrix, partial_sums
    from ..plans.training import bmu_cell_sums

    sc = df.sparkSession.sparkContext
    C = pq_init(df, vec_col, id_col, m, k) if init is None \
        else np.asarray(init, np.float64)
    m, k, dsub = C.shape

    def make_parts(bc):
        def parts(batches):
            Cb = bc.value                      # (m, k, dsub)
            for b in batches:
                X = feature_matrix(b.column(0), m * dsub, np.float64) \
                    .reshape(-1, m, dsub)
                cnt, S = np.empty((m, k)), np.empty((m, k, dsub))
                for s in range(m):
                    a = _seq_sq_dists(X[:, s, :], Cb[s]).argmin(axis=1)
                    cnt[s], S[s] = bmu_cell_sums(X[:, s, :], a, k)
                yield cnt, S
        return parts

    zeros = (np.zeros((m, k)), np.zeros_like(C))
    feats = df.select(F.col(vec_col).alias("v")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for _ in range(int(max_iter)):
            bc = sc.broadcast(C)
            cnt, S = partial_sums(feats, zeros, make_parts(bc))
            bc.unpersist(blocking=False)
            nz = cnt > 0
            new = C.copy()
            new[nz] = S[nz] / cnt[nz][:, None]
            shift = float(((new - C) ** 2).sum(axis=2).max())
            C = new
            if shift <= tol:
                break
    finally:
        feats.unpersist()
    return C


def pq_encode(df: DataFrame, codebook: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id",
              codes_col: str = "codes", err_col: str | None = None,
              err_int_scale: int | None = None,
              keep: list[str] | None = None) -> DataFrame:
    """Encode every vector to its (m,) nearest-codeword indices:
    (id, codes array<int>[, err][, keep...]).

    One narrow Arrow pass over the broadcast codebook, no shuffle.
    Ties → lowest codeword index.  With ``err_col`` the per-row
    reconstruction error Σ_s min‖x_s−c‖² rides along; with
    ``err_int_scale`` it is emitted as a BIGINT in 1/scale units
    (each sub-space error floored independently, then summed — an
    order-free integer total, so the column is bit-reproducible across
    engines and partitionings, the gate/oracle contract)."""
    import pandas as pd

    from ..plans.exchange import ship_package

    spark = df.sparkSession
    ship_package(spark)
    C = np.asarray(codebook, np.float64)
    m, k, dsub = C.shape
    bc = spark.sparkContext.broadcast(C)
    keep = list(keep or [])

    def fn(batches):
        Cb = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _as_matrix(pdf["v"]).reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), np.int32)
            errs = np.zeros(len(pdf), np.float64)
            ierrs = np.zeros(len(pdf), np.int64)
            for s in range(m):
                d = _seq_sq_dists(X[:, s, :], Cb[s])
                a = d.argmin(axis=1)           # ties → lowest index
                codes[:, s] = a
                best = d[np.arange(len(a)), a]
                if err_int_scale:
                    ierrs += np.floor(
                        best * err_int_scale + 0.5).astype(np.int64)
                else:
                    errs += best
            out = {"id": pdf["id"].to_numpy(np.int64),
                   codes_col: list(codes)}
            if err_col:
                out[err_col] = ierrs if err_int_scale else errs
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = f"id bigint, {codes_col} array<int>"
    if err_col:
        schema += f", {err_col} " + ("bigint" if err_int_scale
                                     else "double")
    if keep:
        sub = df.select(*keep).schema
        schema += ", " + ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in sub)
    out = df.select(F.col(id_col).alias("id"),
                    F.col(vec_col).alias("v"), *keep) \
        .mapInPandas(fn, schema)
    return out.withColumnRenamed("id", id_col)


def pq_lut(codebook: np.ndarray, Q: np.ndarray,
           lut_scale: int | None = None) -> np.ndarray:
    """Per-query ADC lookup tables: (nq, m, k) of exact sub-space
    distances ‖q_s − c‖² (float64), or floor(·scale + 0.5) int64 when
    ``lut_scale`` is set (integer LUTs make candidate sums order-free,
    hence rankings reproducible across engines)."""
    C = np.asarray(codebook, np.float64)
    m, k, dsub = C.shape
    Q = np.asarray(Q, np.float64).reshape(len(Q), m, dsub)
    lut = np.empty((len(Q), m, k), np.float64)
    for s in range(m):
        lut[:, s, :] = _seq_sq_dists(Q[:, s, :], C[s])
    if lut_scale:
        return np.floor(lut * lut_scale + 0.5).astype(np.int64)
    return lut


def ivfpq_residuals(corpus: DataFrame, coarse: np.ndarray,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    out_col: str = "res") -> DataFrame:
    """(id, res array<double>): each vector's residual against its
    nearest coarse centroid — the training input for an IVF-PQ
    codebook (:func:`pq_fit` on this column beats a raw-vector book at
    equal bits: residuals center near zero, so the sub-space spread
    the codewords must cover is the within-cell spread, not the whole
    corpus').  One broadcast Arrow pass, no shuffle; coarse assignment
    uses the sequential fold (same cells as :func:`build_ivfpq_index`)."""
    import pandas as pd

    from ..plans.exchange import ship_package

    spark = corpus.sparkSession
    ship_package(spark)
    Cc = np.asarray(coarse, np.float64)
    bc = spark.sparkContext.broadcast(Cc)

    def fn(batches):
        Cc_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _as_matrix(pdf["v"])
            cell = _seq_sq_dists(X, Cc_).argmin(axis=1)
            R = X - Cc_[cell]
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(np.int64),
                out_col: list(R),
            })

    return corpus.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("v")) \
        .mapInPandas(fn, f"id bigint, {out_col} array<double>") \
        .withColumnRenamed("id", id_col)


def build_ivfpq_index(coarse: np.ndarray, codebook: np.ndarray,
                      corpus: DataFrame, path: str,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      mode: str = "overwrite",
                      pack: bool = False) -> None:
    """Materialize an IVF-PQ index (FAISS `IVFx,PQy` — THE serving
    layout for corpus-scale ANN): every vector coarse-assigned to its
    nearest cell, the RESIDUAL x − centroid(cell) PQ-encoded, and
    (id, codes) written partitioned by ``cell``.

    One Arrow pass does assign + residual + encode together — no
    shuffle, no join; the only exchange is the partitioned write's
    file routing.  At 100 TB: the index is codes-only (m bytes + id
    per row — 32× smaller reads than raw vectors), probed cells prune
    at PLAN time via the directory layout, and scoring never touches a
    float vector.  Residual encoding beats raw-vector PQ at equal
    bits because residuals are centered near zero (tighter sub-space
    spread → lower quantization error) — the reason IVFPQ composes
    these two quantizers rather than either alone.

    Coarse assignment accumulates the full-dim distance
    coordinate-sequentially (:func:`_seq_sq_dists`) — same fold as the
    SQL oracle's replay, so cell membership is engine- and
    partitioning-exact (the determinism contract; a GEMM argmin would
    drift on near-equidistant cells).

    ``pack=True`` stores codes as an m-byte ``binary`` column instead
    of ``array<int>`` (requires k ≤ 256) — the FAISS on-disk form: at
    m=8 that is 8 B of codes + 8 B of id per row, ~100× smaller than
    the raw float32 vectors, which is what makes a 1e11-row index fit
    a cluster's disks.  :func:`ivfpq_topk` detects either schema."""
    import pandas as pd

    from ..plans.exchange import ship_package
    from ..sources.writers import write_partitioned

    spark = corpus.sparkSession
    ship_package(spark)
    Cc = np.asarray(coarse, np.float64)
    B = np.asarray(codebook, np.float64)
    m, k, dsub = B.shape
    if Cc.shape[1] != m * dsub:
        raise ValueError(f"ivfpq: coarse dim {Cc.shape[1]} != "
                         f"codebook dim {m * dsub}")
    if pack and k > 256:
        raise ValueError(f"ivfpq: pack=True needs k <= 256 codewords "
                         f"per sub-quantizer, got k={k}")
    bc = spark.sparkContext.broadcast((Cc, B))

    def fn(batches):
        Cc_, B_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _as_matrix(pdf["v"])
            cell = _seq_sq_dists(X, Cc_).argmin(axis=1)
            R = (X - Cc_[cell]).reshape(len(X), m, dsub)
            codes = np.empty((len(X), m), np.int32)
            for s in range(m):
                codes[:, s] = _seq_sq_dists(R[:, s, :], B_[s]) \
                    .argmin(axis=1)
            out = {"id": pdf["id"].to_numpy(np.int64),
                   "cell": cell.astype(np.int32)}
            if pack:
                u8 = codes.astype(np.uint8)
                out["codes"] = [row.tobytes() for row in u8]
            else:
                out["codes"] = list(codes)
            yield pd.DataFrame(out)

    ctype = "binary" if pack else "array<int>"
    out = corpus.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v")) \
        .mapInPandas(fn, f"id bigint, cell int, codes {ctype}") \
        .withColumnRenamed("id", id_col)
    write_partitioned(out, path, "cell", mode=mode)


def ivfpq_topk(spark, path: str, coarse: np.ndarray,
               codebook: np.ndarray, queries: DataFrame, k: int = 5,
               nprobe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding",
               lut_scale: int | None = None,
               exclude_self: bool = True) -> DataFrame:
    """ANN against a :func:`build_ivfpq_index` table:
    (query_id, rank, neighbor_id, dist) under approximate squared L2.

    Per (query, probed cell) one (m, k) residual LUT
    ‖(q − centroid)_s − codeword‖² is built driver-side and broadcast
    (nq·nprobe·m·k doubles — KBs); the scan prunes to probed cells at
    plan time (directory PartitionFilters — unprobed cells never
    open), a broadcast equi-join attaches (query_id, cell) probe rows,
    and the kernel scores each candidate with m integer/float lookups
    off its codes — no vector is ever read or reconstructed.  Final
    exact top-k window with the engine-wide (dist, neighbor_id)
    tie-break.  With ``nprobe = n_cells`` the result is exactly
    :func:`pq_adc_topk` over the residual codes (the oracle-checkable
    full-probe configuration); with ``lut_scale`` distances are
    order-free integers, bit-reproducible and SQL-replayable."""
    import pandas as pd

    from ..plans.exchange import ship_package

    ship_package(spark)
    Cc = np.asarray(coarse, np.float64)
    B = np.asarray(codebook, np.float64)
    m, kk_codes, dsub = B.shape
    int_dist = bool(lut_scale)
    # Bound-check BEFORE collecting: an over-bound query set must raise,
    # not OOM the driver inside toPandas() (the cosine_topk order).
    n_q = queries.count()
    if n_q > PQ_TOPK_MAX_QUERIES:
        raise ValueError(
            f"ivfpq_topk: {n_q} query rows > "
            f"{PQ_TOPK_MAX_QUERIES}; chunk the query set.")
    if n_q == 0:
        return spark.createDataFrame(
            [], "query_id bigint, rank int, neighbor_id bigint, dist "
            + ("bigint" if int_dist else "double"))
    qpdf = queries.select(id_col, vec_col).toPandas()
    if qpdf[id_col].duplicated().any():
        dups = qpdf[id_col][qpdf[id_col].duplicated()].unique()[:5]
        raise ValueError(
            f"ivfpq_topk: duplicate query ids {list(map(int, dups))}…; "
            "the per-(query, cell) LUT directory is keyed by id, so "
            "duplicates would silently collapse — dedupe the query set")
    qids = qpdf[id_col].to_numpy(np.int64)
    Q = _as_matrix(qpdf[vec_col])
    nprobe = min(int(nprobe), len(Cc))
    qcd = _seq_sq_dists(Q, Cc)
    probes = np.argsort(qcd, axis=1, kind="stable")[:, :nprobe]

    pair_lut, pair_of = [], {}
    probe_rows = []
    for qi, qid in enumerate(qids):
        for c in probes[qi]:
            lut = pq_lut(B, (Q[qi] - Cc[c])[None, :], lut_scale)[0]
            pair_of[(int(qid), int(c))] = len(pair_lut)
            pair_lut.append(lut.reshape(-1))
            probe_rows.append((int(qid), int(c)))
    lut_stack = np.stack(pair_lut)            # (pairs, m*k)
    bc = spark.sparkContext.broadcast((pair_of, lut_stack))

    idx = spark.read.parquet(path)
    from pyspark.sql.types import BinaryType
    packed = isinstance(idx.schema["codes"].dataType, BinaryType)
    probed_cells = sorted({c for _, c in probe_rows})
    pruned = idx.where(F.col("cell").isin(probed_cells))
    probe_df = spark.createDataFrame(probe_rows,
                                     "query_id bigint, cell int")
    joined = pruned.join(F.broadcast(probe_df), "cell").select(
        "query_id", "cell", F.col(id_col).alias("neighbor_id"),
        "codes")
    offs = (np.arange(m) * kk_codes).astype(np.int64)

    def fn(batches):
        pair_of_, lut_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            if packed:
                codes_m = np.stack(
                    [np.frombuffer(b, np.uint8) for b in
                     pdf["codes"]]).astype(np.int64)
            else:
                codes_m = np.stack([np.asarray(c, np.int64)
                                    for c in pdf["codes"]])
            rows = np.fromiter(
                (pair_of_[(int(q), int(c))] for q, c in
                 zip(pdf["query_id"], pdf["cell"])),
                np.int64, len(pdf))
            d = np.take_along_axis(
                lut_[rows], codes_m + offs[None, :], axis=1).sum(axis=1)
            yield pd.DataFrame({
                "query_id": pdf["query_id"].to_numpy(np.int64),
                "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                "dist": d,
            })

    dist_t = "bigint" if int_dist else "double"
    cand = joined.mapInPandas(
        fn, f"query_id bigint, neighbor_id bigint, dist {dist_t}")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "dist"))


def ivfpq_rerank_topk(spark, path: str, coarse: np.ndarray,
                      codebook: np.ndarray, corpus: DataFrame,
                      queries: DataFrame, k: int = 5,
                      shortlist: int = 50, nprobe: int = 4,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      lut_scale: int | None = 10**6,
                      exclude_self: bool = True) -> DataFrame:
    """Two-stage IVF-PQ serving: ADC top-``shortlist`` over the
    compressed index, then EXACT squared-L2 rerank of only the
    shortlisted vectors — the standard quantized-first/exact-second
    stack (:func:`~.embeddings.binary_rerank_topk` with the IVF-PQ
    index as the cheap stage).  Returns
    (query_id, rank, neighbor_id, dist2).

    The expensive float math touches |Q|·shortlist pairs instead of
    |Q|·corpus; the shortlist relation broadcasts back against the
    corpus for the vector fetch (the corpus never shuffles), and
    recall vs exact search is governed by (nprobe, shortlist) — the
    two knobs trade probed-cell reads and rerank pairs independently.
    Defaults keep the shortlist stage integer-deterministic
    (``lut_scale``), so end-to-end results are partitioning-exact."""
    short = ivfpq_topk(spark, path, coarse, codebook, queries,
                       k=shortlist, nprobe=nprobe, id_col=id_col,
                       vec_col=vec_col, lut_scale=lut_scale,
                       exclude_self=exclude_self)
    cand = short.select("query_id", "neighbor_id")
    fetched = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nvec")).join(F.broadcast(cand),
                                             "neighbor_id")
    qside = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("__qvec"))
    d2 = F.expr(
        "aggregate(zip_with(__qvec, __nvec, (a, b) -> "
        "(CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) "
        "* (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id"))
    return (fetched.join(F.broadcast(qside), "query_id")
            .withColumn("dist2", d2)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "dist2"))


PQ_TOPK_MAX_QUERIES = 4096


def pq_adc_topk(codebook: np.ndarray, codes: DataFrame,
                queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", codes_col: str = "codes",
                vec_col: str = "embedding",
                lut_scale: int | None = None,
                exclude_self: bool = True,
                max_queries: int = PQ_TOPK_MAX_QUERIES) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes:
    (query_id, rank, neighbor_id, dist).

    The query LUTs broadcast ((|Q|·m·k)·8 B — KBs), each batch gathers
    m LUT entries per candidate and sums (a (n, m) integer/float
    gather, no float GEMM), prunes to a per-batch top-k with the same
    (dist, neighbor_id) lexsort the final window uses (a tied candidate
    at the batch boundary must not depend on partition layout —
    the :func:`~.embeddings.hamming_topk` rule), and the final exact
    window ranks batches·k·|Q| candidate rows.  The codes relation
    never shuffles.

    With ``lut_scale`` distances are integers in 1/scale units —
    bit-reproducible end-to-end (the gate path); without it they are
    float64 sums of the m sub-distances in sub-space order."""
    import pandas as pd

    from ..plans.exchange import ship_package

    spark = codes.sparkSession
    ship_package(spark)
    n_q = queries.count()
    if n_q > max_queries:
        raise ValueError(
            f"pq_adc_topk: {n_q} query rows > max_queries="
            f"{max_queries}; the LUT tensor is broadcast per batch — "
            "chunk the query set, or route through an IVF index for "
            "corpus-scale query sets.")
    qpdf = queries.select(id_col, vec_col).toPandas()
    int_dist = bool(lut_scale)
    if not len(qpdf):
        return spark.createDataFrame(
            [], "query_id bigint, rank int, neighbor_id bigint, dist "
            + ("bigint" if int_dist else "double"))
    qids = qpdf[id_col].to_numpy(np.int64)
    Q = _as_matrix(qpdf[vec_col])
    lut = pq_lut(codebook, Q, lut_scale)
    m = lut.shape[1]
    kk_codes = lut.shape[2]
    bc = spark.sparkContext.broadcast((qids, lut))

    def fn(batches):
        qids_, lut_ = bc.value
        nq = len(qids_)
        flat = lut_.reshape(nq, -1)            # (nq, m*k)
        offs = (np.arange(m) * kk_codes).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            codes_m = np.stack([np.asarray(c, np.int64)
                                for c in pdf[codes_col]])
            nb = pdf["__nb_id"].to_numpy(np.int64)
            gather = codes_m + offs[None, :]   # (n, m) flat indices
            kk = min(k + 1 if exclude_self else k, len(nb))
            out_q, out_n, out_d = [], [], []
            for qi in range(nq):
                d = flat[qi][gather].sum(axis=1)
                top = np.lexsort((nb, d))[:kk]
                out_q.append(np.full(kk, qids_[qi], np.int64))
                out_n.append(nb[top])
                out_d.append(d[top])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "dist": np.concatenate(out_d),
            })

    dist_t = "bigint" if int_dist else "double"
    slim = codes.select(F.col(id_col).alias("__nb_id"), codes_col)
    cand = slim.mapInPandas(
        fn, f"query_id bigint, neighbor_id bigint, dist {dist_t}")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "dist"))
