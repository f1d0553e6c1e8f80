"""Embedding-column utilities: storage quantization, normalization,
and per-label geometry reports.

At 100 TB the embedding column dominates storage: a 64-dim float32
vector is 256 bytes/row, and a 1e11-row corpus carries ~25 TB of
vectors alone.  Symmetric int8 quantization cuts that 4× (64 bytes +
one float scale) at ~0.4 % max reconstruction error for unit-scale
data — the standard serving-side trade (FAISS `SQ8`, ScaNN's
fixed-point leaf format).  Everything here is pure JVM expression
work: `transform`/`aggregate` higher-order functions inside
whole-stage codegen, no shuffle, no Python, so the quantize/normalize
passes run at scan speed and compose with column pruning.

The per-label centroid report IS a shuffle (groupBy label), but a
cheap one: partial aggregation reduces each partition to
|labels| × dim doubles before the exchange, so network traffic is
O(partitions · labels · dim) regardless of row count — the same
partial-agg shape as the SOM training epoch (plans/training.py).

No reference counterpart (xpysom-dask has no embedding-storage ops);
these are the beyond-reference pipeline surface required for
large-scale training-data work.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import cosine_expr


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  scale_col: str = "scale",
                  out_col: str = "qvec") -> DataFrame:
    """Per-row symmetric int8 quantization of ``vec_col``.

    scale = max(|v|) / 127 (1.0 for the all-zero vector), and
    q[k] = floor(v[k]/scale + 0.5) — i.e. round-half-up, spelled as
    ``floor(x + 0.5)`` because that exact form is engine-portable
    (Spark ROUND is HALF_UP, DuckDB's rounds half away from zero;
    floor(+0.5) is the same primitive everywhere).  |q| ≤ 127 by
    construction, so the tinyint range is never clipped.

    One narrow projection — the whole thing is codegen'd array math
    in the scan stage.
    """
    amax = F.array_max(F.transform(
        F.col(vec_col), lambda v: F.abs(v.cast("double"))))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale)
    q = F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") / F.col(scale_col) + F.lit(0.5))
        .cast("tinyint"))
    return out.withColumn(out_col, q)


def dequantize_int8(df: DataFrame, qvec_col: str = "qvec",
                    scale_col: str = "scale",
                    out_col: str = "vec") -> DataFrame:
    """Inverse of :func:`quantize_int8`: v̂[k] = q[k] · scale (double)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(qvec_col),
                    lambda q: q.cast("double") * F.col(scale_col)))


def quantization_error(df: DataFrame, vec_col: str = "embedding",
                       qvec_col: str = "qvec",
                       scale_col: str = "scale",
                       out_col: str = "max_abs_err") -> DataFrame:
    """Per-row max |dequantized − original| — the reconstruction-error
    column that makes the 4× storage trade auditable (bounded by
    scale/2 = max|v|/254 by the rounding rule)."""
    err = F.array_max(F.zip_with(
        F.col(qvec_col), F.col(vec_col),
        lambda q, v: F.abs(q.cast("double") * F.col(scale_col)
                           - v.cast("double"))))
    return df.withColumn(out_col, err)


def l2_normalize(df: DataFrame, vec_col: str = "embedding",
                 out_col: str = "unit_vec") -> DataFrame:
    """L2-normalize ``vec_col`` (double output); zero vectors pass
    through unchanged.  Normalizing once at ingest turns every
    downstream cosine into a plain dot product — at 100 TB that
    halves the FLOPs of every similarity pass over the corpus."""
    nrm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col),
                    lambda v: v.cast("double") * v.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    unit = F.when(
        nrm > 0,
        F.transform(F.col(vec_col), lambda v: v.cast("double") / nrm)
    ).otherwise(F.transform(F.col(vec_col), lambda v: v.cast("double")))
    return df.withColumn(out_col, unit)


#: bits packed per BIGINT word by :func:`binarize_embeddings` — 32, not
#: 64, so no word ever reaches the sign bit: every word is a plain
#: non-negative integer that any engine (the DuckDB oracle included)
#: can rebuild with ``1 << i`` sums, no two's-complement reasoning
BITS_PER_WORD = 32


def rp_signs(dim: int, out_dim: int) -> list:
    """Deterministic ±1 sign matrix for :func:`random_projection`,
    derived from md5 so an external SQL engine can re-derive every
    entry: ``sign(i, j) = 1 − 2·(first md5 nibble of "i:j" mod 2)``.

    Returned as ``out_dim`` rows of ``dim`` signs (one row per output
    coordinate).  Pure stdlib so driver and oracle agree bit-for-bit.
    """
    import hashlib

    def s(i, j):
        nib = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0], 16)
        return 1 - 2 * (nib % 2)

    return [[s(i, j) for i in range(dim)] for j in range(out_dim)]


def random_projection(df: DataFrame, out_dim: int,
                      vec_col: str = "embedding",
                      out_col: str = "rp",
                      decimals: int = 6) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2003's
    database-friendly ±1 variant):
    ``rp[j] = round(Σ_i sign(i,j) · v[i] / sqrt(out_dim), decimals)``
    — the cheap dimensionality cut that preserves pairwise distances
    within (1±ε) whp, used to shrink embeddings before LSH/clustering
    when a trained PCA is unavailable (no fit step, no data pass).

    The sign matrix is NOT random state: it derives deterministically
    from md5 (:func:`rp_signs`), so the projection is reproducible
    across runs/engines and SQL-replayable — an external engine
    re-derives the same signs from the same formula.

    Scale shape: ONE narrow Arrow pass (mapInPandas), no shuffle.
    Spark's higher-order array lambdas are interpreted (not
    whole-stage codegen), so a pure-SQL ``aggregate(zip_with(...))``
    spelling pays dim·out_dim interpreted closures PER ROW (measured
    ~10× slower at sf0.01 and growing with dim·out_dim); the kernel
    instead runs out_dim·dim vectorized column ops per BATCH.  The
    accumulation is an explicit ascending-``i`` loop — a strict left
    fold, bit-identical to the oracle's ``list_reduce`` — NOT
    ``np.dot`` (pairwise summation order would break float parity).
    """
    import pandas as pd

    from ..plans.exchange import ship_package

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    ship_package(df.sparkSession)
    out_dim = int(out_dim)
    inv = 1.0 / float(out_dim) ** 0.5
    cols = df.columns
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_ddl = (", ".join(f"{c} {types[c]}" for c in cols)
               + f", {out_col} array<double>")
    scale = float(10 ** decimals)

    def fn(batches):
        S = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, np.float64)
                          for v in pdf[vec_col]])
            if S is None:
                S = np.asarray(rp_signs(X.shape[1], out_dim),
                               np.float64)          # (out_dim, dim)
            acc = np.zeros((len(X), out_dim))
            for i in range(X.shape[1]):              # strict left fold
                acc += X[:, i:i + 1] * S[None, :, i][0]
            # round-half-away-from-zero at `decimals`, matching both
            # engines' ROUND on the same double
            r = np.sign(acc * inv) * np.floor(
                np.abs(acc * inv) * scale + 0.5) / scale
            out = pdf[cols].copy()
            out[out_col] = [row for row in r]
            yield out

    return df.mapInPandas(fn, out_ddl)


def matryoshka_truncate(df: DataFrame, out_dim: int,
                        vec_col: str = "embedding",
                        out_col: str = "mrl",
                        normalize: bool = True,
                        decimals: int = 6) -> DataFrame:
    """Matryoshka-style embedding truncation (Kusupati 2022): keep the
    FIRST ``out_dim`` coordinates, optionally L2-renormalize — the
    zero-compute storage/serving trade for nested-trained embeddings
    (prefixes of an MRL vector are themselves valid embeddings; for
    non-MRL vectors this is the honest cheap baseline to compare
    :func:`random_projection` and PCA against).

    ``‖prefix‖ = 0`` rows keep the raw zero prefix rather than
    dividing by zero.  One narrow codegen'd projection (slice + two
    folds), no shuffle, no Python; folds run ascending so the floats
    are engine-exact.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    pre = F.slice(F.col(vec_col), 1, int(out_dim))
    pre_d = F.transform(pre, lambda v: v.cast("double"))
    if not normalize:
        return df.withColumn(
            out_col, F.transform(pre_d, lambda v: F.round(v, decimals)))
    nrm = F.sqrt(F.aggregate(pre_d, F.lit(0.0),
                             lambda a, x: a + x * x))
    out = F.when(nrm > 0, F.transform(
        pre_d, lambda v: F.round(v / nrm, decimals))) \
        .otherwise(F.transform(pre_d, lambda v: F.round(v, decimals)))
    return df.withColumn(out_col, out)


def binarize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        dim: int = 64,
                        out_col: str = "bits") -> DataFrame:
    """Sign-binarize an embedding column: bit i of the signature is 1
    iff ``vec[i] > 0``, packed ``BITS_PER_WORD`` bits per BIGINT into
    an ``array<bigint>`` of ⌈dim/32⌉ words.

    A 64-dim float32 vector (256 B) compresses to 2 longs (16 B) —
    16× — and Hamming distance between signatures approximates angular
    distance (the SimHash/ITQ sign-random-projection estimate:
    P[bit differs] = θ/π).  For pre-trained-centered embedding spaces
    the raw sign works; shift/rotate first if coordinates are biased.

    Pure codegen array math in the scan stage — no shuffle, no Python.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    n_words = -(-dim // BITS_PER_WORD)
    words = []
    for w in range(n_words):
        lo = w * BITS_PER_WORD
        hi = min(dim, lo + BITS_PER_WORD)
        words.append(F.expr(
            f"aggregate(sequence({lo}, {hi - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + IF(element_at({vec_col}, i + 1) > 0, "
            f"shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT)))"))
    return df.withColumn(out_col, F.array(*words))


def _popcount64(a: np.ndarray) -> np.ndarray:
    """Per-row popcount of an (n, words) int64 array (numpy < 2 has no
    bitwise_count; a 256-entry LUT over the uint8 view is the standard
    portable kernel)."""
    lut = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
    flat = lut[a.view(np.uint8)]
    return flat.reshape(a.shape[0], -1).sum(axis=1).astype(np.int64)


HAMMING_TOPK_MAX_QUERIES = 4096


def hamming_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", bits_col: str = "bits",
                 exclude_self: bool = True,
                 max_queries: int = HAMMING_TOPK_MAX_QUERIES) -> DataFrame:
    """Exact top-k nearest neighbors under Hamming distance over
    binarized signatures: (query_id, rank, neighbor_id, dist).

    Same kernel shape as :func:`~.similarity.cosine_topk` (broadcast
    query matrix, one narrow Arrow pass over the corpus, per-batch
    top-k prune, final exact window over batches·k·|Q| candidate rows —
    the corpus never shuffles), but the batch kernel is XOR + popcount
    over packed longs instead of a float GEMM: ~dim/64 integer ops per
    pair, the cheap first pass of a binary-then-rerank ANN stack.

    Distances are integers and ties break on neighbor_id, so results
    are bit-reproducible on any partitioning — which is why this (and
    not the float cosine) is the ANN entry an external engine can check
    row-for-row.
    """
    import pandas as pd

    from ..plans.exchange import ship_package

    spark = corpus.sparkSession
    ship_package(spark)
    n_q = queries.count()
    if n_q > max_queries:
        raise ValueError(
            f"hamming_topk: {n_q} query rows > max_queries={max_queries}; "
            "the query signature matrix is broadcast per batch — chunk "
            "the query set or bucket first (hyperplane LSH) for more.")
    qpdf = queries.select(id_col, bits_col).toPandas()
    if not len(qpdf):
        return spark.createDataFrame(
            [], "query_id bigint, rank int, neighbor_id bigint, dist int")
    qids = qpdf[id_col].to_numpy(np.int64)
    Qb = np.stack([np.asarray(b, np.int64) for b in qpdf[bits_col]])
    bc = spark.sparkContext.broadcast((qids, Qb))

    def fn(batches):
        qids_, Qb_ = bc.value
        nq, n_words = Qb_.shape
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack([np.asarray(b, np.int64) for b in pdf["nb_bits"]])
            nb = pdf["neighbor_id"].to_numpy(np.int64)
            kk = min(k + 1 if exclude_self else k, len(C))
            out_q, out_n, out_d = [], [], []
            for qi in range(nq):
                x = np.bitwise_xor(C, Qb_[qi][None, :])
                d = _popcount64(x)
                # integer distances tie often, so the batch prune must
                # break ties the same way the final window does
                # ((dist, neighbor_id) ascending) or a tied candidate
                # at the cut boundary is dropped non-deterministically
                top = np.lexsort((nb, d))[:kk]
                out_q.append(np.full(kk, qids_[qi], np.int64))
                out_n.append(nb[top])
                out_d.append(d[top])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "dist": np.concatenate(out_d).astype(np.int32),
            })

    slim = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(bits_col).alias("nb_bits"))
    cand = slim.mapInPandas(
        fn, "query_id bigint, neighbor_id bigint, dist int")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "dist"))


def binary_rerank_topk(corpus: DataFrame, queries: DataFrame,
                       k: int = 5, shortlist: int = 50,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       bits_col: str = "bits",
                       exclude_self: bool = True) -> DataFrame:
    """Two-stage ANN: exact Hamming top-``shortlist`` over the binary
    signatures, then exact-cosine rerank of ONLY the shortlist — the
    standard binary-prefilter serving stack (16× cheaper first pass,
    float math on |Q|·shortlist pairs instead of |Q|·corpus).

    Returns (query_id, rank, neighbor_id, sim).  The shortlist stage is
    deterministic (integer distances, id tie-break), so the result is
    reproducible end-to-end — recall vs exact cosine is governed by
    ``shortlist`` (the sign-projection angle estimate: larger shortlist
    → recall → 1).

    Plan: the shortlist relation is |Q|·shortlist rows — it BROADCASTS
    back against the corpus for the vector fetch (the corpus never
    shuffles), the |Q|-row query matrix broadcasts for the cosine, and
    the final exact top-k windows over |Q|·shortlist candidates.
    """
    short = hamming_topk(
        corpus.select(id_col, bits_col),
        queries.select(id_col, bits_col), k=shortlist,
        id_col=id_col, bits_col=bits_col, exclude_self=exclude_self)
    cand = short.select("query_id", "neighbor_id")
    fetched = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nvec")).join(F.broadcast(cand),
                                             "neighbor_id")
    qside = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("__qvec"))
    sim = F.expr(cosine_expr("__qvec", "__nvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (fetched.join(F.broadcast(qside), "query_id")
            .withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "sim"))


def pca_fit(df: DataFrame, vec_col: str = "embedding", dim: int = 64,
            n_components: int = 2) -> dict:
    """Fit a PCA basis over an embedding column in ONE distributed pass.

    One ``plans.exchange.feature_covariance`` job — the moments
    (n, Σx, ΣxxT) that the SOM's distributed covariance also uses
    (operators/som.py ``_distributed_covariance``, reference parity
    xpysom.py:762-785), per Arrow batch, summed per task — so driver
    traffic is O(partitions · dim²) regardless of rows; the dim×dim
    eigensolve runs on the driver (dim ≤ a few thousand — an embedding
    column, not a feature explosion).

    Sign convention: each component's largest-|entry| coordinate is made
    positive, so the basis is deterministic (eigh's sign is arbitrary).

    Returns ``{"mean": (dim,), "components": (n_components, dim),
    "explained_variance": (n_components,), "explained_ratio": ...}``.
    """
    from ..plans.exchange import feature_covariance

    if not (1 <= n_components <= dim):
        raise ValueError(f"n_components must be in [1, {dim}], got "
                         f"{n_components}")
    mean, cov = feature_covariance(df.select(vec_col), dim)
    evals, evecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(-evals)[:n_components]
    comps = evecs[:, order].T                   # (n_components, dim)
    flip = np.sign(comps[np.arange(len(comps)),
                         np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    ev = np.maximum(evals[order], 0.0)
    total = max(float(evals.clip(min=0).sum()), 1e-300)
    return {"mean": mean, "components": comps,
            "explained_variance": ev, "explained_ratio": ev / total}


def pca_project(df: DataFrame, model: dict,
                vec_col: str = "embedding", id_col: str = "vec_id",
                out_col: str = "pc", whiten: bool = False,
                keep: list[str] | None = None) -> DataFrame:
    """Project rows onto a fitted PCA basis: (id[, keep...], pc) with
    ``pc`` an array<double> of length n_components.

    ``whiten=True`` scales each component by 1/√eigenvalue (unit
    variance per axis — the preprocessing ANN quantizers want).  One
    narrow Arrow pass with a (batch × dim)·(dim × n_components) GEMM;
    nothing shuffles.
    """
    import pandas as pd

    from ..plans.exchange import ship_package

    spark = df.sparkSession
    ship_package(spark)
    mean = np.asarray(model["mean"], np.float64)
    comps = np.asarray(model["components"], np.float64)
    if whiten:
        scale = 1.0 / np.sqrt(np.maximum(
            np.asarray(model["explained_variance"], np.float64), 1e-12))
        comps = comps * scale[:, None]
    bc = spark.sparkContext.broadcast((mean, comps.T))
    keep = keep or []

    def fn(batches):
        mean_, P = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, np.float64) for v in pdf["v"]])
            Y = (X - mean_[None, :]) @ P
            out = {"id": pdf["id"].to_numpy(np.int64),
                   "pc": list(Y)}
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    slim = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).alias("v"), *keep)
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep)
    out = slim.mapInPandas(
        fn, f"id bigint, pc array<double>{keep_schema}")
    return (out.withColumnRenamed("id", id_col)
            .withColumnRenamed("pc", out_col))


def pca_fit_2d(df: DataFrame, f1_col: str, f2_col: str,
               decimals: int = 6) -> dict:
    """Exact-moments PCA over TWO scalar features: the deterministic,
    partitioning-independent small-d path (the `ridge_fit` d ≤ 2 idiom,
    operators/models.py).

    The sufficient statistics (n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂²) are
    EXACT integers — inputs quantized to ``decimals`` places and summed
    in DECIMAL(38,0), so the moments are a pure function of the data
    (double summation is accumulation-order-dependent; exact integer
    sums are not).  The 2×2 eigensolve is then written as an EXPLICIT
    closed-form double-op sequence (no LAPACK): every op below is a
    single IEEE-754 double operation an external SQL engine can replay
    bit-for-bit — which makes the whole fit oracle-checkable, unlike
    ``pca_fit``'s dim×dim ``eigh``.

    Sign convention matches ``pca_fit``: each component's
    largest-|entry| coordinate is made positive.  Returns
    ``{"mean": (m1, m2), "components": ((e11, e12), (e21, e22)),
    "explained_variance": (l1, l2), "n": n}``.
    """
    import math

    s = 10 ** decimals

    def _q(c):
        return F.expr(f"CAST(ROUND(CAST({c} AS DOUBLE) * {s}, 0) "
                      f"AS DECIMAL(38,0))")

    x1, x2 = _q(f1_col), _q(f2_col)
    r = (df.where(F.col(f1_col).isNotNull()
                  & F.col(f2_col).isNotNull())
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(x1).alias("s1"), F.sum(x2).alias("s2"),
              F.sum(x1 * x1).alias("s11"),
              F.sum(x1 * x2).alias("s12"),
              F.sum(x2 * x2).alias("s22")).first())
    n = int(r["n"])
    if n < 2:
        raise ValueError(f"pca_fit_2d: need >= 2 rows, got {n}")
    fs = float(s)
    nf = float(n)
    # un-scale the exact integer sums once (products divide by s²)
    s1 = float(r["s1"]) / fs
    s2 = float(r["s2"]) / fs
    s11 = float(r["s11"]) / (fs * fs)
    s12 = float(r["s12"]) / (fs * fs)
    s22 = float(r["s22"]) / (fs * fs)
    m1 = s1 / nf
    m2 = s2 / nf
    # covariance via sums (the pca_fit shape, spelled op-by-op)
    a = (s11 - m1 * s1) / (nf - 1.0)
    b = (s12 - m1 * s2) / (nf - 1.0)
    c = (s22 - m2 * s2) / (nf - 1.0)
    mid = (a + c) / 2.0
    dif = (a - c) / 2.0
    disc = math.sqrt(dif * dif + b * b)
    l1 = mid + disc
    l2 = mid - disc
    if b != 0.0:
        u1 = b
        u2 = l1 - a
        nrm = math.sqrt(u1 * u1 + u2 * u2)
        e11 = u1 / nrm
        e12 = u2 / nrm
    elif a >= c:
        e11, e12 = 1.0, 0.0
    else:
        e11, e12 = 0.0, 1.0
    e21, e22 = -e12, e11

    def _fix(p, q):
        sgn = (-1.0 if p < 0.0 else 1.0) if abs(p) >= abs(q) \
            else (-1.0 if q < 0.0 else 1.0)
        return p * sgn, q * sgn

    e11, e12 = _fix(e11, e12)
    e21, e22 = _fix(e21, e22)
    return {"mean": (m1, m2), "components": ((e11, e12), (e21, e22)),
            "explained_variance": (l1, l2), "n": n}


def pca_project_2d(df: DataFrame, model: dict, f1_col: str,
                   f2_col: str, whiten: bool = False,
                   out_cols: tuple[str, str] = ("pc1", "pc2"),
                   var_floor: float = 1e-12) -> DataFrame:
    """Project onto a ``pca_fit_2d`` basis as pure codegen'd column
    expressions — whole-stage, no UDF, no shuffle: the shape that
    projects 100 TB at scan speed.  The expression text fixes the
    double-op order (``((x1−m1)·e + (x2−m2)·e)·w``), so results are
    bit-identical to any engine replaying the same expression."""
    import math

    (m1, m2) = model["mean"]
    ((e11, e12), (e21, e22)) = model["components"]
    (l1, l2) = model["explained_variance"]
    if whiten:
        w1 = 1.0 / math.sqrt(l1 if l1 > var_floor else var_floor)
        w2 = 1.0 / math.sqrt(l2 if l2 > var_floor else var_floor)
    else:
        w1 = w2 = 1.0

    def _proj(ea, eb, w):
        return F.expr(
            f"((CAST({f1_col} AS DOUBLE) - ({m1!r})) * ({ea!r}) + "
            f"(CAST({f2_col} AS DOUBLE) - ({m2!r})) * ({eb!r})) "
            f"* ({w!r})")

    return (df.withColumn(out_cols[0], _proj(e11, e12, w1))
            .withColumn(out_cols[1], _proj(e21, e22, w2)))


def label_centroids(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label", dim: int = 64,
                    decimals: int = 6) -> DataFrame:
    """Per-label centroid geometry: member count, centroid L2 norm, and
    mean cosine of members to their centroid — the class-compactness
    report used to sanity-check embedding spaces (collapsed classes →
    avg_cos ≈ 1; scrambled labels → avg_cos ≈ 0 for mean-centered
    spaces).

    Plan: posexplode → partial-aggregated groupBy(label, pos) (traffic
    O(partitions · labels · dim), not O(rows)) → centroids collected to
    a |labels|-row broadcast side → broadcast join back for the member
    cosine pass → final groupBy(label).  Two shuffles total, both on
    the low-cardinality label key; centroid components are rounded to
    ``decimals`` BEFORE the cosine so the report is reproducible across
    engines and partitionings (sum-order float drift is absorbed by the
    rounding, same trick as the training-update oracle).
    """
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"))
    cent = (pos.groupBy("label", "pos")
            .agg(F.round(F.sum(F.col("val").cast("double"))
                         / F.count("*"), decimals).alias("c"))
            .groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c")).alias("centroid")))
    members = df.select(F.col(label_col).alias("label"),
                        F.col(vec_col).alias("v"))
    joined = members.join(F.broadcast(cent), "label")
    cos = F.expr(cosine_expr("v", "centroid"))
    return (joined.groupBy("label")
            .agg(F.count("*").alias("n_members"),
                 F.round(F.first(F.expr(
                     "sqrt(aggregate(transform(centroid, c -> c * c), "
                     "0D, (acc, v) -> acc + v))")), decimals)
                 .alias("centroid_norm"),
                 F.round(F.sum(cos) / F.count("*"), decimals)
                 .alias("avg_cos")))
