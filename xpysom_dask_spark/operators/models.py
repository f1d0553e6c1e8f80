"""Distributed linear probes: closed-form ridge regression over a
bounded feature set.

The quality-classifier step of a curation pipeline (FineWeb/DCLM-style:
score every document with a small supervised model over cheap features,
filter on the score) needs exactly one model family at 100 TB: a linear
probe whose TRAINING is a single map-side-combinable moments aggregate
— (XᵀX, Xᵀy) is d(d+3)/2 + 1 running sums, associative, O(d²) traffic
regardless of corpus size — and whose SCORING is a codegen'd dot
product (no UDF, no broadcast join, no shuffle).

Iterative trainers (SGD/L-BFGS) buy nothing here: for squared loss the
normal equations are exact, one pass, and deterministic up to float
summation order.  For classification-style labels in {0,1} this is the
least-squares probe (regularized LPM) — the standard cheap scorer when
the decision is "keep the top fraction", where only the ranking
matters.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: XᵀX is materialized driver-side: d² doubles.  64 features = 32 KB —
#: far above any curation feature set; the bound exists to catch a
#: caller accidentally passing an embedding column's components.
MAX_PROBE_FEATURES = 64


def ridge_fit(df: DataFrame, feature_cols: list[str], label_col: str,
              l2: float = 1e-6, decimals: dict | None = None) -> dict:
    """Closed-form ridge fit: returns ``{"cols": [...], "coef":
    ndarray(d), "intercept": float, "l2": λ, "n": rows}`` solving
    ``min ‖y − Xβ − b‖² + λ‖β‖²`` (intercept unpenalized, the sklearn
    convention, via centered moments).

    ONE aggregate job: Σx_i, Σx_i·x_j (upper triangle), Σx_i·y, Σy,
    Σy², n — map-side combinable, so shuffle traffic is O(d²) doubles
    total.  Driver work is an O(d³) solve on a d ≤ 64 system.

    ``decimals`` (col → fixed decimal places, must cover every feature
    and the label) switches the moment sums to EXACT integers in
    DECIMAL(38,0) — the repo's scaled-BIGINT idiom: double summation is
    accumulation-order-dependent, so without it the fitted coefficients
    drift in the last ulps under a different partition count; with it
    the fit is a pure function of the data (bit-identical under
    repartitioning, and — for d ≤ 2, where the solve is explicit
    Cramer — replayable by an external SQL engine).
    """
    d = len(feature_cols)
    if not 1 <= d <= MAX_PROBE_FEATURES:
        raise ValueError(
            f"ridge_fit: {d} features; must be 1..{MAX_PROBE_FEATURES} "
            "— for embedding-sized inputs use pca_project first or a "
            "proper GEMM path, not a per-column aggregate.")
    if l2 < 0:
        raise ValueError(f"l2 must be >= 0, got {l2}")
    if decimals is not None:
        missing = [c for c in [*feature_cols, label_col]
                   if c not in decimals]
        if missing:
            raise ValueError(
                f"ridge_fit: decimals must cover every feature and the "
                f"label; missing {missing}")
        def _scaled(c):
            s = 10 ** decimals[c]
            return F.expr(f"CAST(ROUND(CAST({c} AS DOUBLE) * {s}, 0) "
                          f"AS DECIMAL(38,0))")
        x = [_scaled(c) for c in feature_cols]
        y = _scaled(label_col)
        fx = [float(10 ** decimals[c]) for c in feature_cols]
        fy = float(10 ** decimals[label_col])
    else:
        x = [F.col(c).cast("double") for c in feature_cols]
        y = F.col(label_col).cast("double")
        fx, fy = [1.0] * d, 1.0
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(y).alias("sy")]
    for i in range(d):
        aggs.append(F.sum(x[i]).alias(f"sx{i}"))
        aggs.append(F.sum(x[i] * y).alias(f"sxy{i}"))
        for j in range(i, d):
            aggs.append(F.sum(x[i] * x[j]).alias(f"sxx{i}_{j}"))
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    row0 = df.where(cond).agg(*aggs).first()
    n = row0["n"]
    if not n:
        raise ValueError("ridge_fit: no rows with non-null features "
                         "and label")
    # un-scale the exact integer sums once, driver-side: sums of
    # scaled products divide by the product of the two scales
    row = {"n": n, "sy": float(row0["sy"]) / fy}
    for i in range(d):
        row[f"sx{i}"] = float(row0[f"sx{i}"]) / fx[i]
        row[f"sxy{i}"] = float(row0[f"sxy{i}"]) / (fx[i] * fy)
        for j in range(i, d):
            row[f"sxx{i}_{j}"] = float(row0[f"sxx{i}_{j}"]) \
                / (fx[i] * fx[j])
    sx = np.array([row[f"sx{i}"] for i in range(d)])
    sxy = np.array([row[f"sxy{i}"] for i in range(d)])
    xtx = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            xtx[i, j] = xtx[j, i] = row[f"sxx{i}_{j}"]
    # centered system: Cov·β = cross-cov, intercept from the means
    mx = sx / n
    my = row["sy"] / n
    cov = xtx - np.outer(mx, sx)            # Σ(x−x̄)(x−x̄)ᵀ (via sums)
    cov = (cov + cov.T) / 2.0               # symmetrize float noise
    cross = sxy - mx * row["sy"]
    A = cov + l2 * np.eye(d)
    if d == 1:
        coef = np.array([cross[0] / A[0, 0]])
    elif d == 2:
        # explicit Cramer's rule: the exact double-op sequence an
        # external SQL engine can replay (np.linalg.solve pivots, so
        # its last-ulp results aren't reproducible outside LAPACK)
        det = A[0, 0] * A[1, 1] - A[0, 1] * A[1, 0]
        coef = np.array([
            (cross[0] * A[1, 1] - A[0, 1] * cross[1]) / det,
            (A[0, 0] * cross[1] - cross[0] * A[1, 0]) / det])
    else:
        coef = np.linalg.solve(A, cross)
    if d <= 2:
        # explicit scalar ops (np.dot's reduction order is BLAS's
        # choice) so the whole d ≤ 2 fit is SQL-replayable
        inter = my - sum(float(mx[i]) * float(coef[i])
                         for i in range(d))
    else:
        inter = float(my - mx @ coef)
    return {"cols": list(feature_cols), "coef": coef,
            "intercept": float(inter), "l2": float(l2),
            "n": int(n)}


def ridge_score(df: DataFrame, model: dict,
                out_col: str = "probe_score") -> DataFrame:
    """Append the probe's prediction — a pure codegen'd linear
    expression (whole-stage, no UDF, no broadcast, no shuffle): the
    shape that scores 100 TB at scan speed."""
    expr = F.lit(model["intercept"])
    for c, w in zip(model["cols"], model["coef"]):
        expr = expr + F.col(c).cast("double") * F.lit(float(w))
    return df.withColumn(out_col, expr)


#: per-row gradient/Hessian terms are quantized to this many decimal
#: places before summation — sums of integers are accumulation-order
#: free, so the fitted weights are a pure function of the data
#: (bit-identical under repartitioning).  The quantization IS part of
#: the model definition, not an approximation of some "true" float fit.
GRAD_DECIMALS = 9

#: hashed-feature weight vectors travel by broadcast (8 B/bucket) and
#: come back as one int64 partial blob pair per partition per step
#: (``plans.exchange.partial_sums``); 2^20 buckets = an 8 MB broadcast
#: and 16 MB blobs — the fastText-scale ceiling.
MAX_HASHED_DIM = 1 << 20


def _q(col: "F.Column") -> "F.Column":
    """Exact-integer quantization of a per-row double term: round to
    GRAD_DECIMALS places, carry as DECIMAL(38,0).  ROUND on a DOUBLE is
    a pure per-row function; only the SUM is order-sensitive, and the
    sum of integers is exact."""
    s = 10 ** GRAD_DECIMALS
    return F.round(col * F.lit(float(s)), 0).cast("decimal(38,0)")


def logreg_fit(df: DataFrame, feature_cols: list[str], label_col: str,
               n_iter: int = 12, l2: float = 1e-6,
               tol: float = 1e-9,
               weight_col: str | None = None) -> dict:
    """Logistic regression by Newton/IRLS over a bounded feature set —
    the calibrated-probability counterpart of :func:`ridge_fit` for
    when the decision is a THRESHOLD ("keep p(quality) > 0.8", the
    CCNet / GPT-3-style classifier gate) rather than a top-fraction
    rank, where the least-squares probe's uncalibrated scores don't
    compose across corpora.

    Per Newton step ONE aggregate job: with p = σ(b + wᵀx) computed
    row-side, the gradient Σ(p−y)·x_j (d+1 sums) and Hessian
    Σ p(1−p)·x_i·x_j (d(d+1)/2 sums) are map-side combinable — shuffle
    traffic O(d²) doubles per step regardless of corpus size, and
    Newton needs ~5-10 steps where constant-rate GD needs hundreds of
    jobs.  Driver work is an O(d³) solve on d ≤ 64.

    Determinism: every per-row term is quantized to GRAD_DECIMALS
    places before summation (exact DECIMAL(38,0) integer sums), so the
    fit is bit-identical under repartitioning.  Cross-engine replay is
    NOT claimed — σ needs exp(), whose last-ulp behavior is libm's —
    so this surface carries test-only evidence (numpy-replay parity at
    1e-6, exact repartition invariance) per the round-9 gate-slot
    policy.

    Returns ``{"cols", "coef", "intercept", "l2", "n", "n_iter_run",
    "converged"}``.  Labels must be 0/1; rows with any NULL feature or
    label are excluded (same contract as ridge_fit).  ``weight_col``
    multiplies each row's gradient AND Hessian contribution (class
    rebalancing); NULL/negative weights exclude the row.
    """
    d = len(feature_cols)
    if not 1 <= d <= MAX_PROBE_FEATURES:
        raise ValueError(
            f"logreg_fit: {d} features; must be 1..{MAX_PROBE_FEATURES}"
            " — for hashed text features use logreg_fit_hashed.")
    if l2 < 0:
        raise ValueError(f"l2 must be >= 0, got {l2}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    cond = F.col(label_col).isNotNull() & F.col(label_col).isin(0, 1)
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    wt = (F.col(weight_col).cast("double") if weight_col
          else F.lit(1.0))
    if weight_col:
        cond = cond & wt.isNotNull() & (wt >= 0)
    base = df.where(cond).select(
        *[F.col(c).cast("double").alias(f"x{i}")
          for i, c in enumerate(feature_cols)],
        F.col(label_col).cast("double").alias("y"),
        wt.alias("wt"))
    base = base.persist()
    try:
        n = base.count()
        if not n:
            raise ValueError("logreg_fit: no rows with non-null "
                             "features and a 0/1 label")
        w = np.zeros(d)
        b = 0.0
        it = 0
        converged = False
        s = float(10 ** GRAD_DECIMALS)
        for it in range(1, n_iter + 1):
            z = F.lit(b)
            for i in range(d):
                z = z + F.col(f"x{i}") * F.lit(float(w[i]))
            # σ via the numerically-stable split; exp of a negative
            # argument only, so p ∈ (0, 1) without overflow
            p = F.when(z >= 0, F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) \
                 .otherwise(F.exp(z) / (F.lit(1.0) + F.exp(z)))
            r = (p - F.col("y")) * F.col("wt")      # gradient residual
            h = p * (F.lit(1.0) - p) * F.col("wt")  # Hessian weight
            aggs = [F.sum(_q(r)).alias("g_b"),
                    F.sum(_q(h)).alias("h_bb")]
            for i in range(d):
                aggs.append(F.sum(_q(r * F.col(f"x{i}")))
                            .alias(f"g{i}"))
                aggs.append(F.sum(_q(h * F.col(f"x{i}")))
                            .alias(f"h_b{i}"))
                for j in range(i, d):
                    aggs.append(F.sum(_q(h * F.col(f"x{i}")
                                          * F.col(f"x{j}")))
                                .alias(f"h{i}_{j}"))
            row = base.agg(*aggs).first()
            # a feature near 1e30 overflows DECIMAL(38,0) after the
            # e9 quantization and the SUM goes NULL — fail with the
            # ridge_fit-style message, not a bare TypeError mid-
            # iteration (ADVICE r9)
            nulls = [k for k, v in row.asDict().items() if v is None]
            if nulls:
                raise ValueError(
                    "logreg_fit: aggregate overflow — NULL sums for "
                    f"{nulls[:4]} (iteration {it}): decimals must "
                    f"cover the e{GRAD_DECIMALS}-quantized terms in "
                    "DECIMAL(38,0), so feature magnitudes must stay "
                    "below ~1e29; rescale the offending columns")
            g = np.empty(d + 1)
            g[0] = float(row["g_b"]) / s
            H = np.zeros((d + 1, d + 1))
            H[0, 0] = float(row["h_bb"]) / s
            for i in range(d):
                g[i + 1] = float(row[f"g{i}"]) / s + l2 * w[i]
                H[0, i + 1] = H[i + 1, 0] = float(row[f"h_b{i}"]) / s
                for j in range(i, d):
                    H[i + 1, j + 1] = H[j + 1, i + 1] = \
                        float(row[f"h{i}_{j}"]) / s
            for i in range(d):
                H[i + 1, i + 1] += l2
            # damp the Newton system the standard way (Levenberg):
            # tiny ridge keeps H invertible when p saturates
            H += 1e-12 * np.eye(d + 1)
            step = np.linalg.solve(H, g)
            b -= float(step[0])
            w -= step[1:]
            if float(np.max(np.abs(step))) < tol:
                converged = True
                break
        return {"cols": list(feature_cols), "coef": w,
                "intercept": float(b), "l2": float(l2), "n": int(n),
                "n_iter_run": it, "converged": converged}
    finally:
        base.unpersist()


def logreg_score(df: DataFrame, model: dict,
                 out_col: str = "quality_p") -> DataFrame:
    """Append p(label=1) — a codegen'd linear expression + one exp()
    (whole-stage, no UDF, no shuffle): scores 100 TB at scan speed.
    Uses the same stable-σ split as training."""
    z = F.lit(model["intercept"])
    for c, wi in zip(model["cols"], model["coef"]):
        z = z + F.col(c).cast("double") * F.lit(float(wi))
    p = F.when(z >= 0, F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) \
         .otherwise(F.exp(z) / (F.lit(1.0) + F.exp(z)))
    return df.withColumn(out_col, p)


#: bigram fold constants — the text._hashed_ngram_features convention
_FOLD_MULT = 65599
_FOLD_MOD = 1 << 40


def _doc_buckets(text: str, n_buckets: int, fold_bigrams: bool):
    """Hashed unigram+bigram bucket counts of one document — the
    Python twin of ``text._hashed_ngram_features`` (same whitespace
    tokens, same 48-bit md5 fold with seed 0, same bigram join /
    fold), so the classifier's features stay in the engine-wide hash
    family.  Returns (sorted bucket ids, counts)."""
    import hashlib
    import re

    # Java \s is the ASCII class [ \t\n\x0B\f\r]; Python \s is Unicode
    # (NBSP etc.) — use the explicit ASCII class so tokens match the
    # JVM tokens() on crawl text with exotic whitespace
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
    if not toks:
        return [], []
    h = [int(hashlib.md5(f"0:{t}".encode("utf-8", "surrogatepass"))
             .hexdigest()[:12], 16) for t in toks]
    if fold_bigrams:
        feats = [x % n_buckets for x in h]
        feats += [((a % _FOLD_MOD) * _FOLD_MULT + b) % n_buckets
                  for a, b in zip(h, h[1:])]
    else:
        feats = [x % n_buckets for x in h]
        feats += [int(hashlib.md5(
            f"0:{a} {b}".encode("utf-8", "surrogatepass"))
            .hexdigest()[:12], 16) % n_buckets
            for a, b in zip(toks, toks[1:])]
    cnt: dict = {}
    for f_ in feats:
        cnt[f_] = cnt.get(f_, 0) + 1
    bs = sorted(cnt)
    return bs, [float(cnt[b]) for b in bs]


def _featurize_factory(text_name: str, carry: list,
                       n_buckets: int, fold_bigrams: bool):
    """mapInPandas featurizer: one NARROW pass (no shuffle) emitting
    ``(*carry, nt, bs, cs)`` per document — the carried columns are
    the label (+ optional weight) for fit, or the id for score."""
    import pandas as pd

    def fn(it):
        for pdf in it:
            bss, css, nts = [], [], []
            for t in pdf[text_name]:
                bs, cs = _doc_buckets(t, n_buckets, fold_bigrams)
                bss.append(bs)
                css.append(cs)
                nts.append(float(len(cs) and sum(cs)))
            out = {name: pdf[name] for name in carry}
            out.update({"nt": nts, "bs": bss, "cs": css})
            yield pd.DataFrame(out)

    return fn


def _grad_kernel_factory(bc, n_buckets: int):
    """A task's gradient/curvature partial for
    ``plans.exchange.partial_sums`` — the SOM-epoch job: weights travel
    via broadcast, each partition sums ONE pair of exact int64
    e9-quantized vectors (index 0 = intercept, 1.. = buckets).
    Per-bucket |Σ| stays under int64 below ~9e9 documents per bucket —
    far beyond any corpus."""
    s = float(10 ** GRAD_DECIMALS)

    def fn(batches):
        w, b = bc.value
        g_acc = np.zeros(n_buckets + 1, dtype=np.int64)
        h_acc = np.zeros(n_buckets + 1, dtype=np.int64)
        for batch in batches:
            y = batch.column(0).to_numpy(zero_copy_only=False)
            wt = batch.column(1).to_numpy(zero_copy_only=False)
            nt = batch.column(2).to_numpy(zero_copy_only=False)
            bs_arr = batch.column(3)
            cs_arr = batch.column(4)
            flat_bs = bs_arr.flatten().to_numpy(zero_copy_only=False)
            flat_cs = cs_arr.flatten().to_numpy(zero_copy_only=False)
            noff = np.asarray(bs_arr.offsets)
            counts = np.diff(noff)
            n_rows = len(y)
            if n_rows == 0:
                continue
            keep = nt > 0
            row_idx = np.repeat(np.arange(n_rows), counts)
            contrib = np.where(keep[row_idx],
                               w[flat_bs] * flat_cs
                               / np.maximum(nt[row_idx], 1.0), 0.0)
            z = b + np.bincount(row_idx, weights=contrib,
                                minlength=n_rows)
            p = np.empty_like(z)
            pos = z >= 0
            p[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
            ez = np.exp(z[~pos])
            p[~pos] = ez / (1.0 + ez)
            resid = (p - y) * wt
            hh = p * (1.0 - p) * wt
            g_acc[0] += np.rint(resid * s).astype(np.int64).sum()
            h_acc[0] += np.rint(hh * s).astype(np.int64).sum()
            ntr = np.maximum(nt[row_idx], 1.0)
            gq = np.rint(resid[row_idx] * flat_cs / ntr * s) \
                .astype(np.int64)
            hq = np.rint(hh[row_idx] * flat_cs * flat_cs
                         / (ntr * ntr) * s).astype(np.int64)
            np.add.at(g_acc, flat_bs + 1, gq)
            np.add.at(h_acc, flat_bs + 1, hq)
        yield g_acc, h_acc

    return fn


def logreg_fit_hashed(df: DataFrame, text_col: str, id_col: str,
                      label_col: str, n_buckets: int = 4096,
                      n_iter: int = 15, lr: float = 1.0,
                      l2: float = 1e-6, max_step: float = 1.0,
                      fold_bigrams: bool = False,
                      weight_col: str | None = None) -> dict:
    """fastText/CCNet-shape quality classifier: logistic regression
    over hashed unigram+bigram bag-of-ngrams features (length-
    normalized counts), trained by damped DIAGONAL-Newton steps.

    Why not constant-rate GD: with x_b = count/n_tokens the per-bucket
    curvature varies by orders of magnitude (a rare marker token's
    gradient is tiny even when it is perfectly predictive), so any
    single learning rate either stalls the rare features or blows up
    the common ones.  The per-bucket Newton step g_b/(h_b+λ) is
    scale-free; the ``max_step`` clip bounds the overshoot that the
    ignored off-diagonals (co-occurring markers) would cause.  ``lr``
    multiplies the clipped step (1.0 = pure damped Newton).

    The 100 TB shape — per iteration ONE job, no corpus shuffle:

    * the corpus is featurized ONCE before the loop — one NARROW
      mapInPandas pass (whitespace tokens + the engine-wide 48-bit
      md5 fold), persisted as per-doc (bucket, count) arrays; no
      shuffle, the text never moves again;
    * per step, weights broadcast (8 B/bucket) and each partition
      returns ONE pair of exact int64 e9-quantized blobs — gradient
      Σ resid·x_b and curvature Σ p(1−p)·x_b², intercept at index 0 —
      through ``plans.exchange.partial_sums``, the SOM epoch's job.
      Per-step traffic is partitions × 16 B × (n_buckets+1),
      independent of corpus size; integer sums commute, so its
      bucketed merge gives the same bits as the flat one.

    d ≤ 2^20 (the fastText-scale ceiling: an 8 MB broadcast per
    step); above that, shard the model or cut the hash space.

    Determinism: per-doc gradient/curvature terms quantized to
    GRAD_DECIMALS before the bucket sums (exact integers;
    repartition-invariant).  Returns ``{"w": ndarray(n_buckets),
    "intercept", "n_buckets", "fold_bigrams", "n", "n_iter_run",
    "lr", "l2"}``.
    """
    from ..plans.exchange import partial_sums, ship_package

    ship_package(df.sparkSession)
    if not 2 <= n_buckets <= MAX_HASHED_DIM:
        raise ValueError(
            f"logreg_fit_hashed: n_buckets must be 2..{MAX_HASHED_DIM} "
            "(8 B/bucket broadcast per step; a larger model should "
            f"shard the hash space), got {n_buckets}")
    if n_iter < 1 or lr <= 0 or max_step <= 0:
        raise ValueError(f"need n_iter >= 1, lr > 0 and max_step > 0, "
                         f"got {n_iter}, {lr}, {max_step}")
    # id_col is accepted for signature symmetry with the scorer (the
    # fit itself never needs doc identity) — validate it exists so a
    # typo fails loudly here, not at scoring time
    if id_col not in df.columns:
        raise ValueError(f"logreg_fit_hashed: id_col {id_col!r} not in "
                         f"{df.columns}")
    # per-row weights (class rebalancing — the CCNet move when the
    # reference corpus is tiny vs the crawl): rows with NULL or
    # negative weight are excluded, weight multiplies both gradient
    # and curvature terms BEFORE quantization
    wt = (F.col(weight_col).cast("double") if weight_col
          else F.lit(1.0))
    cond = F.col(label_col).isNotNull() & F.col(label_col).isin(0, 1)
    if weight_col:
        cond = cond & wt.isNotNull() & (wt >= 0)
    lab = df.where(cond).select(
        F.col(text_col).alias("__t"),
        F.col(label_col).cast("double").alias("y"),
        wt.alias("wt"))
    docs = lab.mapInPandas(
        _featurize_factory("__t", ["y", "wt"], n_buckets,
                           fold_bigrams),
        "y double, wt double, nt double, "
        "bs array<int>, cs array<double>") \
        .where(F.col("nt") > 0).persist()
    sc = df.sparkSession.sparkContext
    try:
        n = docs.count()
        if not n:
            raise ValueError("logreg_fit_hashed: no rows with a 0/1 "
                             "label and at least one token")
        w = np.zeros(n_buckets)
        b = 0.0
        s = float(10 ** GRAD_DECIMALS)
        zeros = (np.zeros(n_buckets + 1, dtype=np.int64),) * 2
        for it in range(1, n_iter + 1):
            bc = sc.broadcast((w, b))
            g_tot, h_tot = partial_sums(
                docs, zeros, _grad_kernel_factory(bc, n_buckets))
            bc.destroy()
            g = g_tot.astype(np.float64) / s
            hh = h_tot.astype(np.float64) / s
            step_b = g[0] / (hh[0] + 1e-9)
            b -= lr * float(np.clip(step_b, -max_step, max_step))
            steps = (g[1:] + l2 * w) / (hh[1:] + l2 + 1e-9)
            w -= lr * np.clip(steps, -max_step, max_step)
        return {"w": w, "intercept": float(b),
                "n_buckets": int(n_buckets),
                "fold_bigrams": bool(fold_bigrams), "n": int(n),
                "n_iter_run": int(n_iter), "lr": float(lr),
                "l2": float(l2)}
    finally:
        docs.unpersist()


def logreg_score_hashed(df: DataFrame, text_col: str, id_col: str,
                        model: dict,
                        out_col: str = "quality_p") -> DataFrame:
    """Score ``(id, p)`` with a :func:`logreg_fit_hashed` model: ONE
    narrow mapInPandas pass (featurize + margin + σ in the same Arrow
    batch, weights via broadcast) — no join, no shuffle, scan-speed.
    Documents with no tokens score the intercept-only probability.
    The id column keeps its input type (the unigram.py typing
    lesson)."""
    from ..plans.exchange import ship_package

    ship_package(df.sparkSession)
    n_buckets = int(model["n_buckets"])
    fold = bool(model["fold_bigrams"])
    id_type = df.schema[id_col].dataType.simpleString()
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((np.asarray(model["w"], dtype=np.float64),
                       float(model["intercept"])))

    def fn(it):
        import pandas as pd

        w, b = bc.value
        for pdf in it:
            ps = []
            for t in pdf["__t"]:
                bs, cs = _doc_buckets(t, n_buckets, fold)
                z = b
                if cs:
                    nt = float(sum(cs))
                    z = b + float(np.dot(
                        w[np.asarray(bs, dtype=np.int64)],
                        np.asarray(cs))) / nt
                if z >= 0:
                    p = 1.0 / (1.0 + float(np.exp(-z)))
                else:
                    ez = float(np.exp(z))
                    p = ez / (1.0 + ez)
                ps.append(p)
            yield pd.DataFrame({"id": pdf["__id"], out_col: ps})

    return df.select(F.col(id_col).alias("__id"),
                     F.col(text_col).alias("__t")) \
             .mapInPandas(fn, f"id {id_type}, {out_col} double")


def save_classifier(model: dict, path: str) -> None:
    """Persist a ridge/logreg/hashed-logreg model dict to one ``.npz``
    file: arrays as npz members, scalars/lists as a JSON side member.
    Pure numpy+json — no pickle, so artifacts are portable across
    Python versions and inspectable (`np.load(path).files`)."""
    import json

    arrays, meta = {}, {}
    for k, v in model.items():
        if isinstance(v, np.ndarray):
            arrays[k] = v
        else:
            meta[k] = v
    # write through a file handle: np.savez(str) APPENDS .npz when the
    # extension is missing, which would break load(path) round-trips
    with open(path, "wb") as fh:
        np.savez(fh, __meta__=np.frombuffer(
            json.dumps(meta).encode(), dtype=np.uint8), **arrays)


def load_classifier(path: str) -> dict:
    """Inverse of :func:`save_classifier`."""
    import json

    with np.load(path) as z:
        model = {k: z[k] for k in z.files if k != "__meta__"}
        model.update(json.loads(z["__meta__"].tobytes().decode()))
    return model


def filter_by_score(df: DataFrame, score_col: str,
                    keep_fraction: float,
                    keep_high: bool = True) -> DataFrame:
    """Keep the top (or bottom) ``keep_fraction`` of rows by an
    existing score column — the generic classifier gate behind
    :func:`probe_filter`, reusable for logreg probabilities, DSIR
    weights, perplexities (``keep_high=False``), or any other scalar.
    ONE sketch-quantile job for the cutoff, then a map-side predicate
    — the corpus never shuffles.  Rows AT the cutoff keep, so the
    kept set is a pure function of (scores, fraction)."""
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], "
                         f"got {keep_fraction}")
    if keep_fraction == 1.0:
        return df
    q = 1.0 - keep_fraction if keep_high else keep_fraction
    cut = df.agg(F.percentile_approx(
        F.col(score_col), F.lit(q), F.lit(10000)).alias("c")) \
        .first()["c"]
    if cut is None:             # no non-null scores: empty in, empty out
        return df.where(F.lit(False))
    pred = (F.col(score_col) >= F.lit(float(cut)) if keep_high
            else F.col(score_col) <= F.lit(float(cut)))
    return df.where(pred)


def calibration_report(df: DataFrame, p_col: str, label_col: str,
                       n_bins: int = 10) -> DataFrame:
    """Reliability table for a probability column vs its 0/1 label:
    ``(bin, n, mean_p_e6, rate_e6, gap_e6)`` — one row per probability
    bin (bin = ⌊p·n_bins⌋, p=1 folded into the top bin), the decile
    diagram behind ECE/threshold audits of a quality classifier.

    ONE map-side-combinable aggregate; the probability sum is e9-
    quantized to an exact DECIMAL(38,0) before summing and the label
    sum is an integer count, so every row is partitioning-independent
    and the e6 outputs replay in any SQL engine from the same
    quantization.  ECE = Σ n_b·|gap_b| / Σ n_b, computable from the
    returned relation with one more line."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    p = F.col(p_col).cast("double")
    # validate on the RAW label (0.7 must be excluded, not truncated
    # to 0 by a bigint cast), then cast the survivors
    raw_ok = F.col(label_col).isNotNull() & F.col(label_col).isin(0, 1)
    y = F.col(label_col).cast("bigint")
    b = F.least(F.floor(p * n_bins).cast("int"), F.lit(n_bins - 1))
    s = float(10 ** GRAD_DECIMALS)
    return (df.where(p.isNotNull() & raw_ok)
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.round(p * s, 0).cast("decimal(38,0)"))
                 .alias("__sp"),
                 F.sum(y).cast("bigint").alias("__sy"))
            .select("bin", "n",
                    F.floor(F.col("__sp") / F.col("n") / 1000.0
                            + F.lit(0.5)).cast("bigint")
                    .alias("mean_p_e6"),
                    F.floor(F.col("__sy") * 1000000.0 / F.col("n")
                            + F.lit(0.5)).cast("bigint")
                    .alias("rate_e6"))
            .withColumn("gap_e6", F.col("mean_p_e6") - F.col("rate_e6"))
            .orderBy("bin"))


def probe_filter(df: DataFrame, model: dict, keep_fraction: float,
                 id_col: str, out_col: str = "probe_score") -> DataFrame:
    """Keep the top ``keep_fraction`` of rows by probe score — the
    FineWeb-style classifier gate.  The cutoff is ONE approximate
    quantile job (sketch aggregate, no sort); the filter is then a
    map-side predicate, so the corpus never shuffles.  Deterministic
    tie-handling: rows AT the cutoff keep, so the kept set is a pure
    function of (model, data)."""
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], "
                         f"got {keep_fraction}")
    scored = ridge_score(df, model, out_col)
    return filter_by_score(scored, out_col, keep_fraction)


def logreg_top_features(df: DataFrame, text_col: str, model: dict,
                        top_k: int = 20,
                        examples_per_bucket: int = 3) -> DataFrame:
    """Interpretability audit for a :func:`logreg_fit_hashed` model:
    ``(direction, bucket, weight_e6, rank, terms, n_docs)`` — the
    ``top_k`` most positive and most negative hash buckets, each with
    the commonest corpus n-grams that land in it (hashing is one-way,
    so representative terms must come FROM the corpus) and ``n_docs``,
    the bucket's collision mass — the sum of per-term document
    frequencies over ALL distinct n-grams hashed into the bucket, not
    just the displayed examples.  The "why is the filter dropping X"
    answer a
    production quality gate owes its operators — and the collision
    audit in the same relation: a high-|w| bucket whose ``terms`` mix
    spam markers with innocent n-grams is hash-collision collateral,
    the signal to raise ``n_buckets``.

    Plan: the top buckets are driver-side numpy (the model is small);
    the corpus pass is one tokenize + fold restricted to those ≤2k
    buckets (map-side filter BEFORE the shuffle, so traffic is
    O(tokens in flagged buckets)); per-bucket term lists are a bounded
    window top-N.  Weights are e6-scaled BIGINTs so the relation
    replays exactly."""
    from ..plans.exchange import ship_package

    ship_package(df.sparkSession)
    from pyspark.sql import Window

    if top_k < 1 or examples_per_bucket < 1:
        raise ValueError(f"need top_k >= 1 and examples_per_bucket "
                         f">= 1, got {top_k}, {examples_per_bucket}")
    w = np.asarray(model["w"], dtype=np.float64)
    nb = int(model["n_buckets"])
    fold = bool(model["fold_bigrams"])
    order = np.argsort(w)
    picks = ([("neg", int(b)) for b in order[:top_k] if w[b] < 0]
             + [("pos", int(b)) for b in order[::-1][:top_k]
                if w[b] > 0])
    spark = df.sparkSession
    flagged = spark.createDataFrame(
        [(d, b, int(np.floor(w[b] * 1e6 + 0.5))) for d, b in picks],
        "direction string, bucket int, weight_e6 bigint")

    import pandas as pd

    def fn(it):
        import hashlib
        import re

        bset = {b for _d, b in picks}
        bdir = dict((b, d) for d, b in picks)
        for pdf in it:
            dirs, bks, terms = [], [], []
            for t in pdf["__t"]:
                # re-derive term -> bucket to label the flagged ones
                toks = [x for x in re.split(r"[ \t\n\x0b\f\r]+",
                                            t or "") if x]
                hs = [int(hashlib.md5(f"0:{x}".encode(
                    "utf-8", "surrogatepass")).hexdigest()[:12], 16)
                    for x in toks]
                seen = set()
                for tok, h in zip(toks, hs):
                    b = h % nb
                    if b in bset and (b, tok) not in seen:
                        seen.add((b, tok))
                        dirs.append(bdir[b])
                        bks.append(b)
                        terms.append(tok)
                # bigrams take the model's own hash path: the 40-bit
                # fold of the unigram hashes (fold_bigrams=True) or a
                # fresh md5 of the joined gram (False) — _doc_buckets
                for (t1, t2), (h1, h2) in zip(
                        zip(toks, toks[1:]), zip(hs, hs[1:])):
                    if fold:
                        b = ((h1 % _FOLD_MOD) * _FOLD_MULT + h2) % nb
                    else:
                        b = int(hashlib.md5(
                            f"0:{t1} {t2}".encode(
                                "utf-8", "surrogatepass"))
                            .hexdigest()[:12], 16) % nb
                    gram = f"{t1} {t2}"
                    if b in bset and (b, gram) not in seen:
                        seen.add((b, gram))
                        dirs.append(bdir[b])
                        bks.append(b)
                        terms.append(gram)
            yield pd.DataFrame({"direction": dirs, "bucket": bks,
                                "term": terms})

    hits = df.select(F.col(text_col).alias("__t")).mapInPandas(
        fn, "direction string, bucket int, term string")
    counted = (hits.groupBy("direction", "bucket", "term")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    top = Window.partitionBy("bucket").orderBy(
        F.col("n_docs").desc(), F.col("term").asc())
    # n_docs is the bucket's COLLISION MASS: the sum of per-term
    # document frequencies over ALL distinct n-grams hashed into the
    # bucket (computed BEFORE the examples_per_bucket display filter,
    # so it is independent of how many terms are shown).  A doc
    # containing several distinct colliding terms counts once per
    # term — that is the quantity a collision audit compares against
    # the displayed terms' share.  collect_list drops the nulls the
    # WHEN produces, so display truncation and the full sum share one
    # aggregation (single shuffle, corpus scanned once).
    per_bucket = (counted.withColumn("__r", F.row_number().over(top))
                  .groupBy("direction", "bucket")
                  .agg(F.array_sort(F.collect_list(
                      F.when(F.col("__r") <= int(examples_per_bucket),
                             F.struct(F.col("__r").alias("r"),
                                      "term"))))
                      .alias("__ts"),
                      F.sum("n_docs").cast("bigint").alias("n_docs")))
    ranked = Window.partitionBy("direction").orderBy(
        F.abs(F.col("weight_e6")).desc(), F.col("bucket").asc())
    return (flagged.join(per_bucket, ["direction", "bucket"], "left")
            .select("direction", "bucket", "weight_e6",
                    F.row_number().over(ranked).alias("rank"),
                    F.coalesce(
                        F.transform(F.col("__ts"),
                                    lambda s: s.getField("term")),
                        F.array().cast("array<string>")).alias("terms"),
                    F.coalesce("n_docs", F.lit(0)).cast("bigint")
                    .alias("n_docs"))
            .orderBy("direction", "rank"))
