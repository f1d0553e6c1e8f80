"""Linear-probe (ridge) training/scoring vs the numpy closed form."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark.operators import models


def _data(spark, n=500, d=3, seed=0, noise=0.1):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d))
    beta = np.arange(1, d + 1, dtype=float)
    y = X @ beta + 2.5 + rng.normal(0, noise, n)
    rows = [tuple(map(float, X[i])) + (float(y[i]),) for i in range(n)]
    cols = [f"f{i}" for i in range(d)]
    return (spark.createDataFrame(rows, cols + ["y"]), X, y, cols)


def _ref_ridge(X, y, l2):
    Xc = X - X.mean(axis=0)
    yc = y - y.mean()
    d = X.shape[1]
    coef = np.linalg.solve(Xc.T @ Xc + l2 * np.eye(d), Xc.T @ yc)
    return coef, y.mean() - X.mean(axis=0) @ coef


@pytest.mark.parametrize("l2", [0.0, 1e-6, 10.0])
def test_ridge_fit_matches_numpy_closed_form(spark, l2):
    df, X, y, cols = _data(spark)
    m = models.ridge_fit(df, cols, "y", l2=l2)
    coef, inter = _ref_ridge(X, y, l2)
    assert m["n"] == len(y)
    np.testing.assert_allclose(m["coef"], coef, atol=1e-8)
    assert m["intercept"] == pytest.approx(inter, abs=1e-8)


def test_ridge_fit_partitioning_stable_and_null_rows_dropped(spark):
    df, X, y, cols = _data(spark, n=300)
    withnull = df.unionByName(
        spark.createDataFrame([(None, 0.0, 0.0, 5.0)], df.schema))
    a = models.ridge_fit(withnull.coalesce(1), cols, "y")
    b = models.ridge_fit(withnull.repartition(7), cols, "y")
    assert a["n"] == b["n"] == 300
    np.testing.assert_allclose(a["coef"], b["coef"], atol=1e-9)


def test_ridge_score_is_codegen_linear_expression(spark):
    df, X, y, cols = _data(spark, n=200)
    m = models.ridge_fit(df, cols, "y", l2=1e-6)
    scored = models.ridge_score(df, m)
    got = np.array([r["probe_score"]
                    for r in scored.select("probe_score").collect()])
    want = X @ m["coef"] + m["intercept"]
    np.testing.assert_allclose(np.sort(got), np.sort(want), atol=1e-9)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_probe_filter_keeps_top_fraction(spark):
    df, X, y, cols = _data(spark, n=1000)
    m = models.ridge_fit(df, cols, "y")
    kept = models.probe_filter(df, m, keep_fraction=0.25,
                               id_col="f0").collect()
    assert 200 <= len(kept) <= 300          # sketch-approximate quartile
    scores = np.array([r["probe_score"] for r in kept])
    # kept scores dominate: their min is above the population median
    all_scores = X @ m["coef"] + m["intercept"]
    assert scores.min() >= np.median(all_scores)
    assert models.probe_filter(df, m, 1.0, "f0").count() == 1000


def test_validation_errors(spark):
    df, _, _, cols = _data(spark, n=10)
    with pytest.raises(ValueError, match="features"):
        models.ridge_fit(df, [f"f{i}" for i in range(100)], "y")
    with pytest.raises(ValueError, match="l2"):
        models.ridge_fit(df, cols, "y", l2=-1.0)
    with pytest.raises(ValueError, match="keep_fraction"):
        models.probe_filter(df, {"cols": cols, "coef": [0, 0, 0],
                                 "intercept": 0.0}, 0.0, "f0")
    with pytest.raises(ValueError, match="no rows"):
        models.ridge_fit(df.where("y > 1e18"), cols, "y")


def test_ridge_fit_exact_decimals_bit_identical_under_repartition(spark):
    rng = np.random.default_rng(11)
    n = 400
    X = np.round(rng.normal(0, 50, size=(n, 2)), 2)
    y = np.round(X @ np.array([1.5, -0.75]) + 3 +
                 rng.normal(0, 1, n), 2)
    rows = [(float(X[i, 0]), float(X[i, 1]), float(y[i]))
            for i in range(n)]
    df = spark.createDataFrame(rows, ["a", "b", "y"])
    dec = {"a": 2, "b": 2, "y": 2}
    m1 = models.ridge_fit(df.coalesce(1), ["a", "b"], "y",
                          l2=1e-6, decimals=dec)
    m7 = models.ridge_fit(df.repartition(7), ["a", "b"], "y",
                          l2=1e-6, decimals=dec)
    # EXACT equality: integer sums make the fit a pure function of
    # the data, not the partitioning
    assert list(m1["coef"]) == list(m7["coef"])
    assert m1["intercept"] == m7["intercept"]
    coef, inter = _ref_ridge(X, y, 1e-6)
    np.testing.assert_allclose(m1["coef"], coef, rtol=1e-9)
    assert m1["intercept"] == pytest.approx(inter, abs=1e-8)
    with pytest.raises(ValueError, match="decimals must cover"):
        models.ridge_fit(df, ["a", "b"], "y", decimals={"a": 2})


# ---------------------------------------------------------------- logreg


def _logit_data(spark, n=1500, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 2))
    z = 1.5 * X[:, 0] - 2.0 * X[:, 1] + 0.3
    y = (1 / (1 + np.exp(-z)) > rng.random(n)).astype(int)
    rows = [(float(X[i, 0]), float(X[i, 1]), int(y[i]))
            for i in range(n)]
    return spark.createDataFrame(rows, ["f0", "f1", "y"]), X, y


def _numpy_irls(X, y, l2=1e-6, n_iter=12, tol=1e-9):
    """Unquantized float IRLS — the public textbook iteration the
    Spark fit must track to ~quantization precision."""
    n, d = X.shape
    Xb = np.hstack([np.ones((n, 1)), X])
    beta = np.zeros(d + 1)
    for _ in range(n_iter):
        p = 1 / (1 + np.exp(-(Xb @ beta)))
        g = Xb.T @ (p - y)
        g[1:] += l2 * beta[1:]
        W = p * (1 - p)
        H = Xb.T @ (Xb * W[:, None])
        H[1:, 1:] += l2 * np.eye(d)
        step = np.linalg.solve(H + 1e-12 * np.eye(d + 1), g)
        beta -= step
        if np.max(np.abs(step)) < tol:
            break
    return beta


def test_logreg_fit_tracks_numpy_irls(spark):
    df, X, y = _logit_data(spark)
    m = models.logreg_fit(df, ["f0", "f1"], "y", n_iter=12)
    beta = _numpy_irls(X, y)
    assert m["converged"]
    assert m["intercept"] == pytest.approx(beta[0], abs=1e-6)
    np.testing.assert_allclose(m["coef"], beta[1:], atol=1e-6)
    # MLE calibration: mean fitted probability == base rate
    got = models.logreg_score(df, m).agg(
        F.avg("quality_p")).first()[0]
    assert got == pytest.approx(y.mean(), abs=1e-6)


def test_logreg_fit_bit_identical_under_repartition(spark):
    df, _, _ = _logit_data(spark, n=600, seed=3)
    a = models.logreg_fit(df.coalesce(1), ["f0", "f1"], "y")
    b = models.logreg_fit(df.repartition(7), ["f0", "f1"], "y")
    assert list(a["coef"]) == list(b["coef"])
    assert a["intercept"] == b["intercept"]
    assert a["n_iter_run"] == b["n_iter_run"]


def test_logreg_score_stays_jvm_side(spark):
    df, _, _ = _logit_data(spark, n=100)
    m = models.logreg_fit(df, ["f0", "f1"], "y", n_iter=4)
    scored = models.logreg_score(df, m)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    p = np.array([r["quality_p"]
                  for r in scored.select("quality_p").collect()])
    assert ((p > 0) & (p < 1)).all()


def test_logreg_validation(spark):
    df, _, _ = _logit_data(spark, n=20)
    with pytest.raises(ValueError, match="features"):
        models.logreg_fit(df, [f"f{i}" for i in range(100)], "y")
    with pytest.raises(ValueError, match="l2"):
        models.logreg_fit(df, ["f0"], "y", l2=-1.0)
    with pytest.raises(ValueError, match="n_iter"):
        models.logreg_fit(df, ["f0"], "y", n_iter=0)
    with pytest.raises(ValueError, match="no rows"):
        models.logreg_fit(df.where("y > 5"), ["f0"], "y")
    with pytest.raises(ValueError, match="n_buckets"):
        models.logreg_fit_hashed(df, "f0", "f0", "y", n_buckets=1)


def _vocab_docs(spark, n=300, seed=1):
    """Separable corpus: label-0 docs draw from b*, label-1 from g*."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        y = i % 2
        voc = ([f"g{j}" for j in range(20)] if y
               else [f"b{j}" for j in range(20)])
        toks = [voc[rng.integers(20)] for _ in range(30)]
        rows.append((i, " ".join(toks), y))
    return spark.createDataFrame(rows, "id bigint, text string, y int")


def test_logreg_hashed_separates_vocabularies(spark):
    df = _vocab_docs(spark)
    m = models.logreg_fit_hashed(df, "text", "id", "y",
                                 n_buckets=256, n_iter=25, lr=2.0)
    sc = models.logreg_score_hashed(df, "text", "id", m)
    j = sc.join(df.select(F.col("id").alias("id2"), "y"),
                F.col("id") == F.col("id2"))
    acc = j.select(F.avg(
        ((F.col("quality_p") > 0.5).cast("int") == F.col("y"))
        .cast("double"))).first()[0]
    assert acc == 1.0


def test_logreg_hashed_bit_identical_under_repartition(spark):
    df = _vocab_docs(spark, n=120, seed=5)
    a = models.logreg_fit_hashed(df.coalesce(1), "text", "id", "y",
                                 n_buckets=128, n_iter=8, lr=1.0)
    b = models.logreg_fit_hashed(df.repartition(9), "text", "id", "y",
                                 n_buckets=128, n_iter=8, lr=1.0)
    assert np.array_equal(a["w"], b["w"])
    assert a["intercept"] == b["intercept"]


def test_logreg_hashed_fold_bigrams_variant_trains(spark):
    df = _vocab_docs(spark, n=100, seed=7)
    m = models.logreg_fit_hashed(df, "text", "id", "y", n_buckets=128,
                                 n_iter=10, lr=1.5, fold_bigrams=True)
    sc = models.logreg_score_hashed(df, "text", "id", m)
    j = sc.join(df.select(F.col("id").alias("id2"), "y"),
                F.col("id") == F.col("id2"))
    acc = j.select(F.avg(
        ((F.col("quality_p") > 0.5).cast("int") == F.col("y"))
        .cast("double"))).first()[0]
    assert acc >= 0.95


def test_logreg_hashed_tree_reduce_bit_identical(spark, monkeypatch):
    # the bucketed applyInPandas partial reduce (the >64 MB-of-blobs
    # path a 1000-partition cluster takes) must produce EXACTLY the
    # driver-summed weights — integer partial sums commute
    from xpysom_dask_spark.plans import exchange

    df = _vocab_docs(spark, n=80, seed=11).repartition(6)
    flat = models.logreg_fit_hashed(df, "text", "id", "y",
                                    n_buckets=512, n_iter=4)
    monkeypatch.setattr(exchange, "TREE_MERGE_BYTES", 0)
    tree = models.logreg_fit_hashed(df, "text", "id", "y",
                                    n_buckets=512, n_iter=4)
    assert np.array_equal(flat["w"], tree["w"])
    assert flat["intercept"] == tree["intercept"]


def test_logreg_hashed_fasttext_scale_dim(spark):
    # 2^18 buckets: broadcast + blob machinery at fastText scale
    # (auto tree threshold stays off at 4 partitions; the point is
    # the dimension, not the fanout)
    df = _vocab_docs(spark, n=60, seed=13)
    m = models.logreg_fit_hashed(df, "text", "id", "y",
                                 n_buckets=1 << 18, n_iter=3)
    assert m["n_buckets"] == 1 << 18
    sc = models.logreg_score_hashed(df, "text", "id", m)
    j = sc.join(df.select(F.col("id").alias("id2"), "y"),
                F.col("id") == F.col("id2"))
    acc = j.select(F.avg(
        ((F.col("quality_p") > 0.5).cast("int") == F.col("y"))
        .cast("double"))).first()[0]
    assert acc >= 0.95


def test_calibration_report_matches_python_oracle(spark):
    rng = np.random.default_rng(17)
    p = np.round(rng.random(800), 6)
    y = (rng.random(800) < p).astype(int)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(p, y)], ["p", "y"])
    got = {r["bin"]: r for r in
           models.calibration_report(df, "p", "y").collect()}
    for b in range(10):
        m = (np.minimum((p * 10).astype(int), 9)) == b
        if not m.any():
            assert b not in got
            continue
        r = got[b]
        assert r["n"] == int(m.sum())
        want_mean = int(np.floor(
            np.rint(p[m] * 1e9).sum() / m.sum() / 1000.0 + 0.5))
        assert abs(r["mean_p_e6"] - want_mean) <= 1
        assert r["rate_e6"] == int(np.floor(
            y[m].sum() * 1e6 / m.sum() + 0.5))
        assert r["gap_e6"] == r["mean_p_e6"] - r["rate_e6"]
    # well-calibrated by construction: gaps are sampling noise only
    # (~80 rows/decile → s.e. ≈ 0.056; 0.25 is a >4-sigma bound)
    assert all(abs(r["gap_e6"]) < 250000 for r in got.values())
    with pytest.raises(ValueError, match="n_bins"):
        models.calibration_report(df, "p", "y", n_bins=1)


def test_save_load_classifier_roundtrip(tmp_path, spark):
    df, _, _ = _logit_data(spark, n=200, seed=19)
    m = models.logreg_fit(df, ["f0", "f1"], "y", n_iter=6)
    p = str(tmp_path / "clf.npz")
    models.save_classifier(m, p)
    back = models.load_classifier(p)
    assert np.array_equal(back["coef"], m["coef"])
    assert back["intercept"] == m["intercept"]
    assert back["cols"] == m["cols"] and back["n"] == m["n"]
    # hashed model (big array member)
    dfh = _vocab_docs(spark, n=40, seed=23)
    mh = models.logreg_fit_hashed(dfh, "text", "id", "y",
                                  n_buckets=128, n_iter=3)
    p2 = str(tmp_path / "clf2.npz")
    models.save_classifier(mh, p2)
    back2 = models.load_classifier(p2)
    assert np.array_equal(back2["w"], mh["w"])
    assert back2["n_buckets"] == 128
    # loaded model scores identically
    a = models.logreg_score_hashed(dfh, "text", "id", mh).collect()
    b = models.logreg_score_hashed(dfh, "text", "id", back2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_filter_by_score_both_directions(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], ["id", "s"])
    hi = models.filter_by_score(df, "s", 0.25).collect()
    assert 200 <= len(hi) <= 300
    assert min(r["s"] for r in hi) >= 700
    lo = models.filter_by_score(df, "s", 0.25, keep_high=False)
    assert max(r["s"] for r in lo.collect()) <= 300
    assert models.filter_by_score(df, "s", 1.0).count() == 1000
    with pytest.raises(ValueError, match="keep_fraction"):
        models.filter_by_score(df, "s", 0.0)


def test_review_fixes_round9_session3(tmp_path, spark):
    # save/load round-trips a path WITHOUT the .npz extension
    df, _, _ = _logit_data(spark, n=100, seed=31)
    m = models.logreg_fit(df, ["f0", "f1"], "y", n_iter=4)
    p = str(tmp_path / "model_no_ext")
    models.save_classifier(m, p)
    assert np.array_equal(models.load_classifier(p)["coef"], m["coef"])
    # filter_by_score on all-null scores: empty out, not a crash
    nulls = spark.createDataFrame([(1, None), (2, None)],
                                  "id bigint, s double")
    assert models.filter_by_score(nulls, "s", 0.5).count() == 0
    # calibration_report excludes non-binary labels instead of
    # truncating them into the bins
    mixed = spark.createDataFrame(
        [(0.9, 1.0), (0.9, 0.7), (0.1, 0.0)], ["p", "y"])
    rows = models.calibration_report(mixed, "p", "y").collect()
    assert sum(r["n"] for r in rows) == 2
    # fit validates id_col exists (accepted for signature symmetry)
    with pytest.raises(ValueError, match="id_col"):
        models.logreg_fit_hashed(
            spark.createDataFrame([(1, "a b", 1)],
                                  "id bigint, text string, y int"),
            "text", "nope", "y", n_buckets=16, n_iter=1)


def test_logreg_hashed_weight_col_rebalances(spark):
    # upweighting the positive class moves the intercept-side mass:
    # with w=5 on y=1 rows the weighted base rate rises, so the mean
    # fitted probability must rise with it (MLE-style balance), while
    # an all-ones weight column reproduces the unweighted fit exactly
    df = _vocab_docs(spark, n=120, seed=37).withColumn(
        "w1", F.lit(1.0)).withColumn(
        "w5", F.when(F.col("y") == 1, 5.0).otherwise(1.0))
    base = models.logreg_fit_hashed(df, "text", "id", "y",
                                    n_buckets=128, n_iter=6)
    ones = models.logreg_fit_hashed(df, "text", "id", "y",
                                    n_buckets=128, n_iter=6,
                                    weight_col="w1")
    assert np.array_equal(base["w"], ones["w"])
    assert base["intercept"] == ones["intercept"]
    up = models.logreg_fit_hashed(df, "text", "id", "y",
                                  n_buckets=128, n_iter=6,
                                  weight_col="w5")
    p_up = models.logreg_score_hashed(df, "text", "id", up) \
        .agg(F.avg("quality_p")).first()[0]
    p_b = models.logreg_score_hashed(df, "text", "id", base) \
        .agg(F.avg("quality_p")).first()[0]
    assert p_up > p_b
    # weighted fit keeps the exactness contract
    up2 = models.logreg_fit_hashed(df.repartition(7), "text", "id",
                                   "y", n_buckets=128, n_iter=6,
                                   weight_col="w5")
    assert np.array_equal(up["w"], up2["w"])


def test_logreg_dense_weight_col_equals_unweighted_when_ones(spark):
    df, _, _ = _logit_data(spark, n=400, seed=43)
    dfw = df.withColumn("w", F.lit(1.0))
    a = models.logreg_fit(df, ["f0", "f1"], "y", n_iter=8)
    b = models.logreg_fit(dfw, ["f0", "f1"], "y", n_iter=8,
                          weight_col="w")
    assert list(a["coef"]) == list(b["coef"])
    assert a["intercept"] == b["intercept"]
    # upweight positives -> mean fitted p rises above base rate
    dfu = df.withColumn("w", F.when(F.col("y") == 1, 4.0)
                        .otherwise(1.0))
    up = models.logreg_fit(dfu, ["f0", "f1"], "y", n_iter=10,
                           weight_col="w")
    pa = models.logreg_score(df, a).agg(F.avg("quality_p")).first()[0]
    pu = models.logreg_score(df, up).agg(F.avg("quality_p")).first()[0]
    assert pu > pa
