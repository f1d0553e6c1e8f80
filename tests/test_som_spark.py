"""Distributed path vs local path — both run one epoch loop over one
BMU search, so the Spark plan reproduces the NumPy engine's weights bit
for bit, and the scoring stage matches driver-side winners exactly."""

import itertools
import os
import subprocess
import sys
import threading
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark import SparkSom
from xpysom_dask_spark.functions.distances import resolve_distance
from xpysom_dask_spark.plans import exchange, training
from xpysom_dask_spark.sources.readers import lineitem_features

from conftest import SF_TINY


def make_feature_df(spark, data, n_partitions=4):
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(data)]
    return spark.createDataFrame(rows, "id bigint, features array<float>") \
        .repartition(n_partitions)


@pytest.fixture(scope="module")
def rand_data():
    rng = np.random.RandomState(1234)
    return rng.rand(400, 6).astype(np.float32)


def test_spark_train_matches_local(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64,
                     fuse_local_bytes=0)  # pin the distributed partials
    som_l = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
    som_s.train(df, 4)
    som_l.train(rand_data, 4)
    np.testing.assert_array_equal(som_s.get_weights(), som_l.get_weights())


def test_spark_train_float32_close_to_local(spark, rand_data):
    """float32 features, float64 partial sums: the per-partition
    partials of float32 rows add up to the driver loop's sums exactly,
    so even the float32 codebook is the local one bit for bit."""
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(5, 4, 6, random_seed=7, fuse_local_bytes=0)
    som_l = SparkSom(5, 4, 6, random_seed=7)
    som_s.train(df, 1)
    som_l.train(rand_data, 1)
    np.testing.assert_array_equal(som_s.get_weights(), som_l.get_weights())


def test_two_level_aggregation_path(spark, rand_data, monkeypatch):
    """Force the bucketed tree merge (a zero byte budget) and check it
    produces the same weights as the direct-collect path.  The rows sit
    on a 2**-12 grid, so their float64 sums are exact in any grouping."""
    grid = np.floor(rand_data * 4096) / 4096
    df = make_feature_df(spark, grid, n_partitions=8)
    som_b = SparkSom(4, 4, 6, random_seed=3, dtype=np.float64,
                     fuse_local_bytes=0)
    som_b.train(df, 2)
    monkeypatch.setattr(exchange, "TREE_MERGE_BYTES", 0)
    som_a = SparkSom(4, 4, 6, random_seed=3, dtype=np.float64,
                     fuse_local_bytes=0)
    som_a.train(df, 2)
    np.testing.assert_array_equal(som_a.get_weights(), som_b.get_weights())


def test_transform_matches_local_winners(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(6, 5, 6, random_seed=11)
    som.train(rand_data, 2)
    got = {r["id"]: (r["bmu_x"], r["bmu_y"], r["cluster_id"])
           for r in som.transform(df).collect()}
    wins = som.winner(rand_data)
    ids = som.predict(rand_data)
    for i, ((wx, wy), cid) in enumerate(zip(wins, ids)):
        assert got[i] == (wx, wy, cid)


def test_transform_quantization_and_qe(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(4, 4, 6, random_seed=2)
    rows = som.transform(df, ("quantized", "qe")).orderBy("id").collect()
    q_local = som.quantization(rand_data)
    for r in rows:
        np.testing.assert_array_equal(r["quantized"], q_local[r["id"]])
    qe_spark = som.quantization_error(df)
    qe_local = som.quantization_error(rand_data)
    assert qe_spark == pytest.approx(qe_local, rel=1e-5)


def _near_tie_som(seed, x=4, y=6, d=6):
    """An untrained float32 model whose codebook rows come in pairs one
    float32 ulp apart, held in float64 as an untrained model holds it:
    every BMU hangs on the last bit of its activations."""
    rng = np.random.RandomState(seed)
    W = rng.rand(x * y // 2, d).astype(np.float32)
    W = np.vstack([W, W + np.float32(6e-8) * rng.choice([-1, 1], W.shape)])
    som = SparkSom(x, y, d, random_seed=seed)
    som._weights = W.astype(np.float32).astype(np.float64).reshape(x, y, d)
    return som


def _by_id(df, col):
    return [r[col] for r in df.orderBy("id").collect()]


def test_untrained_local_scoring_matches_transform_on_near_ties(spark):
    """An untrained float32 model's local predict/quantization search
    the codebook in the model dtype, like transform: the same BMUs and
    rows bit for bit even where they hang on the last bit."""
    X = np.random.RandomState(31).rand(3001, 6).astype(np.float32)
    df = make_feature_df(spark, X)
    som = _near_tie_som(31)
    assert som.get_weights().dtype == np.float64
    np.testing.assert_array_equal(
        som.predict(X), _by_id(som.transform(df, ("cluster_id",)),
                               "cluster_id"))
    q = som.quantization(X)
    assert q.dtype == np.float32
    np.testing.assert_array_equal(
        q, np.array(_by_id(som.transform(df, ("quantized",)), "quantized"),
                    np.float32))
    assert som.quantization_error(X) == pytest.approx(
        som.quantization_error(df), rel=1e-6)


def test_euclidean_outputs_together_equal_each_alone(spark):
    """quantized, qe, distances and te_err asked for together come from
    one chunked euclidean pass per batch, and equal each asked for
    alone: near-tie codebook, Arrow batches of 37 rows (plus tails), so
    batch lengths are not multiples of 4."""
    X = np.random.RandomState(32).rand(1001, 6).astype(np.float32)
    som = _near_tie_som(32)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        df = make_feature_df(spark, X, n_partitions=3).cache()
        outs = ("quantized", "qe", "distances", "te_err")
        both = som.transform(df, outs, keep=("id",))
        for o in outs:
            alone = _by_id(som.transform(df, (o,), keep=("id",)), o)
            assert _by_id(both, o) == alone, o
        np.testing.assert_array_equal(
            np.array(_by_id(both, "quantized"), np.float32),
            som.quantization(X))
        np.testing.assert_array_equal(
            np.array(_by_id(both, "distances"), np.float32),
            som.distance_from_weights(X))
        assert np.mean(_by_id(both, "te_err")) == som.topographic_error(X)
        df.unpersist()
    finally:
        spark.conf.set(key, old)


def test_topographic_error_spark_matches_local(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(4, 4, 6, random_seed=5)
    som.train(rand_data, 2)
    assert som.topographic_error(df) == pytest.approx(
        som.topographic_error(rand_data), abs=1e-12)


def test_activation_response_spark(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(4, 4, 6, random_seed=5)
    np.testing.assert_array_equal(som.activation_response(df),
                                  som.activation_response(rand_data))


def test_labels_map_spark(spark, rand_data):
    labels = ["even" if i % 2 == 0 else "odd" for i in range(len(rand_data))]
    rows = [(i, [float(v) for v in row], labels[i])
            for i, row in enumerate(rand_data)]
    df = spark.createDataFrame(
        rows, "id bigint, features array<float>, tag string")
    som = SparkSom(3, 3, 6, random_seed=5)
    got = som.labels_map(df, "tag")
    exp = som.labels_map(rand_data, labels)
    assert got == exp


def test_width_mismatch_fails_fast(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "id bigint, features array<float>")
    som = SparkSom(3, 3, 4, random_seed=1)
    with pytest.raises(Exception, match="expected 4"):
        som.transform(df).collect()


def test_pca_init_distributed_matches_local(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(4, 4, 6, random_seed=1)
    som_l = SparkSom(4, 4, 6, random_seed=1)
    som_s.pca_weights_init(df)
    som_l.pca_weights_init(rand_data.astype(np.float64))
    np.testing.assert_allclose(som_s.get_weights(), som_l.get_weights(),
                               atol=1e-6)


def test_lineitem_features_source(spark):
    df = lineitem_features(spark, SF_TINY)
    assert df.columns == ["l_orderkey", "l_linenumber", "features"]
    row = df.first()
    assert len(row["features"]) == 8
    # pushdown sanity: the scan must prune to the referenced columns only
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_comment" not in plan


def test_end_to_end_flagship(spark):
    """sf0.001 lineitem → features → train 2 epochs → activation response."""
    df = lineitem_features(spark, SF_TINY).select("features")
    som = SparkSom(8, 8, 8, random_seed=42)
    q0 = som.quantization_error(df)
    som.train(df, 2)
    assert som.quantization_error(df) < q0
    resp = som.activation_response_df(df)
    total = resp.agg(F.sum("n_wins")).collect()[0][0]
    assert total == df.count()


def test_hexagonal_spark_train_matches_local(spark, rand_data):
    from xpysom_dask_spark import SparkSom
    import numpy as np
    X = rand_data[:300]
    local = SparkSom(5, 5, X.shape[1], random_seed=13,
                     topology="hexagonal", dtype=np.float64)
    local.train(X, 3)
    dist = SparkSom(5, 5, X.shape[1], random_seed=13,
                    topology="hexagonal", dtype=np.float64,
                    fuse_local_bytes=0)  # pin the distributed partials
    df = spark.createDataFrame([(list(map(float, r)),) for r in X],
                               "features array<double>")
    dist.train(df, 3)
    np.testing.assert_allclose(dist.get_weights(), local.get_weights(),
                               rtol=1e-9, atol=1e-12)
    assert dist.topographic_error(df) == pytest.approx(
        local.topographic_error(X), abs=1e-12)


def test_som_ivf_recall_increases_with_nprobe(spark):
    """ANN quality law: IVF recall@5 versus the exact GEMM top-k must be
    monotone in nprobe and complete when probing every cell."""
    import numpy as np
    from conftest import SF_TINY
    from xpysom_dask_spark import SparkSom
    from xpysom_dask_spark.operators import similarity
    from xpysom_dask_spark.sources import readers

    emb = readers.load_table(spark, SF_TINY, "embeddings")
    som = SparkSom(4, 4, 64, random_seed=42, features_col="embedding")
    som.train(emb.select("embedding"), 2)
    q = emb.where("vec_id % 20 = 0").collect()
    qids = [r["vec_id"] for r in q]
    Q = np.array([r["embedding"] for r in q])

    exact = similarity.cosine_topk(emb, emb.where("vec_id % 20 = 0"), k=5)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    recalls = []
    for nprobe in (1, 4, 16):
        got = {}
        out = similarity.som_ivf_topk(som, emb, Q, qids, k=5, nprobe=nprobe)
        for r in out.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(k, set()) & v) for k, v in truth.items())
        total = sum(len(v) for v in truth.values())
        recalls.append(hits / total)
    assert recalls == sorted(recalls), recalls      # monotone in nprobe
    assert recalls[-1] == 1.0, recalls              # nprobe=cells → exact
    assert recalls[0] > 0.2, recalls                # even 1 probe finds some


def test_epoch_fusion_matches_distributed(spark, rand_data, capsys):
    """Small-input epoch fusion (one Arrow collect + driver-side loop)
    must produce the same weights as the distributed per-epoch partials
    plan it replaces (VERDICT r01 #6), and actually take the fused path
    (exactly one job for all epochs is hard to observe here, but the
    result contract is what matters)."""
    df = make_feature_df(spark, rand_data)
    fused = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
    assert fused.fuse_local_bytes > 0  # default ON
    dist = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64,
                    fuse_local_bytes=0)
    fused.train(df, 4, verbose=True)
    dist.train(df, 4)
    info = fused.training_info_
    assert info["path"] == "fused"
    assert dist.training_info_["path"] == "distributed"
    np.testing.assert_array_equal(fused.get_weights(), dist.get_weights())
    # the fused path keeps the same per-epoch record as the distributed one
    assert len(info["epochs"]) == len(dist.training_info_["epochs"]) == 4
    for epoch in info["epochs"]:
        assert set(epoch) == {"bmu_s", "merge_s"}
        assert epoch["bmu_s"] > 0 and epoch["merge_s"] > 0
    assert info["threads"] == training.map_threads()
    assert info["blas_pinned"] == training.blas_pinned()
    out = capsys.readouterr().out
    assert "driver loop: %d kernel thread(s)" % info["threads"] in out
    assert info["features_from"] == "collect"
    assert "; features from collect in %.3f s)" % info["collect_s"] in out
    assert out.count(" bmu ") == 4 and out.count(" merge ") == 4


def test_materialized_cache_sizes_fit_from_stats(spark, rand_data):
    """A materialized cached input is sized from its cache statistics:
    no count() job and no second cache — the fit's only job is the
    fused collect, and the result is the local fit's."""
    sc, group = spark.sparkContext, "som-fit-from-stats"
    df = make_feature_df(spark, rand_data).persist()
    try:
        df.count()
        som = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
        sc.setJobGroup(group, group)
        try:
            som.train(df, 3)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        info = som.training_info_
        assert (info["path"], info["rows"], info["rows_from"]) == (
            "fused", len(rand_data), "stats")
        assert len(jobs) == 1, jobs
        local = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
        local.train(rand_data, 3)
        np.testing.assert_allclose(som.get_weights(), local.get_weights(),
                                   rtol=0, atol=1e-12)
    finally:
        df.unpersist()


def test_unmaterialized_cache_falls_back_to_count(spark, rand_data):
    df = make_feature_df(spark, rand_data).persist()
    try:
        assert training.cached_row_count(df)[:2] == (True, None)
        som = SparkSom(5, 4, 6, random_seed=7)
        som.train(df, 2)
        info = som.training_info_
        assert (info["path"], info["rows"], info["rows_from"]) == (
            "fused", len(rand_data), "count")
        # the count filled the caller's cache, not one of its own
        assert training.cached_row_count(df)[:2] == (True, len(rand_data))
    finally:
        df.unpersist()


_groups = itertools.count()


def _fit_jobs(spark, som, df, epochs=2):
    """``som.train(df, epochs)`` in a job group of its own; returns the
    number of Spark jobs the fit ran."""
    sc, group = spark.sparkContext, "som-memo-fit-%d" % next(_groups)
    sc.setJobGroup(group, group)
    try:
        som.train(df, epochs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _local(data, dtype=np.float32, epochs=2):
    return SparkSom(5, 4, data.shape[1], random_seed=7,
                    dtype=dtype).train(data, epochs).get_weights()


def test_repeated_fit_of_materialized_cache_runs_no_job(spark, rand_data,
                                                        capsys):
    """A second fused fit of a materialized cache takes the first fit's
    feature blocks and runs no Spark job — also through a
    ``spark.table`` handle on the same cache — with the same weights."""
    df = make_feature_df(spark, rand_data).persist()
    try:
        df.count()
        first = SparkSom(5, 4, 6, random_seed=7)
        assert _fit_jobs(spark, first, df) == 1
        info = first.training_info_
        assert info["features_from"] == "collect" and info["collect_s"] > 0
        again = SparkSom(5, 4, 6, random_seed=7)
        assert _fit_jobs(spark, again, df) == 0
        info = again.training_info_
        assert info["features_from"] == "memo" and "collect_s" not in info
        assert (info["path"], info["rows_from"]) == ("fused", "stats")
        np.testing.assert_array_equal(again.get_weights(),
                                      first.get_weights())
        np.testing.assert_array_equal(again.get_weights(), _local(rand_data))
        SparkSom(5, 4, 6, random_seed=7).train(df, 1, verbose=True)
        assert "; features from memo)" in capsys.readouterr().out
        df.createOrReplaceTempView("som_memo_input")
        table = SparkSom(5, 4, 6, random_seed=7)
        assert _fit_jobs(spark, table, spark.table("som_memo_input")) == 0
        np.testing.assert_array_equal(table.get_weights(),
                                      first.get_weights())
        # the kept blocks are read-only
        key, blocks = training._features_memo
        assert sum(len(b) for b in blocks) == len(rand_data)
        for block in blocks:
            assert not block.flags.writeable
            with pytest.raises(ValueError):
                block[0, 0] = 0
    finally:
        spark.catalog.dropTempView("som_memo_input")
        df.unpersist()


def test_fit_memo_misses_collect_again(spark, rand_data):
    """Another features column, another model dtype and a recache each
    collect again (one job), with the weights of a local fit on that
    column in that dtype."""
    rev = rand_data[:, ::-1].copy()
    df = (make_feature_df(spark, rand_data)
          .withColumn("reversed", F.reverse("features")).persist())
    try:
        df.count()
        # each case differs from the one before it in one key part only
        f64 = {"dtype": np.float64}
        cases = [
            ("first", {}, rand_data, np.float32),
            ("other column", {"features_col": "reversed"}, rev, np.float32),
            ("first column", {}, rand_data, np.float32),
            ("float64", f64, rand_data, np.float64),
            ("recache", f64, rand_data, np.float64),
        ]
        for name, kwargs, data, dtype in cases:
            if name == "recache":
                df.unpersist()
                df.persist()
                df.count()
            som = SparkSom(5, 4, 6, random_seed=7, **kwargs)
            assert _fit_jobs(spark, som, df) == 1, name
            assert som.training_info_["features_from"] == "collect", name
            np.testing.assert_array_equal(som.get_weights(),
                                          _local(data, dtype), err_msg=name)
    finally:
        df.unpersist()


def test_fit_memo_keys_by_column_not_name(spark, rand_data):
    """Two DataFrames whose plans differ only in column names share one
    cache (the cache manager ignores names).  Fitting the one whose
    ``features`` is the other's second column collects again and trains
    on its own column."""
    base = make_feature_df(spark, rand_data).withColumn(
        "reversed", F.reverse("features"))
    first = base.select(F.col("features").alias("features"),
                        F.col("reversed").alias("g")).persist()
    swapped = base.select(F.col("features").alias("g"),
                          F.col("reversed").alias("features"))
    try:
        first.count()
        assert training.cached_row_count(swapped)[:2] == (
            True, len(rand_data))
        assert _fit_jobs(spark, SparkSom(5, 4, 6, random_seed=7), first) == 1
        som = SparkSom(5, 4, 6, random_seed=7)
        assert _fit_jobs(spark, som, swapped) == 1
        assert som.training_info_["features_from"] == "collect"
        np.testing.assert_array_equal(som.get_weights(),
                                      _local(rand_data[:, ::-1].copy()))
    finally:
        first.unpersist()


def test_fit_that_misses_memo_frees_it(spark, rand_data):
    """A DataFrame fit that does not read the kept blocks frees them,
    whichever path it takes: a distributed fit of the same cache, a fused
    fit of another input."""
    df = make_feature_df(spark, rand_data).persist()
    try:
        df.count()
        SparkSom(5, 4, 6, random_seed=7).train(df, 1)
        assert training._features_memo is not None
        SparkSom(5, 4, 6, random_seed=7, fuse_local_bytes=0).train(df, 1)
        assert training._features_memo is None
    finally:
        df.unpersist()


def test_fit_memo_wrong_input_len_raises(spark, rand_data):
    df = make_feature_df(spark, rand_data).persist()
    try:
        df.count()
        SparkSom(5, 4, 6, random_seed=7).train(df, 1)
        assert training._features_memo is not None
        with pytest.raises(ValueError,
                           match=r"^Received 6 features, expected 5\.$"):
            SparkSom(5, 4, 5, random_seed=7).train(df, 1)
    finally:
        df.unpersist()


def test_uncached_fit_drops_memo_and_own_cache(spark, rand_data):
    cached = make_feature_df(spark, rand_data).persist()
    try:
        cached.count()
        SparkSom(5, 4, 6, random_seed=7).train(cached, 1)
        assert training._features_memo is not None
    finally:
        cached.unpersist()
    df = make_feature_df(spark, rand_data)
    som = SparkSom(5, 4, 6, random_seed=7)
    som.train(df, 2)
    assert som.training_info_["features_from"] == "collect"
    assert training._features_memo is None
    own = df.select(df["features"].alias("features"))
    assert training.cached_row_count(own)[:2] == (False, None)
    assert training.cached_row_count(df)[:2] == (False, None)


def test_concurrent_fits_keep_their_own_features(spark, rand_data):
    """Six threads (more than the cores) fitting three cached inputs in
    turn, each fit evicting another input's memo, under a short switch
    interval: every fit gets its own input's weights."""
    rng = np.random.RandomState(99)
    inputs = [rand_data] + [rng.rand(300, 6).astype(np.float32)
                            for _ in range(2)]
    dfs = [make_feature_df(spark, X).persist() for X in inputs]
    errors = []

    def fit_repeatedly(df, ref):
        try:
            for _ in range(3):
                som = SparkSom(5, 4, 6, random_seed=7).train(df, 2)
                np.testing.assert_array_equal(som.get_weights(), ref)
        except Exception as e:  # re-raised in the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    try:
        for df in dfs:
            df.count()
        refs = [_local(X) for X in inputs]
        threads = [threading.Thread(target=fit_repeatedly,
                                    args=(dfs[i % 3], refs[i % 3]))
                   for i in range(6)]
        sys.setswitchinterval(1e-5)
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
    finally:
        sys.setswitchinterval(interval)
        for df in dfs:
            df.unpersist()


def test_new_spark_context_misses_fit_memo():
    """A cache built the same way under a new SparkContext (whose RDD ids
    start over) is collected again.  Runs in a subprocess: the suite's
    session must not stop."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = r"""
import sys
sys.path.insert(0, %r)
import numpy as np
from pyspark.sql import SparkSession
from xpysom_dask_spark import SparkSom

X = np.random.RandomState(3).rand(200, 4).astype(np.float32)
rows = [(i, [float(v) for v in r]) for i, r in enumerate(X)]
out = []
for _ in range(2):
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.createDataFrame(rows, "id bigint, features array<float>")
    df = df.persist()
    df.count()
    for _ in range(2):
        som = SparkSom(3, 3, 4, random_seed=1).train(df, 2)
        out.append(som.training_info_["features_from"])
    spark.stop()
print("features_from:", ",".join(out))
""" % repo
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=300)
    assert proc.returncode == 0, (proc.stdout[-1500:], proc.stderr[-1500:])
    assert "features_from: collect,memo,collect,memo" in proc.stdout


def test_work_cap_sends_fit_distributed(spark, rand_data, monkeypatch):
    monkeypatch.setattr(training, "FUSE_WORK_CAP", 1)
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(5, 4, 6, random_seed=7)
    som_s.train(df, 1)
    info = som_s.training_info_
    assert (info["path"], info["rows"], info["rows_from"]) == (
        "distributed", len(rand_data), "count")
    assert info["epoch_work"] > info["work_cap"] == 1
    assert info["bytes"] <= info["byte_cap"]
    (epoch,) = info["epochs"]
    assert set(epoch) == {"broadcast_s", "job_s", "merge_s"}
    som_l = SparkSom(5, 4, 6, random_seed=7)
    som_l.train(rand_data, 1)
    np.testing.assert_array_equal(som_s.get_weights(), som_l.get_weights())


def test_empty_input_trains_without_warnings(spark):
    """No rows leave every count at 0: both paths keep the codebook
    and divide nowhere (no 0/0 ``RuntimeWarning``)."""
    empty = spark.createDataFrame([], "features array<float>")
    for fuse, path in ((64 << 20, "fused"), (0, "distributed")):
        som = SparkSom(3, 3, 4, random_seed=1, fuse_local_bytes=fuse)
        w0 = som.get_weights().astype(som.dtype)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            som.train(empty, 2)
        assert som.training_info_["path"] == path
        np.testing.assert_array_equal(som.get_weights(), w0)


def test_choose_path_weighs_kernel_cost():
    rows, cells, dim, cap = 300_000, 100, 8, 64 << 20
    euclid = resolve_distance("euclidean").relative_cost
    manhattan = resolve_distance("manhattan").relative_cost
    fused = training.choose_path(rows, cells, dim, 4, euclid, cap)
    assert fused["path"] == "fused"
    assert fused["epoch_work"] == rows * cells * dim
    # same n·K·d, 16× the kernel cost: past the work cap
    assert training.choose_path(rows, cells, dim, 4, manhattan,
                                cap)["path"] == "distributed"
    # the byte cap still guards driver memory on its own
    assert training.choose_path(rows, 1, dim, 4, euclid,
                                rows * dim * 4 - 1)["path"] == "distributed"
    for r in (1, rows, None):
        assert training.choose_path(r, cells, dim, 4, euclid,
                                    0)["path"] == "distributed"


@pytest.mark.parametrize("topology", ["rectangular", "hexagonal"])
def test_save_table_load_table_roundtrip(spark, tmp_path, rand_data,
                                         topology):
    som = SparkSom(5, 4, 6, random_seed=7, topology=topology,
                   activation_distance="cosine", sigma=1.5)
    som.train(rand_data, 2)
    path = str(tmp_path / "model")
    som.save_table(spark, path)
    clone = SparkSom.load_table(spark, path)
    np.testing.assert_array_equal(clone.get_weights(), som.get_weights())
    assert clone.get_weights().dtype == som.get_weights().dtype
    assert clone._param_json() == som._param_json()


def test_classify_majority_label(spark):
    """classify == driver-side majority vote over labels_map."""
    rng = np.random.RandomState(5)
    X = rng.rand(300, 4)
    labels = ["pos" if x[0] > 0.5 else "neg" for x in X]
    som = SparkSom(4, 4, 4, random_seed=2, dtype=np.float64)
    som.train(X, 3)
    df = spark.createDataFrame(
        [(i, labels[i], [float(v) for v in X[i]]) for i in range(len(X))],
        "rid bigint, lab string, features array<double>")
    got = {r.rid: r.label
           for r in som.classify(df, df, "lab", keep=("rid",)).collect()}
    lm = som.labels_map(X, labels)
    wins = som.winner(X)
    for i, win in enumerate(wins):
        counts = lm[win]
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert got[i] == best, (i, win)


def test_anomalies_flags_outliers(spark):
    rng = np.random.RandomState(8)
    X = rng.rand(500, 4)
    X[:5] += 40.0                       # blatant outliers
    som = SparkSom(4, 4, 4, random_seed=2, dtype=np.float64)
    som.train(np.asarray(X[5:]), 3)     # train on the clean part
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "rid bigint, features array<double>")
    out = som.anomalies(df, quantile=0.98, keep=("rid",)).collect()
    flagged = {r.rid for r in out}
    assert set(range(5)) <= flagged     # the injected outliers
    assert len(flagged) <= 0.05 * len(X)
    # explicit-threshold path skips the aggregate scan
    thr = som.anomaly_threshold(df, 0.98)
    out2 = {r.rid for r in
            som.anomalies(df, threshold=thr, keep=("rid",)).collect()}
    assert out2 == flagged
