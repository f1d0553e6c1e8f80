"""Physical-plan regression tests — lock in the plan shapes the engine
is designed around (PLANS.md).  A change that silently turns a narrow
stage into a shuffle, a broadcast hash join into a nested-loop join, or
a pruned scan into a full-schema scan would pass value-based tests and
still be a 100 TB disaster; these tests fail it immediately.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark import SparkSom
from xpysom_dask_spark.operators import sampling, similarity
from xpysom_dask_spark.sources import readers

from conftest import SF_TINY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_sampling_plan_is_pruned_scan_no_exchange(spark):
    docs = readers.load_table(spark, SF_TINY, "documents")
    out = sampling.hash_sample(docs, "doc_id", 0.25, seed=7) \
        .select("doc_id", "lang")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_scoring_plan_is_single_narrow_stage(spark):
    feats = readers.lineitem_features(spark, SF_TINY, keys=False)
    som = SparkSom(4, 4, 8, random_seed=1)
    scored = som.transform(feats, ("cluster_id",))
    plan = _plan(scored)
    assert "Exchange" not in plan          # no shuffle anywhere
    assert "MapInArrow" in plan            # the one kernel stage


def test_som_ivf_join_is_broadcast_hash_not_nlj(spark):
    emb = readers.load_table(spark, SF_TINY, "embeddings")
    som = SparkSom(4, 4, 64, random_seed=3, features_col="embedding")
    som.train(emb.select("embedding"), 1)
    q = emb.where("vec_id % 100 = 0").collect()
    out = similarity.som_ivf_topk(
        som, emb, np.array([r["embedding"] for r in q]),
        [r["vec_id"] for r in q], k=3, nprobe=4)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partition_filter_prunes_directories(spark, tmp_path):
    """Directory-partitioned sink + filter ⇒ partition pruning at plan
    time (PartitionFilters), not a data filter."""
    from xpysom_dask_spark.sources.writers import write_partitioned

    docs = readers.load_table(spark, SF_TINY, "documents")
    path = str(tmp_path / "by_lang")
    write_partitioned(docs, path, "lang")
    back = spark.read.parquet(path).where(F.col("lang") == "en") \
        .select("doc_id")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(lang" in plan.replace("#", " #") \
        or "lang#" in plan.split("PartitionFilters")[1][:120]


def test_feature_scan_pushes_projection(spark):
    """lineitem_features reads exactly the numeric source columns — the
    scan's attribute list must NOT contain the wide text/date columns
    (ReadSchema's string form truncates, so check the attribute list)."""
    feats = readers.lineitem_features(spark, SF_TINY, keys=False)
    plan = _plan(feats)
    assert "l_quantity#" in plan            # feature columns scanned
    assert "l_comment#" not in plan         # wide column pruned
    assert "l_shipinstruct#" not in plan


def test_curation_filter_pushes_into_scan(spark):
    """The lang equality filter of a curated read reaches the parquet
    scan as a pushed filter (cheap pre-screen before the expression
    work)."""
    docs = readers.load_table(spark, SF_TINY, "documents")
    out = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(out)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_narrow_text_ops_have_no_exchange(spark):
    """chunk_tokens and c4_line_filter must stay entirely inside the
    scan stage — any Exchange in their plans is a regression."""
    from xpysom_dask_spark.operators import text as T

    docs = readers.load_table(spark, SF_TINY, "documents")
    for out in (T.chunk_tokens(docs, "text", "doc_id", window=16),
                T.c4_line_filter(docs, "text", "doc_id")):
        plan = _plan(out)
        assert "Exchange" not in plan, plan[:500]


def test_tpch_q5_broadcasts_dimensions_no_nlj(spark):
    """The 6-way star join must plan the dimension chain as broadcast
    hash joins and never degenerate to a nested-loop/cartesian."""
    import __spark_entry__ as entry

    out = entry.queries()["tpch_q5"](spark, SF_TINY)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_filters_reach_scan(spark):
    import __spark_entry__ as entry

    out = entry.queries()["tpch_q6"](spark, SF_TINY)
    plan = _plan(out)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "l_returnflag#" not in plan      # column pruned


def test_semantic_dedup_single_cell_shuffle(spark):
    """semantic_dedup's data path: narrow Arrow scoring, ONE exchange
    on cluster_id into the per-cell Arrow task."""
    import numpy as np

    from xpysom_dask_spark.operators import similarity
    from xpysom_dask_spark.operators.som import SparkSom

    e = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    som = SparkSom(2, 2, 64, random_seed=7, features_col="embedding")
    som.train(e.select("embedding").limit(100), 1)
    out = similarity.semantic_dedup(som, e, threshold=0.4,
                                    max_cell=None)
    plan = _plan(out)
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 1, plan


def test_large_grid_trains_without_full_G(spark):
    """VERDICT r03 #4: a 100x100 grid (K=10^4, full G would be 800 MB)
    must train through the blocked influence path — no O(K^2) tensor —
    and the blocked product must equal the full-G product."""
    import numpy as np

    from xpysom_dask_spark.operators.som import SparkSom

    rng = np.random.RandomState(3)
    X = rng.rand(500, 4).astype(np.float64)

    som = SparkSom(100, 100, 4, random_seed=3, dtype=np.float64)
    assert 100 * 100 * 100 * 100 * 8 > som.influence_block_bytes
    som.train(X, 1)                      # local path, blocked influence
    assert som.get_weights().shape == (100, 100, 4)
    assert np.isfinite(som.get_weights()).all()

    # blocked vs full-G numerical agreement on a grid where full G is
    # still materializable (40x40: K=1600, G = 20 MB)
    K = 40 * 40
    S = rng.rand(K, 4)
    c = rng.rand(K)
    a = SparkSom(40, 40, 4, random_seed=3, dtype=np.float64)
    num_full, den_full = a._apply_influence(S, c, sig=2.0, eta=0.5)
    a.influence_block_bytes = 64 * 1024   # force ~5-row blocks
    num_blk, den_blk = a._apply_influence(S, c, sig=2.0, eta=0.5)
    np.testing.assert_allclose(num_blk, num_full, rtol=1e-12)
    np.testing.assert_allclose(den_blk, den_full, rtol=1e-12)


def test_training_broadcast_carries_no_influence_matrix(spark):
    """The per-epoch broadcast is (codebook, norms) only — the (K, K)
    influence matrix must not ship to workers (it applies driver-side
    after the partial merge)."""
    import numpy as np

    from xpysom_dask_spark.operators.som import SparkSom

    captured = []
    orig = spark.sparkContext.broadcast

    def spy(value):
        captured.append(value)
        return orig(value)

    spark.sparkContext.broadcast = spy
    try:
        df = spark.createDataFrame(
            [([float(i % 7), float(i % 3)],) for i in range(300)],
            "features array<double>")
        som = SparkSom(6, 6, 2, random_seed=1, fuse_local_bytes=0)
        som.train(df, 1)
    finally:
        spark.sparkContext.broadcast = orig
    model_bcs = [v for v in captured if isinstance(v, tuple)]
    assert model_bcs, "training never broadcast the model package"
    for v in model_bcs:
        assert len(v) == 2                       # (w_flat, w_sq) only
        assert not any(isinstance(a, np.ndarray) and a.ndim == 2
                       and a.shape[0] == a.shape[1] == 36 for a in v)


def test_tpch_q4_plans_semi_join_with_pushdown(spark):
    """The correlated EXISTS must plan as a (broadcast) left-semi hash
    join, and the orders date range must reach the scan."""
    import __spark_entry__ as entry

    out = entry.queries()["tpch_q4"](spark, SF_TINY)
    plan = _plan(out)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_tpch_q19_broadcasts_part_no_nlj(spark):
    """The disjunctive two-table predicate must still join part by
    equi-key broadcast (the OR evaluates post-join) — never degenerate
    to a nested-loop."""
    import __spark_entry__ as entry

    out = entry.queries()["tpch_q19"](spark, SF_TINY)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_user_shuffle(spark):
    """One hash shuffle on the user key + the scalar-singleton exchange
    — the whole funnel is one job regardless of step count."""
    from xpysom_dask_spark.operators import events as EV
    from xpysom_dask_spark.sources import readers

    ev = readers.load_table(spark, SF_TINY, "events")
    out = EV.funnel(ev, ["view", "click", "purchase"])
    plan = _plan(out)
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan


def test_tpch_round4_queries_plan_hash_joins_only(spark):
    """The 8 round-4 TPC-H queries (partsupp bridge et al.) must never
    degenerate to a cartesian/nested-loop — except the whitelisted
    1-row scalar cross joins: Q22's avg_bal stats and (since round 6)
    Q11's (cnt, tot) agg relation, which deliberately materializes the
    expensive `val` CTE once instead of twice-planned scalar
    subqueries."""
    import __spark_entry__ as entry

    Q = entry.queries()
    for name in ("tpch_q2", "tpch_q9", "tpch_q16",
                 "tpch_q17", "tpch_q20", "tpch_q21"):
        plan = _plan(Q[name](spark, SF_TINY))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
    q11 = _plan(Q["tpch_q11"](spark, SF_TINY))
    assert "CartesianProduct" not in q11
    # exactly the one 1-row agg broadcast
    assert q11.count("BroadcastNestedLoopJoin") == 1


def test_tpch_q22_cross_join_is_single_row_scalar_only(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["tpch_q22"](spark, SF_TINY))
    # the eligible-customer side anti-joins orders by hash; only the
    # 1-row avg_bal aggregate rides the nested-loop broadcast
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tpch_q21_is_decorrelated_single_lineitem_scan(spark):
    """Q21's EXISTS/NOT-EXISTS pair is pre-decorrelated into windowed
    per-order counts over the lateness aggregate's own key: exactly
    four table scans (lineitem, orders, supplier, nation — each listed
    twice by formatted explain: tree + details), never the repeated
    lineitem scans of the correlated form or a CTE join-back."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["tpch_q21"](spark, SF_TINY))
    assert plan.count("Scan parquet") <= 8


def test_bloom_decontaminate_broadcasts_bitmap(spark):
    """The Bloom probe must be a broadcast join against the bitmap
    relation — no shuffle keyed by shingle text anywhere."""
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["bloom_decontaminate"](spark, SF_TINY))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_money_queries_partitioning_independent(spark):
    """The scaled-BIGINT idiom's actual promise: identical values under
    a different shuffle layout.  Re-running with a prime partition
    count must reproduce every row bit-for-bit (a raw double SUM would
    flip low-order digits here)."""
    import __spark_entry__ as entry

    Q = entry.queries()
    names = ("tpch_q1", "tpch_q9", "tpch_q22", "ab_report")
    before = {}
    for name in names:
        df = Q[name](spark, SF_TINY)
        before[name] = sorted(map(tuple, df.collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        for name in names:
            df = Q[name](spark, SF_TINY)
            assert sorted(map(tuple, df.collect())) == before[name], name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_every_udf_bearing_function_ships_the_package():
    """Cluster-mode invariant (round-11 regression): any public
    function whose body creates an Arrow/Pandas UDF stage must call
    ship_package itself (or route through a helper that does, in
    which case the helper carries the call) — otherwise its closure
    unpickles with ModuleNotFoundError on executors that don't have
    the package on PYTHONPATH, and the bug hides whenever an earlier
    query in the same session already shipped the zip (the round-10
    full-sweep masking)."""
    import ast
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "xpysom_dask_spark")
    markers = (".mapInPandas(", ".mapInArrow(", ".applyInPandas(",
               ".applyInPandasWithState(")
    bad = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"),
                          recursive=True):
        src = open(path).read()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            seg = ast.get_source_segment(src, node) or ""
            if any(m in seg for m in markers) \
                    and "ship_package(" not in seg:
                bad.append(f"{os.path.relpath(path, pkg)}:"
                           f"{node.lineno} {node.name}")
    assert not bad, bad


def test_gate_queries_never_bare_persist():
    """VERDICT r11 #1 (the hybrid_rrf leak, and som_qe before it):
    a gate query that calls ``.persist()`` strands a cacheManager
    entry per invocation — Spark matches cached relations BY PLAN, so
    repeated bench/driver invocations of the same gate silently reuse
    the previous call's cache (fast-but-fake warm numbers) and the
    entries accumulate until the session dies.  Gates that need to
    reuse an expensive relation across two branches of one plan must
    use ``localCheckpoint(eager=True)`` (materializes once, NO
    cacheManager entry, ContextCleaner-reclaimable).  This is the
    by-PATTERN guard the round-11 by-name fixes lacked: every
    ``_q_*`` / ``_sql helper`` function in __spark_entry__.py and
    every function in bench.py except the documented session-scoped
    training input must be persist-free."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(repo, "__spark_entry__.py")).read()
    bad = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.FunctionDef):
            continue
        if not node.name.startswith(("_q_", "entry")):
            continue
        for sub in ast.walk(node):
            if isinstance(sub, ast.Call) \
                    and isinstance(sub.func, ast.Attribute) \
                    and sub.func.attr == "persist":
                bad.append(f"__spark_entry__.py:{sub.lineno} "
                           f"{node.name}")
    # bench.py: exactly one deliberate session-scoped persist (the
    # resident training-feature input, released + cacheManager-checked
    # at session end) plus the paired skew_docs persist/unpersist
    bsrc = open(os.path.join(repo, "bench.py")).read()
    n_persist = bsrc.count(".persist()")
    n_unpersist = bsrc.count(".unpersist(")
    assert n_unpersist >= n_persist - 1, (
        f"bench.py has {n_persist} persists but only {n_unpersist} "
        "unpersists (only the resident feats cache may stay, and the "
        "session-end cacheManager assertion releases even that)")
    assert not bad, bad


def test_repeated_gate_invocations_leave_cache_empty(spark):
    """Runtime twin of the AST guard above (the som_qe/hybrid_rrf
    leak class): invoking a relation-reusing gate repeatedly must
    leave the SQL cacheManager EMPTY — a leaked entry would both
    accumulate across bench repeats and contaminate later warm
    timings via plan-matched cache reuse."""
    import __spark_entry__ as entrymod

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "cache dirty before the gate ran"
    for _ in range(2):
        entrymod.queries()["hybrid_rrf"](spark, SF_TINY).collect()
        assert cm.isEmpty(), (
            "hybrid_rrf left a cacheManager entry behind — the "
            "shared doc_term_counts relation must ride "
            "localCheckpoint(eager=True), not .persist()")


def test_fetch_if_small_bounds_and_local_frame_schema(spark):
    """fetch_if_small returns the table up to its cap and None past it
    (or for a negative cap); local_frame keeps the declared schema,
    NOT NULL included, and plans as a LocalTableScan."""
    from xpysom_dask_spark.plans.exchange import fetch_if_small, local_frame

    df = spark.range(0, 5, 1, 2).localCheckpoint(eager=True)
    assert sorted(fetch_if_small(df, 5).column("id").to_pylist()) == \
        [0, 1, 2, 3, 4]
    assert fetch_if_small(df, 4) is None
    assert fetch_if_small(df, -1) is None
    assert fetch_if_small(df.where("id < 0"), 0).num_rows == 0

    lf = local_frame(spark, [[3, 1], ["c", None]],
                     "k bigint NOT NULL, v string")
    assert lf.schema.simpleString() == "struct<k:bigint,v:string>"
    assert [f.nullable for f in lf.schema] == [False, True]
    assert sorted(lf.collect()) == [(1, None), (3, "c")]
    assert "LocalTableScan" in _plan(lf)


def _both_merges(monkeypatch, fit):
    """``fit()`` under the flat merge, then under a zero byte budget
    (every partial goes through the bucketed merge); also the number
    of rows the driver adds in each."""
    from xpysom_dask_spark.plans import exchange

    driver_rows = []
    add_blobs = exchange._add_blobs

    def spy(acc, rows):
        rows = list(rows)
        driver_rows.append(len(rows))
        return add_blobs(acc, rows)

    monkeypatch.setattr(exchange, "_add_blobs", spy)
    flat = fit()
    n_flat = driver_rows[-1]
    monkeypatch.setattr(exchange, "TREE_MERGE_BYTES", 0)
    bucketed = fit()
    return flat, bucketed, n_flat, driver_rows[-1]


@pytest.fixture(scope="module")
def grid_vectors(spark):
    """400 × 16 float64 rows on a 2**-12 grid (their float64 sums are
    exact in any grouping) in 8 partitions."""
    rng = np.random.RandomState(5)
    X = rng.randint(0, 1 << 12, (400, 16)) / (1 << 12)
    return spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<double>").repartition(8)


@pytest.mark.parametrize("fit", ["covariance", "pca", "kmeans", "pq"])
def test_bucketed_partial_merge_equals_flat(spark, grid_vectors, fit,
                                            monkeypatch):
    """Every driver-merged fit runs ``exchange.partial_sums``: its
    ⌈√P⌉-group merge (3 rows for 8 partitions) gives the flat merge's
    result bit for bit.  The SOM and the hashed logistic regression
    are pinned by ``test_two_level_aggregation_path`` and
    ``test_logreg_hashed_tree_reduce_bit_identical``."""
    from xpysom_dask_spark.operators import clustering, embeddings, pq
    from xpysom_dask_spark.plans.exchange import feature_covariance

    df = grid_vectors
    fits = {
        "covariance": lambda: feature_covariance(
            df.select("embedding"), 16)[1],
        "pca": lambda: embeddings.pca_fit(
            df, dim=16, n_components=4)["components"],
        "kmeans": lambda: clustering.kmeans_fit(df, k=5, max_iter=2),
        "pq": lambda: pq.pq_fit(df, m=4, k=8, max_iter=2),
    }
    flat, bucketed, n_flat, n_bucketed = _both_merges(monkeypatch,
                                                      fits[fit])
    assert (n_flat, n_bucketed) == (8, 3)
    np.testing.assert_array_equal(flat, bucketed)


def test_partial_sums_empty_partitions_and_empty_input(spark, monkeypatch):
    """Partitions without rows add zeros, so a partly empty input sums
    its rows, and an input with no rows (with or without partitions)
    returns the zeros template, shapes and dtypes included — under
    both merges."""
    from xpysom_dask_spark.plans.exchange import partial_sums

    zeros = (np.zeros((), np.int64), np.zeros((2, 3)))

    def parts(batches):
        for b in batches:
            v = b.column(0).to_numpy().astype(np.float64)
            yield len(v), np.outer([1.0, 2.0], [v.sum(), len(v), 0.0])

    some = spark.range(0, 3, 1, 6)                    # 3 of 6 filled
    assert some.rdd.getNumPartitions() == 6
    empty = spark.range(0, 10, 1, 4).where("id < 0")  # 4, all empty
    none = spark.range(0)                             # no partitions
    assert none.rdd.getNumPartitions() == 0

    def fit():
        return [partial_sums(df, zeros, parts) for df in (some, empty, none)]

    flat, bucketed, _, _ = _both_merges(monkeypatch, fit)
    for got in (flat, bucketed):
        (n, S), *rest = got
        assert int(n) == 3
        np.testing.assert_array_equal(S, [[3.0, 3.0, 0.0], [6.0, 6.0, 0.0]])
        for n, S in rest:
            assert (n.shape, n.dtype, int(n)) == ((), np.int64, 0)
            assert (S.shape, S.dtype) == ((2, 3), np.float64)
            assert not S.any()
