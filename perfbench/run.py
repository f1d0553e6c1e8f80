#!/usr/bin/env python3
"""Benchmark of the SOM trainer/scorer and the fuzzy-dedup pipeline.

    python3 perfbench/run.py --workload som_fit --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each workload is a closed loop with one
client on ``make_session(master="local[N]", shuffle_partitions=N)``,
N = usable cores.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a separate traced run (see
README.md in this directory).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
gives context (sample counts, tail percentile, host calibration).  Exits
non-zero when a correctness check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
#: set-ups per run; setup_s is their median
SETUPS = 3
#: operations a run makes even when the time is up
MIN_OPS = 3
#: SOM weight-init seed.  Fixed, so that qe/te move with the arithmetic
#: and not with the init; the run seed draws the input rows.
MODEL_SEED = 7
#: som_fit weight tolerance against the local fit.  The distributed
#: epoch groups its float64 sums by partition, the local one by batch;
#: the float32 cast of the new weights can then differ by an ulp, and a
#: row that close to a BMU tie moves cell in the next epoch.  Seeds 1-40
#: gave 0 on 38 seeds and at most 4.8e-4 (qe 3.4e-6 relative); this is
#: ten times that, still far below what a wrong update would shift.
FIT_ATOL = 5e-3


class CheckFailed(Exception):
    """An output of the program differs from its reference."""


def check(cond, what):
    if not cond:
        raise CheckFailed(what)


def calibration_spin(iters: int = 3) -> float:
    """bench.py's host-speed spin (seeded 4M-element argsorts), one
    repeat; recorded for context, never used to normalise."""
    import numpy as np

    a = np.random.default_rng(42).random(4_000_000)
    t0 = time.perf_counter()
    acc = 0
    for _ in range(iters):
        acc ^= int(np.argsort(a)[0])
    return time.perf_counter() - t0


def input_path(wl, stem):
    """A fresh file per set-up: a rewritten path could be served from
    Spark's file-status cache."""
    wl.setups = getattr(wl, "setups", 0) + 1
    return os.path.join(wl.work, f"{stem}-{wl.setups}.parquet")


def write_features(path, X, with_id=False):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, d = X.shape
    feats = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
        pa.array(np.ascontiguousarray(X).ravel()))
    cols = {"id": pa.array(np.arange(n, dtype=np.int64))} if with_id else {}
    cols["features"] = feats
    pq.write_table(pa.table(cols), path)
    return path


# --------------------------------------------------------------------- #
# workloads: setup(spark) builds and persists the input; op(i) is one
# operation (op(0) is also the set-up's warm-up); verify(i, out)
# checks an output against the reference (untimed); quality() gives the
# quality metrics of the checked outputs.  rows x passes is the work of
# one op, cells the SOM map size the BMU kernel scans per row.


class SomWorkload:
    """A persisted Gaussian-mixture feature matrix (rows x d float32)."""

    d, cycle, trains, with_id = 8, 1, False, False

    def __init__(self, seed, work):
        self.seed, self.work = seed, work
        self.ref = None

    def setup(self, spark):
        from perfbench import gen

        self.X = gen.gaussian_mixture(self.rows, self.seed, self.d)
        path = write_features(input_path(self, self.name), self.X,
                              self.with_id)
        self.df = (spark.read.parquet(path).repartition(NPROC)
                   .persist())
        self.df.count()

    def feature_bytes(self):
        return self.rows * self.d * 4


class SomFit(SomWorkload):
    """Distributed epoch loop: the input is above fuse_local_bytes."""

    name, rows, grid, passes, trains = "som_fit", 300_000, 10, 2, True
    cells = grid * grid

    def op(self, i):
        from xpysom_dask_spark.operators.som import SparkSom

        return SparkSom(self.grid, self.grid, self.d,
                        random_seed=MODEL_SEED).train(self.df, self.passes)

    def verify(self, i, som):
        import numpy as np
        from xpysom_dask_spark.operators.som import SparkSom

        if self.ref is None:
            self.ref = SparkSom(self.grid, self.grid, self.d,
                                random_seed=MODEL_SEED).train(self.X,
                                                              self.passes)
            self.qe = som.quantization_error(self.X)
            self.te = som.topographic_error(self.X)
            ref_qe = self.ref.quantization_error(self.X)
            check(abs(self.qe - ref_qe) <= 1e-4 * ref_qe,
                  f"som_fit qe {self.qe} != local {ref_qe}")
        check(np.allclose(som.get_weights(), self.ref.get_weights(),
                          rtol=0, atol=FIT_ATOL),
              "som_fit weights differ from SparkSom.train(ndarray)")

    def quality(self):
        return {"qe": self.qe, "te": self.te}


class SomScore(SomWorkload):
    """Three narrow scoring passes with a fixed 20x20 hexagonal model."""

    name, rows, grid, passes, with_id = "som_score", 100_000, 20, 3, True
    cells = grid * grid
    fit_rows, fit_epochs = 20_000, 3

    def setup(self, spark):
        from xpysom_dask_spark.operators.som import SparkSom

        super().setup(spark)
        self.som = SparkSom(self.grid, self.grid, self.d,
                            topology="hexagonal", random_seed=MODEL_SEED)
        self.som.train(self.X[:self.fit_rows], self.fit_epochs)

    def op(self, i):
        from pyspark.sql import functions as F

        qe = self.som.quantization_error(self.df)
        te = self.som.topographic_error(self.df)
        ids = (self.som.transform(self.df, ("cluster_id",))
               .agg(F.sum("cluster_id")).collect()[0][0])
        return qe, te, ids

    def verify(self, i, out):
        import numpy as np

        qe, te, id_sum = out
        if self.ref is None:
            local = self.som.predict(self.X)
            self.ref = (self.som.quantization_error(self.X),
                        self.som.topographic_error(self.X),
                        int(local.sum()))
            tbl = self.som.transform(self.df, ("cluster_id",),
                                     keep=("id",)).toArrow()
            got = np.empty(self.rows, np.int64)
            got[tbl.column("id").to_numpy()] = \
                tbl.column("cluster_id").to_numpy()
            check(np.array_equal(got, local),
                  f"som_score: {int((got != local).sum())} cluster ids "
                  "differ from the local predict")
        check(abs(qe - self.ref[0]) <= 1e-5 * self.ref[0],
              f"som_score qe {qe} != local {self.ref[0]}")
        check(abs(te - self.ref[1]) <= 0.5 / self.rows,
              f"som_score te {te} != local {self.ref[1]}")
        check(id_sum == self.ref[2],
              f"som_score id sum {id_sum} != local {self.ref[2]}")

    def quality(self):
        return {"qe": self.ref[0], "te": self.ref[1]}


class SomSweep(SomWorkload):
    """Eight small fits under fuse_local_bytes: the driver-fused path."""

    name, rows, passes, trains = "som_sweep", 100_000, 5, True
    grids, topologies = (6, 8, 10, 12), ("rectangular", "hexagonal")
    cycle = len(grids) * len(topologies)
    cells = sum(g * g for g in grids) // len(grids)

    def __init__(self, seed, work):
        import numpy as np

        super().__init__(seed, work)
        # a fixed list, like the model seed: the run seed draws the rows
        rng = np.random.default_rng(MODEL_SEED)
        pool = [(g, t) for g in self.grids for t in self.topologies]
        self.configs = [
            {"x": g, "y": g, "topology": t,
             "sigma": float(rng.uniform(1.0, 0.4 * g)),
             "learning_rate": float(rng.uniform(0.3, 0.7))}
            for g, t in (pool[j] for j in rng.permutation(len(pool)))]
        self.models = {}

    def _som(self, i):
        from xpysom_dask_spark.operators.som import SparkSom

        c = self.configs[i % self.cycle]
        return SparkSom(c["x"], c["y"], self.d, sigma=c["sigma"],
                        learning_rate=c["learning_rate"],
                        topology=c["topology"], random_seed=MODEL_SEED)

    def op(self, i):
        return self._som(i).train(self.df, self.passes)

    def verify(self, i, som):
        import numpy as np

        if self.ref is None:
            self.ref = [self._som(k).train(self.X, self.passes)
                        for k in range(self.cycle)]
        k = i % self.cycle
        self.models.setdefault(k, som)
        check(np.allclose(som.get_weights(), self.ref[k].get_weights(),
                          rtol=0, atol=1e-4),
              f"som_sweep config {k} weights differ from the local fit")

    def quality(self):
        m = list(self.models.values())
        return {"qe": statistics.fmean(s.quantization_error(self.X)
                                       for s in m),
                "te": statistics.fmean(s.topographic_error(self.X)
                                       for s in m)}


class TextDedup:
    """MinHash -> LSH band join -> Jaccard verify -> components ->
    anti-join on a corpus with planted near-duplicates."""

    name, rows, passes, cycle, trains, cells = "text_dedup", 3000, 1, 1, False, 0

    def __init__(self, seed, work):
        self.seed, self.work = seed, work
        self.kept = None

    def setup(self, spark):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from perfbench import gen

        self.ids, texts, self.cluster = gen.near_dup_corpus(self.rows,
                                                            self.seed)
        path = input_path(self, self.name)
        pq.write_table(pa.table({"doc_id": self.ids, "text": texts}), path)
        self.df = spark.read.parquet(path).persist()
        self.df.count()

    def _kept(self):
        from xpysom_dask_spark.operators.dedup import fuzzy_dedup_keep_first

        return fuzzy_dedup_keep_first(self.df, "text", "doc_id")

    def op(self, i):
        return self._kept().count()

    def verify(self, i, out):
        if self.kept is None:
            self._check_kept()
        check(out == len(self.kept),
              f"text_dedup kept {out} docs, the checked run kept "
              f"{len(self.kept)}")

    def _check_kept(self):
        """Collect the kept ids once (untimed) and check them against
        the planted clusters."""
        import numpy as np

        kept = self._kept().select("doc_id").toArrow() \
            .column("doc_id").to_numpy()
        check(len(np.unique(kept)) == len(kept),
              "text_dedup kept a doc id twice")
        check(np.isin(kept, self.ids).all(),
              "text_dedup kept ids that are not input ids")
        dropped = ~np.isin(self.ids, kept)
        check((self.cluster[dropped] >= 0).all(),
              f"text_dedup dropped {int((self.cluster[dropped] < 0).sum())}"
              " docs outside every planted cluster")
        planted = self.cluster[self.cluster >= 0]
        check(np.isin(np.unique(planted), self.cluster[~dropped]).all(),
              "text_dedup dropped every member of a planted cluster")
        self.kept = kept
        n_dups = len(planted) - len(np.unique(planted))
        self.recall = int(dropped.sum()) / n_dups

    def quality(self):
        # the checks above admit no drop outside a planted cluster
        return {"dup_recall": self.recall, "drop_precision": 1.0}

    def feature_bytes(self):
        return 0


WORKLOADS = {w.name: w for w in (SomFit, SomScore, SomSweep, TextDedup)}


# --------------------------------------------------------------------- #
# session lifecycle


def start_session(work, event_log=None):
    from xpysom_dask_spark.session import make_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = make_session(app_name="perfbench", master=f"local[{NPROC}]",
                         shuffle_partitions=NPROC, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm():
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()     # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(wl, work, event_log=None):
    """Session start (a no-op once a session runs), input generation +
    parquet write, cache, and one untimed warm-up operation; the warm-up
    output is verified."""
    t0 = time.perf_counter()
    spark = start_session(work, event_log)
    wl.setup(spark)
    out = wl.op(0)
    dt = time.perf_counter() - t0
    wl.verify(0, out)
    return spark, dt


def tear_down(wl, spark):
    wl.df.unpersist()
    spark.stop()


def run_loop(wl, seconds, tracer=None):
    """Closed loop, one client: op i+1 starts when op i returns.  Stops
    when the next op would end past ``seconds`` (after at least
    MIN_OPS ops, and only at the end of a config cycle).  An op that
    raises counts as failed; an output that differs from the reference
    fails the run."""
    times, attempted, failed = [], 0, 0
    start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        last = times[-1] if times else 0.0
        if (attempted >= MIN_OPS and attempted % wl.cycle == 0
                and elapsed + last > seconds):
            break
        i = attempted
        attempted += 1
        span = (tracer.operation(i) if tracer is not None
                else contextlib.nullcontext())
        try:
            t0 = time.perf_counter()
            with span:
                out = wl.op(i)
            dt = time.perf_counter() - t0
        except Exception:          # one failed op must not end the run
            traceback.print_exc()
            failed += 1
            continue
        wl.verify(i, out)
        times.append(dt)
    check(times, f"all {attempted} operations failed")
    return times, attempted, failed, time.perf_counter() - start


def tail(times):
    """The highest order statistic with at least 10 samples above it,
    and the percentile it sits at.  Below 21 samples that statistic
    would sit at or under the median, so p90 (interpolated between the
    two largest samples) is taken instead: steadier than the maximum,
    which one stalled operation sets."""
    s = sorted(times)
    if len(s) > 20:
        j = len(s) - 11
        return s[j], 100 * (j + 1) / len(s)
    if len(s) < 2:
        return s[-1], 100
    return statistics.quantiles(s, n=10, method="inclusive")[-1], 90


# --------------------------------------------------------------------- #
# modes


def measure(wl, seconds, work):
    """SETUPS set-ups in one session, then the timed loop."""
    from perfbench.trace import RssSampler

    setups = []
    for _ in range(SETUPS):
        if setups:
            wl.df.unpersist()
        spark, dt = set_up(wl, work)
        setups.append(dt)
    with RssSampler() as rss:
        loop = run_loop(wl, seconds)
    tear_down(wl, spark)
    return setups, rss.peak, loop


def end_to_end(name, seed, seconds, work):
    wl = WORKLOADS[name](seed, work)
    setups, peak, (times, attempted, failed, wall) = measure(wl, seconds,
                                                             work)
    quality = wl.quality()
    stop_jvm()
    p50 = statistics.median(times)
    tail_s, tail_pct = tail(times)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (wl.rows * wl.passes / p50, "rows/s"),
        "peak_rss_mb": (peak / 2 ** 20, "MB"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
        "qe": (quality.get("qe", 1.0), "l2"),
        "te": (quality.get("te", 1.0), "ratio"),
        "dup_recall": (quality.get("dup_recall", 1.0), "ratio"),
        "drop_precision": (quality.get("drop_precision", 1.0), "ratio"),
    }
    info = {"workload": name, "seed": seed, "ops": len(times),
            "tail_pct": tail_pct, "measured_s": wall, "setups_s": setups,
            "op_s": [round(t, 4) for t in times],
            "nproc": NPROC, "calibration_sec": calibration_spin()}
    return metrics, info, attempted, failed


def traced(name, seed, seconds, work):
    from perfbench import trace

    wl = WORKLOADS[name](seed, work)
    # the untraced run, exactly as --trace 0 makes it, for the overhead
    _, _, (plain, *_) = measure(wl, seconds, work)

    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    spark, _ = set_up(wl, work, event_log=events)
    tr = trace.Tracer()
    install(tr)
    t0_ms = time.time() * 1000
    try:
        times, attempted, failed, _ = run_loop(wl, seconds, tr)
    finally:
        tr.restore()
    t1_ms = time.time() * 1000
    stages = staged_dedup(wl, tr) if isinstance(wl, TextDedup) else {}
    tear_down(wl, spark)
    stop_jvm()
    ev = trace.parse_event_log(events, t0_ms, t1_ms)
    micro = microbenchmarks(wl.cells)

    n = attempted
    wall = tr.total("op")
    m = {}

    def put(key, value, unit):
        m[key] = (value, unit)

    fits = wl.trains
    put("training.fit_jobs", ev["jobs"] / n if fits else 0, "count")
    put("training.broadcast_s", tr.total("broadcast") / n * fits, "s")
    put("training.broadcast_bytes",
        tr.total("broadcast", "bytes") / n * fits, "bytes")
    put("training.collect_s", tr.total("collect") / n * fits, "s")
    put("training.driver_self_s", tr.self_time("op") / n * fits, "s")
    put("training.fused_share",
        tr.count("train_local") / n if fits else 0, "ratio")
    cached = wl.feature_bytes()
    put("exchange.py_bytes_sent", ev[trace.PY_SENT] / n, "bytes")
    put("exchange.py_bytes_recv", ev[trace.PY_RECV] / n, "bytes")
    put("exchange.py_total_s", ev[trace.PY_TIME] / 1e3 / n, "s")
    put("exchange.reship_ratio",
        ev[trace.PY_SENT] / n / cached if cached else 0, "ratio")
    put("exchange.feature_matrix_s", micro["feature_matrix_s"], "s")
    put("exchange.ship_package_s", micro["ship_package_s"], "s")
    put("distances.bmu_s", micro["bmu_s"], "s")
    put("distances.bmu_flops", 2 * wl.rows * wl.cells * wl.d * wl.passes
        if wl.cells else 0, "count")
    put("som.influence_s", tr.total("influence") / n, "s")
    put("som.driver_loop_s", tr.total("train_local") / n, "s")
    put("scheduler.jobs", ev["jobs"] / n, "count")
    put("scheduler.stages", ev["stages"] / n, "count")
    put("scheduler.tasks", ev["tasks"] / n, "count")
    put("executor.run_s", ev["run_ms"] / 1e3 / n, "s")
    put("executor.cpu_s", ev["cpu_ns"] / 1e9 / n, "s")
    put("executor.gc_s", ev["gc_ms"] / 1e3 / n, "s")
    put("executor.deser_s", ev["deser_ms"] / 1e3 / n, "s")
    put("executor.idle_share", 1 - ev["run_ms"] / 1e3 / (wall * NPROC),
        "ratio")
    put("catalyst.compile_s",
        sum(tr.total(a, "compile_ms") for a in ("collect", "count", "toArrow"))
        / 1e3 / n, "s")
    put("shuffle.write_bytes", ev["sh_w_bytes"] / n, "bytes")
    put("shuffle.write_s", ev["sh_w_ns"] / 1e9 / n, "s")
    put("shuffle.read_bytes", ev["sh_r_bytes"] / n, "bytes")
    put("shuffle.fetch_wait_s", ev["sh_fetch_ms"] / 1e3 / n, "s")
    cand, ver = stages.get("candidates", 0), stages.get("verified", 0)
    put("dedup.candidate_pairs", cand, "count")
    put("dedup.verified_pairs", ver, "count")
    put("dedup.verify_yield", ver / cand if cand else 0, "ratio")
    for key in ("dedup.shingle_s", "dedup.signature_s", "dedup.band_pairs_s",
                "dedup.verify_s", "graph.components_s", "dedup.anti_join_s"):
        put(key, stages.get(key, 0), "s")
    p50 = statistics.median(times)
    put("trace.op_p50_s", p50, "s")
    put("trace.untraced_op_p50_s", statistics.median(plain), "s")
    put("trace.overhead_s", p50 - statistics.median(plain), "s")
    put("host.calibration_s", calibration_spin(), "s")
    info = {"workload": name, "seed": seed, "ops": len(times),
            "untraced_ops": len(plain), "nproc": NPROC}
    return m, info, attempted, failed


def install(tr):
    """Spans around the public driver-side calls each layer makes."""
    from pyspark import SparkContext
    from pyspark.sql.classic.dataframe import DataFrame
    from xpysom_dask_spark.operators.som import SparkSom

    collect = DataFrame.collect

    def nbytes(rec, sc, value, *a):
        items = value if isinstance(value, (tuple, list)) else (value,)
        rec["bytes"] = sum(getattr(v, "nbytes", 0) for v in items)

    def phases_ms(df):
        ph = df._jdf.queryExecution().tracker().phases()
        total = 0
        for k in ("analysis", "optimization", "planning"):
            opt = ph.get(k)
            if opt.isDefined():
                total += opt.get().durationMs()
        return total

    def with_phases(orig, rec, df, *a, **kw):
        out = orig(df, *a, **kw)
        rec["compile_ms"] = phases_ms(df)
        return out

    def count(orig, rec, df):
        # Dataset.count runs groupBy().count() on a QueryExecution of its
        # own; issuing the same plan here lets its phases be read
        agg = df.groupBy().count()
        out = int(collect(agg)[0][0])
        rec["compile_ms"] = phases_ms(agg)
        return out

    tr.wrap(SparkContext, "broadcast", before=nbytes)
    tr.wrap(DataFrame, "collect", call=with_phases)
    tr.wrap(DataFrame, "toArrow", call=with_phases)
    tr.wrap(DataFrame, "count", call=count)
    tr.wrap(SparkSom, "_apply_influence", name="influence")
    tr.wrap(SparkSom, "_train_local", name="train_local")


def staged_dedup(wl, tr):
    """The fuzzy_dedup_keep_first stages driven one action each; the
    staged kept ids must equal the checked untraced output."""
    import numpy as np
    from pyspark.sql import functions as F
    from xpysom_dask_spark.operators import dedup
    from xpysom_dask_spark.operators.graph import connected_components

    out = {}

    def stage(key, build):
        with tr.span(key) as rec:
            rel = build()
        out[key] = rec["t1"] - rec["t0"]
        return rel

    sh = stage("dedup.shingle_s", lambda: dedup.word_shingles(
        wl.df, "text", "doc_id", 3).localCheckpoint(eager=True))
    sigs = stage("dedup.signature_s", lambda: (
        dedup.minhash_signatures_from_shingles(sh, dedup.MINHASH_K)
        .localCheckpoint(eager=True)))
    pairs = stage("dedup.band_pairs_s", lambda: dedup.minhash_band_pairs(
        sigs, dedup.MINHASH_K).localCheckpoint(eager=True))
    verified = stage("dedup.verify_s", lambda: dedup.jaccard_verify(
        pairs, sh, 0.5).localCheckpoint(eager=True))
    comp = stage("graph.components_s", lambda: connected_components(
        verified).localCheckpoint(eager=True))
    kept = stage("dedup.anti_join_s", lambda: wl.df.join(
        comp.where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id")), "doc_id", "left_anti")
        .select("doc_id").toArrow().column("doc_id").to_numpy())
    check(np.array_equal(np.sort(kept), np.sort(wl.kept)),
          "staged dedup kept ids differ from fuzzy_dedup_keep_first")
    out["candidates"] = pairs.count()
    out["verified"] = verified.count()
    return out


def microbenchmarks(cells):
    """Public kernels on fixed inputs, each the median of repeats; the
    BMU kernel scans a map of ``cells`` units (skipped when 0)."""
    import itertools
    import types

    import numpy as np
    import pyarrow as pa
    from xpysom_dask_spark.functions.distances import (codebook_sq_norms,
                                                       resolve_distance)
    from xpysom_dask_spark.plans import exchange

    from perfbench import gen

    def timed(fn, reps):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    n, d = 20_000, 8     # one Arrow batch (spark.sql...maxRecordsPerBatch)
    X = gen.gaussian_mixture(n, 0, d)
    col = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
        pa.array(X.ravel()))
    out = {"feature_matrix_s": timed(
        lambda: exchange.feature_matrix(col, d), 50)}

    apps = itertools.count()

    def ship():
        # a stand-in session: ship_package zips the package for every new
        # applicationId; addPyFile is the only call it makes on it
        sc = types.SimpleNamespace(applicationId=f"perfbench-{next(apps)}",
                                   addPyFile=lambda path: None)
        exchange.ship_package(types.SimpleNamespace(sparkContext=sc))
    out["ship_package_s"] = timed(ship, 3)

    if cells:
        W = gen.gaussian_mixture(cells, 1, d)
        kernel = resolve_distance("euclidean")
        w_sq = codebook_sq_norms(W)
        out["bmu_s"] = timed(lambda: kernel(X, W, w_sq).argmin(axis=1), 10)
    else:
        out["bmu_s"] = 0
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_build", "perfbench", str(os.getpid()))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    sys.path.insert(0, ROOT)
    try:
        import xpysom_dask_spark  # noqa: F401  the program under test
        mode = traced if args.trace else end_to_end
        metrics, info, attempted, failed = mode(
            args.workload, args.seed, args.seconds, work)
    except CheckFailed as e:
        print(f"correctness check failed: {e}", file=sys.stderr)
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
