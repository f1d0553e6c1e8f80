#!/usr/bin/env python3
"""Bit-parity check of SOM fits between two source trees.

    python tools/som_parity.py dump OUT.npz [--root TREE] [--seeds 1-10]
    python tools/som_parity.py compare A.npz B.npz

``dump`` imports ``xpysom_dask_spark`` from ``--root`` (default: this
repository) and, for each perfbench input seed, fits the ``som_fit``
configuration (300k x 8 rows, 10x10, 2 epochs) and the 8 ``som_sweep``
configurations (100k x 8 rows, 5 epochs) three ways: ``train(ndarray)``,
the fused ``train(DataFrame)`` and ``train(DataFrame)`` with
``fuse_local_bytes=0`` (the distributed epoch job).  It stores every
fit's weights with its local ``qe``/``te``, as perfbench computes them,
plus the DataFrame ``qe``/``te`` of the ndarray fit.

It then fits the five other fits whose partial sums merge on the
driver on fixed inputs of each seed — ``SparkSom._distributed_covariance``,
``pca_fit`` and ``kmeans_fit`` / ``pq_fit`` (5 Lloyd steps) over
20k x 16 Gaussian-mixture rows, and ``logreg_fit_hashed`` (1024
buckets, 6 steps) over a 2000-document Zipf corpus labelled by whether
a document has a planted near-duplicate — once with the flat merge and
once with ``exchange.partial_sums``'s bucketed merge forced by a zero
``TREE_MERGE_BYTES``.  A tree without ``TREE_MERGE_BYTES`` has one merge
for these fits; its result is stored for both.

``compare`` lists every entry that is not ``np.array_equal`` between
two dumps, with its max |difference| (and entries only one of them
has), and exits 1 if any is.  Run ``dump`` once per tree, then
``compare`` the two files.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def dump(out, root, seeds):
    sys.path[:0] = [root, REPO]
    import numpy as np

    from perfbench import gen
    from perfbench.run import MODEL_SEED, SomFit, SomSweep, write_features
    from xpysom_dask_spark import SparkSom
    from xpysom_dask_spark.session import make_session

    nproc = len(os.sched_getaffinity(0))
    spark = make_session(master=f"local[{nproc}]",
                         shuffle_partitions=nproc,
                         extra_conf={"spark.ui.enabled": "false",
                                     "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    fit_cfg = {"x": SomFit.grid, "y": SomFit.grid}
    res = {}
    with tempfile.TemporaryDirectory() as work:
        for seed in seeds:
            sweep = SomSweep(seed, None)
            cases = [("fit", fit_cfg, SomFit.rows, SomFit.passes)] + [
                (f"sweep{k}", c, SomSweep.rows, SomSweep.passes)
                for k, c in enumerate(sweep.configs)]
            inputs = {}
            for name, cfg, rows, passes in cases:
                if rows not in inputs:
                    X = gen.gaussian_mixture(rows, seed, SomFit.d)
                    path = write_features(
                        os.path.join(work, f"s{seed}-{rows}.parquet"), X)
                    df = spark.read.parquet(path).repartition(nproc).persist()
                    df.count()
                    inputs[rows] = X, df
                X, df = inputs[rows]
                for how, data, fuse in (("local", X, None), ("fused", df, None),
                                        ("distributed", df, 0)):
                    kw = {} if fuse is None else {"fuse_local_bytes": fuse}
                    som = SparkSom(cfg["x"], cfg["y"], SomFit.d,
                                   random_seed=MODEL_SEED,
                                   **{k: v for k, v in cfg.items()
                                      if k not in ("x", "y")}, **kw)
                    som.train(data, passes)
                    key = f"s{seed}/{name}/{how}"
                    res[key + "/w"] = som.get_weights()
                    res[key + "/qe"] = np.float64(som.quantization_error(X))
                    res[key + "/te"] = np.float64(som.topographic_error(X))
                    if how == "local":
                        res[key + "/qe_df"] = np.float64(
                            som.quantization_error(df))
                        res[key + "/te_df"] = np.float64(
                            som.topographic_error(df))
                print(f"seed {seed} {name}: qe {res[key + '/qe']:.6f}",
                      flush=True)
            for _, df in inputs.values():
                df.unpersist()
            res.update(_merged_fits(spark, seed, nproc, work))
            print(f"seed {seed}: merged fits", flush=True)
    spark.stop()
    np.savez(out, **res)
    print(f"{len(res)} entries -> {out}")


def _merged_fits(spark, seed, nproc, work):
    """The five non-SOM driver-merged fits on ``seed``'s inputs, under
    the flat and the forced bucketed merge."""
    import numpy as np

    from perfbench import gen
    from perfbench.run import write_features
    from xpysom_dask_spark import SparkSom
    from xpysom_dask_spark.operators import clustering, embeddings, models, pq
    from xpysom_dask_spark.plans import exchange

    path = write_features(os.path.join(work, f"v{seed}.parquet"),
                          gen.gaussian_mixture(20_000, seed, 16),
                          with_id=True)
    vecs = spark.read.parquet(path).repartition(nproc).persist()
    ids, texts, cluster = gen.near_dup_corpus(2000, seed)
    docs = spark.createDataFrame(
        list(zip(ids.tolist(), texts, (cluster >= 0).astype(int).tolist())),
        "id bigint, text string, y int").repartition(nproc).persist()
    vecs.count(), docs.count()
    fits = {
        "covariance": lambda: {"cov": SparkSom(
            2, 2, 16)._distributed_covariance(vecs)},
        "pca": lambda: embeddings.pca_fit(vecs, "features", 16, 4),
        "kmeans": lambda: {"C": clustering.kmeans_fit(
            vecs, "features", "id", k=8, max_iter=5)},
        "pq": lambda: {"C": pq.pq_fit(vecs, "features", "id", m=4, k=16,
                                      max_iter=5)},
        "logreg": lambda: models.logreg_fit_hashed(
            docs, "text", "id", "y", n_buckets=1024, n_iter=6),
    }
    res = {}
    budget = getattr(exchange, "TREE_MERGE_BYTES", None)
    try:
        for merge in ("flat", "bucket"):
            if merge == "bucket" and budget is not None:
                exchange.TREE_MERGE_BYTES = 0
            for name, fit in fits.items():
                key = f"s{seed}/{name}/{merge}"
                if merge == "bucket" and budget is None:
                    out = {k[len(f"s{seed}/{name}/flat/"):]: v
                           for k, v in res.items()
                           if k.startswith(f"s{seed}/{name}/flat/")}
                else:
                    out = fit()
                for k, v in out.items():
                    res[f"{key}/{k}"] = np.asarray(v)
    finally:
        if budget is not None:
            exchange.TREE_MERGE_BYTES = budget
        vecs.unpersist()
        docs.unpersist()
    return res


def compare(a, b):
    import numpy as np

    A, B = np.load(a), np.load(b)
    bad = sorted(set(A.files) ^ set(B.files))
    for k in bad:
        print("ONLY IN", a if k in A.files else b, k)
    n_bad = len(bad)
    for k in sorted(set(A.files) & set(B.files)):
        x, y = A[k], B[k]
        if np.array_equal(x, y):
            continue
        n_bad += 1
        if x.shape != y.shape or x.dtype.kind not in "fiub":
            print("DIFFERS:", k, x.shape, y.shape)
        else:
            print("DIFFERS: %s max |d| %.3g" % (k, np.max(np.abs(
                x.astype(np.float64) - y.astype(np.float64)))))
    print(f"{len(set(A.files) | set(B.files))} entries, {n_bad} differ")
    return 1 if n_bad else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump")
    d.add_argument("out")
    d.add_argument("--root", default=REPO)
    d.add_argument("--seeds", default="1-10")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args(argv)
    if args.cmd == "dump":
        return dump(args.out, os.path.abspath(args.root), _seeds(args.seeds))
    return compare(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())
