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

``compare`` lists every entry that is not ``np.array_equal`` between
two dumps (and entries only one of them has) and exits 1 if any is.
Run ``dump`` once per tree, then ``compare`` the two files.
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
    spark.stop()
    np.savez(out, **res)
    print(f"{len(res)} entries -> {out}")


def compare(a, b):
    import numpy as np

    A, B = np.load(a), np.load(b)
    bad = sorted(set(A.files) ^ set(B.files))
    bad += [k for k in sorted(set(A.files) & set(B.files))
            if not np.array_equal(A[k], B[k])]
    for k in bad:
        print("DIFFERS:", k)
    print(f"{len(set(A.files) | set(B.files))} entries, {len(bad)} differ")
    return 1 if bad else 0


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
