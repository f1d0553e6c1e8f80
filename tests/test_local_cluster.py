"""Multi-JVM executor-boundary smoke (tools/cluster_smoke.py): a
small query subset on a REAL two-executor ``local-cluster`` master,
hash-checked against the DuckDB oracle.  Everything else in the suite
runs on single-JVM ``local[n]``, which cannot catch closure/broadcast
serialization or executor-side import bugs — the day-one failure
class of a real 1000-executor deployment.  The full 11-query sweep is
``python tools/cluster_smoke.py`` (round-end checklist); this test
keeps the two riskiest classes (mapInArrow training kernel + Arrow
text kernels with band-join shuffles) in CI at ~2 min.

Runs in a subprocess: a local-cluster SparkSession cannot coexist
with the session-scoped local[n] fixture in one JVM/process.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_TINY = "/root/testdata/sf0.001"


def test_cluster_smoke_subset():
    code = (
        "import sys; sys.path.insert(0, %r); sys.path.insert(0, %r)\n"
        "from cluster_smoke import run\n"
        "bad = run(%r, names=['som_train_epoch', 'dedup_minhash'])\n"
        "sys.exit(1 if bad else 0)\n"
        % (REPO, os.path.join(REPO, "tools"), SF_TINY))
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, (proc.stdout[-1500:],
                                  proc.stderr[-1500:])
    assert "som_train_epoch: OK" in proc.stdout
    assert "dedup_minhash: OK" in proc.stdout


def test_hashed_classifier_cluster_parity():
    """The hashed-logreg trainer crosses every executor boundary the
    SOM kernel does (broadcast ndarray weights, mapInArrow closures,
    worker-side hashlib) — fit on a REAL two-executor local-cluster
    must equal the local[4] fit BIT-FOR-BIT (exact int64 partial
    sums)."""
    code = r"""
import sys
sys.path.insert(0, %r)
import numpy as np
from pyspark.sql import SparkSession

rows = [(i, " ".join(
    ("g%%d" %% ((i * 7 + j) %% 19)) if i %% 2 else
    ("b%%d" %% ((i * 5 + j) %% 17)) for j in range(25)), i %% 2)
    for i in range(120)]


def fit(master):
    spark = (SparkSession.builder.master(master)
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    from xpysom_dask_spark.operators import models
    from xpysom_dask_spark.plans.exchange import ship_package
    ship_package(spark)
    df = spark.createDataFrame(rows, "id bigint, text string, y int")
    m = models.logreg_fit_hashed(df.repartition(5), "text", "id",
                                 "y", n_buckets=256, n_iter=4)
    spark.stop()
    return m


a = fit("local-cluster[2,4,2048]")
b = fit("local[4]")
ok = (np.array_equal(a["w"], b["w"])
      and a["intercept"] == b["intercept"])
print("cluster_parity:", "OK" if ok else "MISMATCH")
sys.exit(0 if ok else 1)
""" % (REPO,)
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, (proc.stdout[-1500:],
                                  proc.stderr[-1500:])
    assert "cluster_parity: OK" in proc.stdout


def test_suffix_family_cluster_parity():
    """The suffix-array family iterates mapInPandas rounds whose
    closures carry broadcast offset dicts — verify the whole chain
    (ranks -> maxrep -> spans parity vs the windowed path) against
    brute force on a REAL two-executor cluster."""
    code = r"""
import sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession
from xpysom_dask_spark.operators.dedup import (
    suffix_array_ranks, suffix_maxrep,
    repeated_substring_spans, repeated_substring_spans_sa)

spark = (SparkSession.builder.master("local-cluster[2,2,1024]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
texts = ["abcabcabcXabcabc", "abcabc", "aaaaaaaa"]
df = spark.createDataFrame(list(enumerate(texts)),
                           "doc_id bigint, text string")
sufs = sorted((t[p:], i, p) for i, t in enumerate(texts)
              for p in range(len(t)))
exp, r, prev = {}, 0, None
for s, i, p in sufs:
    if s != prev:
        r += 1
        prev = s
    exp[(i, p)] = r
got = {(x["id"], x["p"]): x["rank"]
       for x in suffix_array_ranks(df, "text", "doc_id", 5).collect()}
assert got == exp, "ranks"
sa = sorted(tuple(x) for x in repeated_substring_spans_sa(
    df, "text", "doc_id", min_len=3).collect())
win = sorted((x["id"], x["start"], x["length"])
             for x in repeated_substring_spans(
                 df, "text", "doc_id", min_len=3).collect())
assert sa == win, (sa, win)
print("SUFFIX_CLUSTER_OK")
spark.stop()
""" % (REPO,)
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, (proc.stdout[-1500:],
                                  proc.stderr[-1500:])
    assert "SUFFIX_CLUSTER_OK" in proc.stdout
