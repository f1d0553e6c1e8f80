"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship SOM pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
large-scale pipeline operators); each callable takes (spark, sf_dir).
``oracle_sql()`` — exact DuckDB twins.

Cross-engine determinism strategy (verified empirically):

* SOM queries run in **float64** with the ``norm_p_no_opt`` (per-dim
  broadcast squared-L2) kernel, whose arithmetic is bitwise identical to
  the SQL ``(f−w)·(f−w)`` sum — so BMU argmins (and even their ties)
  agree exactly with the ``ROW_NUMBER() OVER (ORDER BY dsq, i, j)``
  oracle.
* Codebook literals are embedded as ``CAST('<repr>' AS DOUBLE)`` — DuckDB
  parses bare numeric literals through DECIMAL and loses a ulp.
* Aggregated floats are ROUND()ed on both sides (sum-order noise is
  ~1e-12 relative; rounding boundaries give negligible collision odds).
* Counts/ranks are cast to BIGINT on the Spark side to match DuckDB.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xpysom_dask_spark import SparkSom
from xpysom_dask_spark.operators import clustering, dedup, multimodal, sampling, similarity
from xpysom_dask_spark.operators import text as T
from xpysom_dask_spark.sources import readers

SOM_X = SOM_Y = 8
SOM_SEED = 42
NF = len(readers.LINEITEM_FEATURES)


# --------------------------------------------------------------------- #
# shared builders

def _oracle_som() -> SparkSom:
    """The deterministic SOM every oracle-checked query uses: seeded init,
    float64, per-dim squared-L2 activation (bitwise-matches the SQL).
    fuse_local_bytes=0 pins the DISTRIBUTED training plan (broadcast +
    Arrow partials + tree merge) — the correctness gate should validate
    the plan that runs at scale, not the small-input fused path (that
    one is tested separately in tests/test_som_spark.py)."""
    return SparkSom(SOM_X, SOM_Y, NF, random_seed=SOM_SEED,
                    dtype=np.float64, activation_distance="norm_p_no_opt",
                    activation_distance_kwargs={"p": 2},
                    fuse_local_bytes=0)


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readers.lineitem_features(spark, sf_dir, dtype="double")


def _docs(spark, sf_dir):
    return readers.load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return readers.load_table(spark, sf_dir, "embeddings")


# ---- SQL fragment builders (oracle side) ------------------------------ #

def _weights_values(W=None) -> str:
    W = _oracle_som().get_weights() if W is None else W
    rows = []
    for i in range(SOM_X):
        for j in range(SOM_Y):
            vals = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in W[i, j])
            rows.append(f"({i}, {j}, {vals})")
    return ",\n      ".join(rows)


_W_COLS = "i, j, " + ", ".join(f"w{k + 1}" for k in range(NF))


def _dsq(f="f", w="w") -> str:
    return " + ".join(
        f"({f}.f{k + 1} - {w}.w{k + 1}) * ({f}.f{k + 1} - {w}.w{k + 1})"
        for k in range(NF))


def _bmu_scalar(expr: str, offset: int = 0) -> str:
    """Correlated scalar subquery: the ``expr`` of the (offset+1)-th best
    matching neuron for the current feats row ``f``.

    (l_orderkey, l_linenumber) is NOT unique in lineitem, so window-
    partitioning by keys would mix rows — per-row scalar subqueries keep
    exactly one output row per input row and DuckDB decorrelates them into
    efficient joins.  Tie-break (dsq, i, j) equals NumPy's first-raveled
    argmin, and the arithmetic is bitwise-identical to the engine kernel.
    """
    return (f"(SELECT {expr} FROM w ORDER BY {_dsq('f', 'w')}, w.i, w.j "
            f"LIMIT 1 OFFSET {offset})")


def _som_base_cte(extra_scalars: str = "", feat_extra_cols=()) -> str:
    """feats + weights CTEs + per-row BMU scoring (``scored``)."""
    return f"""
WITH feats AS (
  {readers.lineitem_features_sql_cte(extra_cols=feat_extra_cols)}
),
w({_W_COLS}) AS (
  VALUES
      {_weights_values()}
),
scored AS (
  SELECT f.*,
         {_bmu_scalar('w.i')} AS bx,
         {_bmu_scalar('w.j')} AS by
         {extra_scalars}
  FROM feats f
)
"""


_MIN_DSQ = "(SELECT MIN({dsq}) FROM w)".format(dsq=_dsq("f", "w"))


_DOT64 = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
          "[CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
          "FOR i IN range(1, 65)]), (acc, v) -> acc + v)")


def _duck_tokens(col: str) -> str:
    return f"list_filter(string_split_regex(lower({col}), '\\s+'), x -> x <> '')"


def _duck_polyhash(col: str) -> str:
    return (f"CASE WHEN length({col}) = 0 THEN 0 ELSE "
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"[CAST(ascii(substring({col}, i, 1)) AS BIGINT) "
            f"FOR i IN range(1, length({col}) + 1)]), "
            f"(acc, c) -> (acc * {T.HASH_BASE} + c) % {T.HASH_PRIME}) END")


# --------------------------------------------------------------------- #
# per-process staged replay inputs

import threading as _threading

_STAGED_GATE_DIRS: dict = {}
_STAGED_GATE_LOCK = _threading.Lock()


def _staged_gate_dir(prefix: str, sf_dir: str, build) -> str:
    """Stage a gate's replay-input directory ONCE per (process,
    sf_dir) — the warc_ingest idiom (r11 ADVICE #4), generalized at
    the round-12 optimization pass to every file-stream replay gate:
    a fresh ``mkdtemp`` + corpus rewrite per invocation leaked a /tmp
    directory per bench repeat AND billed deterministic input STAGING
    (not the streamed computation under test) to the timed leg.
    ``build(path)`` writes the deterministic derivative of ``sf_dir``
    into ``path``; the directory is registered for atexit removal.
    The streamed computation itself still runs in full on every
    invocation — only the setup write is staged.

    Assumes ``sf_dir`` is IMMUTABLE for the process lifetime (true for
    the read-only bench/oracle inputs; a caller that rewrites data
    under ``sf_dir`` mid-process would replay the stale staging).  A
    process-wide lock serialises concurrent first calls so a gate
    invoked from several driver threads can neither double-build nor
    leak a tmpdir (r12 ADVICE #3)."""
    key = (prefix, sf_dir)
    with _STAGED_GATE_LOCK:
        path = _STAGED_GATE_DIRS.get(key)
        if path is None:
            import atexit
            import shutil
            import tempfile

            path = tempfile.mkdtemp(prefix=prefix + "_")
            try:
                build(path)
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            _STAGED_GATE_DIRS[key] = path
    return path


#: state-store partition count for the replay gates' streaming queries
#: (optimization r13, guide §2.1 right-sizing): a stateful micro-batch
#: pays per-partition state-store open/commit cost PER BATCH, and every
#: replay gate's state is bounded (groups×bins sketch cells, per-user/
#: per-key rows) at far below one partition's worth — inheriting the
#: session's `spark.sql.shuffle.partitions` (= CPUS in the bench) just
#: multiplies fixed state-store overhead by core count.  Parameterised
#: for scale: a production deployment with large keyed state raises it
#: via the env knob (state must fit per-partition memory); results are
#: partition-count invariant (oracle-green at 4/8/32 partitions).
#: Interleaved sf0.1 A/B (4 rounds, one session, min/med seconds):
#: streaming_qhist 32p 1.82/2.00 -> 4p 0.98/1.19; streaming_cms
#: 1.78/2.46 -> 1.22/1.34; streaming_hll 1.60/1.98 -> 0.91/1.00;
#: streaming_psi 1.86/2.11 -> 1.19/1.40; stateless streaming_zscore
#: flat (1.33/1.55 -> 1.32/1.40).
_STREAM_SHUFFLE = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "4")


def _drain_stream(spark, writer, timeout: int = 300):
    """Start + drain an availableNow replay query with
    ``spark.sql.shuffle.partitions`` pinned to :data:`_STREAM_SHUFFLE`
    for the query's lifetime (the value is captured into the query's
    checkpoint at batch 0; the session value is restored afterwards so
    batch gates keep the caller's setting)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE)
    try:
        q = writer.start()
        q.awaitTermination(timeout)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# --------------------------------------------------------------------- #
# entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 lineitem → features → seeded 8×8 SOM → 3 training
    epochs → per-cell win counts (the activation-response hash aggregate)."""
    df = readers.lineitem_features(spark, "/root/testdata/sf0.001",
                                   keys=False)
    som = SparkSom(SOM_X, SOM_Y, NF, random_seed=SOM_SEED,
                   fuse_local_bytes=0)  # smoke-check the distributed plan
    som.train(df, 3)
    return som.activation_response_df(df).orderBy("bmu_x", "bmu_y")


# --------------------------------------------------------------------- #
# queries

def _q_som_predict(spark, sf_dir):
    som = _oracle_som()
    out = som.transform(_features(spark, sf_dir), ("cluster_id",))
    return out.select("l_orderkey", "l_linenumber", "cluster_id")


def _q_som_activation_response(spark, sf_dir):
    som = _oracle_som()
    return (som.transform(_features(spark, sf_dir), ("bmu_x", "bmu_y"))
            .groupBy("bmu_x", "bmu_y")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_wins")))


def _q_som_labels_map(spark, sf_dir):
    som = _oracle_som()
    li = readers.load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        "l_returnflag",
        F.array(*[F.expr(e).cast("double")
                  for _n, e in readers.LINEITEM_FEATURES]).alias("features"))
    return (som.transform(feats, ("bmu_x", "bmu_y"))
            .groupBy("bmu_x", "bmu_y",
                     F.col("l_returnflag").alias("label"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


def _q_som_topographic_error(spark, sf_dir):
    som = _oracle_som()
    scored = som.transform(_features(spark, sf_dir), ("te_err",))
    return scored.agg(F.round(F.avg("te_err"), 6).alias("te"))


def _q_som_train_epoch(spark, sf_dir):
    som = _oracle_som()
    som.train(_features(spark, sf_dir).select("features"), 1)
    W = som.get_weights()
    rows = [(i, j, k + 1, float(W[i, j, k]))
            for i in range(SOM_X) for j in range(SOM_Y) for k in range(NF)]
    df = spark.createDataFrame(rows, "i int, j int, k int, wv double")
    return df.select("i", "j", "k", F.round("wv", 6).alias("wv"))


def _q_som_distance_map(spark, sf_dir):
    som = _oracle_som()
    um = som.distance_map()
    rows = [(i, j, float(um[i, j]))
            for i in range(SOM_X) for j in range(SOM_Y)]
    df = spark.createDataFrame(rows, "i int, j int, u double")
    return df.select("i", "j", F.round("u", 6).alias("u"))


def _q_som_train_epoch_hex(spark, sf_dir):
    """One hexagonal training epoch (X10 hex branch): BMUs are
    topology-independent, but the gaussian influence evaluates on the
    offset euclidean-plane grids (odd rows shifted −0.5 for y=8), via
    the generic (non-separable-support) kernel."""
    som = SparkSom(SOM_X, SOM_Y, NF, random_seed=SOM_SEED,
                   dtype=np.float64, topology="hexagonal",
                   activation_distance="norm_p_no_opt",
                   activation_distance_kwargs={"p": 2},
                   fuse_local_bytes=0)  # pin the distributed train plan
    som.train(_features(spark, sf_dir).select("features"), 1)
    W = som.get_weights()
    rows = [(i, j, k + 1, float(W[i, j, k]))
            for i in range(SOM_X) for j in range(SOM_Y) for k in range(NF)]
    df = spark.createDataFrame(rows, "i int, j int, k int, wv double")
    return df.select("i", "j", "k", F.round("wv", 6).alias("wv"))


def _sql_som_train_epoch_hex():
    # plane x-coordinate of cell (i, j): the hex offset shifts every
    # second row from the top (xx[::-2] -= 0.5) — for even y that is the
    # odd rows; plane y-coordinate is just j.  Influence is the product
    # of two exps exactly like the engine kernel (ax·ay).
    assert SOM_Y % 2 == 0
    px = "({v} - 0.5 * ({row} % 2))"
    dx = (px.format(v="c.i", row="c.j") + " - "
          + px.format(v="s.bx", row="s.by"))
    num_terms = ",\n         ".join(
        f"sum(gv * f{k + 1}) AS s{k + 1}" for k in range(NF))
    new_w = " ".join(
        f"WHEN kk.k = {k + 1} THEN CASE WHEN a.den <> 0 "
        f"THEN a.s{k + 1} / a.den ELSE w.w{k + 1} END"
        for k in range(NF))
    ks = ", ".join(f"({k + 1})" for k in range(NF))
    return _som_base_cte() + f"""
, cells AS (SELECT DISTINCT i, j FROM w),
g AS (
  SELECT c.i, c.j, s.*,
         (exp(-(({dx}) * ({dx})) / CAST(8 AS DOUBLE))
          * exp(-((c.j - s.by) * (c.j - s.by)) / CAST(8 AS DOUBLE)))
         * CAST('0.5' AS DOUBLE) AS gv
  FROM scored s CROSS JOIN cells c
),
acc AS (
  SELECT i, j, sum(gv) AS den,
         {num_terms}
  FROM g GROUP BY i, j
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(a.j AS INTEGER) AS j, kk.k AS k,
       ROUND(CASE {new_w} END, 6) AS wv
FROM acc a JOIN w ON w.i = a.i AND w.j = a.j
CROSS JOIN (VALUES {ks}) kk(k)
"""


def _q_som_distance_map_hex(spark, sf_dir):
    """Hexagonal U-matrix (X20 hex branch): parity-dependent
    6-neighborhood sums — the seeded init is topology-independent, so the
    oracle reuses the same codebook literals with the hex offset tables."""
    som = SparkSom(SOM_X, SOM_Y, NF, random_seed=SOM_SEED,
                   dtype=np.float64, topology="hexagonal")
    um = som.distance_map()
    rows = [(i, j, float(um[i, j]))
            for i in range(SOM_X) for j in range(SOM_Y)]
    df = spark.createDataFrame(rows, "i int, j int, u double")
    return df.select("i", "j", F.round("u", 6).alias("u"))


def _sql_som_distance_map_hex():
    norm = "sqrt(" + " + ".join(
        f"(a.w{k + 1} - b.w{k + 1}) * (a.w{k + 1} - b.w{k + 1})"
        for k in range(NF)) + ")"
    # par = j % 2: even columns use the engine's offs[1] table, odd offs[0]
    evens = [(0, 1), (1, 0), (0, -1), (-1, -1), (-1, 0), (-1, 1)]
    odds = [(1, 1), (1, 0), (1, -1), (0, -1), (-1, 0), (0, 1)]
    vals = ", ".join([f"(0, {di}, {dj})" for di, dj in evens]
                     + [f"(1, {di}, {dj})" for di, dj in odds])
    return f"""
WITH w({_W_COLS}) AS (
  VALUES
      {_weights_values()}
),
offs(par, di, dj) AS (VALUES {vals}),
nbr AS (
  SELECT a.i, a.j, sum({norm}) AS s
  FROM w a JOIN offs o ON o.par = (a.j % 2)
  JOIN w b ON b.i = a.i + o.di AND b.j = a.j + o.dj
  GROUP BY a.i, a.j
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       ROUND(s / MAX(s) OVER (), 6) AS u
FROM nbr
"""


def _q_som_feature_covariance(spark, sf_dir):
    """The distributed single-pass covariance that feeds pca_weights_init
    (X19) — executors emit (n, Σx, ΣxxT) partials, driver merges; the
    oracle is DuckDB's COVAR_SAMP over the same feature expressions."""
    som = _oracle_som()
    C = som._distributed_covariance(
        _features(spark, sf_dir).select("features"))
    rows = [(i + 1, j + 1, round(float(C[i, j]), 6))
            for i in range(NF) for j in range(NF)]
    return spark.createDataFrame(rows, "i int, j int, cov double")


def _sql_som_feature_covariance():
    aggs = ",\n         ".join(
        f"ROUND(COVAR_SAMP(f{i + 1}, f{j + 1}), 6) AS c_{i + 1}_{j + 1}"
        for i in range(NF) for j in range(NF))
    case = " ".join(
        f"WHEN ij.i = {i + 1} AND ij.j = {j + 1} THEN a.c_{i + 1}_{j + 1}"
        for i in range(NF) for j in range(NF))
    vals = ", ".join(f"({i + 1}, {j + 1})"
                     for i in range(NF) for j in range(NF))
    return f"""
WITH feats AS (
  {readers.lineitem_features_sql_cte()}
),
a AS (
  SELECT {aggs}
  FROM feats
)
SELECT ij.i, ij.j, CASE {case} END AS cov
FROM a CROSS JOIN (VALUES {vals}) ij(i, j)
"""


#: synthetic wrapper exercising every strip_html rule class on the
#: gate corpus: script drop, comment drop, block->newline, entity
#: subset (named + numeric + double-encoded), <br>
_HTML_WRAP_PRE = ("<div><script>var x = '<p>no</p>';</script>"
                  "<h1>T &amp; &#38;amp; H</h1><p>")
_HTML_WRAP_POST = (" &#60;tail&#62; &amp;lt;kept&amp;gt;</p><br>"
                   "<!-- c --></div>")


def _q_text_stats(spark, sf_dir):
    """Widened round 9: + ``html_clean_md5`` — the documents wrapped
    in a synthetic HTML shell and pushed through the strip_html
    whole-stage-codegen chain (operators/text.py), md5 of the cleaned
    text; the oracle replays the IDENTICAL RE2-compatible regex chain
    in DuckDB, so the crawl-extraction transform is driver-gated
    end-to-end."""
    from xpysom_dask_spark.operators.text import strip_html

    d = _docs(spark, sf_dir)
    wrapped = F.concat(F.lit(_HTML_WRAP_PRE), F.col("text"),
                       F.lit(_HTML_WRAP_POST)).alias("__h")
    return (d.select("doc_id", "text", wrapped)
            .select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        F.round(T.alpha_ratio("text"), 6).alias("alpha_ratio"),
        F.round(T.avg_token_len("text"), 6).alias("avg_token_len"),
        F.md5(strip_html("__h")).alias("html_clean_md5")))


def _q_text_langid(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.lang_id("text").alias("lang_pred"))


def _q_text_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.md5_fingerprint("text").alias("fp_md5"),
        T.min_shingle_fingerprint("text").alias("fp_shingle"),
        T.rolling_hash("text").cast("bigint").alias("fp_roll"))


def _q_text_tokens_bpe(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    T.token_count_bpe("text").cast("bigint").alias("n_bpe"))


def _sql_text_tokens_bpe():
    return f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_extract_all(text, $pat${T.BPE_PATTERN}$pat$),
                t -> t <> ' ' AND trim(t) <> '')) AS BIGINT) AS n_bpe
FROM documents
"""


def _q_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation: exact-dedup keep-first → quality ≥ 0.5
    → English only; emits the surviving doc ids with their scores."""
    out = dedup.curate(_docs(spark, sf_dir), "text", "doc_id",
                       min_quality=0.5, lang="en")
    return out.select("doc_id",
                      F.round(T.quality_score("text"), 6).alias("quality"))


def _sql_curation_pipeline():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    toks = _duck_tokens("text")
    alpha = ("CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)"
             " / greatest(length(text), 1)")
    quality = f"0.5 * LEAST(len({toks}) / 100.0, 1.0) + 0.5 * ({alpha})"
    scores = {}
    for lang, words in T.LANG_STOPWORDS.items():
        lit = ", ".join(f"'{w}'" for w in words)
        scores[lang] = f"len(list_filter({toks}, t -> t IN ({lit})))"
    lang_case = T.lang_id_case_sql(scores)
    return f"""
WITH kept AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5({t}) ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, ROUND({quality}, 6) AS quality
FROM kept
WHERE rn = 1 AND ({quality}) >= 0.5 AND ({lang_case}) = 'en'
"""


def _q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(_docs(spark, sf_dir), "text", "doc_id") \
        .select("fp", F.col("keeper").cast("bigint"),
                F.col("n_copies").cast("bigint"))


def _q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest exact dedup (dedup.dedup_incremental): a
    70/30 hash split plays history/new-batch; the history's
    fingerprint index (the persisted artifact at scale) anti-joins the
    new batch after within-batch keep-first.  Returns the new batch's
    survivors — the rows an incremental pipeline would admit today
    without re-scanning corpus history."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"hist": 0.7, "new": 0.3}, seed=21)
    hist = split.where("split = 'hist'").drop("split")
    new = split.where("split = 'new'").drop("split")
    from xpysom_dask_spark.operators.text import md5_fingerprint
    index = hist.select(md5_fingerprint("text").alias("fp")).distinct()
    survivors, _ = dedup.dedup_incremental(new, "text", "doc_id", index)
    return survivors.select("doc_id", "lang")


def _sql_dedup_incremental():
    u = _duck_unit_hash("doc_id", 21)
    acc = 0.7 / (0.7 + 0.3)
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH uh AS (SELECT doc_id, lang, text, {u} AS u FROM documents),
hist AS (SELECT * FROM uh WHERE u < {acc!r}),
new AS (SELECT * FROM uh WHERE u >= {acc!r}),
kept AS (
  SELECT doc_id, lang, md5({t}) AS fp,
         ROW_NUMBER() OVER (PARTITION BY md5({t}) ORDER BY doc_id) AS rn
  FROM new)
SELECT doc_id, lang FROM kept
WHERE rn = 1 AND fp NOT IN (SELECT md5({t}) FROM hist)
"""


def _q_zorder_key(spark, sf_dir):
    """Morton (Z-order) clustering key (sources/writers.zorder_key)
    over (l_orderkey, l_partkey): min-max scale each column to 16 bits
    (one bounds aggregate, literals folded into codegen) and
    interleave — the layout key behind write_zordered's multi-column
    data skipping.  Pure integer/double math, so the oracle reproduces
    it bit-for-bit from a bounds CTE."""
    from xpysom_dask_spark.sources import writers

    li = readers.load_table(spark, sf_dir, "lineitem")
    key, _ = writers.zorder_key(li, ["l_orderkey", "l_partkey"])
    return li.select("l_orderkey", "l_linenumber", key.alias("zkey"))


def _sql_zorder_key():
    top, bits, ncols = 65535, 16, 2
    scaled = []
    for i, c in enumerate(("l_orderkey", "l_partkey")):
        n = f"CAST({c} AS DOUBLE)"
        scaled.append(
            f"CAST(least({top}, greatest(0, "
            f"floor((coalesce({n}, lo{i}) - lo{i}) / sp{i} * {top + 1})"
            f")) AS BIGINT)")
    terms = [f"((({s} >> {b}) & 1) << {b * ncols + j})"
             for j, s in enumerate(scaled) for b in range(bits)]
    zkey = "(" + " + ".join(terms) + ")"
    return f"""
WITH b AS (
  SELECT min(CAST(l_orderkey AS DOUBLE)) AS lo0,
         max(CAST(l_orderkey AS DOUBLE)) AS hi0,
         min(CAST(l_partkey AS DOUBLE)) AS lo1,
         max(CAST(l_partkey AS DOUBLE)) AS hi1
  FROM lineitem),
s AS (
  SELECT lo0, CASE WHEN hi0 - lo0 = 0 THEN 1.0 ELSE hi0 - lo0 END AS sp0,
         lo1, CASE WHEN hi1 - lo1 = 0 THEN 1.0 ELSE hi1 - lo1 END AS sp1
  FROM b)
SELECT l_orderkey, l_linenumber, {zkey} AS zkey
FROM lineitem CROSS JOIN s
"""


def _q_dedup_minhash(spark, sf_dir):
    out = dedup.minhash_near_dups(_docs(spark, sf_dir), "text", "doc_id",
                                  threshold=0.5)
    return out.select(F.col("id_a").cast("bigint"),
                      F.col("id_b").cast("bigint"),
                      F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_simhash(spark, sf_dir):
    out = dedup.simhash_near_dups(_docs(spark, sf_dir), "text", "doc_id",
                                  max_hamming=3)
    return out.select(F.col("id_a").cast("bigint"),
                      F.col("id_b").cast("bigint"),
                      F.col("hamming").cast("bigint"))


def _q_simhash_signatures(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.simhash60("text").alias("simhash"))


def _q_dedup_ngram_jaccard(spark, sf_dir):
    # max_df=None: the DuckDB twin is exact — the gate opts out of the
    # scale-default stop-shingle pruning explicitly
    out = dedup.ngram_jaccard_near_dups(_docs(spark, sf_dir), "text",
                                        "doc_id", threshold=0.8,
                                        max_df=None)
    return out.select(F.col("id_a").cast("bigint"),
                      F.col("id_b").cast("bigint"),
                      F.round("jaccard", 6).alias("jaccard"))


def _q_text_quality(spark, sf_dir):
    """Widened round 9 (gate-slot policy: new signals WIDEN existing
    gates): composite quality score + the encoding-artifact columns
    (operators/text.py encoding_signals — U+FFFD count, C0-control
    count, printable-ASCII ratio e6), all engine-portable regex."""
    d = _docs(spark, sf_dir)
    enc = T.encoding_signals("text")
    return d.select("doc_id",
                    F.round(T.quality_score("text"), 6).alias("quality"),
                    enc["n_replacement"].alias("n_replacement"),
                    enc["n_control"].alias("n_control"),
                    enc["ascii_e6"].alias("ascii_e6"))


def _q_multimodal_image_stats(spark, sf_dir):
    imgs = multimodal.embeddings_as_images(_emb(spark, sf_dir))
    return multimodal.image_stats(imgs)


def _q_som_win_map(spark, sf_dir):
    """win_map as a scalable aggregate (X22): per winning cell, the
    member count and per-dimension feature centroid — the distributed
    form of the reference's dict-of-sample-lists (xpysom.py:831-840)."""
    som = _oracle_som()
    scored = som.transform(_features(spark, sf_dir), ("bmu_x", "bmu_y"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    aggs += [F.round(F.avg(F.element_at("features", k + 1)), 6)
             .alias(f"c{k + 1}") for k in range(NF)]
    return scored.groupBy("bmu_x", "bmu_y").agg(*aggs)


def _q_knn_cosine(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.where("vec_id % 50 = 0")
    out = similarity.cosine_topk(e, q, k=5)
    return out.select("query_id", F.col("rank").cast("bigint"),
                      "neighbor_id", F.round("sim", 6).alias("sim"))


def _q_embedding_near_dup(spark, sf_dir):
    # the synthetic embeddings have no true near-dups (max pairwise
    # cosine ≈ 0.51) — threshold in the populated regime so the operator
    # produces and verifies real pairs
    out = similarity.near_dup_pairs(_emb(spark, sf_dir), threshold=0.45)
    return out.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


def _q_events_hourly(spark, sf_dir):
    # events.ts is parquet TIMESTAMP(NANOS) — Spark reads it as BIGINT
    # nanos under this flag; hour bucketing is then exact integer math
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = readers.load_table(spark, sf_dir, "events")
    return (ev.groupBy(
        F.expr("CAST(ts DIV 3600000000000 AS BIGINT) * 3600")
        .alias("hour_ts"),
        "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value")))


def _q_streaming_events_hourly_bmu(spark, sf_dir):
    """Structured-Streaming twin of the activation-response rollup, fed by
    a real file-source stream and drained with availableNow into a memory
    sink — proves the streaming surface computes exactly the batch/SQL
    answer.  One feature (value/100) on a seeded 4×4 float64 SOM so the
    BMU argmin is bitwise SQL-reproducible."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import windowed_activation_response

    ev = readers.load_table(spark, sf_dir, "events")
    src = ev.select(
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).alias("ts"),
        F.array((F.col("value") / F.lit(100.0)).cast("double"))
        .alias("features"))
    tmp = _staged_gate_dir(
        "somstream", sf_dir,
        lambda p: src.write.mode("overwrite").parquet(p))

    som = _stream_som()
    stream = spark.readStream.schema(src.schema).parquet(tmp)
    out = windowed_activation_response(som, stream, "ts", window="1 hour",
                                       watermark="0 seconds")
    name = "q_stream_bmu_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return (spark.table(name)
            .select(F.col("window_start").cast("long").alias("hour_ts"),
                    "bmu_x", "bmu_y",
                    F.col("n_wins").cast("bigint").alias("n_wins")))


def _stream_som() -> SparkSom:
    som = SparkSom(4, 4, 1, random_seed=SOM_SEED, dtype=np.float64,
                   activation_distance="norm_p_no_opt",
                   activation_distance_kwargs={"p": 2})
    # spread the 1-dim codebook over the value/100 range [0, 5): the
    # normalized random init collapses 1-dim weights to ±1, which maps
    # every event to one cell (a degenerate, nothing-tested rollup)
    som._weights = np.linspace(0.0, 5.0, 16).reshape(4, 4, 1)
    return som


def _sql_streaming_events_hourly_bmu():
    W = _stream_som().get_weights()
    rows = ",\n      ".join(
        f"({i}, {j}, CAST('{W[i, j, 0]!r}' AS DOUBLE))"
        for i in range(4) for j in range(4))
    return f"""
WITH feats AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         value / CAST(100 AS DOUBLE) AS f1
  FROM events
),
w(i, j, w1) AS (
  VALUES
      {rows}
),
scored AS (
  SELECT f.hour_ts,
         (SELECT w.i FROM w
          ORDER BY (f.f1 - w.w1) * (f.f1 - w.w1), w.i, w.j LIMIT 1) AS bx,
         (SELECT w.j FROM w
          ORDER BY (f.f1 - w.w1) * (f.f1 - w.w1), w.i, w.j LIMIT 1) AS by
  FROM feats f
)
SELECT hour_ts, CAST(bx AS INTEGER) AS bmu_x, CAST(by AS INTEGER) AS bmu_y,
       COUNT(*) AS n_wins
FROM scored GROUP BY 1, 2, 3
"""


def _q_streaming_user_transitions(spark, sf_dir):
    """The custom stateful operator (applyInPandasWithState): per-user
    SOM-cell trajectory — event count, number of cluster transitions in
    event-time order, and the final cluster.  Drained with availableNow;
    the oracle replays the same logic with SQL window functions."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import bmu_transitions

    ev = readers.load_table(spark, sf_dir, "events")
    src = ev.select(
        "user_id",
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).alias("ts"),
        F.array((F.col("value") / F.lit(100.0)).cast("double"))
        .alias("features"))
    tmp = _staged_gate_dir(
        "somtrans", sf_dir,
        lambda p: src.write.mode("overwrite").parquet(p))

    som = _stream_som()
    stream = spark.readStream.schema(src.schema).parquet(tmp)
    out = bmu_transitions(som, stream, "user_id", ts_col="ts")
    name = "q_stream_trans_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True))
    return (spark.table(name)
            .select(F.col("key").alias("user_id"),
                    "n_events", "n_transitions", "last_cluster"))


def _sql_streaming_user_transitions():
    W = _stream_som().get_weights()
    rows = ",\n      ".join(
        f"({i}, {j}, CAST('{W[i, j, 0]!r}' AS DOUBLE))"
        for i in range(4) for j in range(4))
    return f"""
WITH feats AS (
  SELECT user_id, ts, value / CAST(100 AS DOUBLE) AS f1 FROM events
),
w(i, j, w1) AS (
  VALUES
      {rows}
),
scored AS (
  SELECT f.user_id, f.ts,
         (SELECT w.i * 4 + w.j FROM w
          ORDER BY (f.f1 - w.w1) * (f.f1 - w.w1), w.i, w.j LIMIT 1) AS cid
  FROM feats f
),
seq AS (
  SELECT user_id, ts, cid,
         LAG(cid) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM scored
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND cid <> prev
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
       CAST(arg_max(cid, ts) AS BIGINT) AS last_cluster
FROM seq GROUP BY user_id
"""


def _q_embedding_near_dup_lsh(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs (band-collision candidates,
    exact GEMM cosine verify).  The corpus is the embeddings table
    unioned with positively-scaled copies (vec_id + 10⁶) — positive
    scaling preserves every hyperplane sign, so each (v, 1.5·v) pair
    collides in ALL bands and LSH recall on them is 1 by construction.
    At threshold 0.99 the true pair set is exactly those scaled pairs
    (max chance cosine ≈ 0.51), so the verified LSH output equals the
    exact all-pairs answer — the oracle-checkable full-recall config
    (VERDICT r01 #1b)."""
    e = _emb(spark, sf_dir)
    scaled = e.select((F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
                      F.expr("transform(embedding, v -> v * CAST(1.5 AS FLOAT))")
                      .alias("embedding"))
    corpus = e.select("vec_id", "embedding").unionAll(scaled)
    out = similarity.lsh_near_dup_pairs(corpus, dim=64, threshold=0.99)
    return out.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


def _sql_embedding_near_dup_lsh():
    dot = _DOT64.format(a="a.embedding", b="b.embedding")
    aa = _DOT64.format(a="a.embedding", b="a.embedding")
    bb = _DOT64.format(a="b.embedding", b="b.embedding")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         [CAST(CAST(v AS DOUBLE) * 1.5 AS REAL) FOR v IN embedding]
           AS embedding
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(({dot}) / (sqrt({aa}) * sqrt({bb})), 6) AS sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE ({dot}) / (sqrt({aa}) * sqrt({bb})) >= 0.99
"""


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events table (30-minute gap):
    window lag + running sum + hash aggregate, one shuffle on user_id."""
    from xpysom_dask_spark.operators import events as EV

    ev = readers.load_table(spark, sf_dir, "events")
    return EV.sessionize(ev, gap_s=1800)


def _sql_events_sessionize():
    return """
WITH seq AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM seq
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_s,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS end_s,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT)
           AS duration_s
FROM sess GROUP BY user_id, session_id
"""


def _q_multimodal_frame_sample(spark, sf_dir):
    """Video pipeline: embeddings → 8×8 frames → 4-frame raw videos
    (binary concat, order by vec_id) → sample every 2nd frame → exact
    integer pixel stats.  Exercises binary assembly, ``sample_frames``
    fan-out, and operator composition under the oracle."""
    imgs = multimodal.embeddings_as_images(_emb(spark, sf_dir))
    vids = (imgs.groupBy((F.col("image_id") / 4).cast("bigint")
                         .alias("video_id"))
            .agg(F.expr("array_sort(collect_list(struct(image_id, data)))")
                 .alias("frames"))
            .select("video_id",
                    F.expr("reduce(transform(frames, f -> f.data), "
                           "X'', (acc, d) -> concat(acc, d))").alias("data"),
                    F.lit("raw").alias("format"),
                    F.lit(8).alias("width"), F.lit(8).alias("height"),
                    F.lit(1).alias("channels"),
                    F.size("frames").alias("n_frames")))
    sampled = multimodal.sample_frames(vids, every_n=2)
    return multimodal.image_stats(
        sampled.select("image_id", "data", "format", "width", "height",
                       "channels"))


def _sql_multimodal_frame_sample():
    # kept frames are the even positions within each 4-frame video; with
    # contiguous vec_ids that is vec_id % 4 ∈ {0, 2}; image_id remaps to
    # video_id·10⁶ + frame_idx
    return """
WITH u AS (
  SELECT vec_id,
    [CAST(LEAST(GREATEST(FLOOR((CAST(e AS DOUBLE) + 1.0) * 127.5), 0), 255)
          AS BIGINT) FOR e IN embedding] AS px
  FROM embeddings
  WHERE vec_id % 4 IN (0, 2)
)
SELECT (vec_id // 4) * 1000000 + (vec_id % 4) AS image_id,
  CAST(len(px) AS BIGINT) AS n_px,
  list_reduce(list_prepend(CAST(0 AS BIGINT), px), (a, b) -> a + b) AS px_sum,
  list_reduce(list_prepend(CAST(0 AS BIGINT), [p * p FOR p IN px]),
              (a, b) -> a + b) AS px_sumsq,
  CAST(list_min(px) AS INTEGER) AS px_min,
  CAST(list_max(px) AS INTEGER) AS px_max,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    [abs(px[i + 1] - px[i]) FOR i IN range(1, 64) IF i % 8 <> 0]),
    (a, b) -> a + b) AS edge_sum
FROM u
"""


def _q_relational_revenue_topk(spark, sf_dir):
    """Classic relational shape the reference lacks entirely (SURVEY
    §2.6): customer ⋈ orders ⋈ lineitem ⋈ nation with broadcast
    dimension tables, partial-aggregated revenue, and a per-nation
    top-3 window — Catalyst plans broadcast joins + two-phase agg."""
    from pyspark.sql import Window

    li = readers.load_table(spark, sf_dir, "lineitem")
    orders = readers.load_table(spark, sf_dir, "orders")
    cust = readers.load_table(spark, sf_dir, "customer")
    nation = readers.load_table(spark, sf_dir, "nation")
    rev = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
           .groupBy("n_name", "c_custkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2)
                .alias("revenue")))
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey"))
    return (rev.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= 3)
            .select("n_name", "rank", "c_custkey",
                    F.col("revenue").cast("double").alias("revenue")))


def _sql_relational_revenue_topk():
    return """
WITH rev AS (
  SELECT n.n_name, c.c_custkey,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, c.c_custkey
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rank
  FROM rev
)
SELECT n_name, rank, c_custkey, CAST(revenue AS DOUBLE) AS revenue
FROM ranked WHERE rank <= 3
"""


def _q_ann_som_ivf(spark, sf_dir):
    """ANN via SOM-as-IVF, run at full probe (nprobe = x·y = 16): every
    cell is scanned, so the IVF plan — bucket-by-BMU, exploded-probe
    broadcast equi-join, GEMM candidate cosine — must reproduce the
    exact brute-force top-5 bit-for-bit.  That makes the approximate
    operator oracle-checkable (VERDICT r01 #1a); the approximate regime
    (nprobe < x·y) is covered by the monotone-recall quality test in
    tests/test_som_spark.py."""
    e = _emb(spark, sf_dir)
    som = SparkSom(4, 4, 64, random_seed=SOM_SEED, features_col="embedding")
    som.train(e.select("embedding"), 2)
    q = e.where("vec_id % 100 = 0").collect()
    qids = [r["vec_id"] for r in q]
    qvecs = np.array([r["embedding"] for r in q])
    out = similarity.som_ivf_topk(som, e, qvecs, qids, k=5, nprobe=16)
    return out.select("query_id", F.col("rank").cast("bigint"),
                      "neighbor_id", F.round("sim", 6).alias("sim"))


def _sql_ann_som_ivf():
    # full probe ≡ exact top-k: the twin is brute-force cosine top-5
    # over the %100 query set (same shape as knn_cosine's oracle)
    dot = _DOT64.format(a="q.embedding", b="c.embedding")
    qq = _DOT64.format(a="q.embedding", b="q.embedding")
    cc = _DOT64.format(a="c.embedding", b="c.embedding")
    return f"""
WITH q AS (SELECT * FROM embeddings WHERE vec_id % 100 = 0),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS sim
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= 5
"""


#: nprobe tiers for the IVF recall-curve report (full probe = 16 = x·y)
_IVF_NPROBES = (1, 4, 16)


def _ivf_local_som(X: np.ndarray) -> SparkSom:
    """The deterministic IVF quantizer both the Spark query and the
    DuckDB oracle use: seeded init, float64, per-dim squared-L2
    activation (sequential accumulation — bitwise-matches the SQL sum
    chain), trained LOCALLY (NumPy path) so the codebook is bit-
    identical on both sides — Spark's distributed training differs in
    float summation order, which would make partial-probe recall
    unverifiable."""
    som = SparkSom(4, 4, 64, random_seed=SOM_SEED, dtype=np.float64,
                   activation_distance="norm_p_no_opt",
                   activation_distance_kwargs={"p": 2},
                   features_col="embedding")
    som.train(X, 2)
    return som


def _q_ann_recall_curve(spark, sf_dir):
    """Recall@5 of the SOM-IVF ANN tier vs exact top-5, per nprobe ∈
    {1, 4, 16} (VERDICT r02 #3): the quality report that makes the
    approximate regime's behavior visible, not just the full-probe
    exactness.  Full probe (16 = every cell) must come out at recall
    exactly 1.0 — the oracle checks the PARTIAL probes too, because the
    codebook is deterministic and embedded in the SQL as literals.

    The sweep shares ONE candidate pass across the nprobe legs
    (operators/similarity.py som_ivf_topk_sweep, VERDICT r8 #8): every
    leg's candidate set is a prefix of the full-probe leg's, so the
    probe join + GEMM run once and each leg filters probe_rank — leg
    output is bit-identical to som_ivf_topk at that nprobe; the exact
    reference IS the full-probe (16 = every cell) leg."""
    e = _emb(spark, sf_dir)
    pdf = e.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    X = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    som = _ivf_local_som(X)
    qmask = (pdf["vec_id"] % 100 == 0).to_numpy()
    qids = pdf["vec_id"].to_numpy()[qmask].tolist()
    qvecs = X[qmask]
    n_q = len(qids)
    sweep = similarity.som_ivf_topk_sweep(
        som, e, qvecs, qids, k=5,
        nprobes=tuple(sorted(set(_IVF_NPROBES) | {16})))
    exact = (sweep.where("nprobe = 16")
             .select("query_id", "neighbor_id"))
    parts = (sweep.where(F.col("nprobe").isin([int(p) for p in
                                               _IVF_NPROBES]))
             .select("nprobe", "query_id", "neighbor_id"))
    hits = parts.join(exact.withColumn("hit", F.lit(1)),
                      ["query_id", "neighbor_id"], "left")
    return (hits.groupBy("nprobe")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("__h"))
            .select("nprobe",
                    F.lit(n_q).cast("bigint").alias("n_queries"),
                    F.round(F.col("__h").cast("double")
                            / F.lit(5.0 * n_q), 6).alias("recall")))


#: the scale the driver runs oracle SQL at (its t2 gate is sf=0.01)
_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _ivf_oracle_weights_values(sf_dir: str) -> str:
    """Train the IVF quantizer on the oracle-side embeddings exactly as
    the Spark query does at that sf, and embed the codebook as
    (cell, w1..w64) literals.  The codebook is data-dependent, so the
    oracle SQL must be built for the same sf the query runs at —
    ``oracle_sql()`` defaults to the driver's sf0.01; the local parity
    test rebuilds at sf0.001."""
    import duckdb

    con = duckdb.connect()
    pdf = con.execute(
        "SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') "
        "ORDER BY vec_id").fetchdf()
    X = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    W = _ivf_local_som(X).get_weights()
    rows = []
    for i in range(4):
        for j in range(4):
            vals = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in W[i, j])
            rows.append(f"({i * 4 + j}, {vals})")
    return ",\n      ".join(rows)


def _dsq64(e: str, w: str = "iw") -> str:
    """Σ_k (emb[k] − w_k)², left-to-right — the norm_p_no_opt kernel's
    sequential accumulation order."""
    return " + ".join(
        f"(CAST({e}[{k + 1}] AS DOUBLE) - {w}.w{k + 1}) * "
        f"(CAST({e}[{k + 1}] AS DOUBLE) - {w}.w{k + 1})"
        for k in range(64))


def _sql_ann_recall_curve(sf_dir: str = _ORACLE_SF_DIR):
    dot = _DOT64.format(a="q.embedding", b="c.embedding")
    qq = _DOT64.format(a="q.embedding", b="q.embedding")
    cc = _DOT64.format(a="c.embedding", b="c.embedding")
    w_cols = "cell, " + ", ".join(f"w{k + 1}" for k in range(64))
    np_vals = ", ".join(f"({p})" for p in _IVF_NPROBES)
    return f"""
WITH iwm({w_cols}) AS (
  VALUES
      {_ivf_oracle_weights_values(sf_dir)}
),
q AS (SELECT * FROM embeddings WHERE vec_id % 100 = 0),
corpus_cells AS (
  SELECT c.vec_id,
         (SELECT iw.cell FROM iwm iw
          ORDER BY {_dsq64('c.embedding')}, iw.cell LIMIT 1) AS cell
  FROM embeddings c
),
probe_ranked AS (
  SELECT query_id, cell, pr FROM (
    SELECT q.vec_id AS query_id, iw.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {_dsq64('q.embedding')}, iw.cell) AS pr
    FROM q CROSS JOIN iwm iw)
),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, cc2.cell,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS sim
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
  JOIN corpus_cells cc2 ON cc2.vec_id = c.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims) WHERE rank <= 5
),
ann AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT np.np AS nprobe, s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY np.np, s.query_id
               ORDER BY s.sim DESC, s.neighbor_id) AS rank
    FROM sims s
    JOIN (VALUES {np_vals}) np(np) ON TRUE
    JOIN probe_ranked p ON p.query_id = s.query_id
         AND p.cell = s.cell AND p.pr <= np.np)
  WHERE rank <= 5
)
SELECT a.nprobe,
       (SELECT COUNT(*) FROM q) AS n_queries,
       ROUND(CAST(SUM(CASE WHEN e.query_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / (5.0 * (SELECT COUNT(*) FROM q)), 6) AS recall
FROM ann a
LEFT JOIN exact e ON e.query_id = a.query_id
     AND e.neighbor_id = a.neighbor_id
GROUP BY a.nprobe
"""


def _q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: minhash pairs → distributed min-label
    propagation (operators.graph.connected_components).  The oracle twin
    is a recursive-CTE transitive closure over the same verified pairs —
    exact at oracle scale, while the Spark side stays O(diameter)
    shuffle rounds at corpus scale."""
    out = dedup.dedup_clusters(_docs(spark, sf_dir), "text", "doc_id",
                               threshold=0.5)
    return out.select(F.col("id").cast("bigint"),
                      F.col("component").cast("bigint"))


def _q_fuzzy_dedup(spark, sf_dir):
    """The fuzzily-deduplicated corpus: drop non-representative members
    of every near-dup component (keep min id)."""
    out = dedup.fuzzy_dedup_keep_first(_docs(spark, sf_dir), "text",
                                       "doc_id", threshold=0.5)
    return out.select("doc_id", "lang", "source", "n_chars")


#: split weights for the split_by_hash query — shared by Spark + oracle
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_stratified_sample(spark, sf_dir):
    """Mixture construction: per-language keep rates (keep all en,
    half de, quarter fr; drop the rest)."""
    out = sampling.stratified_sample(
        _docs(spark, sf_dir), "doc_id", "lang",
        {"en": 1.0, "de": 0.5, "fr": 0.25}, seed=11)
    return out.select("doc_id", "lang")


def _q_pack_sequences(spark, sf_dir):
    """Token-budget concat-and-chunk packing: hash-route docs to 8
    parallel pack groups, cumulative-sum token offsets per group, assign
    each doc to the chunk where it starts.  Window + arithmetic only —
    the oracle twin is the same cumsum in DuckDB."""
    from xpysom_dask_spark.operators import packing

    docs = _docs(spark, sf_dir).withColumn("n_tok", T.token_count("text"))
    out = packing.pack_sequences(docs, "doc_id", "n_tok", budget=1024,
                                 n_groups=8, seed=2)
    return out.select("doc_id", "group", "start_offset", "pack_id")


def _q_corpus_report(spark, sf_dir):
    """Per-language corpus audit with exact quantiles (the
    oracle-comparable configuration; percentile_approx is the
    sketch-based scale path)."""
    out = T.corpus_report(_docs(spark, sf_dir), "text", ("lang",),
                          exact_quantiles=True)
    return out.select("lang", "n_docs", "n_tokens",
                      F.round("avg_quality", 6).alias("avg_quality"),
                      F.round("p50_chars", 4).alias("p50_chars"),
                      F.round("p90_chars", 4).alias("p90_chars"))


def _q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (keyed state store, first-arrival-wins) of
    the documents table replayed as a file stream.  The fingerprint SET
    is the deterministic contract — it must equal the batch
    dedup_exact groups, which is what the oracle checks."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import dedup_stream

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = _staged_gate_dir(
        "dedupstream", sf_dir,
        lambda p: docs.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(docs.schema).parquet(tmp)
    out = dedup_stream(stream, "text")
    name = "q_stream_dedup_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True))
    return spark.table(name).select("fp").orderBy("fp")


def _q_top_terms(spark, sf_dir):
    """Per-language distinctive terms by TF-IDF (corpus analysis):
    three map-side-combinable aggregates over one shared token explode,
    then a per-group top-k window."""
    out = T.top_terms_tfidf(_docs(spark, sf_dir), "text", "lang",
                            "doc_id", k=5, min_df=2)
    return out.select("lang", F.col("rank").cast("bigint"), "term",
                      F.col("tf").cast("bigint"),
                      F.col("df_docs").cast("bigint"),
                      F.round("score", 6).alias("score"))


def _q_som_classify(spark, sf_dir):
    """Nearest-prototype classification (the reference's Classification
    notebook as an operator): label each lineitem row with the majority
    l_returnflag of its BMU cell.  Cell-label table is x·y rows —
    broadcast hash join."""
    som = _oracle_som()
    li = readers.load_table(spark, sf_dir, "lineitem")
    feats = F.array(*[F.expr(e).cast("double")
                      for _n, e in readers.LINEITEM_FEATURES]) \
        .alias("features")
    labeled = li.select("l_orderkey", "l_linenumber", "l_returnflag", feats)
    out = som.classify(labeled, labeled, "l_returnflag",
                       keep=("l_orderkey", "l_linenumber"))
    return out.select("l_orderkey", "l_linenumber",
                      F.col("bmu_x").cast("bigint").alias("bmu_x"),
                      F.col("bmu_y").cast("bigint").alias("bmu_y"),
                      F.col("label").alias("pred_flag"))


def _q_som_anomalies(spark, sf_dir):
    """Quantization-error outliers (the reference's OutliersDetection
    notebook as an operator): rows whose QE exceeds the exact corpus
    p95 — the sketch-based percentile_approx is the scale path."""
    som = _oracle_som()
    out = som.anomalies(_features(spark, sf_dir), quantile=0.95,
                        exact=True)
    return out.select("l_orderkey", "l_linenumber",
                      F.round("qe", 4).alias("qe"))


def _q_text_gopher(spark, sf_dir):
    """Gopher-rule document-shape quality gate: word-count bounds,
    mean-word-length bounds, alpha ratio, duplicate-bigram ratio, and
    the combined pass flag — one narrow scan."""
    out = T.gopher_quality_flags(_docs(spark, sf_dir), "text")
    return out.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("bigram_repetition", 6).alias("bigram_repetition"),
        F.col("passes_gopher").cast("int").alias("passes_gopher"))


def _q_events_asof(spark, sf_dir):
    """Point-in-time join: each click gets the user's most recent
    purchase value at-or-before it (no-lookahead feature attachment).
    Union-and-window formulation — one shuffle on the key, NO join
    node; the oracle is DuckDB's native ASOF LEFT JOIN."""
    from xpysom_dask_spark.operators.events import asof_join

    ev = readers.load_table(spark, sf_dir, "events")
    # microsecond timestamps on both engines: DuckDB reads the
    # TIMESTAMP(NANOS) column at us precision, so the oracle cannot see
    # the sub-us digits Spark's nanosAsLong i64 carries
    us = F.expr("ts DIV 1000").alias("ts")
    clicks = ev.where("event_type = 'click'") \
        .select("event_id", "user_id", us)
    purchases = ev.where("event_type = 'purchase'") \
        .select("user_id", us, "value")
    out = asof_join(clicks, purchases, "user_id", "ts", "ts", ["value"])
    return out.select("event_id", "user_id", "ts",
                      F.round("value_asof", 6).alias("last_purchase_value"),
                      F.col("ts_asof").alias("last_purchase_ts"))


def _q_events_interval(spark, sf_dir):
    """Range join without the nested-loop degeneration: every click
    mapped into its user's session window (points × intervals on
    bucketed time + exact containment)."""
    from xpysom_dask_spark.operators.events import interval_join, sessionize

    ev = readers.load_table(spark, sf_dir, "events")
    sessions = sessionize(ev, gap_s=1800)
    clicks = ev.where("event_type = 'click'").select(
        "event_id", "user_id",
        F.expr("CAST(ts DIV 1000000000 AS BIGINT)").alias("ts_s"))
    out = interval_join(clicks, sessions, "ts_s", "start_s", "end_s",
                        key_cols="user_id", bucket_width=1800)
    return out.select("event_id", "user_id", "ts_s",
                      F.col("session_id").cast("bigint").alias("session_id"),
                      "start_s", "end_s")


def _q_mixture_resample(spark, sf_dir):
    """Fractional epoch-repetition mixture: de ×2.5, fr ×0.4, zh
    dropped, everything else ×1 — explicit copy rows with copy ids."""
    out = sampling.mixture_resample(
        _docs(spark, sf_dir), "doc_id", "lang",
        {"de": 2.5, "fr": 0.4, "zh": 0.0}, seed=13)
    return out.select("doc_id", "lang",
                      F.col("copy_id").cast("bigint").alias("copy_id"))


def _q_decontaminate(spark, sf_dir):
    """Test-set decontamination composed with the stable hash split:
    90/10 train/test split, then drop every train doc sharing ≥ 1
    distinct word 5-gram with any test doc (the GPT-3-style n-gram
    rule). Inverted-index join + anti-join."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"train": 0.9, "test": 0.1}, seed=1)
    train = split.where("split = 'train'").drop("split")
    test = split.where("split = 'test'").drop("split")
    out = dedup.decontaminate(train, test, "text", "doc_id", n=5)
    return out.select("doc_id", "lang")


def _q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (the 100 TB scale path of
    `decontaminate`): the test-set 5-grams compress to a 2²⁰-bit
    bitmap relation (one bit_or aggregate) that BROADCASTS; train
    shingles probe it with 3 integer positions — no text-keyed
    shuffle.  Same split as `decontaminate`, so the diff between the
    two gate results IS the false-positive set."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"train": 0.9, "test": 0.1}, seed=1)
    train = split.where("split = 'train'").drop("split")
    test = split.where("split = 'test'").drop("split")
    out = dedup.bloom_decontaminate(train, test, "text", "doc_id", n=5,
                                    m_bits=1 << 20, k=3, verify=False)
    return out.select("doc_id", "lang")


# --------------------------------------------------------------------- #
# round-3 pipeline operators: embedding storage/geometry, semi-
# structured events, weighted sampling, corpus shuffle, PII redaction

def _q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization + reconstruction-error
    audit (operators/embeddings.py): scale = max|v|/127, q = floor(v/
    scale + 0.5) — the 4× storage cut every 100 TB embedding column
    takes.  All arithmetic is bit-identical on both engines (same
    double ops in the same order), so NO rounding is needed: scale,
    qvec, and max_abs_err hash-match raw.  qvec is serialized to a
    space-joined string for the gate (the driver's pandas
    canonicalizer cannot sort/factorize list columns — r4 TypeError)."""
    from xpysom_dask_spark.operators import embeddings as EMB

    q = EMB.quantization_error(EMB.quantize_int8(_emb(spark, sf_dir)))
    return q.select(
        "vec_id", "scale",
        F.array_join(
            F.transform(F.col("qvec").cast("array<int>"),
                        lambda x: x.cast("string")), " ").alias("qvec"),
        "max_abs_err")


def _sql_embedding_quantize():
    return """
WITH a AS (
  SELECT vec_id, embedding,
         list_max([abs(CAST(v AS DOUBLE)) FOR v IN embedding]) AS amax
  FROM embeddings),
s AS (SELECT vec_id, embedding,
             CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS scale
      FROM a)
SELECT vec_id, scale,
  array_to_string([CAST(CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                             AS INTEGER) AS VARCHAR)
                   FOR v IN embedding], ' ') AS qvec,
  list_max([abs(floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5) * scale
                - CAST(embedding[i] AS DOUBLE))
            FOR i IN range(1, 65)]) AS max_abs_err
FROM s
"""


def _q_label_centroids(spark, sf_dir):
    """Per-label centroid geometry report (operators/embeddings.py):
    member count, centroid norm, mean member→centroid cosine.  The
    centroid components are rounded to 6 decimals on BOTH sides before
    the cosine pass, so sum-order float drift between engines (and
    between Spark partitionings) is absorbed at the one point it
    enters."""
    from xpysom_dask_spark.operators import embeddings as EMB

    return EMB.label_centroids(_emb(spark, sf_dir))


def _sql_label_centroids():
    dvc = _DOT64.format(a="m.embedding", b="ct.centroid")
    dvv = _DOT64.format(a="m.embedding", b="m.embedding")
    dcc = _DOT64.format(a="ct.centroid", b="ct.centroid")
    return f"""
WITH e AS (
  SELECT label, g.i AS pos, CAST(embedding[g.i] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN generate_series(1, 64) g(i)),
cent AS (
  SELECT label, pos, ROUND(SUM(val) / COUNT(*), 6) AS c
  FROM e GROUP BY label, pos),
carr AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label)
SELECT m.label, COUNT(*) AS n_members,
       ROUND(MIN(sqrt({dcc})), 6) AS centroid_norm,
       ROUND(SUM(({dvc}) / (sqrt({dvv}) * sqrt({dcc}))) / COUNT(*), 6)
         AS avg_cos
FROM embeddings m JOIN carr ct ON ct.label = m.label
GROUP BY m.label
"""


def _q_events_json_stats(spark, sf_dir):
    """Semi-structured profiling (operators/events.py:props_field_stats):
    one JVM-side `get_json_object` projection of the JSON ``props``
    payload into a typed column, then a partial-aggregated groupBy on
    event_type.  The sum is exact BIGINT, so the report is bit-stable;
    only the derived avg is rounded."""
    from xpysom_dask_spark.operators import events as EV

    return EV.props_field_stats(
        readers.load_table(spark, sf_dir, "events"))


def _sql_events_json_stats():
    return """
SELECT event_type AS group_key, COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
  CAST(SUM(k) AS BIGINT) AS sum_val,
  MIN(k) AS min_val, MAX(k) AS max_val,
  ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS avg_val
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


#: importance-sampling config shared by query and oracle
_IMP_FRACTION, _IMP_SEED = 0.3, 5


def _q_importance_sample(spark, sf_dir):
    """Quality-weighted curation sampling (sampling.importance_sample):
    keep-probability ∝ n_chars (the stand-in quality weight), mean
    weight from ONE exact-BIGINT aggregate broadcast into a codegen'd
    filter — two scans total, reproducible under any layout."""
    out = sampling.importance_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars",
        _IMP_FRACTION, seed=_IMP_SEED)
    return out.select("doc_id", "n_chars")


def _sql_importance_sample():
    return f"""
WITH s AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS ws, COUNT(*) AS wn
           FROM documents)
SELECT doc_id, n_chars FROM documents, s
WHERE {_duck_unit_hash('doc_id', _IMP_SEED)} <
      least(1.0, ({_IMP_FRACTION!r} * CAST(n_chars AS DOUBLE))
                 / (CAST(ws AS DOUBLE) / wn))
"""


def _q_corpus_shuffle(spark, sf_dir):
    """Deterministic global shuffle (sampling.deterministic_shuffle):
    content-hash order key + RANGE repartition + within-partition sort
    — the write-side shard shuffle, with no single-partition global
    sort.  The oracle-checked view is the first 200 rows of the
    permutation (Spark plans orderBy+limit as distributed TakeOrdered;
    the row_number runs on 200 collected rows only)."""
    sh = sampling.deterministic_shuffle(_docs(spark, sf_dir), "doc_id",
                                        seed=7)
    from pyspark.sql import Window

    head = sh.orderBy("shuffle_key", "doc_id").limit(200)
    w = Window.orderBy("shuffle_key", "doc_id")
    return head.select(
        F.row_number().over(w).cast("bigint").alias("position"), "doc_id")


def _sql_corpus_shuffle():
    return f"""
SELECT position, doc_id FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY u, doc_id) AS position, doc_id
  FROM (SELECT doc_id, {_duck_unit_hash('doc_id', 7)} AS u
        FROM documents))
WHERE position <= 200
"""


def _q_pii_redact(spark, sf_dir):
    """PII detection + redaction (text.redact_pii / pii_counts): the
    synthetic corpus carries no PII, so the query injects one
    deterministic email/IPv4/phone per document (derived from doc_id)
    and the oracle injects the identical spans — the regex engines
    (Java vs RE2) must then agree span-for-span for the md5 of the
    redacted text to match.  Patterns are restricted to the shared
    syntax subset (text.PII_PATTERNS)."""
    injected = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".0.1 call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"), F.lit("-9"))
    d2 = _docs(spark, sf_dir).withColumn("__t", injected)
    return d2.select("doc_id", *T.pii_counts("__t"),
                     F.md5(T.redact_pii("__t")).alias("red_md5"))


def _sql_pii_redact():
    pats = {n: p for n, p, _ in T.PII_PATTERNS}
    inj = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
           "'@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)"
           " || '.0.1 call 555-01' || "
           "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-9'")
    red = "t"
    for _, pat, repl in T.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH b AS (SELECT doc_id, {inj} AS t FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{pats["email"]}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t, '{pats["ipv4"]}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(t, '{pats["phone"]}')) AS BIGINT) AS n_phone,
  md5({red}) AS red_md5
FROM b
"""


def _q_events_rollup(spark, sf_dir):
    """Hierarchical ROLLUP (events.rollup_report): (event_type, hour)
    → (event_type) → grand total with grouping_id levels — one Expand
    + one partial-aggregated shuffle, O(groups) traffic."""
    from xpysom_dask_spark.operators import events as EV

    return EV.rollup_report(readers.load_table(spark, sf_dir, "events"))


def _sql_events_rollup():
    return """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(hour_of_day, -1) AS hour_of_day,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       CAST(GROUPING(event_type, hour_of_day) AS BIGINT) AS level
FROM (SELECT event_type,
             CAST((CAST(epoch_ns(ts) AS BIGINT) // 3600000000000) % 24
                  AS BIGINT) AS hour_of_day,
             value
      FROM events)
GROUP BY ROLLUP (event_type, hour_of_day)
"""


#: columns the table-profile query audits (numeric — min/max cast DOUBLE)
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice")


def _q_table_profile(spark, sf_dir):
    """Column-level ingest audit (operators/profile.py): null counts,
    exact distincts, numeric ranges for the orders table in one
    multi-distinct aggregate (Expand + one exchange); the report rows
    are built from the single aggregate row, never from data."""
    from xpysom_dask_spark.operators import profile as PROF

    return (PROF.profile_columns(
        readers.load_table(spark, sf_dir, "orders"), list(_PROFILE_COLS))
        .withColumnRenamed("column", "col_name"))


def _sql_table_profile():
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
  MIN(CAST({c} AS DOUBLE)) AS min_val, MAX(CAST({c} AS DOUBLE)) AS max_val
FROM orders""")
    return " UNION ALL ".join(parts)


def _q_data_quality(spark, sf_dir):
    """Deequ-style constraint validation (operators/profile.py
    check_constraints): completeness + uniqueness + value bounds in ONE
    wide aggregate over a single orders scan, plus one broadcast
    anti-join count for the orders→customer referential rule.  The
    report is O(rules) rows of aggregate scalars."""
    from xpysom_dask_spark.operators import profile as PROF

    orders = readers.load_table(spark, sf_dir, "orders")
    customer = readers.load_table(spark, sf_dir, "customer")
    return PROF.check_constraints(
        orders,
        complete=["o_custkey", "o_orderdate"],
        unique=["o_orderkey"],
        bounds={"o_totalprice": (0.0, None)},
        refs={"o_custkey": (customer, "c_custkey")})


def _sql_data_quality():
    def row(rule, col, viol):
        return (f"SELECT '{rule}' AS rule, '{col}' AS col, "
                f"CAST(({viol}) AS BIGINT) AS n_violations, "
                f"({viol}) = 0 AS passed FROM orders")

    ref = ("SELECT 'ref' AS rule, 'o_custkey' AS col, "
           "CAST(COUNT(*) AS BIGINT) AS n_violations, "
           "COUNT(*) = 0 AS passed FROM orders "
           "WHERE o_custkey IS NOT NULL AND o_custkey NOT IN "
           "(SELECT c_custkey FROM customer)")
    return " UNION ALL ".join([
        row("complete", "o_custkey",
            "SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)"),
        row("complete", "o_orderdate",
            "SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)"),
        row("unique", "o_orderkey",
            "COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)"),
        row("bounds", "o_totalprice",
            "SUM(CASE WHEN o_totalprice < 0.0 THEN 1 ELSE 0 END)"),
        ref,
    ])


def _q_streaming_sessions(spark, sf_dir):
    """Native Structured-Streaming session windows
    (streaming/sessions.py: F.session_window + watermark) drained with
    availableNow — must equal the batch gap-sessionization answer,
    which the lag/cumsum oracle replays (session breaks at gap ≥ 30
    min; session_end = last event + gap, Spark's window-end
    convention).  ts is truncated to µs with exact integer DIV (the
    double-division shortcut drifts at epoch-nano magnitudes)."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import session_windows

    ev = readers.load_table(spark, sf_dir, "events")
    src = ev.select(
        "user_id",
        F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)")).alias("ts"))
    tmp = _staged_gate_dir(
        "sessstream", sf_dir,
        lambda p: src.write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(src.schema).parquet(tmp)
    out = session_windows(stream, "user_id", "ts", gap="30 minutes")
    name = "q_sess_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return (spark.table(name)
            .select("user_id",
                    F.col("session_start").cast("long").alias("start_s"),
                    F.col("session_end").cast("long").alias("end_s"),
                    "n_events"))


def _sql_streaming_sessions():
    return """
WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) // 1000 AS us
           FROM events),
marks AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                   OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                      >= 1800000000
              THEN 1 ELSE 0 END AS newf
  FROM e),
sess AS (
  SELECT user_id, us,
         SUM(newf) OVER (PARTITION BY user_id ORDER BY us
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks)
SELECT user_id, MIN(us) // 1000000 AS start_s,
       (MAX(us) + 1800000000) // 1000000 AS end_s,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
"""


def _q_text_vocab(spark, sf_dir):
    """Corpus vocabulary/frequency table (text.vocab_counts): explode +
    map-side-combined term aggregate, min_count pruning after the agg —
    the tokenizer-training artifact."""
    return T.vocab_counts(_docs(spark, sf_dir), "text", min_count=2)


def _sql_text_vocab():
    return f"""
SELECT term, COUNT(*) AS n
FROM (SELECT unnest({_duck_tokens('text')}) AS term FROM documents)
GROUP BY term HAVING COUNT(*) >= 2
"""


def _q_text_lm_score(spark, sf_dir):
    """Per-document mean unigram log-probability under the corpus's own
    LM (text.unigram_logprob_score) — the CCNet-perplexity-filter
    stand-in; within-corpus scoring has no OOV so the oracle needs no
    smoothing.  Broadcast vocab join, one groupBy(doc) close."""
    return T.unigram_logprob_score(_docs(spark, sf_dir), "text", "doc_id")


def _sql_text_lm_score():
    return f"""
WITH toks AS (SELECT doc_id AS id, unnest({_duck_tokens('text')}) AS term
              FROM documents),
counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT id, COUNT(*) AS n_tok,
       ROUND(SUM(ln(CAST(n AS DOUBLE) / total)) / COUNT(*), 6) AS avg_logp
FROM toks JOIN counts USING (term), total
GROUP BY id
"""


def _q_source_quota(spark, sf_dir):
    """Per-source quota cap (sampling.cap_per_group): at most 10 docs
    per source, chosen by content-hash order so the kept subset is
    layout-independent — the spam-domain cap."""
    return sampling.cap_per_group(
        _docs(spark, sf_dir), "doc_id", "source", 10
    ).select("doc_id", "source")


def _sql_source_quota():
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY {_duck_unit_hash('doc_id', 0)} ASC, doc_id ASC) AS rn
  FROM documents)
WHERE rn <= 10
"""


#: pivot value list shared by query and oracle (explicit list → no
#: distinct-values job, deterministic schema)
_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def _sql_events_moving_avg():
    return """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id
           ORDER BY CAST(epoch_ns(ts) AS BIGINT) // 1000 ASC,
                    event_id ASC
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS ma
FROM events
"""


def _q_events_pivot(spark, sf_dir):
    """hour-of-day × event_type count matrix (events.pivot_counts):
    groupBy().pivot() with an explicit value list — physically one
    partial-aggregated shuffle, same as conditional aggregation."""
    from xpysom_dask_spark.operators import events as EV

    ev = readers.load_table(spark, sf_dir, "events").withColumn(
        "hour_of_day",
        F.expr("CAST((ts DIV 3600000000000) % 24 AS BIGINT)"))
    return EV.pivot_counts(ev, "hour_of_day", "event_type",
                           list(_PIVOT_TYPES))


def _sql_events_pivot():
    cases = ",\n  ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_{t}" for t in _PIVOT_TYPES)
    return f"""
SELECT hour_of_day,
  {cases}
FROM (SELECT CAST((CAST(epoch_ns(ts) AS BIGINT) // 3600000000000) % 24
         AS BIGINT) AS hour_of_day, event_type FROM events)
GROUP BY hour_of_day
"""


def _q_streaming_interval_join(spark, sf_dir):
    """Watermarked stream-stream join (streaming/joins.py): purchases
    within one hour of a click by the same user, both sides real file
    streams drained with availableNow.  The event-time range condition
    is what bounds the join state (a buffered row evicts once the
    other side's watermark passes its window) — the operator makes the
    bound mandatory."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import interval_join_stream

    ev = readers.load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)")).alias("ts"))
    def _stage_ssjoin(p):
        (base.where("event_type = 'click'")
         .select("event_id", "user_id", "ts")
         .write.mode("overwrite").parquet(p + "/clicks"))
        (base.where("event_type = 'purchase'")
         .select("event_id", "user_id", "ts")
         .write.mode("overwrite").parquet(p + "/purchases"))

    tmp = _staged_gate_dir("ssjoin", sf_dir, _stage_ssjoin)
    schema = "event_id long, user_id long, ts timestamp"
    sc = spark.readStream.schema(schema).parquet(tmp + "/clicks")
    sp = spark.readStream.schema(schema).parquet(tmp + "/purchases")
    out = interval_join_stream(sc, sp, "user_id", "ts", "ts",
                               upper="1 hour")
    name = "q_ssjoin_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True))
    return spark.table(name).select(
        "user_id", F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"))


def _sql_streaming_interval_join():
    return """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p ON p.user_id = c.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
  AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
"""


def _q_streaming_qe_drift(spark, sf_dir):
    """Windowed model-drift monitor (streaming.windowed_qe_drift):
    per-hour mean quantization error of the stream under the broadcast
    codebook, drained with availableNow, in deterministic mode
    (micro_decimals=6: per-row integer micro-quantization → exact
    BIGINT sums → bit-identical derived mean; a float mean rounded at
    the end can land on opposite sides of a ROUND boundary per
    engine — observed 4/720 hours at sf0.01).  The oracle replays the
    qe kernel's EXACT arithmetic — the GEMM expansion
    (w² − 2·(x·w)) + x², not (x−w)², in that operation order — so BMU
    selection and the residual agree bitwise."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import windowed_qe_drift

    ev = readers.load_table(spark, sf_dir, "events")
    src = ev.select(
        F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)")).alias("ts"),
        F.array((F.col("value") / F.lit(100.0)).cast("double"))
        .alias("features"))
    tmp = _staged_gate_dir(
        "qedrift", sf_dir,
        lambda p: src.write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(src.schema).parquet(tmp)
    out = windowed_qe_drift(_stream_som(), stream, "ts", window="1 hour",
                            watermark="0 seconds", micro_decimals=6)
    name = "q_qedrift_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return (spark.table(name)
            .select(F.col("window_start").cast("long").alias("hour_ts"),
                    F.col("mean_qe"),
                    F.col("n_rows").cast("bigint").alias("n_rows")))


def _sql_streaming_qe_drift():
    W = _stream_som().get_weights()
    rows = ",\n  ".join(f"({i}, {j}, CAST('{W[i, j, 0]!r}' AS DOUBLE))"
                       for i in range(4) for j in range(4))
    dsq = "((w.w1 * w.w1 - 2.0 * (f.f1 * w.w1)) + f.f1 * f.f1)"
    return f"""
WITH feats AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         value / CAST(100 AS DOUBLE) AS f1
  FROM events),
w(i, j, w1) AS (VALUES
  {rows}),
qe AS (
  SELECT f.hour_ts,
         (SELECT CASE WHEN {dsq} < 0 THEN 0.0 ELSE sqrt({dsq}) END
          FROM w
          ORDER BY {dsq}, w.i * 4 + w.j
          LIMIT 1) AS qe
  FROM feats f)
SELECT hour_ts,
       CAST(SUM(CAST(floor(qe * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 1000000.0 AS mean_qe,
       COUNT(*) AS n_rows
FROM qe GROUP BY hour_ts
"""


def _q_text_token_ids(spark, sf_dir):
    """Tokenize-to-ids (text.encode_token_ids): each document as its
    frequency-rank token-id sequence — the encode step between
    curation and sequence packing; the only single-partition sort is
    the ranking window over the post-aggregate vocabulary (distinct
    terms, never corpus rows).  The id array is serialized to a
    space-joined string for the gate: the driver's pandas
    canonicalizer cannot sort/factorize list columns (r4 TypeError),
    and a scalar projection hashes identically on both engines."""
    out = T.encode_token_ids(_docs(spark, sf_dir), "text", "doc_id") \
        .withColumnRenamed("id", "doc_id")
    return out.select(
        "doc_id",
        F.array_join(F.transform("ids", lambda x: x.cast("string")),
                     " ").alias("ids"))


def _sql_text_token_ids():
    return f"""
WITH base AS (SELECT doc_id, {_duck_tokens('text')} AS toks
              FROM documents),
toks AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                unnest(toks) AS term
         FROM base),
vocab AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
ranked AS (SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC)
               AS token_id FROM vocab)
SELECT doc_id,
       string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY pos) AS ids
FROM toks JOIN ranked USING (term)
GROUP BY doc_id
"""


def _q_dedup_spans(spark, sf_dir):
    """C4-style span-level exact dedup (dedup.dedup_spans): 20-token
    spans deleted wherever they repeat later in (id, span) order,
    documents re-assembled from survivors — the boilerplate-removal
    pass.  Shuffles on the span MD5 and the doc id only."""
    return dedup.dedup_spans(_docs(spark, sf_dir), "text", "doc_id",
                             span_tokens=20)


def _sql_dedup_spans():
    return """
WITH toks AS (
  SELECT id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM (SELECT doc_id AS id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents)),
spans AS (
  SELECT id, pos // 20 AS span_idx,
         string_agg(tok, ' ' ORDER BY pos) AS span
  FROM toks GROUP BY id, pos // 20),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(span)
      ORDER BY id, span_idx) AS rk
  FROM spans)
SELECT id, COALESCE(string_agg(CASE WHEN rk = 1 THEN span END, ' '
           ORDER BY span_idx), '') AS text_clean,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM ranked GROUP BY id
"""




#: the synthetic sources are perfectly balanced (flat rates = no-op) —
#: derive a 70/20/10 skewed stratum so the gate exercises real rebalance
_TMIX_STRATUM = ("CASE WHEN doc_id % 10 < 7 THEN 'head' "
                 "WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'tail' END")


def _q_temperature_mix(spark, sf_dir):
    """Temperature-based source rebalancing (sampling.temperature_mix,
    the XLM-R/mT5 nˢ^α rule): per-stratum keep rates computed FROM the
    per-stratum counts (one tiny aggregate), folded into a codegen'd
    when-chain filter — zero joins, zero data-pass shuffles."""
    d = _docs(spark, sf_dir).withColumn("stratum", F.expr(_TMIX_STRATUM))
    out = sampling.temperature_mix(d, "doc_id", "stratum",
                                   alpha=0.5, seed=3)
    return out.select("doc_id", "stratum",
                      F.round("keep_rate", 6).alias("keep_rate"))


def _sql_temperature_mix():
    return f"""
WITH d AS (SELECT doc_id, {_TMIX_STRATUM} AS stratum FROM documents),
c AS (SELECT stratum, CAST(COUNT(*) AS DOUBLE) AS n
      FROM d GROUP BY stratum),
r AS (SELECT stratum,
             pow(n, -0.5) / (SELECT MAX(pow(n, -0.5)) FROM c) AS rate
      FROM c)
SELECT d.doc_id, d.stratum, ROUND(r.rate, 6) AS keep_rate
FROM d JOIN r USING (stratum)
WHERE {_duck_unit_hash('d.doc_id', 3)} < r.rate
"""


def _q_text_chunks(spark, sf_dir):
    """Sliding token-window chunking (text.chunk_tokens): 64-token
    windows at stride 48 — pure narrow expressions, the fan-out is one
    explicit explode of ceil(n/stride) starts per document."""
    return T.chunk_tokens(_docs(spark, sf_dir), "text", "doc_id",
                          window=64, stride=48)


def _sql_text_chunks():
    # case-preserving split — chunk re-assembly must not normalize case
    toks = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    return f"""
WITH t AS (SELECT doc_id AS id, {toks} AS toks FROM documents),
s AS (SELECT id, toks, unnest(range(0, len(toks), 48)) AS start
      FROM t WHERE len(toks) > 0)
SELECT id, CAST(start // 48 AS BIGINT) AS chunk_idx,
       array_to_string(toks[start + 1 : start + 64], ' ') AS chunk_text,
       CAST(len(toks[start + 1 : start + 64]) AS BIGINT) AS n_tokens
FROM s
"""


def _q_text_collocations(spark, sf_dir):
    """PMI-scored bigram collocations (text.collocations): narrow
    zip_with bigram build, two map-side-combined count aggregates,
    broadcast unigram joins, top-25 on the post-aggregate table."""
    return T.collocations(_docs(spark, sf_dir), "text",
                          min_count=5, top_k=25)


def _sql_text_collocations():
    t = _duck_tokens("text")
    return f"""
WITH toks AS (SELECT doc_id, {t} AS t FROM documents),
bg AS (SELECT t[i] AS term_a, t[i + 1] AS term_b
       FROM toks, unnest(range(1, len(t))) AS u(i)),
pairs AS (SELECT term_a, term_b, COUNT(*) AS n_pair
          FROM bg GROUP BY term_a, term_b),
unis AS (SELECT unnest(t) AS term FROM toks),
uc AS (SELECT term, COUNT(*) AS n_term FROM unis GROUP BY term),
tot AS (SELECT (SELECT CAST(SUM(n_pair) AS DOUBLE) FROM pairs) AS tp,
               (SELECT CAST(SUM(n_term) AS DOUBLE) FROM uc) AS tu)
SELECT term_a, term_b, n_pair,
       ROUND(ln((n_pair / tp) /
                ((a.n_term / tu) * (b.n_term / tu))), 6) AS pmi
FROM pairs
JOIN uc a ON a.term = pairs.term_a
JOIN uc b ON b.term = pairs.term_b, tot
WHERE n_pair >= 5
ORDER BY pmi DESC, term_a, term_b
LIMIT 25
"""


#: the synthetic documents ship as one long unpunctuated line — derive
#: a multi-line corpus with engine-identical literal replaces: ' batch '
#: ends a sentence, ' slow ' plants a brace, ' dup ' plants 'javascript'
_C4_DERIVE = ("replace(replace(replace(text, ' batch ', '.\n'), "
              "' slow ', ' {{ '), ' dup ', ' javascript ')")


def _q_text_c4_lines(spark, sf_dir):
    """C4-style line-level cleaning (text.c4_line_filter): pure narrow
    whole-stage-codegen line filter — terminal punctuation, min words,
    brace/lorem/javascript boilerplate tells — re-joined per doc."""
    d = _docs(spark, sf_dir).withColumn(
        "text", F.expr(_C4_DERIVE.format()))
    return T.c4_line_filter(d, "text", "doc_id")


def _sql_text_c4_lines():
    words = "list_filter(string_split_regex(trim(x), '\\s+'), w -> w <> '')"
    keep = (f"x -> regexp_matches(trim(x), '[.!?\"]$') "
            f"AND len({words}) >= 3 "
            "AND NOT contains(x, '{') "
            "AND NOT contains(lower(x), 'lorem ipsum') "
            "AND NOT contains(lower(x), 'javascript')")
    derived = _C4_DERIVE.format()
    return f"""
WITH l AS (SELECT doc_id AS id, string_split({derived}, chr(10)) AS lines
           FROM documents),
k AS (SELECT id, lines, list_filter(lines, {keep}) AS kept FROM l)
SELECT id, COALESCE(array_to_string(kept, chr(10)), '') AS text_clean,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept
FROM k
"""


#: semantic-dedup cosine threshold — the synthetic embeddings' pairwise
#: cosine tops out ≈ 0.51, so 0.4 exercises real in-cell drops
_SEMDEDUP_TAU = 0.4


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (similarity.semantic_dedup): SOM
    codebook clusters the corpus, per-cell blocked-GEMM cosine sweep
    drops later-id near-dups — candidate pairs never cross cells, so
    the quadratic is bounded per cell.  Same deterministic local
    codebook as the IVF tier, so the oracle can replay the cell
    assignment from embedded literals."""
    e = _emb(spark, sf_dir)
    pdf = e.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    X = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    som = _ivf_local_som(X)
    return similarity.semantic_dedup(som, e, threshold=_SEMDEDUP_TAU)


def _sql_semantic_dedup(sf_dir: str = _ORACLE_SF_DIR):
    dot = _DOT64.format(a="c.embedding", b="o.embedding")
    cc = _DOT64.format(a="c.embedding", b="c.embedding")
    oo = _DOT64.format(a="o.embedding", b="o.embedding")
    w_cols = "cell, " + ", ".join(f"w{k + 1}" for k in range(64))
    return f"""
WITH iwm({w_cols}) AS (
  VALUES
      {_ivf_oracle_weights_values(sf_dir)}
),
cells AS (
  SELECT e.vec_id, e.embedding,
         (SELECT iw.cell FROM iwm iw
          ORDER BY {_dsq64('e.embedding')}, iw.cell LIMIT 1) AS cell
  FROM embeddings e
),
dropped AS (
  SELECT DISTINCT c.vec_id
  FROM cells c JOIN cells o
    ON o.cell = c.cell AND o.vec_id < c.vec_id
  WHERE ({dot}) / (sqrt({cc}) * sqrt({oo})) >= {_SEMDEDUP_TAU}
)
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cluster_id
FROM cells c
LEFT JOIN dropped d ON d.vec_id = c.vec_id
WHERE d.vec_id IS NULL
"""




#: funnel step sequence over the synthetic events stream
_FUNNEL_STEPS = ("view", "click", "purchase")


def _q_events_funnel(spark, sf_dir):
    """Ordered conversion funnel (events.funnel): per-user earliest
    qualifying event per step, each step joined to the shrinking
    accumulated state on the SAME user key (one exchange layout reused
    across all steps)."""
    from xpysom_dask_spark.operators import events as EV

    return EV.funnel(readers.load_table(spark, sf_dir, "events"),
                     list(_FUNNEL_STEPS))


def _sql_events_funnel():
    s = _FUNNEL_STEPS
    return f"""
WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = '{s[0]}' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN s1 USING (user_id)
       WHERE e.event_type = '{s[1]}' AND e.ts >= s1.t
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN s2 USING (user_id)
       WHERE e.event_type = '{s[2]}' AND e.ts >= s2.t
       GROUP BY e.user_id)
SELECT 1 AS step, '{s[0]}' AS step_name,
       (SELECT COUNT(*) FROM s1) AS n_users
UNION ALL SELECT 2, '{s[1]}', (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 3, '{s[2]}', (SELECT COUNT(*) FROM s3)
"""


#: one day of epoch nanoseconds — the retention cohort bucket
_DAY_NS = 86_400_000_000_000


def _q_events_retention(spark, sf_dir):
    """Day-cohort retention curve (events.retention): first-seen
    aggregate -> same-key join-back -> combinable distinct -> count;
    post-first-aggregate traffic is O(users x active-days)."""
    from xpysom_dask_spark.operators import events as EV

    return EV.retention(readers.load_table(spark, sf_dir, "events"),
                        bucket_ns=_DAY_NS)


def _sql_events_retention():
    return f"""
WITH d AS (SELECT user_id,
                  CAST(epoch_ns(ts) AS BIGINT) // {_DAY_NS} AS day
           FROM events),
f AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
SELECT cohort, day - cohort AS "offset",
       COUNT(DISTINCT d.user_id) AS n_users
FROM d JOIN f USING (user_id)
GROUP BY cohort, day - cohort
"""


def _q_orders_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of order totals
    (profile.numeric_histogram): eager scalar min/max folded into a
    codegen'd bin expression, one O(bins) aggregate."""
    from xpysom_dask_spark.operators import profile as PROF

    out = PROF.numeric_histogram(
        readers.load_table(spark, sf_dir, "orders"), "o_totalprice",
        bins=20)
    return out.select("bin", F.round("bin_lo", 6).alias("bin_lo"),
                      F.round("bin_hi", 6).alias("bin_hi"), "n")


def _sql_orders_histogram():
    x = "CAST(o_totalprice AS DOUBLE)"
    return f"""
WITH mm AS (SELECT MIN({x}) AS lo, MAX({x}) AS hi FROM orders),
w AS (SELECT lo, hi, (hi - lo) / 20 AS wd FROM mm),
b AS (SELECT LEAST(19, CAST(FLOOR(({x} - lo) / wd) AS BIGINT)) AS bin
      FROM orders, w)
SELECT bin, ROUND(lo + bin * wd, 6) AS bin_lo,
       ROUND(lo + (bin + 1) * wd, 6) AS bin_hi,
       COUNT(*) AS n
FROM b, w GROUP BY bin, lo, wd
"""


#: integer-valued columns for the exact-BIGINT correlation gate
#: (whole-dollar totals keep sum-of-squares inside float53/int64)
_CORR_COLS = ("o_orderkey", "o_custkey", "o_dollars")


def _q_orders_corr(spark, sf_dir):
    """One-scan Pearson correlation matrix (profile.correlation_matrix)
    over integer columns — every moment sum is exact BIGINT, so the
    report is bit-stable across engines and partitionings."""
    from xpysom_dask_spark.operators import profile as PROF

    d = readers.load_table(spark, sf_dir, "orders").withColumn(
        "o_dollars", F.expr("CAST(ROUND(o_totalprice, 0) AS BIGINT)"))
    return PROF.correlation_matrix(d, list(_CORR_COLS))


def _sql_orders_corr():
    pairs = []
    cols = _CORR_COLS
    expr = {"o_dollars": "CAST(ROUND(o_totalprice, 0) AS BIGINT)",
            "o_custkey": "o_custkey", "o_orderkey": "o_orderkey"}
    moments = []
    for c in cols:
        moments += [f"SUM({expr[c]}) AS s_{c}",
                    f"SUM({expr[c]} * {expr[c]}) AS ss_{c}"]
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            moments.append(f"SUM({expr[a]} * {expr[b]}) AS x_{a}_{b}")
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            num = f"CAST(n * x_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
            da = f"CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE)"
            db = f"CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE)"
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"CASE WHEN {da} > 0 AND {db} > 0 THEN "
                f"ROUND({num} / sqrt({da} * {db}), 6) END AS corr FROM m")
    sel = "\nUNION ALL ".join(pairs)
    return f"""
WITH m AS (SELECT COUNT(*) AS n, {", ".join(moments)} FROM orders)
{sel}
"""




def _q_corpus_diff(spark, sf_dir):
    """Dataset-version diff (profile.corpus_diff_summary): snapshot B
    derived deterministically from the documents table (drop doc_id%7,
    rewrite text for doc_id%5, add doc_id%11 under shifted ids) — one
    full-outer hash join on the id moving two fingerprints per row,
    then the O(4)-row status aggregate."""
    from xpysom_dask_spark.operators import profile as PROF

    d = _docs(spark, sf_dir).select(
        "doc_id", T.md5_fingerprint("text").alias("fp"))
    mod = (_docs(spark, sf_dir)
           .withColumn("__t2", F.expr("concat(text, ' v2')"))
           .select("doc_id", T.md5_fingerprint("__t2").alias("fp")))
    b = (mod.where("doc_id % 7 != 0 AND doc_id % 5 = 0")
         .unionByName(d.where("doc_id % 7 != 0 AND doc_id % 5 != 0"))
         .unionByName(d.where("doc_id % 11 = 0")
                      .select((F.col("doc_id") + 1000000).alias("doc_id"),
                              "fp")))
    return PROF.corpus_diff_summary(d, b, "doc_id", "fp")


def _sql_corpus_diff():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    t2 = "trim(regexp_replace(lower(concat(text, ' v2')), '\\s+', ' ', 'g'))"
    return f"""
WITH a AS (SELECT doc_id AS id, md5({t}) AS fa FROM documents),
b AS (
  SELECT doc_id AS id, md5({t2}) AS fb FROM documents
  WHERE doc_id % 7 != 0 AND doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, md5({t}) FROM documents
  WHERE doc_id % 7 != 0 AND doc_id % 5 != 0
  UNION ALL
  SELECT doc_id + 1000000, md5({t}) FROM documents WHERE doc_id % 11 = 0
)
SELECT CASE WHEN fa IS NULL THEN 'added'
            WHEN fb IS NULL THEN 'removed'
            WHEN fa = fb THEN 'same' ELSE 'changed' END AS status,
       COUNT(*) AS n
FROM a FULL OUTER JOIN b USING (id)
GROUP BY 1
"""




#: TPC-H Q1 pricing summary, shared verbatim by both engines: all money
#: sums run in exact scaled-BIGINT (cents / 1e-4 / 1e-6 units) so the
#: report is accumulation-order-independent — the one adaptation that
#: makes a float-sum query hash-gateable across engines and partition
#: counts.  Date cutoff inside the synthetic range.
_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
             / CAST(100 AS DOUBLE), 2) AS sum_base_price,
       ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000,
                            0) AS BIGINT)) / CAST(10000 AS DOUBLE), 2)
           AS sum_disc_price,
       ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                            * (1 + l_tax) * 1000000, 0) AS BIGINT))
             / CAST(1000000 AS DOUBLE), 2) AS sum_charge,
       ROUND(SUM(CAST(l_quantity AS BIGINT))
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_qty,
       ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
             / CAST(100 AS DOUBLE) / COUNT(*), 6) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= CAST('2000-09-02' AS TIMESTAMP)
GROUP BY l_returnflag, l_linestatus
"""


def _q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary over lineitem — the canonical OLAP
    aggregate (filter → map-side-combined groupBy on a 6-value key),
    shared VERBATIM with the oracle as ANSI SQL; money sums in exact
    scaled BIGINT so the result is partitioning-independent."""
    readers.load_table(spark, sf_dir, "lineitem") \
        .createOrReplaceTempView("lineitem")
    return spark.sql(_TPCH_Q1_SQL)


def _sql_tpch_q1():
    return _TPCH_Q1_SQL




#: TPC-H Q6 forecast-revenue filter — the predicate-pushdown showcase
#: (every filter reaches the parquet scan); one exact scaled-BIGINT sum
_TPCH_Q6_SQL = """
SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000, 0)
                      AS BIGINT)) / CAST(10000 AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
  AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""

#: TPC-H Q3 shipping-priority top-10 (adapted: no o_shippriority column
#: in the synthetic schema) — selective dimension filters then a 3-way
#: join that AQE turns into broadcast joins at gate scale; deterministic
#: ordering via the (revenue, date, key) tie-break
_TPCH_Q3_SQL = """
SELECT l_orderkey,
       ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000,
                            0) AS BIGINT)) / CAST(10000 AS DOUBLE), 2)
           AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)
  AND l_shipdate > CAST('1998-01-01' AS TIMESTAMP)
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def _q_tpch_q6(spark, sf_dir):
    """TPC-H Q6: all four predicates reach the parquet scan
    (PushedFilters), one partial-combined scalar sum — the minimal
    query whose whole cost is the pruned scan."""
    readers.load_table(spark, sf_dir, "lineitem") \
        .createOrReplaceTempView("lineitem")
    return spark.sql(_TPCH_Q6_SQL)


def _sql_tpch_q6():
    return _TPCH_Q6_SQL


def _q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (adapted): dimension-filtered 3-way join → grouped
    revenue → deterministic top-10.  Exact scaled-BIGINT money sums
    keep the hash gate partitioning-independent."""
    for t in ("customer", "orders", "lineitem"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q3_SQL)


def _sql_tpch_q3():
    return _TPCH_Q3_SQL




#: TPC-H Q5 local-supplier revenue by nation (6-way join; the dimension
#: chain broadcasts at every scale, the fact join shuffles once)
_TPCH_Q5_SQL = """
SELECT n_name,
       ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000,
                            0) AS BIGINT)) / CAST(10000 AS DOUBLE), 2)
           AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
  AND o_orderdate < CAST('1999-01-01' AS TIMESTAMP)
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

#: TPC-H Q14 promo-revenue share (fact-dimension join + one conditional
#: aggregate; 'PROMO' is an exact type in the synthetic part table)
_TPCH_Q14_SQL = """
SELECT ROUND(CAST(100 AS DOUBLE)
             * SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(ROUND(l_extendedprice * (1 - l_discount)
                                        * 10000, 0) AS BIGINT)
                        ELSE 0 END)
             / SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000,
                              0) AS BIGINT)), 6) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
  AND l_shipdate < CAST('1997-07-01' AS TIMESTAMP)
"""


def _q_tpch_q5(spark, sf_dir):
    """TPC-H Q5: the 6-way star join — AQE broadcasts the filtered
    dimension chain, the lineitem-orders equi-join is the only real
    shuffle; exact scaled-BIGINT revenue."""
    for t in ("customer", "orders", "lineitem", "supplier",
              "nation", "region"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q5_SQL)


def _sql_tpch_q5():
    return _TPCH_Q5_SQL


def _q_tpch_q14(spark, sf_dir):
    """TPC-H Q14: date-pruned fact scan joined to the part dimension
    (broadcast at any scale: parts ≪ lineitems) + one conditional
    aggregate; the ratio of two exact BIGINT sums."""
    for t in ("lineitem", "part"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q14_SQL)


def _sql_tpch_q14():
    return _TPCH_Q14_SQL




def _q_text_lm_bigram(spark, sf_dir):
    """Interpolated bigram LM quality score (text.bigram_logprob_score):
    narrow zip_with bigram build, O(distinct) count aggregates, one
    pair-keyed hash join + broadcast unigram joins, one groupBy(doc)
    close — word-ORDER-aware quality, one rung up from the unigram
    gate."""
    return T.bigram_logprob_score(_docs(spark, sf_dir), "text",
                                  "doc_id", lam=0.7)


def _sql_text_lm_bigram():
    t = _duck_tokens("text")
    return f"""
WITH toks AS (SELECT doc_id AS id, {t} AS tk FROM documents),
bg AS (SELECT id, i AS pos, tk[i] AS a, tk[i + 1] AS b
       FROM toks, unnest(range(1, len(tk))) AS u(i)),
pc AS (SELECT a, b, COUNT(*) AS n_ab FROM bg GROUP BY a, b),
uc AS (SELECT unnest(tk) AS term FROM toks),
un AS (SELECT term, COUNT(*) AS n_t FROM uc GROUP BY term),
tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS total FROM un)
SELECT id, COUNT(*) AS n_bigrams,
       ROUND(SUM(ln(0.7 * (CAST(n_ab AS DOUBLE) / ca.n_t)
                    + (1 - 0.7) * (CAST(cb.n_t AS DOUBLE) / total)))
             / COUNT(*), 6) AS avg_logp
FROM bg
JOIN pc USING (a, b)
JOIN un ca ON ca.term = bg.a
JOIN un cb ON cb.term = bg.b, tot
GROUP BY id
"""




def _q_session_paths(spark, sf_dir):
    """Top within-session event-type sequences (events.session_paths):
    one user-keyed shuffle serves the session window and the path
    assembly; count + top-20 on O(distinct paths)."""
    from xpysom_dask_spark.operators import events as EV

    return EV.session_paths(readers.load_table(spark, sf_dir, "events"),
                            gap_s=1800, top_k=20)


def _sql_session_paths():
    return """
WITH e AS (SELECT user_id, event_id, event_type,
                  CAST(epoch_ns(ts) AS BIGINT) AS tns FROM events),
tagged AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                              ORDER BY tns, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM (SELECT *, CASE WHEN LAG(tns) OVER (PARTITION BY user_id
                                           ORDER BY tns, event_id)
                            IS NULL
                       OR tns - LAG(tns) OVER (PARTITION BY user_id
                                               ORDER BY tns, event_id)
                          > 1800000000000 THEN 1 ELSE 0 END AS is_new
        FROM e)),
paths AS (SELECT user_id, sid,
                 string_agg(event_type, '>' ORDER BY tns, event_id)
                     AS path
          FROM tagged GROUP BY user_id, sid)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""




#: substring-dedup window length for the gate (synthetic docs repeat
#: 20-token runs — the dedup_spans pressure — so stride-1 windows hit)
_SUBSTR_L = 20


def _q_dedup_substrings(spark, sf_dir):
    """ExactSubstr-style substring dedup (dedup.dedup_substrings):
    stride-1 hashed windows, global first-occurrence rank, token-level
    removal marks, anti-join re-assembly — the suffix-array dedup
    guarantee re-expressed as four relational stages."""
    return dedup.dedup_substrings(_docs(spark, sf_dir), "text",
                                  "doc_id", min_tokens=_SUBSTR_L)


def _sql_dedup_substrings():
    L = _SUBSTR_L
    toks = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    return f"""
WITH t AS (SELECT doc_id AS id, {toks} AS toks FROM documents),
w AS (SELECT id, p, md5(array_to_string(toks[p + 1 : p + {L}], ' ')) AS h
      FROM t, unnest(range(0, len(toks) - {L} + 1)) AS u(p)),
rk AS (SELECT id, p, ROW_NUMBER() OVER (PARTITION BY h
                                        ORDER BY id, p) AS rn FROM w),
rm AS (SELECT DISTINCT id, p + i AS pos
       FROM rk, unnest(range(0, {L})) AS v(i) WHERE rn > 1),
tok AS (SELECT id, i - 1 AS pos, toks[i] AS tok
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
kept AS (SELECT tok.id, tok.pos, tok.tok
         FROM tok LEFT JOIN rm ON rm.id = tok.id AND rm.pos = tok.pos
         WHERE rm.id IS NULL),
agg AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean,
               COUNT(*) AS nk
        FROM kept GROUP BY id)
SELECT t.id, COALESCE(agg.clean, '') AS text_clean,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(agg.nk, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN agg ON agg.id = t.id
"""




#: TPC-H Q10 returned-item reporting (adapted: 3-month window widened to
#: the synthetic date density) — fact join + broadcast dims + top-20
_TPCH_Q10_SQL = """
SELECT c_custkey, c_name,
       ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000,
                            0) AS BIGINT)) / CAST(10000 AS DOUBLE), 2)
           AS revenue,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= CAST('1997-01-01' AS TIMESTAMP)
  AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

#: TPC-H Q18 large-volume orders (HAVING subquery; threshold tuned to
#: the synthetic quantity distribution)
_TPCH_Q18_SQL = """
SELECT c_custkey, o_orderkey,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 180)
GROUP BY c_custkey, o_orderkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


def _q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (adapted window): returned-item revenue per customer —
    one fact shuffle, broadcast dims, deterministic top-20."""
    for t in ("customer", "orders", "lineitem", "nation"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q10_SQL)


def _sql_tpch_q10():
    return _TPCH_Q10_SQL


def _q_tpch_q18(spark, sf_dir):
    """TPC-H Q18: large-volume orders via a HAVING semi-join subquery
    (Catalyst plans IN as a shuffled semi-join on the order key,
    reusing the fact partitioning); exact BIGINT quantity sums."""
    for t in ("customer", "orders", "lineitem"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q18_SQL)


def _sql_tpch_q18():
    return _TPCH_Q18_SQL




def _q_events_quantiles(spark, sf_dir):
    """Per-event-type value quantile report (profile.group_quantiles):
    one map-side-combined groupBy; the exact percentile is the oracle
    configuration, percentile_approx the documented scale path."""
    from xpysom_dask_spark.operators import profile as PROF

    return PROF.group_quantiles(
        readers.load_table(spark, sf_dir, "events"),
        "event_type", "value", qs=(0.5, 0.9, 0.99))


def _sql_events_quantiles():
    return """
SELECT event_type AS "group", COUNT(*) AS n,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS q_50,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.9), 4) AS q_90,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.99), 4) AS q_99
FROM events
GROUP BY event_type
"""




def _q_doc_length_buckets(spark, sf_dir):
    """Quantile-bucket curriculum assignment (sampling.quantile_buckets)
    over document lengths: cutpoints from one aggregate, codegen'd
    when-chain assignment — the scale-safe ntile (no single-partition
    global sort)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    return sampling.quantile_buckets(d, "n_chars", n_buckets=5)


def _sql_doc_length_buckets():
    qs = [i / 5 for i in range(1, 5)]
    cuts = ", ".join(
        f"quantile_cont(CAST(n_chars AS DOUBLE), {q}) AS c{i}"
        for i, q in enumerate(qs))
    whens = " ".join(
        f"WHEN CAST(n_chars AS DOUBLE) <= c{i} THEN {i}"
        for i in range(len(qs)))
    return f"""
WITH cuts AS (SELECT {cuts} FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(CASE {whens} ELSE {len(qs)} END AS BIGINT) AS bucket
FROM documents, cuts
"""




def _q_ab_report(spark, sf_dir):
    """Deterministic A/B readout (events.ab_report): hash-assigned
    variants, one 2-group aggregate, Welch t computed from the exact
    moment sums — auditable experimentation over the events stream."""
    from xpysom_dask_spark.operators import events as EV

    return EV.ab_report(readers.load_table(spark, sf_dir, "events"),
                        seed=9)


def _sql_ab_report():
    u = _duck_unit_hash("user_id", 9)
    return f"""
WITH v AS (SELECT CASE WHEN {u} < 0.5 THEN 'A' ELSE 'B' END AS variant,
                  CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
                      AS c, user_id
           FROM events),
a AS (SELECT variant, COUNT(*) AS n,
             COUNT(DISTINCT user_id) AS n_users,
             SUM(c) / CAST(100 AS DOUBLE) AS s,
             SUM(c * c) / CAST(10000 AS DOUBLE) AS ss
      FROM v GROUP BY variant),
st AS (SELECT variant, n, n_users, s / n AS mean,
              (ss - s * s / n) / (n - 1) AS var
       FROM a),
tt AS (SELECT (x.mean - y.mean)
              / sqrt(x.var / x.n + y.var / y.n) AS t
       FROM st x, st y WHERE x.variant = 'A' AND y.variant = 'B')
SELECT variant, n, n_users, ROUND(mean, 6) AS mean_value,
       ROUND((SELECT t FROM tt), 4) AS t_stat
FROM st
"""




#: TPC-H Q7 volume shipping between two nations (dual-role nation dim:
#: supplier nation x customer nation, grouped by ship year)
_TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000,
                            0) AS BIGINT)) / CAST(10000 AS DOUBLE), 2)
           AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice, l_discount
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
    AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP)
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def _q_tpch_q7(spark, sf_dir):
    """TPC-H Q7: the dual-role dimension pattern — nation joins twice
    under different aliases (both broadcast); exact scaled-BIGINT
    revenue grouped by ship year."""
    for t in ("supplier", "lineitem", "orders", "customer", "nation"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q7_SQL)


def _sql_tpch_q7():
    return _TPCH_Q7_SQL




#: TPC-H Q8 national market share (adapted: exact p_type match, ASIA
#: region, share of NATION_3-supplied revenue per order year)
_TPCH_Q8_SQL = """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
              AS BIGINT) / CAST(10000 AS DOUBLE) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
    AND o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
    AND o_orderdate < CAST('1998-01-01' AS TIMESTAMP)
) all_nations
GROUP BY o_year
ORDER BY o_year
"""

#: TPC-H Q13 customer order-count distribution (left outer join so
#: zero-order customers count, then a distribution over the counts)
_TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def _q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (adapted): 8-way star with the nation dim playing two
    roles; the share ratio divides two scaled-BIGINT-derived sums of
    identical magnitude, so ROUND(…, 6) is engine-stable."""
    for t in ("part", "lineitem", "supplier", "orders", "customer",
              "nation", "region"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q8_SQL)


def _sql_tpch_q8():
    return _TPCH_Q8_SQL


def _q_tpch_q13(spark, sf_dir):
    """TPC-H Q13: LEFT OUTER fact join (zero-order customers count) +
    two stacked aggregates — the distribution-of-counts shape."""
    for t in ("customer", "orders"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q13_SQL)


def _sql_tpch_q13():
    return _TPCH_Q13_SQL


#: TPC-H Q4 order-priority checking (adapted: the synthetic lineitem has
#: no commit/receipt dates, so "late" = shipped >60 days after the order
#: date) — the correlated-EXISTS semi-join shape; both engines plan it
#: as a left-semi hash join on o_orderkey
_TPCH_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
  AND o_orderdate < CAST('1996-07-01' AS TIMESTAMP)
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

#: TPC-H Q12 shipmode/priority (adapted: l_returnflag stands in for the
#: absent l_shipmode) — the OR-of-ANDs pushdown shape plus the
#: high/low-priority conditional aggregation
_TPCH_Q12_SQL = """
SELECT l_returnflag AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE ((l_returnflag = 'R' AND l_quantity <= 20)
    OR (l_returnflag = 'A' AND l_quantity >= 35))
  AND l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
  AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

#: TPC-H Q15 top supplier — the view-max shape: a revenue CTE consumed
#: twice (once for the scalar max, once for the join back); keeping the
#: comparison in exact scaled BIGINT makes the "max" tie-exact across
#: engines and partitionings
_TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
                  AS BIGINT)) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
    AND l_shipdate < CAST('1996-04-01' AS TIMESTAMP)
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       ROUND(total_rev_e4 / CAST(10000 AS DOUBLE), 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev_e4 = (SELECT MAX(total_rev_e4) FROM revenue)
ORDER BY s_suppkey
"""

#: TPC-H Q19 discounted revenue (adapted: brand/size/quantity bands; the
#: synthetic part table has no container and lineitem no shipmode) — the
#: disjunctive join-predicate shape: each OR arm constrains BOTH sides,
#: so the part side broadcasts and the disjunction evaluates post-join
_TPCH_Q19_SQL = """
SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
                      AS BIGINT)) / CAST(10000 AS DOUBLE), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def _q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (adapted): correlated EXISTS over lineitem → left-semi
    join on the order key, then a tiny groupBy on priority.  The semi
    join shuffles each side once on o_orderkey/l_orderkey; no dedup
    pass is needed because semi-join emits each order at most once."""
    for t in ("orders", "lineitem"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q4_SQL)


def _sql_tpch_q4():
    return _TPCH_Q4_SQL


def _q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (adapted): OR-of-ANDs lineitem filter (each arm prunes
    at the scan: returnflag IN ('R','A') is implied and pushed down) +
    orders join + conditional-count aggregation on a 2-value key."""
    for t in ("orders", "lineitem"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q12_SQL)


def _sql_tpch_q12():
    return _TPCH_Q12_SQL


def _q_tpch_q15(spark, sf_dir):
    """TPC-H Q15: the revenue CTE is computed once per consumer (scalar
    max + join-back); exact BIGINT max comparison returns ALL tied
    suppliers deterministically, ordered by key."""
    for t in ("supplier", "lineitem"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q15_SQL)


def _sql_tpch_q15():
    return _TPCH_Q15_SQL


def _q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (adapted): disjunctive two-table predicate — part
    broadcasts (≪ lineitem at every scale), the OR-of-ANDs evaluates
    after the equi-join on partkey, one exact scaled-BIGINT sum out."""
    for t in ("lineitem", "part"):
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q19_SQL)


def _sql_tpch_q19():
    return _TPCH_Q19_SQL


#: The synthetic schema ships no ``partsupp`` table, so the five TPC-H
#: queries that need one (Q2/Q9/Q11/Q16/Q20) run against this bridge:
#: the DISTINCT (l_partkey, l_suppkey) pairs of lineitem, with
#: ``ps_availqty`` = total quantity ever shipped by the pair (exact
#: BIGINT) and ``ps_supplycost`` = the minimum unit price the pair ever
#: traded at (scaled-BIGINT cents, so min/compare is tie-exact).  The
#: bridge is one map-side-combined aggregate; at 100 TB it is
#: O(distinct pairs) ≪ O(lineitem) and every consumer joins it on its
#: grouping key, so AQE reuses the exchange.
_PARTSUPP_CTE = """
WITH partsupp AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty,
         CAST(ROUND(MIN(l_extendedprice / l_quantity) * 100, 0)
              AS BIGINT) AS ps_supplycost_e2
  FROM lineitem
  GROUP BY l_partkey, l_suppkey)
"""

#: TPC-H Q2 minimum-cost supplier (adapted: partsupp bridge; supply
#: cost = min unit price in scaled-BIGINT cents so the per-part MIN and
#: the equality against it are tie-exact).  The correlated scalar MIN
#: decorrelates to an aggregate + equi-join on ps_partkey; region/
#: nation/supplier are broadcast dimensions at every scale.
_TPCH_Q2_SQL = _PARTSUPP_CTE + """
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       ROUND(ps_supplycost_e2 / CAST(100 AS DOUBLE), 2) AS supplycost
FROM part
JOIN partsupp ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size BETWEEN 10 AND 20
  AND p_type IN ('STANDARD', 'ECONOMY')
  AND r_name = 'EUROPE'
  AND ps_supplycost_e2 = (
    SELECT MIN(ps2.ps_supplycost_e2)
    FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""

#: TPC-H Q9 product-type profit (adapted: p_retailprice stands in for
#: the absent ps_supplycost) — the 5-way join benchmark; profit math in
#: exact scaled BIGINT so the nation×year report is partitioning-
#: independent.  The 4-decimal result is one exact double division, NOT
#: a 2-decimal ROUND: profit sums land on the .xx5 half-boundary where
#: Spark (half-up) and DuckDB (half-even) disagree.
_TPCH_Q9_SQL = """
SELECT nation, o_year,
       SUM(amount_e4) / CAST(10000 AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
              AS BIGINT)
           - CAST(ROUND(p_retailprice * 10000, 0) AS BIGINT)
             * CAST(l_quantity AS BIGINT) AS amount_e4
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

#: TPC-H Q11 important stock (adapted: partsupp bridge, ASIA region in
#: place of the single-nation filter so the tiny scale factors keep
#: suppliers in scope).  The HAVING threshold is scale-invariant —
#: parts worth more than 2× the MEAN part value (the spec's fixed
#: fraction-of-total empties out as part count grows) — written as an
#: exact-BIGINT cross-multiply so no float threshold can flip on a
#: different partitioning.
_TPCH_Q11_SQL = _PARTSUPP_CTE + """
, val AS (
  SELECT ps_partkey,
         SUM(ps_supplycost_e2 * ps_availqty) AS value_e2
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY ps_partkey)
, agg AS (
  SELECT COUNT(*) AS cnt, SUM(value_e2) AS tot FROM val)
SELECT ps_partkey,
       ROUND(value_e2 / CAST(100 AS DOUBLE), 2) AS stock_value
FROM val, agg
WHERE value_e2 * cnt > 2 * tot
ORDER BY value_e2 DESC, ps_partkey
"""
# Q11's threshold lives in a 1-row `agg` relation joined back (a scalar
# broadcast), not two scalar subqueries over `val`: identical output,
# but the expensive partsupp aggregation materializes ONCE and is
# exchange-reused instead of re-planned per subquery (measured 1.5x at
# sf0.1), and nothing ever single-partitions.

#: TPC-H Q16 parts/supplier relationship (adapted: partsupp bridge;
#: "customer complaints" proxied by s_acctbal < 1000 to keep the
#: null-aware NOT IN anti-join shape).
_TPCH_Q16_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM lineitem)
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45, 49)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

#: TPC-H Q17 small-quantity-order revenue (adapted: brand + size band
#: in place of the absent container).  The correlated ``0.2 * AVG``
#: decorrelates to a per-part aggregate + equi-join; AVG of integral
#: quantities is exact in double, so the threshold is partition-order-
#: independent.
_TPCH_Q17_SQL = """
SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
             / CAST(100 AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_size <= 25
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
"""

#: TPC-H Q20 potential part promotion (adapted: partsupp bridge —
#: "availqty" is the pair's all-time shipped quantity, and the
#: correlated threshold keeps suppliers whose 1997 shipments were under
#: half their all-time volume for a 'cold%' part).  Exact BIGINT
#: quantities; COALESCE keeps pairs with no 1997 activity in scope like
#: the spec's zero threshold would.
_TPCH_Q20_SQL = _PARTSUPP_CTE + """
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
      AND ps_availqty > (
        SELECT COALESCE(2 * CAST(SUM(CAST(l_quantity AS BIGINT))
                                 AS BIGINT), 0)
        FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
          AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP)))
ORDER BY s_name
"""

#: TPC-H Q21 suppliers who kept orders waiting (adapted: no commit/
#: receipt dates in the synthetic schema, so "late" = shipped more than
#: 60 days after the order date; counts waiting ORDERS per supplier).
#: Written decorrelated from the start — per-(order, supplier) lateness
#: in one aggregate, then per-order supplier/late counts as WINDOWS
#: over the SAME l_orderkey key (no join-back, which would recompute
#: the CTE), so the EXISTS / NOT EXISTS pair becomes ``n_supp > 1 AND
#: n_late = 1`` with ONE lineitem scan and two co-keyed shuffles.
_TPCH_Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey),
flagged AS (
  SELECT l_suppkey, is_late,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM late)
SELECT s_name, COUNT(*) AS numwait
FROM flagged
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
  AND n_regionkey = 2
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

#: TPC-H Q22 global sales opportunity (adapted: country code =
#: c_nationkey mod 10 in place of the absent phone prefix).  The
#: above-average-balance threshold is the exact integer cross-multiply
#: ``bal_e2 * n > s`` — a float AVG of 2-decimal doubles would be
#: accumulation-order-dependent and could flip a borderline customer
#: between engines.
_TPCH_Q22_SQL = """
WITH eligible AS (
  SELECT c_custkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_e2,
         CAST(c_nationkey % 10 AS INTEGER) AS cntrycode
  FROM customer
  WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)),
avg_bal AS (
  SELECT SUM(bal_e2) AS s, COUNT(*) AS n FROM eligible WHERE bal_e2 > 0)
SELECT cntrycode, COUNT(*) AS numcust,
       ROUND(SUM(bal_e2) / CAST(100 AS DOUBLE), 2) AS totacctbal
FROM eligible CROSS JOIN avg_bal
WHERE bal_e2 * n > s
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= CAST('2000-01-01' AS TIMESTAMP))
GROUP BY cntrycode
ORDER BY cntrycode
"""


def _tpch_views(spark, sf_dir, *tables):
    for t in tables:
        readers.load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (adapted): partsupp-bridge aggregate → correlated MIN
    decorrelated by Catalyst into a per-part aggregate + equi-join;
    part/supplier/nation/region sides broadcast.  Tie-exact min via
    scaled-BIGINT supply cost; full ORDER BY tie-break under LIMIT."""
    _tpch_views(spark, sf_dir, "part", "supplier", "lineitem",
                "nation", "region")
    return spark.sql(_TPCH_Q2_SQL)


def _sql_tpch_q2():
    return _TPCH_Q2_SQL


def _q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (adapted): the 5-way join profit rollup — part filter
    prunes first, dimensions broadcast, one shuffle on the lineitem
    side per join key; exact scaled-BIGINT profit."""
    _tpch_views(spark, sf_dir, "lineitem", "part", "supplier",
                "orders", "nation")
    return spark.sql(_TPCH_Q9_SQL)


def _sql_tpch_q9():
    return _TPCH_Q9_SQL


def _q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (adapted): bridge → region-filtered per-part value
    aggregate consumed twice (scalar total + HAVING); exact BIGINT
    cross-multiply threshold."""
    _tpch_views(spark, sf_dir, "lineitem", "supplier", "nation",
                "region")
    return spark.sql(_TPCH_Q11_SQL)


def _sql_tpch_q11():
    return _TPCH_Q11_SQL


def _q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (adapted): distinct-pair bridge + broadcast part
    filter + null-aware NOT IN anti-join + COUNT(DISTINCT) rollup."""
    _tpch_views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_TPCH_Q16_SQL)


def _sql_tpch_q16():
    return _TPCH_Q16_SQL


def _q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (adapted): correlated 0.2·AVG threshold decorrelated
    to a per-part aggregate + join — the small-quantity revenue probe;
    single scaled-BIGINT sum out."""
    _tpch_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_TPCH_Q17_SQL)


def _sql_tpch_q17():
    return _TPCH_Q17_SQL


def _q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (adapted): nested IN chain — part name filter →
    bridge availability vs correlated 1997-volume scalar → supplier
    semi-join; every correlation is an equality, so Catalyst turns the
    whole chain into aggregates + semi-joins."""
    _tpch_views(spark, sf_dir, "lineitem", "part", "supplier",
                "nation", "region")
    return spark.sql(_TPCH_Q20_SQL)


def _sql_tpch_q20():
    return _TPCH_Q20_SQL


def _q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (adapted, decorrelated): per-(order, supplier)
    lateness + per-order counts replace the EXISTS/NOT-EXISTS
    correlated self-joins — three co-keyed shuffles on l_orderkey,
    no repeated lineitem scans."""
    _tpch_views(spark, sf_dir, "lineitem", "orders", "supplier",
                "nation")
    return spark.sql(_TPCH_Q21_SQL)


def _sql_tpch_q21():
    return _TPCH_Q21_SQL


def _q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (adapted): eligible-customer projection consumed
    twice (scalar balance stats + filter), NOT EXISTS anti-join
    against recent orders; exact integer cross-multiply threshold."""
    _tpch_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_TPCH_Q22_SQL)


def _sql_tpch_q22():
    return _TPCH_Q22_SQL


# --------------------------------------------------------------------- #
# round-4 session-2 operators: binary ANN, KMeans codebooks, canonical
# near-dup selection, token-budget mixtures, PCA projection

def _q_hamming_topk(spark, sf_dir):
    """Exact Hamming top-5 over sign-binarized embeddings
    (operators/embeddings.py binarize_embeddings + hamming_topk): 32
    sign bits per BIGINT word (sign-safe packing any engine
    reproduces), XOR+popcount kernel with per-batch (dist, id)
    lexicographic prune.  Distances are integers and ties break on
    neighbor_id, so the result is bit-reproducible row-for-row."""
    from xpysom_dask_spark.operators import embeddings as EMB

    emb = _emb(spark, sf_dir)
    b = EMB.binarize_embeddings(emb, dim=64).select("vec_id", "bits")
    return EMB.hamming_topk(b, b.where("vec_id < 5"), k=5)


def _sql_hamming_topk():
    def word(w, lo, hi):
        return (f"list_sum(list_transform(range({lo}, {hi}), "
                f"i -> CASE WHEN embedding[i + 1] > 0 THEN "
                f"(1::BIGINT << (i - {lo})) ELSE 0::BIGINT END))")
    sig = "[" + ", ".join(word(w, w * 32, (w + 1) * 32)
                          for w in range(2)) + "]"
    return f"""
WITH sigs AS (SELECT vec_id, {sig} AS bits FROM embeddings),
q AS (SELECT vec_id AS query_id, bits AS qbits FROM sigs
      WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, 3),
              w -> bit_count(xor(CAST(qbits[w] AS BIGINT),
                                 CAST(s.bits[w] AS BIGINT))))) AS INT)
             AS dist
  FROM q, sigs s WHERE s.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, dist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY dist, neighbor_id) AS INT) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, dist FROM ranked WHERE rank <= 5
"""


def _q_kmeans_assign(spark, sf_dir):
    """KMeans assignment pass (operators/clustering.py kmeans_assign):
    8 fixed centroids (the vec_id<8 embedding rows, index = vec_id
    order), squared-euclidean argmin via the broadcast-GEMM Arrow
    kernel — the corpus never shuffles.  dist2 rounds to 4 (GEMM
    form x·x−2x·c+c·c vs the oracle's per-coordinate sum drift)."""
    import numpy as np

    from xpysom_dask_spark.operators import clustering as CL

    emb = _emb(spark, sf_dir)
    cent_rows = emb.where("vec_id < 8").orderBy("vec_id") \
        .select("embedding").collect()
    C = np.stack([np.asarray(r["embedding"], np.float64)
                  for r in cent_rows])
    out = CL.kmeans_assign(emb, C, dist_col="dist2")
    return out.select("vec_id", "cluster_id",
                      F.round("dist2", 4).alias("dist2"))


def _sql_kmeans_assign():
    d2 = ("list_sum(list_transform(range(1, 65), "
          "i -> (CAST(e.embedding[i] AS DOUBLE) "
          "- CAST(c.cvec[i] AS DOUBLE)) "
          "* (CAST(e.embedding[i] AS DOUBLE) "
          "- CAST(c.cvec[i] AS DOUBLE))))")
    return f"""
WITH cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
             AS cidx,
         embedding AS cvec
  FROM embeddings WHERE vec_id < 8),
pairs AS (
  SELECT e.vec_id, c.cidx, {d2} AS d2
  FROM embeddings e CROSS JOIN cent c),
r AS (
  SELECT vec_id, cidx, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cidx)
             AS rn
  FROM pairs)
SELECT vec_id, cidx AS cluster_id, ROUND(d2, 4) AS dist2
FROM r WHERE rn = 1
"""


def _q_dedup_keep_best(spark, sf_dir):
    """Canonical-document selection (operators/dedup.py
    dedup_keep_best): group near-identical docs by the winnowing-lite
    min-shingle fingerprint, keep the HIGHEST quality_score copy per
    group (ties → lowest doc_id) — keep-best, not keep-first.  The
    score is simple double ratio math, bit-identical across engines,
    so the kept-row set hash-matches; quality is rounded only for
    display."""
    from xpysom_dask_spark.operators import text as T

    docs = _docs(spark, sf_dir)
    kept = dedup.dedup_keep_best(
        docs, "text", "doc_id",
        score=T.quality_score("text"),
        key=T.min_shingle_fingerprint("text"))
    return kept.select(
        "doc_id", "source",
        F.round(T.quality_score("text"), 6).alias("quality"))


def _sql_dedup_keep_best():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    toks = _duck_tokens("text")
    alpha = ("CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) "
             "AS DOUBLE) / greatest(length(text), 1)")
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         list_min([md5(substring({t}, i, 8))
                   FOR i IN range(1, greatest(length({t}) - 7, 1) + 1)])
             AS fp,
         0.5 * LEAST(len({toks}) / 100.0, 1.0) + 0.5 * ({alpha}) AS q
  FROM documents),
r AS (
  SELECT doc_id, source, q,
         row_number() OVER (PARTITION BY fp
                            ORDER BY q DESC, doc_id ASC) AS rn
  FROM scored)
SELECT doc_id, source, ROUND(q, 6) AS quality FROM r WHERE rn = 1
"""


def _q_token_budget_mix(spark, sf_dir):
    """Token-budgeted mixture (operators/sampling.py
    token_budget_per_group): per source, keep the content-hash-ordered
    prefix of docs whose cumulative n_chars stays within a 7000-char
    budget.  Under-budget sources BYPASS the window via a broadcast
    anti-join (no per-row shuffle); only over-budget sources' rows pay
    the window — at sf0.01 the 7000 budget splits the 20 sources
    across both branches, so the gate exercises each."""
    docs = _docs(spark, sf_dir)
    kept = sampling.token_budget_per_group(
        docs, "doc_id", "source", "n_chars", budget=7000, seed=0)
    return kept.select("doc_id", "source", "n_chars")


def _sql_token_budget_mix():
    return f"""
WITH c AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source
             ORDER BY {_duck_unit_hash('doc_id', 0)} ASC, doc_id ASC
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents)
SELECT doc_id, source, n_chars FROM c WHERE cum <= 7000
"""


def _q_binary_rerank(spark, sf_dir):
    """Two-stage ANN (operators/embeddings.py binary_rerank_topk):
    exact Hamming top-20 shortlist over sign signatures, then
    exact-cosine rerank of only those 20 candidates per query.  The
    shortlist is integer-deterministic and the cosine is the same
    left-to-right double accumulation on both engines, so the stack is
    reproducible end-to-end; sim rounds to 6 for display."""
    from xpysom_dask_spark.operators import embeddings as EMB

    emb = _emb(spark, sf_dir)
    b = EMB.binarize_embeddings(emb, dim=64) \
        .select("vec_id", "embedding", "bits")
    out = EMB.binary_rerank_topk(b, b.where("vec_id < 5"),
                                 k=5, shortlist=20)
    return out.select("query_id", "rank", "neighbor_id",
                      F.round("sim", 6).alias("sim"))


def _sql_binary_rerank():
    def word(w, lo, hi):
        return (f"list_sum(list_transform(range({lo}, {hi}), "
                f"i -> CASE WHEN embedding[i + 1] > 0 THEN "
                f"(1::BIGINT << (i - {lo})) ELSE 0::BIGINT END))")
    sig = "[" + ", ".join(word(w, w * 32, (w + 1) * 32)
                          for w in range(2)) + "]"
    dot = _DOT64.format(a="s.qvec", b="s.embedding")
    nq = _DOT64.format(a="s.qvec", b="s.qvec")
    nn = _DOT64.format(a="s.embedding", b="s.embedding")
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {sig} AS bits FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bits AS qbits
      FROM sigs WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, s.vec_id AS neighbor_id, q.qvec, s.embedding,
         list_sum(list_transform(range(1, 3),
              w -> bit_count(xor(CAST(q.qbits[w] AS BIGINT),
                                 CAST(s.bits[w] AS BIGINT))))) AS hdist
  FROM q, sigs s WHERE s.vec_id != q.query_id),
short AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, qvec, embedding,
           row_number() OVER (PARTITION BY query_id
               ORDER BY hdist, neighbor_id) AS hrank
    FROM pairs) WHERE hrank <= 20),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         ({dot}) / (sqrt({nq}) * sqrt({nn})) AS sim
  FROM short s),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS INT) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= 5
"""


def _q_contamination_report(spark, sf_dir):
    """Train/test n-gram overlap measurement (operators/dedup.py
    contamination_report): the decision report decontamination is run
    from — distinct 5-gram overlap share + how many test docs are hit.
    Both engines count DISTINCT 48-bit shingle-hash folds (the same
    integer fold), so the one-row report is bit-stable."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"train": 0.9, "test": 0.1}, seed=1)
    train = split.where("split = 'train'").drop("split")
    test = split.where("split = 'test'").drop("split")
    return dedup.contamination_report(train, test, "text", "doc_id",
                                      n=5)


def _sql_contamination_report():
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.9 / (0.9 + 0.1)
    h48 = _duck_md5hash48("shingle")
    return f"""
WITH uh AS (
  SELECT doc_id, text, {u} AS u FROM documents
),
tr AS (SELECT doc_id, text FROM uh WHERE u < {acc!r}),
te AS (SELECT doc_id, text FROM uh WHERE u >= {acc!r}),
{_duck_ngrams_cte('tr', 'trsh', 5)},
{_duck_ngrams_cte('te', 'tesh', 5)},
teh AS (SELECT DISTINCT doc_id, {h48} AS h FROM tesh),
trh AS (SELECT DISTINCT {h48} AS h FROM trsh),
hit AS (SELECT DISTINCT t.h FROM (SELECT DISTINCT h FROM teh) t
        JOIN trh USING (h))
SELECT (SELECT COUNT(DISTINCT h) FROM teh) AS n_test_ngrams,
       (SELECT COUNT(*) FROM hit) AS n_overlapping,
       floor((SELECT COUNT(*) FROM hit) * 1.0
             / GREATEST((SELECT COUNT(DISTINCT h) FROM teh), 1)
             * 1000000 + 0.5) / 1000000
           AS overlap_share,
       (SELECT COUNT(DISTINCT doc_id) FROM teh
        WHERE h IN (SELECT h FROM hit)) AS n_test_docs_hit,
       (SELECT COUNT(DISTINCT doc_id) FROM te) AS n_test_docs
"""


def _q_ann_kmeans_ivf(spark, sf_dir):
    """ANN via a KMeans codebook as IVF coarse quantizer
    (operators/similarity.py kmeans_ivf_topk +
    operators/clustering.py), run at full probe (nprobe = k = 8):
    every cell scanned, so the bucketed candidate plan must reproduce
    the exact brute-force top-5 bit-for-bit regardless of where the
    Lloyd iterations converged — the oracle is centroid-independent
    by construction.  The approximate regime and the persisted
    partition-pruned index are covered by tests
    (tests/test_clustering.py)."""
    e = _emb(spark, sf_dir)
    C = clustering.kmeans_fit(e, k=8, max_iter=3)
    q = e.where("vec_id % 100 = 0").collect()
    qids = [r["vec_id"] for r in q]
    qvecs = np.array([r["embedding"] for r in q])
    out = similarity.kmeans_ivf_topk(C, e, qvecs, qids, k=5, nprobe=8)
    return out.select("query_id", F.col("rank").cast("bigint"),
                      "neighbor_id", F.round("sim", 6).alias("sim"))


def _q_embedding_pca(spark, sf_dir):
    """PCA as a trained-model gate (operators/embeddings.py
    pca_fit_2d + pca_project_2d): the fit's sufficient statistics are
    EXACT DECIMAL(38,0) integer sums, the 2×2 eigensolve is an
    explicit closed-form double-op sequence (no LAPACK), and the
    whitened projection is a codegen'd column expression — so the
    oracle replays the ENTIRE fit + projection in SQL and
    hash-matches (the probe_scores pattern; r4's `no_oracle` slot is
    gone).  The dim×64 `pca_fit`/`pca_project` pair (driver eigh +
    broadcast-GEMM projection) keeps its numpy-differential coverage
    in tests/test_embeddings.py — eigh at d>2 isn't SQL-replayable.
    Outputs are scaled-BIGINT micro-units (floor(pc·1e6 + 0.5)):
    integer columns hash identically across engines with no float
    canonicalization edge (-0.0, HALF_UP-vs-banker's)."""
    from xpysom_dask_spark.operators import embeddings as EMB

    d = _emb(spark, sf_dir).select(
        "vec_id", "label",
        F.element_at("embedding", 1).cast("double").alias("f1"),
        F.element_at("embedding", 33).cast("double").alias("f2"))
    model = EMB.pca_fit_2d(d, "f1", "f2", decimals=6)
    out = EMB.pca_project_2d(d, model, "f1", "f2", whiten=True)
    return out.select(
        "vec_id", "label",
        F.expr("CAST(FLOOR(pc1 * 1000000.0 + 0.5) AS BIGINT)")
        .alias("pc1_e6"),
        F.expr("CAST(FLOOR(pc2 * 1000000.0 + 0.5) AS BIGINT)")
        .alias("pc2_e6"))


def _sql_embedding_pca():
    # replays pca_fit_2d + pca_project_2d op-for-op: exact DECIMAL
    # moments → closed-form 2×2 eigensolve → sign fix → whiten →
    # project; every double op appears in the same order as the
    # Python/codegen side, so the integer outputs are bit-exact
    proj = ("(((f1 - m1) * {ea} + (f2 - m2) * {eb}) * {w})"
            " * 1000000.0 + 0.5")
    return f"""
WITH f AS (
  SELECT vec_id, label,
         CAST(embedding[1] AS DOUBLE) AS f1,
         CAST(embedding[33] AS DOUBLE) AS f2
  FROM embeddings),
b AS (
  SELECT CAST(ROUND(f1 * 1000000, 0) AS DECIMAL(38,0)) AS q1,
         CAST(ROUND(f2 * 1000000, 0) AS DECIMAL(38,0)) AS q2
  FROM f WHERE f1 IS NOT NULL AND f2 IS NOT NULL),
s AS (
  SELECT COUNT(*) AS n,
         SUM(q1) AS i1, SUM(q2) AS i2,
         SUM(q1 * q1) AS i11, SUM(q1 * q2) AS i12,
         SUM(q2 * q2) AS i22
  FROM b),
m AS (
  SELECT CAST(n AS DOUBLE) AS nf,
         CAST(i1 AS DOUBLE) / 1000000.0 AS s1,
         CAST(i2 AS DOUBLE) / 1000000.0 AS s2,
         CAST(i11 AS DOUBLE) / 1000000000000.0 AS s11,
         CAST(i12 AS DOUBLE) / 1000000000000.0 AS s12,
         CAST(i22 AS DOUBLE) / 1000000000000.0 AS s22
  FROM s),
c0 AS (SELECT s1 / nf AS m1, s2 / nf AS m2, * FROM m),
c1 AS (
  SELECT m1, m2,
         (s11 - m1 * s1) / (nf - 1.0) AS a,
         (s12 - m1 * s2) / (nf - 1.0) AS b,
         (s22 - m2 * s2) / (nf - 1.0) AS c
  FROM c0),
c2 AS (
  SELECT m1, m2, a, b, c,
         (a + c) / 2.0 AS mid, (a - c) / 2.0 AS dif
  FROM c1),
c3 AS (
  SELECT m1, m2, a, b, c, mid,
         sqrt(dif * dif + b * b) AS disc
  FROM c2),
c4 AS (
  SELECT m1, m2, a, b, c,
         mid + disc AS l1, mid - disc AS l2
  FROM c3),
c5 AS (
  SELECT m1, m2, l1, l2,
         CASE WHEN b <> 0.0 THEN b / sqrt(b * b + (l1 - a) * (l1 - a))
              WHEN a >= c THEN 1.0 ELSE 0.0 END AS r11,
         CASE WHEN b <> 0.0
              THEN (l1 - a) / sqrt(b * b + (l1 - a) * (l1 - a))
              WHEN a >= c THEN 0.0 ELSE 1.0 END AS r12
  FROM c4),
c6 AS (
  SELECT m1, m2, l1, l2, r11, r12,
         -r12 AS r21, r11 AS r22
  FROM c5),
c7 AS (
  SELECT m1, m2, l1, l2, r11, r12, r21, r22,
         CASE WHEN abs(r11) >= abs(r12)
              THEN CASE WHEN r11 < 0.0 THEN -1.0 ELSE 1.0 END
              ELSE CASE WHEN r12 < 0.0 THEN -1.0 ELSE 1.0 END
         END AS g1,
         CASE WHEN abs(r21) >= abs(r22)
              THEN CASE WHEN r21 < 0.0 THEN -1.0 ELSE 1.0 END
              ELSE CASE WHEN r22 < 0.0 THEN -1.0 ELSE 1.0 END
         END AS g2
  FROM c6),
model AS (
  SELECT m1, m2,
         r11 * g1 AS e11, r12 * g1 AS e12,
         r21 * g2 AS e21, r22 * g2 AS e22,
         1.0 / sqrt(CASE WHEN l1 > 1e-12 THEN l1 ELSE 1e-12 END) AS w1,
         1.0 / sqrt(CASE WHEN l2 > 1e-12 THEN l2 ELSE 1e-12 END) AS w2
  FROM c7)
SELECT f.vec_id, f.label,
       CAST(FLOOR({proj.format(ea='e11', eb='e12', w='w1')})
            AS BIGINT) AS pc1_e6,
       CAST(FLOOR({proj.format(ea='e21', eb='e22', w='w2')})
            AS BIGINT) AS pc2_e6
FROM f CROSS JOIN model
"""


# --------------------------------------------------------------------- #
# round-4 additions: fractional upsampling, leakage-safe splitting,
# near-dup decontamination, per-group exact-integer trend fits

_UPSAMPLE_W = {"src0": 2.5, "src1": 0.5, "src2": 0.0}


def _q_upsample_mix(spark, sf_dir):
    """Fractional per-source upsampling (operators/sampling.py
    upsample_by_weight): src0 rows repeat 2.5× (2 copies + a hash-coin
    3rd), src1 0.5×, src2 drops, everything else passes through 1× —
    the DoReMi-style domain-reweighting primitive as an EXPLICIT
    explode (E[copies] = w exactly, deterministic per (seed, id)).
    One narrow explode, no shuffle."""
    up = sampling.upsample_by_weight(
        _docs(spark, sf_dir), "doc_id", "source", _UPSAMPLE_W,
        seed=3, default_weight=1.0)
    return up.select("doc_id", "source", "copy")


def _sql_upsample_mix():
    u = _duck_unit_hash("doc_id", 3)
    cases = " ".join(f"WHEN '{s}' THEN {w!r}"
                     for s, w in _UPSAMPLE_W.items())
    return f"""
WITH w AS (
  SELECT doc_id, source,
         CASE source {cases} ELSE 1.0 END AS wt,
         {u} AS u
  FROM documents),
n AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) AS BIGINT)
           + CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END AS nc
  FROM w)
SELECT doc_id, source, unnest(range(nc)) AS copy FROM n WHERE nc > 0
"""


def _q_split_no_leakage(spark, sf_dir):
    """Leakage-safe train/test split (operators/sampling.py
    leakage_safe_split): the split hash is keyed on the winnowing-lite
    min-shingle CONTENT fingerprint, not the row id, so near-identical
    docs can never straddle the boundary — the eval-contamination bug
    an id-keyed split + dedup leaves open.  Map-side pure function of
    content: no shuffle."""
    from xpysom_dask_spark.operators import text as T

    out = sampling.leakage_safe_split(
        _docs(spark, sf_dir), "doc_id", T.min_shingle_fingerprint("text"),
        {"train": 0.8, "test": 0.2}, seed=5)
    return out.select("doc_id", "source", "split")


def _sql_split_no_leakage():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    u = _duck_unit_hash("fp", 5)
    return f"""
WITH fp AS (
  SELECT doc_id, source,
         list_min([md5(substring({t}, i, 8))
                   FOR i IN range(1, greatest(length({t}) - 7, 1) + 1)])
             AS fp
  FROM documents)
SELECT doc_id, source,
       CASE WHEN {u} < 0.8 THEN 'train' ELSE 'test' END AS split
FROM fp
"""


def _q_fuzzy_decontaminate(spark, sf_dir):
    """NEAR-duplicate decontamination (operators/dedup.py
    fuzzy_decontaminate): same 90/10 split as `decontaminate`, but a
    train doc is dropped only when its exact 3-gram-shingle Jaccard vs
    some test doc is ≥ 0.5 (MinHash-LSH candidates, exact verify) —
    whole-document near-identity instead of the single-shared-n-gram
    rule, catching reformatted test leakage without nuking docs that
    share one idiom.  Test-side band keys broadcast; train side never
    shuffles to generate candidates."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"train": 0.9, "test": 0.1}, seed=1)
    train = split.where("split = 'train'").drop("split")
    test = split.where("split = 'test'").drop("split")
    out = dedup.fuzzy_decontaminate(train, test, "text", "doc_id",
                                    threshold=0.5, n=3)
    return out.select("doc_id", "lang")


def _duck_sig_from(sh: str, out: str) -> str:
    """MinHash signature CTE pair over an arbitrary (doc_id, shingle)
    relation — generalizes _minhash_sig_sql beyond the global `sh`."""
    a, b = dedup.minhash_coefficients()
    mins = ",\n         ".join(
        f"min(({a[i]} * h + {b[i]}) % {T.HASH_PRIME}) AS mh_{i}"
        for i in range(dedup.MINHASH_K))
    return f"""{out}_h AS (
  SELECT doc_id, {_duck_md5hash12('shingle')} AS h FROM {sh}
),
{out} AS (
  SELECT doc_id,
         {mins}
  FROM {out}_h GROUP BY doc_id
)"""


def _duck_bands_from(sig: str, out: str) -> str:
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, concat('{b}', ':', mh_{2 * b}, ':', "
        f"mh_{2 * b + 1}) AS band_key FROM {sig}"
        for b in range(dedup.MINHASH_K // 2))
    return f"{out} AS (\n{bands}\n)"


def _sql_fuzzy_decontaminate():
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.9 / (0.9 + 0.1)
    return f"""
WITH uh AS (
  SELECT doc_id, lang, text, {u} AS u FROM documents
),
tr AS (SELECT doc_id, lang, text FROM uh WHERE u < {acc!r}),
te AS (SELECT doc_id, lang, text FROM uh WHERE u >= {acc!r}),
{_duck_ngrams_cte('tr', 'trsh', 3)},
{_duck_ngrams_cte('te', 'tesh', 3)},
{_duck_sig_from('trsh', 'trsig')},
{_duck_sig_from('tesh', 'tesig')},
{_duck_bands_from('trsig', 'trband')},
{_duck_bands_from('tesig', 'teband')},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM trband a JOIN teband b ON a.band_key = b.band_key
),
sza AS (SELECT doc_id, COUNT(*) AS n_sh FROM trsh GROUP BY doc_id),
szb AS (SELECT doc_id, COUNT(*) AS n_sh FROM tesh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN trsh sa ON sa.doc_id = p.id_a
  JOIN tesh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
bad AS (
  SELECT DISTINCT i.id_a AS doc_id
  FROM inter i
  JOIN sza na ON na.doc_id = i.id_a
  JOIN szb nb ON nb.doc_id = i.id_b
  WHERE CAST(i.n_inter AS DOUBLE)
          / (na.n_sh + nb.n_sh - i.n_inter) >= 0.5
)
SELECT doc_id, lang FROM tr
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def _q_events_regr(spark, sf_dir):
    """Per-event-type value-vs-time trend (operators/profile.py
    regr_by_group): OLS of `value` on the event's epoch-HOUR index —
    the drift/calibration profile of a metrics pipeline.  Every
    sufficient statistic is an exact integer sum (scaled-BIGINT idiom:
    hours are integers, value is 2-decimal), so the fit is
    partitioning-independent and floating point enters only in the
    final closed-form division."""
    from xpysom_dask_spark.operators import profile as PR

    ev = readers.load_table(spark, sf_dir, "events") \
        .withColumn("hx", F.expr("ts DIV 3600000000000"))
    return PR.regr_by_group(ev, "event_type", "hx", "value",
                            x_decimals=0, y_decimals=2)


def _sql_events_regr():
    cov_n = "CAST(n * s_xy - s_x * s_y AS DOUBLE)"
    var_x = "CAST(n * s_xx - s_x * s_x AS DOUBLE)"
    var_y = "CAST(n * s_yy - s_y * s_y AS DOUBLE)"
    slope = f"({cov_n} / nullif({var_x}, 0.0)) * 1.0 / 100.0"
    return f"""
WITH b AS (
  SELECT event_type,
         CAST(ROUND(CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600
                         AS DOUBLE) * 1, 0) AS DECIMAL(38,0)) AS xi,
         CAST(ROUND(CAST(value AS DOUBLE) * 100, 0)
              AS DECIMAL(38,0)) AS yi
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
a AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(xi) AS s_x, SUM(yi) AS s_y, SUM(xi * yi) AS s_xy,
         SUM(xi * xi) AS s_xx, SUM(yi * yi) AS s_yy
  FROM b GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND({slope}, 6) AS slope,
       ROUND(CAST(s_y AS DOUBLE) / (100.0 * n) - ({slope})
             * CAST(s_x AS DOUBLE) / (1.0 * n), 6) AS intercept,
       ROUND(({cov_n} * {cov_n})
             / nullif({var_x} * {var_y}, 0.0), 6) AS r2
FROM a
"""


def _q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.py hard_negatives):
    per query vector, the exact top-5 most-similar corpus vectors with
    a DIFFERENT label — the contrastive-training batch builder.  Same
    broadcast-GEMM Arrow plan as knn_cosine, but the same-label mask
    applies inside the batch kernel BEFORE the per-batch top-k (a
    post-filter would silently drop negatives that ranked k+1th in
    some batch)."""
    emb = _emb(spark, sf_dir)
    q = emb.where("vec_id % 50 = 0")
    out = similarity.hard_negatives(emb, q, k=5)
    return out.select("query_id", F.col("rank").cast("bigint"),
                      "neighbor_id", F.round("sim", 6).alias("sim"))


def _sql_hard_negatives():
    dot = _DOT64.format(a="q.embedding", b="c.embedding")
    qq = _DOT64.format(a="q.embedding", b="q.embedding")
    cc = _DOT64.format(a="c.embedding", b="c.embedding")
    return f"""
WITH q AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS sim
  FROM q JOIN embeddings c ON c.label <> q.label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= 5
"""


def _q_weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (operators/sampling.py
    weighted_sample_topk): exactly 3 docs per source, inclusion odds
    ∝ n_chars, Efraimidis–Spiridis key ln(u)/w over the deterministic
    (seed, id) unit hash.  One window over the group shuffle — the
    'best-k length-weighted docs per domain' shape."""
    out = sampling.weighted_sample_topk(
        _docs(spark, sf_dir), "doc_id", "n_chars", k=3,
        group_col="source", seed=11)
    return out.select("doc_id", "source", "n_chars")


def _sql_weighted_sample():
    # the 2^-49 floor mirrors weighted_sample_topk's ln(0) guard
    # (Spark log(0) is NULL, DuckDB ln(0) raises)
    u = f"greatest({_duck_unit_hash('doc_id', 11)}, {2.0 ** -49!r})"
    return f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln({u}) / CAST(n_chars AS DOUBLE) AS key
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
ranked AS (
  SELECT doc_id, source, n_chars, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY key DESC, doc_id) AS rn
  FROM keyed)
SELECT doc_id, source, n_chars FROM ranked WHERE rn <= 3
"""


# --------------------------------------------------------------------- #
# round-5 STAGED gate queries: oracle-tested now (tests/test_round5_
# staged.py), but NOT registered in queries() — the round-4 head-50 is
# exactly full with never-driver-checked entries, and registering a
# 51st never-checked query would breach the rotation contract
# (tests/test_gate_coverage.py).  Round 5 moves these into queries()/
# oracle_sql() verbatim.

def _q_streaming_decontaminate(spark, sf_dir):
    """Streaming decontamination guard (streaming/decontam.py): the
    train split replayed as a file stream, probed per micro-batch
    against the broadcast test-set n-gram hash set — stateless, so the
    drained result equals batch `decontaminate` exactly (the oracle IS
    that query's SQL)."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import (
        decontaminate_stream,
        eval_ngram_hashes,
    )

    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"train": 0.9, "test": 0.1}, seed=1)
    train = split.where("split = 'train'").drop("split") \
        .select("doc_id", "lang", "text")
    test = split.where("split = 'test'").drop("split")
    ths = eval_ngram_hashes(test, "text", "doc_id", n=5)
    tmp = _staged_gate_dir(
        "decontamgate", sf_dir,
        lambda p: train.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(train.schema).parquet(tmp)
    out = decontaminate_stream(stream, "text", "doc_id", ths, n=5)
    name = "q_stream_decontam_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True))
    return spark.table(name).select("doc_id", "lang")


_SHARD_GATE_BYTES = 20000


def _q_shard_layout(spark, sf_dir):
    """Training-shard layout audit (sources/writers.py
    shard_assignments — the assignment rule write_training_shards
    persists): per (shard, source) row counts and byte sums under the
    deterministic pmod(unit-hash, ceil(Σbytes/budget)) rule.  Pure
    integer statistics, so the gate is hash-exact."""
    from xpysom_dask_spark.sources.writers import shard_assignments

    tagged = shard_assignments(_docs(spark, sf_dir), "doc_id",
                               "n_chars", _SHARD_GATE_BYTES, seed=0)
    return (tagged.groupBy("shard", "source")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.col("n_chars").cast("bigint")).alias("bytes")))


def _sql_shard_layout():
    b = _SHARD_GATE_BYTES
    # DuckDB lacks conv(); the nibble-fold twin of the Spark expr
    raw = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
           f"[CAST(strpos('0123456789abcdef', substring(md5("
           f"concat('0', ':', CAST(doc_id AS VARCHAR))), i, 1)) "
           f"- 1 AS BIGINT) FOR i IN range(1, 13)]), "
           f"(acc, v) -> acc * 16 + v)")
    return f"""
WITH n AS (
  -- SUM(int) is HUGEINT in DuckDB; without the cast the modulo output
  -- is HUGEINT and the driver's pandas canonicalizer hashes it
  -- differently from Spark's int64 (oracle-parity pitfall #1).
  SELECT CAST(GREATEST(CAST(1 AS BIGINT),
                       (SUM(n_chars) + {b - 1}) // {b}) AS BIGINT) AS n_shards
  FROM documents)
SELECT CAST(({raw}) % (SELECT n_shards FROM n) AS BIGINT) AS shard, source,
       COUNT(*) AS rows, CAST(SUM(n_chars) AS BIGINT) AS bytes
FROM documents
GROUP BY 1, 2
"""


def _q_probe_scores(spark, sf_dir):
    """Linear quality probe end-to-end (operators/models.py): ridge-fit
    `value ~ hour + props-length` on events with EXACT DECIMAL(38,0)
    moment sums, explicit d=2 Cramer solve, then score every event
    with the codegen'd linear expression.  Because the sufficient
    statistics are exact integers and every subsequent double op is
    written out explicitly (no LAPACK, no np.dot reduction), the
    oracle replays the ENTIRE fit in SQL — a trained-model gate, not
    just an aggregate gate."""
    from xpysom_dask_spark.operators import models as MDL

    ev = readers.load_table(spark, sf_dir, "events")
    feat = ev.select(
        "event_id",
        F.expr("ts DIV 3600000000000").cast("double").alias("hx"),
        F.length("props").cast("double").alias("lp"),
        "value")
    m = MDL.ridge_fit(feat, ["hx", "lp"], "value", l2=1e-6,
                      decimals={"hx": 0, "lp": 0, "value": 2})
    return (MDL.ridge_score(feat, m)
            .select("event_id",
                    F.round("probe_score", 6).alias("score")))


def _sql_probe_scores():
    return """
WITH f AS (
  SELECT event_id,
         CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS DOUBLE) AS hx,
         CAST(length(props) AS DOUBLE) AS lp,
         value
  FROM events),
b AS (
  SELECT CAST(ROUND(hx * 1, 0) AS DECIMAL(38,0)) AS x1,
         CAST(ROUND(lp * 1, 0) AS DECIMAL(38,0)) AS x2,
         CAST(ROUND(CAST(value AS DOUBLE) * 100, 0)
              AS DECIMAL(38,0)) AS yy
  FROM f WHERE hx IS NOT NULL AND lp IS NOT NULL
    AND value IS NOT NULL),
s AS (
  SELECT COUNT(*) AS n, SUM(yy) AS i_sy,
         SUM(x1) AS i_sx1, SUM(x2) AS i_sx2,
         SUM(x1 * yy) AS i_sxy1, SUM(x2 * yy) AS i_sxy2,
         SUM(x1 * x1) AS i_sxx11, SUM(x1 * x2) AS i_sxx12,
         SUM(x2 * x2) AS i_sxx22
  FROM b),
m AS (
  SELECT CAST(n AS DOUBLE) AS n,
         CAST(i_sy AS DOUBLE) / 100.0 AS sy,
         CAST(i_sx1 AS DOUBLE) / 1.0 AS sx1,
         CAST(i_sx2 AS DOUBLE) / 1.0 AS sx2,
         CAST(i_sxy1 AS DOUBLE) / 100.0 AS sxy1,
         CAST(i_sxy2 AS DOUBLE) / 100.0 AS sxy2,
         CAST(i_sxx11 AS DOUBLE) / 1.0 AS sxx11,
         CAST(i_sxx12 AS DOUBLE) / 1.0 AS sxx12,
         CAST(i_sxx22 AS DOUBLE) / 1.0 AS sxx22
  FROM s),
c0 AS (
  SELECT sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my, * FROM m),
c1 AS (
  SELECT mx1, mx2, my,
         sxx11 - mx1 * sx1 + 1e-06 AS a00,
         sxx22 - mx2 * sx2 + 1e-06 AS a11,
         ((sxx12 - mx1 * sx2) + (sxx12 - mx2 * sx1)) / 2.0 AS a01,
         sxy1 - mx1 * sy AS cr1,
         sxy2 - mx2 * sy AS cr2
  FROM c0),
c2 AS (
  SELECT mx1, mx2, my, a00, a11, a01, cr1, cr2,
         a00 * a11 - a01 * a01 AS det
  FROM c1),
coefs AS (
  SELECT (cr1 * a11 - a01 * cr2) / det AS w1,
         (a00 * cr2 - cr1 * a01) / det AS w2,
         my, mx1, mx2
  FROM c2),
model AS (
  SELECT w1, w2, my - (mx1 * w1 + mx2 * w2) AS b0 FROM coefs)
SELECT f.event_id,
       ROUND(model.b0 + f.hx * model.w1 + f.lp * model.w2, 6) AS score
FROM f CROSS JOIN model
"""


_BPE_GATE_MERGES = 40


def _q_bpe_subwords(spark, sf_dir):
    """BPE tokenizer end-to-end (operators/bpe.py): train 40 merges on
    the corpus, encode every document, report per-doc subword counts
    and the corpus compression the merges bought.  Full SQL oracle
    (reworked from the r4 rows-only staging, which the driver records
    as err): the oracle builder re-learns the merge table with an
    independent pure-Python reference loop over DuckDB word counts
    (the tests/test_bpe.py reference algorithm), embeds it as a rank
    CASE, and replays the greedy lowest-rank-leftmost encoder with a
    recursive CTE — so corpus tokenization, the learned merges, AND
    the encoder are all cross-checked, not just row counts."""
    from xpysom_dask_spark.operators import bpe as BPE

    docs = _docs(spark, sf_dir)
    merges = BPE.learn_bpe(docs, "text", num_merges=_BPE_GATE_MERGES)
    enc = BPE.bpe_encode(docs, "text", merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_subwords"),
        (F.length("text") + 1).cast("long").alias("n_chars_eow"))


def _bpe_oracle_merges(sf_dir: str, num_merges: int = _BPE_GATE_MERGES,
                       min_count: int = 2) -> list[tuple[str, str]]:
    """Independent merge-table replay for the bpe_subwords oracle:
    DuckDB computes the (word, count) vocabulary with the same
    tokenizer the SQL twin uses, then a pure-Python reference merge
    loop (the tests/test_bpe.py algorithm: apply-all rewrite, argmax
    with (count DESC, pair ASC) tie-break, min_count early stop)
    produces the ordered merges — no engine code involved."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT w, COUNT(*) AS c FROM (SELECT unnest("
        f"{_duck_tokens('text')}) AS w FROM "
        f"read_parquet('{sf_dir}/documents.parquet')) GROUP BY w"
    ).fetchall()
    con.close()
    vocab: dict[tuple, int] = {}
    for w, c in rows:
        syms = tuple(list(w) + ["</w>"])
        vocab[syms] = vocab.get(syms, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + c
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(),
            key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        if cnt < min_count:
            break
        merges.append((a, b))
        out: dict[tuple, int] = {}
        for syms, c in vocab.items():
            s, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    s.append(a + b)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            t = tuple(s)
            out[t] = out.get(t, 0) + c
        vocab = out
    return merges


def _sql_bpe_subwords(sf_dir: str = _ORACLE_SF_DIR):
    # greedy BPE encoder as a recursive CTE: each step merges the
    # LEFTMOST occurrence of the LOWEST-rank applicable pair (exactly
    # operators/bpe.py encode_word); a word's terminal state is its
    # minimum-length row, so only counts survive the recursion
    def _sq(s: str) -> str:
        return s.replace("'", "''")

    merges = _bpe_oracle_merges(sf_dir)
    whens = " ".join(f"WHEN '{_sq(l)} {_sq(r)}' THEN {k}"
                     for k, (l, r) in enumerate(merges))
    rank_case = (f"CASE syms[i] || ' ' || syms[i + 1] {whens} "
                 f"ELSE NULL END")
    return f"""
WITH RECURSIVE
wtoks AS (
  SELECT doc_id, unnest({_duck_tokens('text')}) AS word
  FROM documents),
words AS (SELECT DISTINCT word FROM wtoks),
enc AS (
  SELECT word,
         list_append([substring(word, i, 1)
                      FOR i IN range(1, length(word) + 1)],
                     '</w>') AS syms
  FROM words
  UNION ALL
  SELECT word,
         syms[1:bi-1] || [syms[bi] || syms[bi+1]]
                      || syms[bi+2:len(syms)] AS syms
  FROM (
    SELECT word, syms,
           list_position(rks,
             list_min(list_filter(rks, x -> x IS NOT NULL))) AS bi
    FROM (
      SELECT word, syms,
             [{rank_case} FOR i IN range(1, len(syms))] AS rks
      FROM enc) t1) t2
  WHERE bi IS NOT NULL),
wn AS (SELECT word, MIN(len(syms)) AS n_sub FROM enc GROUP BY word),
per_doc AS (
  SELECT t.doc_id, SUM(w.n_sub) AS n_subwords
  FROM wtoks t JOIN wn w USING (word) GROUP BY t.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n_subwords, 0) AS BIGINT) AS n_subwords,
       CAST(length(d.text) + 1 AS BIGINT) AS n_chars_eow
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# --------------------------------------------------------------------- #
# round-6 STAGED gate queries: oracle-tested now (tests/test_round6_
# staged.py), but NOT registered in queries() — the round-5 head-50 is
# exactly full (4 promoted + 4 never-green + 26 r2 + 16 oldest-r3), and
# the rotation contract (tests/test_gate_coverage.py) forbids pushing a
# never-green entry out of the head.  Round 6 moves these into
# queries()/oracle_sql() verbatim.

def _q_decontaminate_spans(spark, sf_dir):
    """Span-level test-set decontamination (dedup.decontaminate_spans):
    excise every train token span matching a test 5-gram, keep the
    rest of the document — the excision variant of `decontaminate`
    (whole-doc drops throw away far more tokens than actually leaked).
    Same 90/10 split as the other decontamination gates; output is the
    cleaned text + the excised-token count per doc.  Train corpus
    never shuffles: broadcast test-hash array + one Arrow kernel."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"train": 0.9, "test": 0.1}, seed=1)
    train = split.where("split = 'train'").drop("split")
    test = split.where("split = 'test'").drop("split")
    out = dedup.decontaminate_spans(train, test, "text", "doc_id", n=5)
    return out.select("doc_id", "text", "n_removed")


def _sql_decontaminate_spans():
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.9 / (0.9 + 0.1)
    h48 = _duck_md5hash48("shingle")
    # NB: the start-position comprehension variable must NOT be `i` —
    # _duck_md5hash48's nibble fold has its own `FOR i IN range(1, 13)`
    # and DuckDB resolves the innermost binding (silent wrong hashes)
    gram = " || ' ' || ".join(f"lt[si + {j}]" for j in range(5))
    gram_h48 = _duck_md5hash48(f"({gram})")
    orig_toks = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    return f"""
WITH uh AS (
  SELECT doc_id, lang, text, {u} AS u FROM documents
),
tr AS (SELECT doc_id, lang, text FROM uh WHERE u < {acc!r}),
te AS (SELECT doc_id, lang, text FROM uh WHERE u >= {acc!r}),
{_duck_ngrams_cte('te', 'tesh', 5)},
teh AS (SELECT DISTINCT {h48} AS h FROM tesh),
trt AS (
  SELECT doc_id, text, {orig_toks} AS ot, {_duck_tokens('text')} AS lt
  FROM tr),
starts AS (
  SELECT doc_id,
         unnest(CASE WHEN len(lt) < 5 THEN [] ELSE
           [{{'s': si, 'h': {gram_h48}}}
            FOR si IN range(1, len(lt) - 3)] END) AS sg
  FROM trt),
flagged AS (
  SELECT s.doc_id, s.sg.s AS s
  FROM starts s JOIN teh ON s.sg.h = teh.h),
covered AS (
  SELECT DISTINCT doc_id, s + j AS p
  FROM flagged CROSS JOIN (SELECT unnest(range(0, 5)) AS j)),
tokpos AS (
  SELECT doc_id, generate_subscripts(ot, 1) AS p, unnest(ot) AS tok
  FROM trt),
marked AS (
  SELECT tp.doc_id, tp.p, tp.tok, (c.p IS NOT NULL) AS cov
  FROM tokpos tp LEFT JOIN covered c
    ON c.doc_id = tp.doc_id AND c.p = tp.p),
cl AS (
  SELECT doc_id,
         COALESCE(string_agg(tok, ' ' ORDER BY p)
                  FILTER (WHERE NOT cov), '') AS text,
         CAST(COUNT(*) FILTER (WHERE cov) AS INTEGER) AS n_removed
  FROM marked GROUP BY doc_id)
SELECT t.doc_id, COALESCE(cl.text, '') AS text,
       COALESCE(cl.n_removed, 0) AS n_removed
FROM tr t LEFT JOIN cl USING (doc_id)
"""


_COMPACT_ID_SHIFT = 1_000_000


def _q_index_compaction(spark, sf_dir):
    """MinHash-index vacuum (dedup.compact_minhash_index): the
    persisted near-dup signature index re-ingested under shifted ids
    (the max_bucket-skew duplicate-leak shape), then compacted to one
    row per distinct signature vector, lowest id kept — the decision-
    preserving survivors-only index.  One map-side-combinable
    aggregate on the k-BIGINT signature; no text."""
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    k = dedup.MINHASH_K
    bloat = sigs.unionByName(sigs.select(
        (F.col("id") + _COMPACT_ID_SHIFT).alias("id"),
        *[f"mh_{i}" for i in range(k)]))
    return dedup.compact_minhash_index(bloat, k)


def _sql_index_compaction():
    k = dedup.MINHASH_K
    mh = ", ".join(f"mh_{i}" for i in range(k))
    return f"""
WITH {_minhash_sig_sql()},
merged AS (
  SELECT doc_id AS id, {mh} FROM sig
  UNION ALL
  SELECT doc_id + {_COMPACT_ID_SHIFT} AS id, {mh} FROM sig),
compacted AS (
  SELECT MIN(id) AS id, {mh} FROM merged GROUP BY {mh})
SELECT id, {mh} FROM compacted
"""


def _q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram (the dedup-audit artifact every
    curation run reports): minhash components at threshold 0.5 →
    per-component member counts → (size, n_clusters).  Two stacked
    map-side-combinable aggregates on top of the dedup_components
    machinery — O(components) then O(distinct sizes) traffic."""
    comp = dedup.dedup_clusters(_docs(spark, sf_dir), "text", "doc_id",
                                threshold=0.5)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("size"))
            .groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))


def _sql_dedup_cluster_sizes():
    return f"""
WITH RECURSIVE {_components_cte(0.5)}
SELECT size, COUNT(*) AS n_clusters FROM (
  SELECT component, COUNT(*) AS size FROM comp GROUP BY component)
GROUP BY size
"""


def _q_dedup_lines(spark, sf_dir):
    """Corpus-wide boilerplate line removal (dedup.dedup_lines): a
    line in ≥ 2 distinct documents disappears from EVERY document —
    the nav/footer cleanup the per-doc C4 rules and keep-first span
    dedup can't express.  The synthetic corpus ships no newlines, so
    the gate first re-lines each doc into 8-token chunks (identical
    codegen on both engines; 153 of 3 434 distinct chunks repeat at
    sf0.01 — a non-trivial removal set).  Doc-frequency count keyed
    by full line MD5; corpus text never keys a shuffle."""
    t = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("filter(split(text, '\\\\s+'), x -> x != '')")
        .alias("t"))
    chunked = t.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(t) = 0 THEN '' ELSE array_join("
            "transform(sequence(0, CAST(ceil(size(t) / 8.0) AS INT)"
            " - 1), c -> concat_ws(' ', slice(t, c * 8 + 1, 8))), "
            "'\\n') END").alias("text"))
    out = dedup.dedup_lines(chunked, "text", "doc_id", min_df=2)
    return out.select("doc_id", "text", "n_lines_removed")


def _sql_dedup_lines():
    return """
WITH dtoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             AS t
  FROM documents),
chunks AS (
  SELECT doc_id, (pos - 1) // 8 AS ci,
         string_agg(tok, ' ' ORDER BY pos) AS cline
  FROM (SELECT doc_id, generate_subscripts(t, 1) AS pos,
               unnest(t) AS tok FROM dtoks)
  GROUP BY doc_id, (pos - 1) // 8),
relined AS (
  SELECT d.doc_id,
         COALESCE(string_agg(c.cline, chr(10) ORDER BY c.ci), '')
             AS text
  FROM documents d LEFT JOIN chunks c USING (doc_id)
  GROUP BY d.doc_id),
lines AS (
  SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1)
             AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM relined),
boiler AS (
  SELECT line FROM (
    SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line)
  WHERE df >= 2),
marked AS (
  SELECT l.doc_id, l.pos, l.line,
         (b.line IS NOT NULL) AS cov
  FROM lines l LEFT JOIN boiler b ON b.line = l.line),
cl AS (
  SELECT doc_id,
         COALESCE(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT cov), '') AS text,
         CAST(COUNT(*) FILTER (WHERE cov) AS INTEGER)
             AS n_lines_removed
  FROM marked GROUP BY doc_id)
SELECT d.doc_id, cl.text, cl.n_lines_removed
FROM relined d JOIN cl USING (doc_id)
"""


def _q_text_repetition(spark, sf_dir):
    """Gopher §A1.1 repetition report (text.repetition_signals): per
    doc, the top-2/3/4-gram character share and the duplicated-5-gram
    share — the frequency-table quality signals the narrow
    gopher_quality_flags expressions can't reach.  One explode +
    map-side count per n, O(corpus tokens) traffic.  Outputs are
    scaled-BIGINT nano-units (floor(x·1e9 + 0.5)): the shares are
    ratios of exact integer char counts over the same double, so the
    quantized values hash-match across engines."""
    from xpysom_dask_spark.operators import text as T

    rep = T.repetition_signals(_docs(spark, sf_dir), "text", "doc_id",
                               top_ns=(2, 3, 4), dup_ns=(5,))
    e9 = "CAST(FLOOR({c} * 1000000000.0 + 0.5) AS BIGINT)"
    return rep.select(
        "doc_id",
        F.expr(e9.format(c="top2gram_share")).alias("t2_e9"),
        F.expr(e9.format(c="top3gram_share")).alias("t3_e9"),
        F.expr(e9.format(c="top4gram_share")).alias("t4_e9"),
        F.expr(e9.format(c="dup5gram_share")).alias("d5_e9"))


def _sql_text_repetition():
    def gram(n):
        g = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
        return (f"CASE WHEN len(t) < {n} THEN [] ELSE "
                f"[{g} FOR i IN range(1, len(t) - {n - 2})] END")

    def top_cte(n):
        return f"""g{n} AS (
  SELECT doc_id, tlen, unnest({gram(n)}) AS g FROM base),
c{n} AS (
  SELECT doc_id, tlen, g, COUNT(*) AS c FROM g{n}
  GROUP BY doc_id, tlen, g),
a{n} AS (
  SELECT doc_id,
         MIN({{'nc': -c, 'g': g}}) AS top,
         SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dupc,
         MAX(tlen) AS tlen
  FROM c{n} GROUP BY doc_id)"""

    e9 = "CAST(FLOOR({x} * 1000000000.0 + 0.5) AS BIGINT)"
    top = ("COALESCE((-a{n}.top.nc) * length(a{n}.top.g) "
           "/ CAST(d.tlen AS DOUBLE), 0.0)")
    dup = "COALESCE(a{n}.dupc / CAST(d.tlen AS DOUBLE), 0.0)"
    return f"""
WITH dt AS (
  SELECT doc_id, {_duck_tokens('text')} AS t FROM documents),
base AS (
  SELECT doc_id, t, length(array_to_string(t, ' ')) AS tlen FROM dt),
{top_cte(2)},
{top_cte(3)},
{top_cte(4)},
{top_cte(5)}
SELECT d.doc_id,
       {e9.format(x=top.format(n=2))} AS t2_e9,
       {e9.format(x=top.format(n=3))} AS t3_e9,
       {e9.format(x=top.format(n=4))} AS t4_e9,
       {e9.format(x=dup.format(n=5))} AS d5_e9
FROM base d
LEFT JOIN a2 ON a2.doc_id = d.doc_id
LEFT JOIN a3 ON a3.doc_id = d.doc_id
LEFT JOIN a4 ON a4.doc_id = d.doc_id
LEFT JOIN a5 ON a5.doc_id = d.doc_id
"""


def _q_streaming_top_terms(spark, sf_dir):
    """Streaming heavy hitters (the one CLASSIC streaming-aggregation
    shape the gate set lacked): documents replayed as a file stream,
    tokens counted by a stateful streaming groupBy in COMPLETE mode,
    drained with availableNow — the result equals the batch aggregate
    exactly, so the oracle is plain SQL.  Top-20 by (count DESC, term
    ASC): the tie-break makes the LIMIT deterministic across
    engines."""
    import tempfile
    import uuid

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = _staged_gate_dir(
        "sttermsgate", sf_dir,
        lambda p: docs.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(docs.schema).parquet(tmp)
    toks = stream.select(F.explode(F.expr(
        "filter(split(lower(text), '\\\\s+'), x -> x != '')"))
        .alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    name = "q_stream_topterms_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, counts.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return (spark.table(name)
            .orderBy(F.col("n").desc(), "term").limit(20))


def _sql_streaming_top_terms():
    return f"""
SELECT term, COUNT(*) AS n
FROM (SELECT unnest({_duck_tokens('text')}) AS term FROM documents)
GROUP BY term
ORDER BY n DESC, term ASC
LIMIT 20
"""


def _q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink → source round-trip as a gate (the interchange
    format every downstream tokenizer job consumes; the sources/sinks
    family had tests but no driver-verified row): write the documents
    table as gzip JSONL, read it back with an explicit schema (no
    inference pre-pass), and aggregate per (lang, source) — counts,
    exact char sums, and an md5-XOR content checksum over doc_id:text
    so a dropped/mangled row or a broken escape changes the result."""
    import tempfile

    from xpysom_dask_spark.sources.readers import load_jsonl
    from xpysom_dask_spark.sources.writers import write_jsonl

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang",
                                       "source", "n_chars")
    tmp = tempfile.mkdtemp(prefix="jsonlgate_")
    # the sink write IS this gate's tested surface, so it
    # stays per-invocation — but the directory must not
    # leak across bench repeats (r12 optimization pass,
    # the r11-ADVICE /tmp-leak class)
    import atexit
    import shutil
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    write_jsonl(docs, tmp)
    back = load_jsonl(
        spark, tmp,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
    chk = ("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), "
           "':', text)), 1, 12), 16, 10) AS BIGINT)")
    return (back.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_chars").cast("bigint"))
                 .alias("sum_chars"),
                 F.expr(f"bit_xor({chk})").alias("content_xor")))


def _sql_jsonl_roundtrip():
    chk = _duck_md5hash48("concat(CAST(doc_id AS VARCHAR), ':', text)")
    return f"""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       bit_xor({chk}) AS content_xor
FROM documents
GROUP BY lang, source
"""


def _pq_gate_codebook(spark, sf_dir):
    """Fixed (m=8, k=8, dsub=8) gate codebook: the vec_id<8 embedding
    rows sliced into 8 sub-vectors, codeword index = vec_id order (the
    kmeans_assign fixed-centroid idiom — SQL-derivable, so the oracle
    replays encoding without replaying a Lloyd fit; the real fit is
    covered by tests/test_pq.py's numpy differential)."""
    import numpy as np

    rows = _emb(spark, sf_dir).where("vec_id < 8").orderBy("vec_id") \
        .select("embedding").collect()
    M = np.stack([np.asarray(r["embedding"], np.float64) for r in rows])
    return M.reshape(8, 8, 8).transpose(1, 0, 2).copy()


def _q_pq_codes(spark, sf_dir):
    """Product-quantization encode pass (operators/pq.py pq_encode):
    every embedding compressed to 8 sub-space codeword indices against
    the fixed gate codebook — one broadcast Arrow pass, the corpus
    never shuffles.  Codes serialize to a space-joined string (the
    driver's pandas canon can't sort list columns) and the
    reconstruction error ships as the order-free scaled-BIGINT sum of
    per-sub-space floors — both sides accumulate sub-space distances
    coordinate-sequentially in float64, so the hash is exact."""
    from xpysom_dask_spark.operators import pq as PQ

    emb = _emb(spark, sf_dir)
    book = _pq_gate_codebook(spark, sf_dir)
    out = PQ.pq_encode(emb, book, err_col="err_u",
                       err_int_scale=10**6)
    return out.select(
        "vec_id",
        F.expr("array_join(transform(codes, x -> cast(x as string)), "
               "' ')").alias("codes"),
        "err_u")


def _duck_pq_subdist(evec: str, cvec: str) -> str:
    """Sub-space squared-L2 between 8-wide slices at 0-based sub `s.sub`
    of two FLOAT[] columns, accumulated in DOUBLE in coordinate order
    (list_sum left fold == the operator's sequential kernel).  Variable
    is `j` — never `i` (the _duck_md5hash48 shadowing pitfall)."""
    d = (f"(CAST({evec}[s.sub*8 + j] AS DOUBLE) "
         f"- CAST({cvec}[s.sub*8 + j] AS DOUBLE))")
    return f"list_sum([{d} * {d} FOR j IN range(1, 9)])"


def _sql_pq_codes():
    d2 = _duck_pq_subdist("e.embedding", "c.cvec")
    return f"""
WITH cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cidx, embedding AS cvec
  FROM embeddings WHERE vec_id < 8),
subs AS (SELECT unnest(range(0, 8)) AS sub),
subd AS (
  SELECT e.vec_id, s.sub, c.cidx, {d2} AS d2
  FROM embeddings e CROSS JOIN subs s CROSS JOIN cent c),
best AS (
  SELECT vec_id, sub, cidx, d2,
         row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY d2, cidx) AS rn
  FROM subd)
SELECT vec_id,
       string_agg(CAST(cidx AS VARCHAR), ' ' ORDER BY sub) AS codes,
       CAST(SUM(CAST(FLOOR(d2 * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS err_u
FROM best WHERE rn = 1
GROUP BY vec_id
"""


def _q_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance top-k (operators/pq.py pq_adc_topk):
    the corpus scored through its 8-byte codes against 5 query LUTs —
    m integer lookups + adds per candidate, no float GEMM, the codes
    relation never shuffles.  lut_scale floors the LUTs into integer
    micro-units, so candidate sums are order-free BIGINTs and the
    ranking (dist ASC, neighbor_id ASC) is bit-reproducible on any
    partitioning and in the oracle's replay."""
    from xpysom_dask_spark.operators import pq as PQ

    emb = _emb(spark, sf_dir)
    book = _pq_gate_codebook(spark, sf_dir)
    codes = PQ.pq_encode(emb, book)
    qs = emb.where("vec_id < 5")
    return PQ.pq_adc_topk(book, codes, qs, k=5, lut_scale=10**6,
                          exclude_self=True)


def _sql_pq_adc():
    enc = _duck_pq_subdist("e.embedding", "c.cvec")
    lutd = _duck_pq_subdist("q.qvec", "c.cvec")
    return f"""
WITH cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cidx, embedding AS cvec
  FROM embeddings WHERE vec_id < 8),
subs AS (SELECT unnest(range(0, 8)) AS sub),
subd AS (
  SELECT e.vec_id, s.sub, c.cidx, {enc} AS d2
  FROM embeddings e CROSS JOIN subs s CROSS JOIN cent c),
codes AS (
  SELECT vec_id, sub, cidx AS code
  FROM (SELECT vec_id, sub, cidx,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cidx) AS rn
        FROM subd)
  WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qvec
      FROM embeddings WHERE vec_id < 5),
lut AS (
  SELECT q.qid, s.sub, c.cidx,
         CAST(FLOOR({lutd} * 1000000.0 + 0.5) AS BIGINT) AS dq
  FROM q CROSS JOIN subs s CROSS JOIN cent c),
adc AS (
  SELECT l.qid, co.vec_id AS neighbor_id,
         CAST(SUM(l.dq) AS BIGINT) AS dist
  FROM codes co
  JOIN lut l ON l.sub = co.sub AND l.cidx = co.code
  GROUP BY l.qid, co.vec_id),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist, neighbor_id) AS rn
  FROM adc WHERE qid != neighbor_id)
SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist
FROM r WHERE rn <= 5
"""


def _q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ build + search (operators/pq.py build_ivfpq_index /
    ivfpq_topk — the FAISS IVFPQ serving layout): corpus
    coarse-assigned to 4 fixed cells (vec_id<4 rows), residuals
    PQ-encoded against a fixed 8-codeword book (vec_id 4..11 sliced),
    index written partitioned by cell, then 3 queries searched at
    FULL probe (nprobe = n_cells) with integer-scaled LUTs — the
    configuration whose result the oracle replays end-to-end: coarse
    argmin, residual encode, per-(query,cell) LUT, ADC sum, exact
    top-5.  All distance folds are coordinate-sequential float64 on
    both engines, so every argmin and the final ranking hash-match.

    The index is built ONCE per (process, sf_dir) — the warc_ingest
    staging idiom: the build is deterministic (fixed coarse/book
    slices), a serving gate should time SERVING, and a fresh mkdtemp
    per invocation leaked an index directory per bench repeat."""
    from xpysom_dask_spark.operators import pq as PQ

    emb = _emb(spark, sf_dir)
    coarse, book, path = _ivfpq_gate_index(spark, sf_dir, emb)
    qs = emb.where("vec_id < 3")
    return PQ.ivfpq_topk(spark, path, coarse, book, qs, k=5,
                         nprobe=4, lut_scale=10**6)


#: staged IVF-PQ gate indexes, one per (process, sf_dir) — see
#: _q_ivfpq_topk's staging note
_IVFPQ_GATE_IDX: dict = {}


def _ivfpq_gate_index(spark, sf_dir, emb):
    """Build (or fetch) the deterministic IVF-PQ gate index for
    ``sf_dir``: coarse = embeddings 0..3, book = embeddings 4..11
    re-sliced, index parquet written cell-partitioned under an
    atexit-cleaned temp dir."""
    cached = _IVFPQ_GATE_IDX.get(sf_dir)
    if cached is not None:
        return cached
    import atexit
    import shutil
    import tempfile

    import numpy as np

    from xpysom_dask_spark.operators import pq as PQ

    rows = emb.where("vec_id < 12").orderBy("vec_id") \
        .select("embedding").collect()
    M = np.stack([np.asarray(r["embedding"], np.float64)
                  for r in rows])
    coarse = M[:4]
    book = M[4:12].reshape(8, 8, 8).transpose(1, 0, 2).copy()
    path = tempfile.mkdtemp(prefix="ivfpqgate_")
    PQ.build_ivfpq_index(coarse, book, emb, path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    _IVFPQ_GATE_IDX[sf_dir] = (coarse, book, path)
    return _IVFPQ_GATE_IDX[sf_dir]


def _ivfpq_oracle_ctes():
    """Shared WITH-block for the IVF-PQ oracles: fixed books, coarse
    argmin, residual encode, per-(query,cell) integer LUTs, ADC sums,
    per-query (dist, id) ranking as ``r(qid, neighbor_id, dist, rn)``."""
    def sq(a, b):
        d = f"(CAST({a} AS DOUBLE) - CAST({b} AS DOUBLE))"
        return f"{d} * {d}"

    def rsq(e, c, b):
        d = (f"((CAST({e} AS DOUBLE) - CAST({c} AS DOUBLE)) "
             f"- CAST({b} AS DOUBLE))")
        return f"{d} * {d}"

    full = ("list_sum(["
            + sq("e.embedding[j]", "ct.cvec[j]")
            + " FOR j IN range(1, 65)])")
    enc = ("list_sum(["
           + rsq("e.embedding[s.sub*8 + j]", "ct.cvec[s.sub*8 + j]",
                 "b.bvec[s.sub*8 + j]")
           + " FOR j IN range(1, 9)])")
    lutd = ("list_sum(["
            + rsq("q.qvec[s.sub*8 + j]", "ct.cvec[s.sub*8 + j]",
                  "b.bvec[s.sub*8 + j]")
            + " FOR j IN range(1, 9)])")
    return f"""cents AS (
  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS cvec
  FROM embeddings WHERE vec_id < 4),
book AS (
  SELECT CAST(vec_id - 4 AS INTEGER) AS bidx, embedding AS bvec
  FROM embeddings WHERE vec_id >= 4 AND vec_id < 12),
subs AS (SELECT unnest(range(0, 8)) AS sub),
ad AS (
  SELECT e.vec_id, ct.cell, {full} AS d2
  FROM embeddings e CROSS JOIN cents ct),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cell) AS rn
    FROM ad) WHERE rn = 1),
rd AS (
  SELECT e.vec_id, a.cell, s.sub, b.bidx, {enc} AS d2
  FROM embeddings e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN cents ct ON ct.cell = a.cell
  CROSS JOIN subs s CROSS JOIN book b),
codes AS (
  SELECT vec_id, cell, sub, bidx AS code FROM (
    SELECT vec_id, cell, sub, bidx,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, bidx) AS rn
    FROM rd) WHERE rn = 1),
q AS (SELECT vec_id AS qid, embedding AS qvec
      FROM embeddings WHERE vec_id < 3),
lut AS (
  SELECT q.qid, ct.cell, s.sub, b.bidx,
         CAST(FLOOR({lutd} * 1000000.0 + 0.5) AS BIGINT) AS dq
  FROM q CROSS JOIN cents ct CROSS JOIN subs s CROSS JOIN book b),
adc AS (
  SELECT l.qid, co.vec_id AS neighbor_id,
         CAST(SUM(l.dq) AS BIGINT) AS dist
  FROM codes co
  JOIN lut l ON l.cell = co.cell AND l.sub = co.sub
            AND l.bidx = co.code
  GROUP BY l.qid, co.vec_id),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist, neighbor_id) AS rn
  FROM adc WHERE qid != neighbor_id)"""


def _sql_ivfpq_topk():
    return f"""
WITH {_ivfpq_oracle_ctes()}
SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist
FROM r WHERE rn <= 5
"""


def _q_ivfpq_rerank(spark, sf_dir):
    """Two-stage IVF-PQ serving (operators/pq.py ivfpq_rerank_topk):
    integer-deterministic ADC top-20 shortlist over the compressed
    index, exact squared-L2 rerank of only those 20 pairs per query —
    float math touches |Q|·20 pairs, never the corpus.  Both stages'
    folds are coordinate-sequential, so the oracle replays shortlist
    AND rerank end-to-end; dist2 ships floor-scaled.  The index is
    staged once per (process, sf_dir) — _q_ivfpq_topk's note."""
    from xpysom_dask_spark.operators import pq as PQ

    emb = _emb(spark, sf_dir)
    coarse, book, path = _ivfpq_gate_index(spark, sf_dir, emb)
    qs = emb.where("vec_id < 3")
    out = PQ.ivfpq_rerank_topk(spark, path, coarse, book, emb, qs,
                               k=5, shortlist=20, nprobe=4)
    return out.select(
        "query_id", "rank", "neighbor_id",
        F.expr("CAST(FLOOR(dist2 * 1000000.0 + 0.5) AS BIGINT)")
        .alias("d2_micro"))


def _sql_ivfpq_rerank():
    ex = ("list_sum([(CAST(q.qvec[j] AS DOUBLE) "
          "- CAST(e.embedding[j] AS DOUBLE)) "
          "* (CAST(q.qvec[j] AS DOUBLE) "
          "- CAST(e.embedding[j] AS DOUBLE)) "
          "FOR j IN range(1, 65)])")
    return f"""
WITH {_ivfpq_oracle_ctes()},
sl AS (SELECT qid, neighbor_id FROM r WHERE rn <= 20),
ex AS (
  SELECT sl.qid, sl.neighbor_id, {ex} AS d2
  FROM sl
  JOIN q ON q.qid = sl.qid
  JOIN embeddings e ON e.vec_id = sl.neighbor_id),
rr AS (
  SELECT qid, neighbor_id, d2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY d2, neighbor_id) AS rn
  FROM ex)
SELECT qid AS query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
       CAST(FLOOR(d2 * 1000000.0 + 0.5) AS BIGINT) AS d2_micro
FROM rr WHERE rn <= 5
"""


def _q_text_entropy(spark, sf_dir):
    """Char + token unigram Shannon entropy per document
    (text.entropy_signals) — the junk/base64/boilerplate detector pair
    the frequency-table family lacked.  All float work is log2 of
    integer counts (the lm_score ln-parity class), rounded to 6."""
    return T.entropy_signals(_docs(spark, sf_dir), "text", "doc_id")


def _sql_text_entropy():
    toks = _duck_tokens("text")
    return f"""
WITH ch AS (
  SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '.'))
             AS s
  FROM documents),
cc AS (SELECT id, s, COUNT(*) AS k FROM ch GROUP BY id, s),
ce AS (
  SELECT id, CAST(SUM(k) AS BIGINT) AS n_chars_e,
         ROUND(log2(CAST(SUM(k) AS DOUBLE))
               - SUM(CAST(k AS DOUBLE) * log2(CAST(k AS DOUBLE)))
                 / SUM(k), 6) AS char_entropy
  FROM cc GROUP BY id),
tk AS (
  SELECT doc_id AS id, unnest({toks}) AS s FROM documents),
tc AS (SELECT id, s, COUNT(*) AS k FROM tk GROUP BY id, s),
te AS (
  SELECT id, CAST(SUM(k) AS BIGINT) AS n_tok,
         ROUND(log2(CAST(SUM(k) AS DOUBLE))
               - SUM(CAST(k AS DOUBLE) * log2(CAST(k AS DOUBLE)))
                 / SUM(k), 6) AS token_entropy
  FROM tc GROUP BY id)
SELECT ce.id, ce.n_chars_e, ce.char_entropy, te.n_tok,
       te.token_entropy
FROM ce LEFT JOIN te ON te.id = ce.id
"""


def _q_text_hash_embedding(spark, sf_dir):
    """Signed feature-hashing vectorizer (text.hash_embedding — the
    model-free text→embedding bridge that feeds the ANN/dedup stack on
    raw text): 32 buckets off the engine-wide 48-bit md5 fold,
    UNNORMALIZED so every bucket is an exact integer sum of ±1 —
    the whole vectorizer replays in SQL with zero float work.  The
    vector serializes to a space-joined string (list-column canon
    rule)."""
    out = T.hash_embedding(_docs(spark, sf_dir), "text", "doc_id",
                           dim=32, normalize=False)
    return out.select(
        F.col("id").alias("doc_id"),
        F.expr("array_join(transform(vec, "
               "x -> cast(cast(x as bigint) as string)), ' ')")
        .alias("vec"))


def _sql_text_hash_embedding():
    toks = _duck_tokens("text")
    hv = _duck_md5hash48("s")
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({toks}) AS s FROM documents),
h AS (SELECT id, {hv} AS hv FROM toks),
b AS (SELECT id, CAST((hv // 2) % 32 AS INTEGER) AS bucket,
             CAST(1 - 2 * (hv % 2) AS BIGINT) AS sgn
      FROM h),
agg AS (SELECT id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
        FROM b GROUP BY id, bucket),
grid AS (
  SELECT d.id, g.bucket
  FROM (SELECT DISTINCT id FROM agg) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS bucket) g),
dense AS (
  SELECT grid.id, grid.bucket, COALESCE(agg.v, 0) AS v
  FROM grid LEFT JOIN agg
    ON agg.id = grid.id AND agg.bucket = grid.bucket)
SELECT id AS doc_id,
       string_agg(CAST(v AS VARCHAR), ' ' ORDER BY bucket) AS vec
FROM dense GROUP BY id
"""


def _q_pseudonymize(spark, sf_dir):
    """Keyed pseudonymization export pass (text.pseudonymize): customer
    names tokenized to salted sha256 tags — joinability preserved
    (same salt ⇒ same tags), irreversible without the salt; the
    returned join against orders proves keys still line up after
    tokenization.  Pure codegen, scan-speed, exact oracle."""
    cust = readers.load_table(spark, sf_dir, "customer")
    orders = readers.load_table(spark, sf_dir, "orders")
    tagged = T.pseudonymize(cust, ["c_name"], salt="export-2026")
    per = (orders.groupBy("o_custkey")
           .agg(F.count(F.lit(1)).alias("n_orders")))
    return (tagged.join(per, tagged.c_custkey == per.o_custkey)
            .select("c_custkey", "c_name", "c_mktsegment", "n_orders")
            .where(F.col("n_orders") >= 8))


def _sql_pseudonymize():
    return """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
  GROUP BY o_custkey)
SELECT c.c_custkey,
       substring(sha256(concat('export-2026', ':', c.c_name)), 1, 16)
           AS c_name,
       c.c_mktsegment, per.n_orders
FROM customer c JOIN per ON per.o_custkey = c.c_custkey
WHERE per.n_orders >= 8
"""


def _q_events_zscore(spark, sf_dir):
    """Per-group standardized anomaly scores (profile.zscore_by_group):
    event values ≥ 2σ from their own event type's mean.  The identity
    z = (n·vᵢ − Σv)/sqrt(n·Σv² − (Σv)²) keeps the numerator and
    radicand exact DECIMAL(38,0) integers, and IEEE sqrt/division are
    correctly rounded — z is bit-identical across engines, so even the
    threshold filter agrees exactly; output ships floor-scaled micro
    units."""
    from xpysom_dask_spark.operators import profile as PRF

    ev = readers.load_table(spark, sf_dir, "events")
    out = PRF.zscore_by_group(ev, "event_type", "value", "event_id",
                              decimals=2, threshold=2.0)
    return out.select(
        "event_id", "event_type",
        F.expr("CAST(FLOOR(z * 1000000.0 + 0.5) AS BIGINT)")
        .alias("z_micro"))


def _sql_events_zscore():
    return """
WITH b AS (
  SELECT event_id, event_type,
         CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS DECIMAL(38,0))
             AS vi
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT event_type, COUNT(*) AS n, SUM(vi) AS s_v,
         SUM(vi * vi) AS s_vv
  FROM b GROUP BY event_type),
z AS (
  SELECT b.event_id, b.event_type,
         CAST(m.n * b.vi - m.s_v AS DOUBLE)
         / sqrt(nullif(CAST(m.n * m.s_vv - m.s_v * m.s_v AS DOUBLE),
                       0.0)) AS z
  FROM b JOIN m USING (event_type))
SELECT event_id, event_type,
       CAST(FLOOR(z * 1000000.0 + 0.5) AS BIGINT) AS z_micro
FROM z WHERE abs(z) >= 2.0
"""


def _q_streaming_zscore(spark, sf_dir):
    """Online anomaly scoring (streaming/scoring.py stream_zscore):
    events replayed as a file stream, each arrival scored against
    FROZEN batch reference moments via a stateless stream-static
    broadcast join — no watermark, no state store, so the drained
    result equals batch events_zscore exactly (identical z identity,
    identical oracle SQL shape)."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import stream_zscore, zscore_moments

    ev = readers.load_table(spark, sf_dir, "events") \
        .select("event_id", "event_type", "value")
    mom = zscore_moments(ev, "event_type", "value", decimals=2)
    tmp = _staged_gate_dir(
        "zscoregate", sf_dir,
        lambda p: ev.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(ev.schema).parquet(tmp)
    out = stream_zscore(stream, mom, "event_type", "value",
                        decimals=2, threshold=2.0)
    name = "q_stream_zscore_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True))
    return spark.table(name).select(
        "event_id", "event_type",
        F.expr("CAST(FLOOR(z * 1000000.0 + 0.5) AS BIGINT)")
        .alias("z_micro"))


def _q_events_ks_drift(spark, sf_dir):
    """Two-sample KS drift statistic (profile.ks_drift): the value
    distributions of the even- vs odd-id event halves compared on the
    centi-unit integer lattice — ``d_num`` is an exact BIGINT supremum
    (no sampling/sketch), ks ships floor-scaled.  The drift alarm a
    moments check can't raise when shape changes leave mean/σ alone."""
    from xpysom_dask_spark.operators import profile as PRF

    ev = readers.load_table(spark, sf_dir, "events")
    out = PRF.ks_drift(ev.where("event_id % 2 = 0"),
                       ev.where("event_id % 2 = 1"), "value",
                       decimals=2)
    nanb = "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
    return out.select(
        "n_a", "n_b", "d_num",
        F.expr(f"CAST(FLOOR(CAST(d_num AS DOUBLE) / {nanb} "
               "* 1000000.0 + 0.5) AS BIGINT)").alias("ks_micro"),
        "w1_num",
        F.expr(f"CAST(FLOOR(CAST(w1_num AS DOUBLE) / {nanb} / 100.0 "
               "* 1000000.0 + 0.5) AS BIGINT)").alias("w1_micro"))


def _sql_events_ks_drift():
    return """
WITH base AS (
  SELECT event_id,
         CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL),
ha AS (SELECT v, COUNT(*) AS ca FROM base
       WHERE event_id % 2 = 0 GROUP BY v),
hb AS (SELECT v, COUNT(*) AS cb FROM base
       WHERE event_id % 2 = 1 GROUP BY v),
m AS (
  SELECT COALESCE(ha.v, hb.v) AS v, COALESCE(ca, 0) AS ca,
         COALESCE(cb, 0) AS cb
  FROM ha FULL OUTER JOIN hb ON ha.v = hb.v),
c AS (
  SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
         COALESCE(lead(v) OVER (ORDER BY v), v) - v AS gap
  FROM m),
t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b FROM m)
SELECT t.n_a, t.n_b,
       CAST(MAX(ABS(t.n_b * c.cum_a - t.n_a * c.cum_b)) AS BIGINT)
           AS d_num,
       CAST(FLOOR(CAST(MAX(ABS(t.n_b * c.cum_a - t.n_a * c.cum_b))
                       AS DOUBLE)
                  / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) AS ks_micro,
       CAST(SUM(ABS(t.n_b * c.cum_a - t.n_a * c.cum_b) * c.gap)
            AS BIGINT) AS w1_num,
       CAST(FLOOR(CAST(SUM(ABS(t.n_b * c.cum_a - t.n_a * c.cum_b)
                           * c.gap) AS DOUBLE)
                  / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE))
                  / 100.0 * 1000000.0 + 0.5) AS BIGINT) AS w1_micro
FROM c, t GROUP BY t.n_a, t.n_b
"""


def _q_fuzzy_join(spark, sf_dir):
    """Cross-table fuzzy record linkage (dedup.fuzzy_join_pairs): the
    hash-split document halves joined on near-identical TEXT — MinHash
    band keys of the small side broadcast, exact Jaccard verify, the
    entity-resolution join an equi-join can't express.  Jaccard is an
    exact rational of shingle counts; output ships floor-scaled."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   {"a": 0.9, "b": 0.1}, seed=1)
    a = split.where("split = 'a'").drop("split")
    b = split.where("split = 'b'").drop("split")
    pairs = dedup.fuzzy_join_pairs(a, b, "text", "doc_id",
                                   threshold=0.5, n=3)
    return pairs.select(
        "id_a", "id_b",
        F.expr("CAST(FLOOR(jaccard * 1000000.0 + 0.5) AS BIGINT)")
        .alias("jac_micro"))


def _sql_fuzzy_join():
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.9 / (0.9 + 0.1)
    return f"""
WITH uh AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, {u} AS u FROM documents)
  WHERE u < {acc!r}),
bh AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, {u} AS u FROM documents)
  WHERE u >= {acc!r}),
{_duck_ngrams_cte('uh', 'ash', 3)},
{_duck_ngrams_cte('bh', 'bsh', 3)},
{_duck_sig_from('ash', 'asig')},
{_duck_sig_from('bsh', 'bsig')},
{_duck_bands_from('asig', 'aband')},
{_duck_bands_from('bsig', 'bband')},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM aband a JOIN bband b ON a.band_key = b.band_key),
sza AS (SELECT doc_id, COUNT(*) AS n_sh FROM ash GROUP BY doc_id),
szb AS (SELECT doc_id, COUNT(*) AS n_sh FROM bsh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN ash sa ON sa.doc_id = p.id_a
  JOIN bsh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b)
SELECT i.id_a, i.id_b,
       CAST(FLOOR(CAST(i.n_inter AS DOUBLE)
                  / (na.n_sh + nb.n_sh - i.n_inter)
                  * 1000000.0 + 0.5) AS BIGINT) AS jac_micro
FROM inter i
JOIN sza na ON na.doc_id = i.id_a
JOIN szb nb ON nb.doc_id = i.id_b
WHERE CAST(i.n_inter AS DOUBLE)
        / (na.n_sh + nb.n_sh - i.n_inter) >= 0.5
"""


def _q_text_novelty(spark, sf_dir):
    """Per-doc n-gram novelty (text.novelty_score): fraction of a
    doc's distinct 3-grams that no other doc contains — the
    contribution/memorization-risk ranking that flags boilerplate
    families before pairwise dedup does.  Exact integer counts; the
    ratio ships floor-scaled."""
    out = T.novelty_score(_docs(spark, sf_dir), "text", "doc_id", n=3)
    return out.select(
        F.col("id").alias("doc_id"), "n_sh", "n_unique",
        F.expr("CAST(FLOOR(CAST(n_unique AS DOUBLE) "
               "/ CAST(n_sh AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)")
        .alias("novelty_micro"))


def _sql_text_novelty():
    return f"""
WITH {_duck_ngrams_cte('documents', 'dsh', 3)},
h AS (SELECT doc_id, md5(shingle) AS hh FROM dsh),
dfreq AS (SELECT hh, COUNT(*) AS df FROM h GROUP BY hh)
SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unique,
       CAST(FLOOR(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)
                  * 1000000.0 + 0.5) AS BIGINT) AS novelty_micro
FROM h JOIN dfreq d ON d.hh = h.hh
GROUP BY h.doc_id
"""


def _q_text_lang_consistency(spark, sf_dir):
    """Mixed-language detection (text.language_consistency): 32-token
    chunks language-ID'd independently, per-doc vote summary — the
    concatenation-artifact pre-filter a doc-level langid hides.
    Integer chunk counts; frac ships floor-scaled."""
    out = T.language_consistency(_docs(spark, sf_dir), "text",
                                 "doc_id", window=32)
    return out.select(
        F.col("id").alias("doc_id"), "n_chunks", "n_langs",
        "lang_dominant",
        F.expr("CAST(FLOOR(frac_dominant * 1000000.0 + 0.5) "
               "AS BIGINT)").alias("frac_micro"))


def _sql_text_lang_consistency():
    toks = ("list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '')")
    ctoks = ("list_filter(string_split_regex(lower(chunk_text), "
             "'\\s+'), x -> x <> '')")
    scores = {}
    for lang, words in T.LANG_STOPWORDS.items():
        lit = ", ".join(f"'{w}'" for w in words)
        scores[lang] = f"len(list_filter({ctoks}, t -> t IN ({lit})))"
    case = T.lang_id_case_sql(scores)
    return f"""
WITH t AS (SELECT doc_id AS id, {toks} AS tk FROM documents),
s AS (SELECT id, tk, unnest(range(0, len(tk), 32)) AS start
      FROM t WHERE len(tk) > 0),
ch AS (SELECT id, array_to_string(tk[start + 1 : start + 32], ' ')
                  AS chunk_text
       FROM s),
per AS (SELECT id, {case} AS lg FROM ch),
counts AS (SELECT id, lg, CAST(COUNT(*) AS BIGINT) AS c
           FROM per GROUP BY id, lg),
tot AS (SELECT id, CAST(SUM(c) AS BIGINT) AS n_chunks,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM counts GROUP BY id),
dom AS (SELECT id, lg AS lang_dominant, c AS dom_c FROM (
  SELECT id, lg, c, row_number() OVER (PARTITION BY id
      ORDER BY c DESC, lg ASC) AS rn FROM counts) WHERE rn = 1)
SELECT t.id AS doc_id, t.n_chunks, t.n_langs, d.lang_dominant,
       CAST(FLOOR(CAST(d.dom_c AS DOUBLE) / t.n_chunks
                  * 1000000.0 + 0.5) AS BIGINT) AS frac_micro
FROM tot t JOIN dom d ON d.id = t.id
"""


def _sql_multimodal_phash():
    u8 = ("CAST(least(greatest(FLOOR((CAST(e.embedding[j] AS DOUBLE) "
          "+ 1.0) * 127.5), 0), 255) AS BIGINT)")
    px = f"[{u8} FOR j IN range(1, 65)]"

    def word(lo, hi):
        return ("list_sum([CASE WHEN px[j] > m "
                "THEN (CAST(1 AS BIGINT) << (j - %d)) "
                "ELSE CAST(0 AS BIGINT) END "
                "FOR j IN range(%d, %d)])" % (lo, lo, hi + 1))

    return f"""
WITH raw AS (
  SELECT e.vec_id, {px} AS px FROM embeddings e),
m AS (
  SELECT vec_id, px, list_sum(px) / 64.0 AS m FROM raw),
sig AS (
  SELECT vec_id,
         CAST({word(1, 32)} AS BIGINT) AS w0,
         CAST({word(33, 64)} AS BIGINT) AS w1
  FROM m),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.w0, c.w0))
              + bit_count(xor(q.w1, c.w1)) AS INTEGER) AS dist
  FROM sig q JOIN sig c ON q.vec_id < 5
  WHERE q.vec_id != c.vec_id),
r AS (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, neighbor_id) AS rn
  FROM pairs)
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist
FROM r WHERE rn <= 3
"""


def _sql_multimodal_video_fp():
    u8 = ("CAST(least(greatest(FLOOR((CAST(e.embedding[j] AS DOUBLE) "
          "+ 1.0) * 127.5), 0), 255) AS BIGINT)")
    px = f"[{u8} FOR j IN range(1, 65)]"

    def word(lo, hi):
        return ("list_sum([CASE WHEN px[j] > m "
                "THEN (CAST(1 AS BIGINT) << (j - %d)) "
                "ELSE CAST(0 AS BIGINT) END "
                "FOR j IN range(%d, %d)])" % (lo, lo, hi + 1))

    # DuckDB bit_count returns TINYINT — an uncast 8-way sum overflows
    # at 127; widen every term first
    xs = " + ".join(f"CAST(bit_count(xor(q.a{i}, c.a{i})) AS INTEGER)"
                    for i in range(8))
    acols = ", ".join(
        f"s{k}.w{w} AS a{2 * k + w}" for k in range(4) for w in (0, 1))
    joins = "\n  ".join(
        f"JOIN sig s{k} ON s{k}.vec_id = v.vid * 4 + {k}"
        for k in range(4))
    return f"""
WITH raw AS (
  SELECT e.vec_id, {px} AS px FROM embeddings e),
m AS (SELECT vec_id, px, list_sum(px) / 64.0 AS m FROM raw),
sig AS (
  SELECT vec_id,
         CAST({word(1, 32)} AS BIGINT) AS w0,
         CAST({word(33, 64)} AS BIGINT) AS w1
  FROM m),
vids AS (SELECT DISTINCT vec_id // 4 AS vid FROM sig),
vsig AS (
  SELECT v.vid, {acols}
  FROM vids v
  {joins}),
pairs AS (
  SELECT q.vid AS query_id, c.vid AS neighbor_id,
         CAST({xs} AS INTEGER) AS dist
  FROM vsig q JOIN vsig c ON q.vid < 3
  WHERE q.vid != c.vid),
r AS (
  SELECT query_id, neighbor_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, neighbor_id) AS rn
  FROM pairs)
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, dist
FROM r WHERE rn <= 3
"""


def _q_orc_roundtrip(spark, sf_dir):
    """ORC sink → source round-trip (sources/writers.py write_orc):
    the events table written as zstd ORC and read back, then audited
    per event_type — counts, a bit_xor md5-fold checksum over
    event_id, and the exact micro-unit value sum (floor-scaled BIGINT,
    so the double column is hash-comparable).  The jsonl_roundtrip
    twin for the COLUMNAR interchange path: one dropped row, mangled
    value, or broken ts normalization (BIGINT epoch-nanos contract)
    flips the result.  The oracle audits the source table directly —
    round-trip fidelity IS the claim."""
    import tempfile

    from xpysom_dask_spark.sources.writers import write_orc

    ev = readers.load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="orcgate_")
    # the sink write IS this gate's tested surface, so it
    # stays per-invocation — but the directory must not
    # leak across bench repeats (r12 optimization pass,
    # the r11-ADVICE /tmp-leak class)
    import atexit
    import shutil
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    write_orc(ev, tmp)
    back = spark.read.orc(tmp)
    chk = ("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 12),"
           " 16, 10) AS BIGINT)")
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.expr(f"bit_xor({chk})").alias("id_xor"),
                 F.sum(F.expr(
                     "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)"))
                 .cast("bigint").alias("value_micro"),
                 F.min("ts").cast("bigint").alias("min_ts"),
                 F.max("ts").cast("bigint").alias("max_ts")))


def _sql_orc_roundtrip():
    chk = _duck_md5hash48("CAST(event_id AS VARCHAR)")
    return f"""
SELECT event_type, COUNT(*) AS n_events,
       bit_xor({chk}) AS id_xor,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS value_micro,
       CAST(MIN(epoch_ns(ts)) AS BIGINT) AS min_ts,
       CAST(MAX(epoch_ns(ts)) AS BIGINT) AS max_ts
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------- #
# round-7 staged gates (operators landed in round 6; driver slots open
# at the round-7 rotation)


def _q_dedup_paragraphs(spark, sf_dir):
    """Intra-document exact segment dedup (operators/dedup.py
    dedup_paragraphs): with the corpus's space-separated synthetic
    text, segments are words — each document keeps the FIRST
    occurrence of every word, one narrow codegen'd expression, zero
    shuffle.  The oracle rebuilds identically via DuckDB's indexed
    list_filter, so text, order, and removal counts are hash-exact."""
    from xpysom_dask_spark.operators.dedup import dedup_paragraphs

    out = dedup_paragraphs(_docs(spark, sf_dir), "text", "doc_id",
                           sep=" ")
    return out.select("doc_id", "text",
                      F.col("n_paras_removed").alias("n_removed"))


def _sql_dedup_paragraphs():
    kept = ("list_filter(string_split(text, ' '), "
            "(x, i) -> list_position(string_split(text, ' '), x) = i)")
    return f"""
SELECT doc_id, array_to_string({kept}, ' ') AS text,
       CAST(len(string_split(text, ' ')) - len({kept}) AS INTEGER)
         AS n_removed
FROM documents
"""


def _q_text_dict_coverage(spark, sf_dir):
    """Corpus-head vocabulary coverage (operators/text.py
    dictionary_coverage): top-100 terms by (count DESC, term ASC),
    per-doc in-vocab fraction — vocab via TakeOrderedAndProject (no
    full sort), broadcast back, one groupBy(id).  Coverage emitted as
    the engine-wide scaled BIGINT."""
    from xpysom_dask_spark.operators.text import dictionary_coverage

    out = dictionary_coverage(_docs(spark, sf_dir), "text", "doc_id",
                              top_k=100)
    return out.select(
        "id", "n_tok", "n_in_vocab",
        F.expr("CAST(FLOOR(coverage * 1000000.0 + 0.5) AS BIGINT)")
        .alias("cov_e6"))


def _sql_text_dict_coverage():
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_duck_tokens('text')}) AS term
  FROM documents),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS n FROM toks GROUP BY term
    ORDER BY n DESC, term LIMIT 100)),
marked AS (
  SELECT t.id, (v.term IS NOT NULL) AS hit
  FROM toks t LEFT JOIN vocab v ON v.term = t.term)
SELECT id, COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_vocab,
       CAST(FLOOR(ROUND(CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END)
                             AS DOUBLE) / COUNT(*), 6)
                  * 1000000.0 + 0.5) AS BIGINT) AS cov_e6
FROM marked GROUP BY id
"""


_RP_OUT_DIM = 16


def _q_embedding_rp(spark, sf_dir):
    """JL sign random projection (operators/embeddings.py
    random_projection): 64 → 16 dims through the md5-derived ±1
    literal matrix, one narrow codegen'd projection.  Output is the
    space-joined scaled-BIGINT vector (the list-column serialization
    rule); the oracle re-derives every sign from the same public
    formula (embeddings.rp_signs) and folds in the same ascending
    order."""
    from xpysom_dask_spark.operators.embeddings import random_projection

    out = random_projection(_emb(spark, sf_dir), out_dim=_RP_OUT_DIM)
    return out.select(
        "vec_id",
        F.expr("array_join(transform(rp, x -> CAST(CAST(FLOOR("
               "x * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ' ')")
        .alias("rp_s"))


def _sql_embedding_rp():
    from xpysom_dask_spark.operators.embeddings import rp_signs

    signs = rp_signs(64, _RP_OUT_DIM)
    inv = 1.0 / float(_RP_OUT_DIM) ** 0.5
    terms = []
    for j in range(_RP_OUT_DIM):
        lits = ", ".join(f"{'-' if s < 0 else ''}1.0" for s in signs[j])
        fold = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                f"[CAST(embedding[p] AS DOUBLE) * ([{lits}])[p] "
                f"FOR p IN range(1, 65)]), (acc, v) -> acc + v)")
        terms.append(
            f"CAST(CAST(FLOOR(ROUND(({fold}) * CAST('{inv!r}' AS "
            f"DOUBLE), 6) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)")
    arr = ",\n         ".join(terms)
    return f"""
SELECT vec_id, array_to_string([{arr}], ' ') AS rp_s
FROM embeddings
"""


_EWMA_ALPHA, _EWMA_LAG = 0.25, 16


def _sql_events_ewma():
    from xpysom_dask_spark.operators.profile import ewma_weights

    w = ewma_weights(_EWMA_ALPHA, _EWMA_LAG)
    wlits = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in w)
    num = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"[l[p] * ([{wlits}])[len(l) - p + 1] "
           f"FOR p IN range(1, len(l) + 1)]), (acc, v) -> acc + v)")
    den = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"[([{wlits}])[p] FOR p IN range(1, len(l) + 1)]), "
           f"(acc, v) -> acc + v)")
    return f"""
WITH fr AS (
  SELECT event_id, event_type,
         list(CAST(value AS DOUBLE)) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN {_EWMA_LAG - 1} PRECEDING AND CURRENT ROW)
           AS l
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL)
SELECT event_id, event_type,
       CAST(FLOOR(ROUND(({num}) / ({den}), 6) * 1000000.0 + 0.5)
            AS BIGINT) AS ewma_e6
FROM fr
"""


def _q_knn_graph(spark, sf_dir):
    """Cell-local exact kNN graph (operators/similarity.py knn_graph):
    4 coarse cells (= embeddings rows vec_id<4, the _gate_books
    fixed-codebook idiom), exact cosine top-5 among same-cell peers —
    one assignment pass, one cell-keyed shuffle, blocked GEMM, final
    exact rank window.  The oracle replays assignment and ranking
    relationally."""
    import numpy as np

    from xpysom_dask_spark.operators.similarity import knn_graph

    emb = _emb(spark, sf_dir)
    cents = np.stack([
        np.asarray(r["embedding"], np.float64)
        for r in emb.where("vec_id < 4").orderBy("vec_id").collect()])
    out = knn_graph(emb, cents, k=5)
    return out.select(
        "vec_id", "rank", "neighbor_id",
        F.expr("CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT)")
        .alias("sim_e6"))


def _knn_graph_ctes(cent_pred: str = "vec_id < 4"):
    """The shared WITH-clause body: cell assignment (default the
    4-cell pin; ``cent_pred`` overrides — knn_label_purity passes the
    data-derived ⌊√N⌋ bound), same-cell cosine sims, exact
    (sim DESC, neighbor ASC) ranking — consumed by the knn_graph gate
    and re-consumed by graph_triangles."""
    dsq = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           "[(CAST(e.embedding[p] AS DOUBLE) "
           "- CAST(c.embedding[p] AS DOUBLE)) "
           "* (CAST(e.embedding[p] AS DOUBLE) "
           "- CAST(c.embedding[p] AS DOUBLE)) "
           "FOR p IN range(1, 65)]), (acc, v) -> acc + v)")
    dot = _DOT64.format(a="x.embedding", b="y.embedding")
    xx = _DOT64.format(a="x.embedding", b="x.embedding")
    yy = _DOT64.format(a="y.embedding", b="y.embedding")
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings
              WHERE {cent_pred}),
assign0 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {dsq}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
sims AS (
  SELECT ax.vec_id, ay.vec_id AS neighbor_id,
         ({dot}) / (sqrt({xx}) * sqrt({yy})) AS sim
  FROM assign0 ax
  JOIN assign0 ay ON ay.cid = ax.cid AND ay.vec_id <> ax.vec_id
  JOIN embeddings x ON x.vec_id = ax.vec_id
  JOIN embeddings y ON y.vec_id = ay.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims)"""


def _sql_knn_graph():
    return _knn_graph_ctes() + """
SELECT vec_id, rank, neighbor_id,
       CAST(FLOOR(ROUND(sim, 6) * 1000000.0 + 0.5) AS BIGINT)
         AS sim_e6
FROM ranked WHERE rank <= 5
"""


def _q_knn_graph_full(spark, sf_dir):
    """knn_graph at nprobe = n_cells — the OTHER end of the recall
    knob (operators/similarity.py knn_graph, same 4-cell codebook as
    the knn_graph gate): probing every cell makes the candidate set
    the whole corpus, so the cell-pruned plan must reproduce EXACT
    brute-force cosine top-5.  The oracle is plain all-pairs kNN — no
    cell replay — so this gate proves the probe fan-out, per-cell
    GEMM, and final rank window compose to the exact answer, covering
    both ends of the nprobe trade (nprobe=1 gate: recall-trade plan;
    here: exactness at full probe)."""
    import numpy as np

    from xpysom_dask_spark.operators.similarity import knn_graph

    emb = _emb(spark, sf_dir)
    cents = np.stack([
        np.asarray(r["embedding"], np.float64)
        for r in emb.where("vec_id < 4").orderBy("vec_id").collect()])
    out = knn_graph(emb, cents, k=5, nprobe=len(cents))
    return out.select(
        "vec_id", "rank", "neighbor_id",
        F.expr("CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT)")
        .alias("sim_e6"))


def _sql_knn_graph_full():
    dot = _DOT64.format(a="x.embedding", b="y.embedding")
    xx = _DOT64.format(a="x.embedding", b="x.embedding")
    yy = _DOT64.format(a="y.embedding", b="y.embedding")
    return f"""
WITH sims AS (
  SELECT x.vec_id, y.vec_id AS neighbor_id,
         ({dot}) / (sqrt({xx}) * sqrt({yy})) AS sim
  FROM embeddings x
  JOIN embeddings y ON y.vec_id <> x.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims)
SELECT vec_id, rank, neighbor_id,
       CAST(FLOOR(ROUND(sim, 6) * 1000000.0 + 0.5) AS BIGINT)
         AS sim_e6
FROM ranked WHERE rank <= 5
"""


_MRL_DIM = 16


def _q_embedding_mrl(spark, sf_dir):
    """Matryoshka truncation 64 → 16 with L2 renorm
    (operators/embeddings.py matryoshka_truncate): the zero-compute
    storage trade baseline next to embedding_rp/embedding_pca — one
    narrow slice + two ascending folds, no shuffle.  Output serialized
    scaled-BIGINT (list-column rule)."""
    from xpysom_dask_spark.operators.embeddings import matryoshka_truncate

    out = matryoshka_truncate(_emb(spark, sf_dir), _MRL_DIM)
    return out.select(
        "vec_id",
        F.expr("array_join(transform(mrl, x -> CAST(CAST(FLOOR("
               "x * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ' ')")
        .alias("mrl_s"))


def _sql_embedding_mrl():
    d = _MRL_DIM
    nrm = (f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"[CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS "
           f"DOUBLE) FOR p IN range(1, {d + 1})]), "
           f"(acc, v) -> acc + v))")
    elem = (f"CAST(CAST(FLOOR(ROUND(CAST(embedding[q] AS DOUBLE) "
            f"/ ({nrm}), 6) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)")
    raw = (f"CAST(CAST(FLOOR(ROUND(CAST(embedding[q] AS DOUBLE), 6) "
           f"* 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)")
    return f"""
SELECT vec_id,
       CASE WHEN ({nrm}) > 0
            THEN array_to_string([{elem} FOR q IN range(1, {d + 1})],
                                 ' ')
            ELSE array_to_string([{raw} FOR q IN range(1, {d + 1})],
                                 ' ')
       END AS mrl_s
FROM embeddings
"""


def _q_graph_triangles(spark, sf_dir):
    """Per-vertex triangle counts of the kNN graph
    (operators/graph.py triangle_counts over similarity.knn_graph's
    edges): the duplicate-family density audit — exact, via the
    degree-ordered compact-forward plan (skew-proof wedge join).  The
    oracle re-derives the same graph relationally and enumerates
    triangles by id order (enumeration order doesn't change the
    count)."""
    import numpy as np

    from xpysom_dask_spark.operators.graph import triangle_counts
    from xpysom_dask_spark.operators.similarity import knn_graph

    emb = _emb(spark, sf_dir)
    cents = np.stack([
        np.asarray(r["embedding"], np.float64)
        for r in emb.where("vec_id < 4").orderBy("vec_id").collect()])
    edges = knn_graph(emb, cents, k=5) \
        .select(F.col("vec_id").alias("id_a"),
                F.col("neighbor_id").alias("id_b"))
    return triangle_counts(edges)


def _sql_graph_triangles():
    return _knn_graph_ctes() + """,
topk AS (SELECT vec_id, neighbor_id FROM ranked WHERE rank <= 5),
e AS (
  SELECT DISTINCT least(vec_id, neighbor_id) AS a,
         greatest(vec_id, neighbor_id) AS b
  FROM topk WHERE vec_id <> neighbor_id),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
pv AS (SELECT unnest([x, y, z]) AS id FROM tri),
verts AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e)
SELECT v.id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n_triangles
FROM verts v
LEFT JOIN (SELECT id, COUNT(*) AS cnt FROM pv GROUP BY id) c
       ON c.id = v.id
"""


def _q_lsh_recall_audit(spark, sf_dir):
    """Empirical banded-MinHash recall audit (operators/dedup.py
    lsh_recall_audit): exact shared-shingle Jaccard ground truth vs
    the band join's actual candidates, per similarity decile — the
    measured version of the theoretical S-curve
    (similarity.lsh_band_recall), auditing the dedup stack's central
    approximation on the real corpus.  Exact integer ratios bucket
    identically on both engines."""
    from xpysom_dask_spark.operators.dedup import lsh_recall_audit

    # max_df=None: exact ground truth for the oracle twin (the finite
    # scale default would prune stop-shingle postings)
    return lsh_recall_audit(_docs(spark, sf_dir), "text", "doc_id",
                            max_df=None)


def _sql_lsh_recall_audit():
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, concat('{b}', ':', mh_{2 * b}, ':', "
        f"mh_{2 * b + 1}) AS band_key FROM sig"
        for b in range(dedup.MINHASH_K // 2))
    return f"""WITH {_minhash_sig_sql()},
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle
                     AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
exact AS (
  SELECT i.id_a, i.id_b,
         CAST(i.n_inter AS DOUBLE)
           / (na.n_sh + nb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  WHERE CAST(i.n_inter AS DOUBLE)
          / (na.n_sh + nb.n_sh - i.n_inter) >= 0.05),
marked AS (
  SELECT e.jaccard, (c.id_a IS NOT NULL) AS hit
  FROM exact e
  LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b)
SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INTEGER), 9) AS bucket,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught
FROM marked GROUP BY 1
"""


_TFIDF_K = 32


def _q_text_tfidf(spark, sf_dir):
    """Dense tf-idf vectors over the corpus-head vocabulary
    (operators/text.py tfidf_vectors): the vocabulary-BOUNDED twin of
    text_hash_embedding — smoothed idf, (count DESC, term ASC) slot
    order, sort-free dense rebuild.  Output serialized scaled-BIGINT
    (list-column rule); the only float work is one ln of an integer
    ratio per vocab term (the lm_score parity class)."""
    from xpysom_dask_spark.operators.text import tfidf_vectors

    out = tfidf_vectors(_docs(spark, sf_dir), "text", "doc_id",
                        top_k=_TFIDF_K)
    return out.select(
        "id",
        F.expr("array_join(transform(vec, x -> CAST(CAST(FLOOR("
               "x * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ' ')")
        .alias("vec_s"))


def _sql_text_tfidf():
    k = _TFIDF_K
    cells = ",\n       ".join(
        f"CAST(CAST(FLOOR(ROUND(COALESCE(MAX(v) FILTER (WHERE j = {j}),"
        f" 0), 6) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)"
        for j in range(k))
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({_duck_tokens('text')}) AS term
  FROM documents),
counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
vocab AS (
  SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term) - 1 AS j
  FROM (SELECT * FROM counts ORDER BY n DESC, term LIMIT {k})),
dfreq AS (
  SELECT term, COUNT(DISTINCT id) AS df_t FROM toks GROUP BY term),
dic AS (
  SELECT v.term, v.j,
         ln(CAST(1 + (SELECT COUNT(*) FROM documents) AS DOUBLE)
            / (d.df_t + 1)) + 1 AS idf
  FROM vocab v JOIN dfreq d ON d.term = v.term),
tf AS (
  SELECT t.id, d.j, COUNT(*) * ANY_VALUE(d.idf) AS v
  FROM toks t JOIN dic d ON d.term = t.term
  GROUP BY t.id, d.j)
SELECT id, array_to_string([{cells}], ' ') AS vec_s
FROM tf GROUP BY id
"""


def _q_streaming_ewma(spark, sf_dir):
    """Stateful streaming EWMA (streaming/state.py ewma_stream —
    applyInPandasWithState carrying the trailing lag−1 observations
    per key): events replayed as an event-time-ordered TWO-micro-batch
    file stream (maxFilesPerTrigger=1 over two ts-split files), so the
    gate exercises REAL cross-batch state carry-over; the drained
    result equals batch `events_ewma` exactly, and the oracle is
    shared verbatim."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming.state import ewma_stream

    ev = readers.load_table(spark, sf_dir, "events") \
        .where(F.col("value").isNotNull()) \
        .select("event_id", "event_type", "value", "ts")
    def _stage_ewma(p):
        mid = ev.agg(F.expr("percentile(ts, 0.5)")).first()[0]
        ev.where(F.col("ts") <= mid).repartition(1) \
            .write.mode("overwrite").parquet(p)
        ev.where(F.col("ts") > mid).repartition(1) \
            .write.mode("append").parquet(p)

    tmp = _staged_gate_dir("ewmagate", sf_dir, _stage_ewma)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(tmp))
    out = ewma_stream(stream, "event_type", "value", "ts", "event_id",
                      alpha=_EWMA_ALPHA, lag=_EWMA_LAG)
    name = "q_stream_ewma_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, out.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True))
    return spark.table(name).select(
        F.col("id").alias("event_id"), F.col("key").alias("event_type"),
        F.expr("CAST(FLOOR(ewma * 1000000.0 + 0.5) AS BIGINT)")
        .alias("ewma_e6"))


_PACK_BINS_BUDGET = 256


def _q_pack_bins(spark, sf_dir):
    """NO-STRADDLE next-fit bin packing (operators/packing.py
    pack_bins_next_fit — the SFT packer: a document never crosses a
    bin boundary, unlike pack_sequences' pretraining concat-and-chunk).
    Hash-route to 8 parallel groups, one ordered sequential pass per
    group inside Arrow; the oracle replays EVERY bin decision with a
    recursive CTE over the same id order (recursion depth = rows per
    group — gate-scale by construction)."""
    from xpysom_dask_spark.operators import packing

    docs = _docs(spark, sf_dir).withColumn("n_tok", T.token_count("text"))
    out = packing.pack_bins_next_fit(docs, "doc_id", "n_tok",
                                     budget=_PACK_BINS_BUDGET,
                                     n_groups=8, seed=2)
    return out.select("doc_id", "n_tok", "group", "bin_id", "bin_fill",
                      F.col("oversize").cast("int").alias("oversize"))


def _sql_pack_bins():
    toks = _duck_tokens("text")
    u = _duck_unit_hash("doc_id", 2)
    b = _PACK_BINS_BUDGET
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tok,
         CAST(floor({u} * 8) AS BIGINT) AS grp
  FROM documents),
seq AS (
  SELECT doc_id, grp, n_tok,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
  FROM base),
rec AS (
  SELECT grp, rn, doc_id, n_tok,
         CAST(0 AS BIGINT) AS bin, n_tok AS fill
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.grp, s.rn, s.doc_id, s.n_tok,
         CASE WHEN r.fill + s.n_tok <= {b} THEN r.bin
              ELSE r.bin + 1 END,
         CASE WHEN r.fill + s.n_tok <= {b} THEN r.fill + s.n_tok
              ELSE s.n_tok END
  FROM rec r JOIN seq s ON s.grp = r.grp AND s.rn = r.rn + 1)
SELECT doc_id, n_tok, grp AS "group",
       CAST(grp * 1099511627776 + bin AS BIGINT) AS bin_id,
       CAST(fill AS BIGINT) AS bin_fill,
       CAST(CASE WHEN n_tok > {b} THEN 1 ELSE 0 END AS INTEGER)
         AS oversize
FROM rec
"""


_FFD_GATE_DOCS = 64


def _q_pack_bins_ffd(spark, sf_dir):
    """First-fit-DECREASING no-straddle packing on a BOUNDED config
    (operators/packing.py pack_bins_ffd): the tighter SFT packer whose
    open-bin state made it the one non-gated packer until now.  Gate
    config: the first 64 docs by doc_id, ONE pack group — small enough
    that the oracle replays EVERY first-fit decision with a recursive
    CTE carrying the open-bin fill list as BIGINT[] state (depth = 64,
    state = O(bins)).  Full-scale FFD state is NOT SQL-replayable in
    bounded recursion (PLANS.md); this bounded replay proves the
    kernel's placement logic exactly, the invariant/replica tests in
    tests/test_packing.py cover the hash-routed scale shape."""
    from xpysom_dask_spark.operators import packing

    docs = (_docs(spark, sf_dir)
            .withColumn("n_tok", T.token_count("text"))
            .orderBy("doc_id").limit(_FFD_GATE_DOCS))
    out = packing.pack_bins_ffd(docs, "doc_id", "n_tok",
                                budget=_PACK_BINS_BUDGET,
                                n_groups=1, seed=2)
    return out.select("doc_id", "n_tok", "group", "bin_id", "bin_fill",
                      F.col("oversize").cast("int").alias("oversize"))


def _sql_pack_bins_ffd():
    toks = _duck_tokens("text")
    b = _PACK_BINS_BUDGET
    # first-fit position in the open-bin fill list (1-based; NULL =
    # no open bin fits → a new bin opens)
    cand = (f"([i FOR i IN range(1, len(r.fills)+1) "
            f"IF r.fills[i] + s.n_tok <= {b}])[1]")
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tok
  FROM (SELECT * FROM documents ORDER BY doc_id
        LIMIT {_FFD_GATE_DOCS})),
seq AS (
  SELECT doc_id, n_tok,
         ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS rn
  FROM base),
rec AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS fills,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tok,
         CAST(NULL AS BIGINT) AS bin, CAST(NULL AS BIGINT) AS fill_after
  UNION ALL
  SELECT s.rn,
         CASE WHEN {cand} IS NULL THEN list_append(r.fills, s.n_tok)
              ELSE r.fills[1:{cand}-1]
                   || [r.fills[{cand}] + s.n_tok]
                   || r.fills[{cand}+1:len(r.fills)] END,
         s.doc_id, s.n_tok,
         CASE WHEN {cand} IS NULL THEN len(r.fills)
              ELSE {cand} - 1 END,
         CASE WHEN {cand} IS NULL THEN s.n_tok
              ELSE r.fills[{cand}] + s.n_tok END
  FROM rec r JOIN seq s ON s.rn = r.rn + 1)
SELECT doc_id, n_tok, CAST(0 AS BIGINT) AS "group",
       CAST(bin AS BIGINT) AS bin_id,
       CAST(fill_after AS BIGINT) AS bin_fill,
       CAST(CASE WHEN n_tok > {b} THEN 1 ELSE 0 END AS INTEGER)
         AS oversize
FROM rec WHERE rn >= 1
"""


def _q_dedup_containment(spark, sf_dir):
    """Asymmetric near-dup pairs by shingle CONTAINMENT
    (operators/dedup.py containment_pairs, Broder's
    resemblance/containment pair): |A∩B| / min(|A|,|B|) ≥ 0.9 — the
    quote-inclusion detector symmetric Jaccard misses; Jaccard rides
    along for classification.  Exact integer ratios, posting-list
    candidate join."""
    from xpysom_dask_spark.operators.dedup import containment_pairs

    out = containment_pairs(_docs(spark, sf_dir), "text", "doc_id",
                            threshold=0.9, max_df=None)
    return out.select(
        "id_a", "id_b",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"))


def _sql_dedup_containment():
    return f"""
WITH {_shingle_cte_sql()},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / LEAST(na.n_sh, nb.n_sh), 6) AS containment,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / (na.n_sh + nb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE CAST(i.n_inter AS DOUBLE) / LEAST(na.n_sh, nb.n_sh) >= 0.9
"""


def _q_vocab_zipf(spark, sf_dir):
    """Zipf-law fit of the corpus frequency head (profile.zipf_fit):
    exact OLS of ln(freq) on ln(rank) over the top-100 vocabulary —
    every moment is a LEFT FOLD over the rank-sorted array (plain
    SUM() of doubles has no defined order), so slope/intercept/r² are
    bit-identical across engines."""
    from xpysom_dask_spark.operators.profile import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), "text", "doc_id", top_k=100)


def _sql_vocab_zipf():
    toks = _duck_tokens("text")

    def fold(body):
        return (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                f"[{body} FOR p IN range(1, len(lx) + 1)]), "
                f"(acc, v) -> acc + v)")

    sx = fold("lx[p]")
    sy = fold("ly[p]")
    sxx = fold("lx[p] * lx[p]")
    sxy = fold("lx[p] * ly[p]")
    syy = fold("ly[p] * ly[p]")
    return f"""
WITH toks AS (
  SELECT unnest({toks}) AS term FROM documents),
counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
head AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 100),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank, n
  FROM head),
arrs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS lx,
         list(ln(CAST(n AS DOUBLE)) ORDER BY rank) AS ly
  FROM ranked),
m AS (
  SELECT k, CAST(k AS DOUBLE) AS kd,
         {sx} AS sx, {sy} AS sy, {sxx} AS sxx,
         {sxy} AS sxy, {syy} AS syy
  FROM arrs)
SELECT k,
       ROUND((kd * sxy - sx * sy) / (kd * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((kd * sxy - sx * sy) / (kd * sxx - sx * sx)) * sx)
             / kd, 6) AS intercept,
       ROUND(((kd * sxy - sx * sy) * (kd * sxy - sx * sy))
             / ((kd * sxx - sx * sx) * (kd * syy - sy * sy)), 6) AS r2
FROM m
"""


def _q_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned sink → partition-pruned source round-trip
    (sources/writers.py write_partitioned): documents written
    partitioned by lang, read back filtered to the corpus's MIN lang
    (so the scan opens ONE partition directory — PartitionFilters,
    asserted in tests/test_round7_staged.py), audited per source with
    the orc_roundtrip checksum scheme.  The oracle audits the source
    table directly — round-trip + pruning fidelity IS the claim."""
    import tempfile

    from xpysom_dask_spark.sources.writers import write_partitioned

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="partgate_")
    # the sink write IS this gate's tested surface, so it
    # stays per-invocation — but the directory must not
    # leak across bench repeats (r12 optimization pass,
    # the r11-ADVICE /tmp-leak class)
    import atexit
    import shutil
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    write_partitioned(docs, tmp, "lang")
    min_lang = docs.agg(F.min("lang")).first()[0]
    back = spark.read.parquet(tmp).where(F.col("lang") == min_lang)
    chk = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12),"
           " 16, 10) AS BIGINT)")
    return (back.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.expr(f"bit_xor({chk})").alias("id_xor"),
                 F.sum(F.col("n_chars").cast("bigint")).alias("chars")))


def _sql_partitioned_roundtrip():
    chk = _duck_md5hash48("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT source, COUNT(*) AS n_docs,
       bit_xor({chk}) AS id_xor,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
WHERE lang = (SELECT MIN(lang) FROM documents)
GROUP BY source
"""



_BM25_QDOCS = "doc_id % 199 = 3"
_BM25_K1, _BM25_B = 1.2, 0.75


def _q_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval (operators/text.py bm25_topk): 3 corpus
    docs as queries (doc_id % 199 = 3), Robertson/Lucene scoring with
    integer-summed per-term scaled scores — no float accumulation
    order on either engine; the single ln per term is the zipf/
    lm_score parity class.  max_df=None = exact oracle config."""
    from xpysom_dask_spark.operators.text import bm25_topk

    docs = _docs(spark, sf_dir)
    qdocs = docs.where(_BM25_QDOCS).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"))
    return bm25_topk(docs, "text", "doc_id", qdocs, "qtext", "query_id",
                     k=10, k1=_BM25_K1, b=_BM25_B)


def _sql_bm25_topk():
    toks = _duck_tokens("text")
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH tk AS (
  SELECT doc_id AS id, unnest({toks}) AS term FROM documents),
tf AS (
  SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
q AS (
  SELECT query_id, unnest(list_distinct(qt)) AS term FROM (
    SELECT doc_id AS query_id, {toks} AS qt
    FROM documents WHERE {_BM25_QDOCS})),
qd AS (
  SELECT q.query_id, q.term,
         ln(1.0 + (CAST((SELECT n FROM st) AS DOUBLE) - d.df_t + 0.5)
                  / (d.df_t + 0.5)) AS idf
  FROM q JOIN dfq d USING (term)),
sc AS (
  SELECT qd.query_id, tf.id,
         CAST(FLOOR(qd.idf * tf.tf * {k1 + 1.0!r}
              / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.dl
                 / (SELECT avgdl FROM st)))
              * 1000000.0 + 0.5) AS BIGINT) AS s_e6
  FROM tf JOIN qd USING (term) JOIN dl ON dl.id = tf.id),
agg AS (
  SELECT query_id, id, CAST(SUM(s_e6) AS BIGINT) AS score_e6
  FROM sc GROUP BY 1, 2),
rk AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_e6 DESC, id) AS rank
  FROM agg)
SELECT query_id, rank, id AS doc_id, score_e6 FROM rk WHERE rank <= 10
"""


# ===================================================================== #
# round-10 staging area

_QH_LO, _QH_HI, _QH_BINS = 0.0, 80000.0, 128
_QH_QS = (0.25, 0.5, 0.75, 0.95, 1.0)


def _q_quantile_hist(spark, sf_dir):
    """Mergeable-quantile sketch gate (operators/sketches.py
    histogram_sketch / histogram_quantiles): per-l_returnflag
    quantiles of l_extendedprice from a fixed-range 128-bin integer
    histogram — the quantiles leg of the sketch family (counts: CM,
    distincts: HLL).  Fixed [lo, hi) grid = engine-exact cells AND
    quantiles (the documented trade vs t-digest's approximate
    merges); lower-bin-edge convention, scaled-e6 values."""
    from xpysom_dask_spark.operators import sketches as SK

    li = readers.load_table(spark, sf_dir, "lineitem")
    hist = SK.histogram_sketch(li, "l_extendedprice", _QH_LO, _QH_HI,
                               _QH_BINS, group_cols=("l_returnflag",))
    return SK.histogram_quantiles(hist, _QH_QS, _QH_LO, _QH_HI,
                                  _QH_BINS,
                                  group_cols=("l_returnflag",))


def _sql_quantile_hist():
    lo, hi, bins = _QH_LO, _QH_HI, _QH_BINS
    width = (hi - lo) / bins
    qrows = " UNION ALL ".join(
        f"SELECT {int(round(q * 1e6))} AS q_e6, {q!r} AS q"
        for q in _QH_QS)
    return f"""
WITH hist AS (
  SELECT l_returnflag,
         least(greatest(CAST(FLOOR((CAST(l_extendedprice AS DOUBLE)
                 - {lo!r}) * {bins / (hi - lo)!r}) AS INTEGER), 0),
               {bins - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS count
  FROM lineitem WHERE l_extendedprice IS NOT NULL
  GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, bin, count,
         SUM(count) OVER (PARTITION BY l_returnflag
                          ORDER BY bin) AS cumc,
         SUM(count) OVER (PARTITION BY l_returnflag) AS n
  FROM hist),
qs AS ({qrows})
SELECT c.l_returnflag, CAST(q.q_e6 AS BIGINT) AS q_e6,
       CAST(FLOOR(({lo!r} + MIN(c.bin) * {width!r}) * 1000000.0
                  + 0.5) AS BIGINT) AS value_e6
FROM cum c CROSS JOIN qs q
WHERE c.cumc >= CEIL(c.n * q.q)
GROUP BY 1, 2
"""


def _q_streaming_qhist(spark, sf_dir):
    """Streaming quantile-histogram maintenance
    (streaming/sketches.py hist_stream): lineitem replayed as a file
    stream, the per-l_returnflag 128-bin cell relation maintained by
    a stateful streaming groupBy whose state IS the sketch — bounded
    at groups·bins rows by construction (the fixed [lo, hi) grid is
    what makes the streaming form a pure aggregation; adaptive
    sketches can't do this).  Drained in COMPLETE mode the cells
    equal the batch histogram_sketch bit-for-bit (additive integer
    cells), so the oracle is the batch cells SQL."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import hist_stream

    li = readers.load_table(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_extendedprice")
    tmp = _staged_gate_dir(
        "stqhgate", sf_dir,
        lambda p: li.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(li.schema).parquet(tmp)
    cells = hist_stream(stream, "l_extendedprice", _QH_LO, _QH_HI,
                        _QH_BINS, group_cols=("l_returnflag",))
    name = "q_stream_qh_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, cells.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return spark.table(name).select("l_returnflag", "bin", "count")


def _sql_streaming_qhist():
    lo, hi, bins = _QH_LO, _QH_HI, _QH_BINS
    return f"""
SELECT l_returnflag,
       least(greatest(CAST(FLOOR((CAST(l_extendedprice AS DOUBLE)
               - {lo!r}) * {bins / (hi - lo)!r}) AS INTEGER), 0),
             {bins - 1}) AS bin,
       CAST(COUNT(*) AS BIGINT) AS count
FROM lineitem WHERE l_extendedprice IS NOT NULL
GROUP BY 1, 2
"""


_KMV_K = 64


_DSIR_B = 1024


def _q_dsir_importance(spark, sf_dir):
    """DSIR importance-resampling weights (operators/text.py
    dsir_importance; Xie et al. NeurIPS 2023): every document scored
    by the log-ratio of its hashed unigram+bigram bag under the
    English subcorpus's bucket model vs the whole corpus's — the
    "find more data like my curated set" selection primitive.  Per-
    bucket e6-rounded log-ratio, integer per-doc sums (bm25 parity
    class); the weight table is bounded at n_buckets rows and
    broadcasts."""
    from xpysom_dask_spark.operators.text import dsir_importance

    docs = _docs(spark, sf_dir)
    return dsir_importance(docs, docs.where(F.col("lang") == "en"),
                           "text", "doc_id", n_buckets=_DSIR_B)


def _sql_dsir_importance():
    toks = _duck_tokens("text")
    return f"""
WITH tk AS (SELECT doc_id, lang, {toks} AS arr FROM documents),
feats AS (
  SELECT doc_id, lang, unnest(arr) AS f FROM tk
  UNION ALL
  SELECT doc_id, lang,
         unnest([arr[i] || ' ' || arr[i + 1]
                 FOR i IN range(1, len(arr))]) AS f
  FROM tk),
fb AS (SELECT doc_id, lang,
              CAST(({_duck_h48('f', 0)}) % {_DSIR_B} AS INTEGER)
              AS bucket
       FROM feats),
tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc FROM fb
       WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rc FROM fb
       GROUP BY 1),
tt AS (SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) + {_DSIR_B} AS t
       FROM tc),
rt AS (SELECT CAST(COALESCE(SUM(rc), 0) AS BIGINT) + {_DSIR_B} AS r
       FROM rc),
w AS (
  SELECT r.bucket,
         CAST(FLOOR((ln(COALESCE(t.tc, 0) + 1.0)
                     - ln(CAST(tt.t AS DOUBLE))
                     - ln(r.rc + 1.0)
                     + ln(CAST(rt.r AS DOUBLE))) * 1000000.0 + 0.5)
              AS BIGINT) AS w_e6
  FROM rc r LEFT JOIN tc t ON t.bucket = r.bucket
  CROSS JOIN tt CROSS JOIN rt),
dc AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM fb
       GROUP BY 1, 2)
SELECT dc.doc_id AS id, CAST(SUM(dc.c) AS BIGINT) AS n_feats,
       CAST(SUM(dc.c * w.w_e6) AS BIGINT) AS logw_e6
FROM dc JOIN w ON w.bucket = dc.bucket
GROUP BY 1
"""


def _q_trigram_backoff(spark, sf_dir):
    """Stupid-backoff trigram LM scoring (operators/text.py
    trigram_backoff_score; Brants et al. EMNLP 2007) in the held-out
    configuration backoff exists for: LM counts from even doc_ids,
    odd doc_ids scored — unseen trigrams fall to bigram then add-1
    unigram evidence.  Per-position e6-rounded logs, integer sums
    (bm25 parity class)."""
    from xpysom_dask_spark.operators.text import trigram_backoff_score

    docs = _docs(spark, sf_dir)
    return trigram_backoff_score(
        docs.where(F.col("doc_id") % 2 == 1),
        "text", "doc_id",
        lm_df=docs.where(F.col("doc_id") % 2 == 0))


def _sql_trigram_backoff():
    toks = _duck_tokens("text")
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS arr FROM documents),
tri AS (
  SELECT doc_id,
         unnest([struct_pack(a := arr[i], b := arr[i + 1],
                             c := arr[i + 2])
                 FOR i IN range(1, len(arr) - 1)]) AS t
  FROM tk),
lmtri AS (SELECT t.a, t.b, t.c, CAST(COUNT(*) AS BIGINT) AS n_abc
          FROM tri WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
bi AS (
  SELECT doc_id,
         unnest([struct_pack(x := arr[i], y := arr[i + 1])
                 FOR i IN range(1, len(arr))]) AS p
  FROM tk),
lmbi AS (SELECT p.x, p.y, CAST(COUNT(*) AS BIGINT) AS n_xy
         FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2),
un AS (SELECT doc_id, unnest(arr) AS u FROM tk),
lmun AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_u FROM un
         WHERE doc_id % 2 = 0 GROUP BY 1),
tot AS (SELECT CAST(COALESCE(SUM(n_u), 0) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v FROM lmun),
pos AS (SELECT doc_id, t.a, t.b, t.c FROM tri WHERE doc_id % 2 = 1),
sc AS (
  SELECT p.doc_id,
         CASE WHEN t3.n_abc IS NOT NULL
              THEN ln(CAST(t3.n_abc AS DOUBLE))
                   - ln(CAST(ab.n_xy AS DOUBLE))
              WHEN bc.n_xy IS NOT NULL
              THEN ln(0.4) + ln(CAST(bc.n_xy AS DOUBLE))
                   - ln(CAST(ub.n_u AS DOUBLE))
              ELSE ln(0.4) + ln(0.4)
                   + ln(COALESCE(uc.n_u, 0) + 1.0)
                   - ln(CAST(tot.n + tot.v AS DOUBLE))
         END AS ls
  FROM pos p
  LEFT JOIN lmtri t3 ON t3.a = p.a AND t3.b = p.b AND t3.c = p.c
  LEFT JOIN lmbi ab ON ab.x = p.a AND ab.y = p.b
  LEFT JOIN lmbi bc ON bc.x = p.b AND bc.y = p.c
  LEFT JOIN lmun ub ON ub.u = p.b
  LEFT JOIN lmun uc ON uc.u = p.c
  CROSS JOIN tot)
SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CAST(FLOOR(ls * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_e6
FROM sc GROUP BY 1
"""


_PSI_LO, _PSI_HI, _PSI_BINS = 0.0, 500.0, 20


def _q_psi_drift(spark, sf_dir):
    """Population Stability Index drift terms (operators/profile.py
    psi_drift): the value distributions of the even- vs odd-id event
    halves compared over a fixed 20-bucket [0, 500) grid — one row
    per bucket with exact BIGINT counts and the Laplace-smoothed PSI
    term floor-scaled e6.  The banded production drift monitor
    (0.1 / 0.25 alarm convention) next to ks_drift's supremum pair;
    the corpus never shuffles — only two ≤ bins-row cell relations
    move."""
    from xpysom_dask_spark.operators import profile as PRF

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = readers.load_table(spark, sf_dir, "events")
    return PRF.psi_drift(ev.where("event_id % 2 = 0"),
                         ev.where("event_id % 2 = 1"), "value",
                         lo=_PSI_LO, hi=_PSI_HI, bins=_PSI_BINS)


def _sql_psi_drift():
    lo, hi, b = _PSI_LO, _PSI_HI, _PSI_BINS
    def hist(par):
        return (f"SELECT least(greatest(CAST(FLOOR((CAST(value AS "
                f"DOUBLE) - {lo!r}) * {b / (hi - lo)!r}) AS INTEGER),"
                f" 0), {b - 1}) AS bin, COUNT(*) AS c FROM events "
                f"WHERE event_id % 2 = {par} AND value IS NOT NULL "
                f"GROUP BY 1")
    pa = f"(CAST(ca + 1 AS DOUBLE) / CAST(n_a + {b} AS DOUBLE))"
    pb = f"(CAST(cb + 1 AS DOUBLE) / CAST(n_b + {b} AS DOUBLE))"
    ratio = (f"(CAST((ca + 1) * (n_b + {b}) AS DOUBLE) / "
             f"CAST((cb + 1) * (n_a + {b}) AS DOUBLE))")
    return f"""
WITH spine AS (SELECT CAST(range AS INTEGER) AS bin FROM range({b})),
ha AS ({hist(0)}),
hb AS ({hist(1)}),
m AS (
  SELECT s.bin, CAST(COALESCE(ha.c, 0) AS BIGINT) AS ca,
         CAST(COALESCE(hb.c, 0) AS BIGINT) AS cb
  FROM spine s LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)),
t AS (
  SELECT bin, ca, cb, CAST(SUM(ca) OVER () AS BIGINT) AS n_a,
         CAST(SUM(cb) OVER () AS BIGINT) AS n_b
  FROM m)
SELECT bin, ca, cb, n_a, n_b,
       CAST(FLOOR(({pa} - {pb}) * ln({ratio})
                  * 1000000.0 + 0.5) AS BIGINT) AS term_e6
FROM t
"""


def _q_streaming_hll(spark, sf_dir):
    """Streaming HyperLogLog maintenance (streaming/sketches.py
    hll_stream): events.user_id replayed as a file stream, the 2^9
    register relation maintained by a stateful streaming groupBy
    whose state IS the sketch — the register MAX is the HLL merge,
    so state is bounded at 2^p rows by construction with no
    watermark.  Drained in COMPLETE mode the registers equal the
    batch hll_registers bit-for-bit (max cells are order-free), so
    the oracle is the batch register SQL — the max-merge leg of the
    streaming sketch family next to streaming_cms (sums) and
    streaming_qhist (bucket counts)."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import hll_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = (readers.load_table(spark, sf_dir, "events")
          .select(F.col("user_id").cast("string").alias("k")))
    tmp = _staged_gate_dir(
        "sthllgate", sf_dir,
        lambda p: ev.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(ev.schema).parquet(tmp)
    regs = hll_stream(stream, "k", p=_HLL_P)
    name = "q_stream_hll_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, regs.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return spark.table(name).select("bucket", "rho")


def _sql_streaming_hll():
    p = _HLL_P
    rem_bits = 48 - p
    rem_pow = 1 << rem_bits
    return f"""
WITH u AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events),
h AS (SELECT ({_duck_h48('k', 0)}) AS hv FROM u)
SELECT CAST(hv // {1 << rem_bits} AS INTEGER) AS bucket,
       CAST(MAX(CASE WHEN hv % {1 << rem_bits} = 0 THEN {rem_bits + 1}
            ELSE {rem_bits + 1}
                 - length(ltrim(bin(hv % {1 << rem_bits}), '0'))
            END) AS INTEGER) AS rho
FROM h GROUP BY 1
"""


_LPA_ITER = 4


def _q_communities_lpa(spark, sf_dir):
    """Deterministic synchronous label-propagation communities
    (operators/graph.py label_propagation) over the knn_graph edge
    relation (same 4-cell codebook + k=5 as the knn_graph /
    pagerank_hubs gates): 4 fixed rounds, most-frequent
    closed-neighborhood label (self-vote damping) with
    smallest-label tie-break — the dense-family detector
    a connected-components pass can't provide (one spurious LSH edge
    merges two components but not two LPA communities).  Every round
    replays exactly in the oracle as a materialized CTE (count +
    window top-1 per node)."""
    import numpy as np

    from xpysom_dask_spark.operators.graph import label_propagation
    from xpysom_dask_spark.operators.similarity import knn_graph

    emb = _emb(spark, sf_dir)
    cents = np.stack([
        np.asarray(r["embedding"], np.float64)
        for r in emb.where("vec_id < 4").orderBy("vec_id").collect()])
    edges = knn_graph(emb, cents, k=5).select("vec_id", "neighbor_id")
    out = label_propagation(edges, "vec_id", "neighbor_id",
                            n_iter=_LPA_ITER)
    return out.select(F.col("id").cast("long").alias("id"),
                      F.col("community").cast("long").alias("community"))


def _sql_communities_lpa():
    sql = _knn_graph_ctes() + """,
edges AS (SELECT vec_id AS a, neighbor_id AS b FROM ranked
          WHERE rank <= 5),
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT a AS src, b AS dst FROM edges
    UNION ALL SELECT b AS src, a AS dst FROM edges)
  WHERE src <> dst),
verts AS (SELECT DISTINCT v AS id FROM (
  SELECT a AS v FROM edges UNION SELECT b AS v FROM edges)),
it0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS l FROM sym)"""
    for i in range(1, _LPA_ITER + 1):
        sql += f""",
it{i} AS MATERIALIZED (
  SELECT id, l FROM (
    SELECT id, l, ROW_NUMBER() OVER (
        PARTITION BY id ORDER BY c DESC, l) AS rn
    FROM (SELECT id, l, COUNT(*) AS c FROM (
            SELECT e.src AS id, p.l AS l
            FROM sym e JOIN it{i - 1} p ON p.id = e.dst
            UNION ALL SELECT id, l FROM it{i - 1})
          GROUP BY 1, 2))
  WHERE rn = 1)"""
    return sql + f"""
SELECT CAST(v.id AS BIGINT) AS id,
       CAST(COALESCE(t.l, v.id) AS BIGINT) AS community
FROM verts v LEFT JOIN it{_LPA_ITER} t ON t.id = v.id
"""


def _q_mad_outliers(spark, sf_dir):
    """Robust per-group outlier profile (operators/profile.py
    mad_outliers): median + MAD of events.value per event_type on the
    centi-unit integer lattice (lower-median convention — exact, no
    interpolation), outliers = rows with 1e4·|v−med| > 44478·mad (the
    3σ-equivalent integer rule via the 1.4826 consistency constant).
    The heavy-tail twin of zscore_outliers: mean/σ are dragged by the
    very outliers they should flag, medians are not.  One corpus scan
    collapses to per-group lattice histograms; everything downstream
    is windows + joins on that bounded relation."""
    from xpysom_dask_spark.operators import profile as PRF

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = readers.load_table(spark, sf_dir, "events")
    return PRF.mad_outliers(ev, "event_type", "value", decimals=2)


def _sql_mad_outliers():
    def cum(src):
        return (f"SELECT grp, v, c, SUM(c) OVER (PARTITION BY grp "
                f"ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum, "
                f"SUM(c) OVER (PARTITION BY grp) AS n FROM {src}")
    return f"""
WITH base AS (
  SELECT event_type AS grp,
         CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL),
h AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2),
c1 AS ({cum('h')}),
med AS (SELECT grp, MIN(v) AS med, MAX(n) AS n FROM c1
        WHERE cum >= (n + 1) // 2 GROUP BY 1),
dev AS (SELECT h.grp, ABS(h.v - m.med) AS v,
               CAST(SUM(h.c) AS BIGINT) AS c
        FROM h JOIN med m USING (grp) GROUP BY 1, 2),
c2 AS ({cum('dev')}),
mad AS (SELECT grp, MIN(v) AS mad FROM c2
        WHERE cum >= (n + 1) // 2 GROUP BY 1),
outl AS (SELECT d.grp,
                CAST(SUM(CASE WHEN d.v * 10000 > 44478 * md.mad
                         THEN d.c ELSE 0 END) AS BIGINT) AS n_outliers
         FROM dev d JOIN mad md USING (grp) GROUP BY 1)
SELECT m.grp AS event_type, CAST(m.n AS BIGINT) AS n,
       CAST(m.med AS BIGINT) AS med_i,
       CAST(md.mad AS BIGINT) AS mad_i, o.n_outliers
FROM med m JOIN mad md USING (grp) JOIN outl o USING (grp)
"""


_WP_MERGES = 30
_WP_MAXCHARS = 6


def _q_wordpiece_vocab(spark, sf_dir):
    """WordPiece tokenizer end-to-end (operators/wordpiece.py) — the
    BERT-family member of the tokenizer trio (BPE: bpe_subwords,
    unigram-LM: unigram_segments): train 30 likelihood-scored merges
    on the EVEN doc_ids (held-out configuration), encode every
    document with greedy longest-match-first under a 6-char word cap
    (so the all-or-nothing [UNK] rule actually fires — the corpus
    has 7/8-char words), report per-doc subword + UNK counts.  The
    oracle re-learns the vocabulary with an independent pure-Python
    reference loop over DuckDB word counts (the e12-floor score key
    is the DEFINED selection rule — exact in Python bignums and in
    the engine's DECIMAL(38,0) ranking alike) and replays the greedy
    encoder as a jump-table + chained fixed-step walk, so the
    learned vocab, the match lengths, AND the UNK rule are all
    cross-checked."""
    from xpysom_dask_spark.operators import wordpiece as WP

    docs = _docs(spark, sf_dir)
    toks = WP.learn_wordpiece(docs.where("doc_id % 2 = 0"), "text",
                              num_merges=_WP_MERGES)
    enc = WP.wordpiece_encode(docs, "text", set(toks),
                              max_word_chars=_WP_MAXCHARS)
    return enc.select(
        "doc_id",
        F.size("wp_tokens").cast("long").alias("n_subwords"),
        F.expr("size(filter(wp_tokens, t -> t = '[UNK]'))")
        .cast("long").alias("n_unk"))


def _wordpiece_oracle_vocab(sf_dir: str,
                            num_merges: int = _WP_MERGES,
                            min_pair_count: int = 2) -> list[str]:
    """Independent WordPiece reference trainer for the oracle: DuckDB
    computes the even-doc (word, count) vocabulary with the same
    tokenizer the SQL twin uses, then a pure-Python loop applies the
    likelihood-merge definition — score key
    ``(pair_count · 10^12) // (count(left) · count(right))`` (exact
    bignum floor), (score DESC, pair ASC) tie-break, min-pair-count
    early stop — no engine code involved."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT w, COUNT(*) AS c FROM (SELECT unnest("
        f"{_duck_tokens('text')}) AS w FROM "
        f"read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % 2 = 0) GROUP BY w").fetchall()
    con.close()
    vocab: dict[tuple, int] = {}
    for w, c in rows:
        syms = tuple([w[0]] + ["##" + ch for ch in w[1:]])
        vocab[syms] = vocab.get(syms, 0) + c
    tokens = sorted({s for syms in vocab for s in syms})
    for _ in range(num_merges):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for syms, c in vocab.items():
            for s in syms:
                sc[s] = sc.get(s, 0) + c
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + c
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(),
            key=lambda kv: (
                -((kv[1] * 10 ** 12)
                  // (sc[kv[0][0]] * sc[kv[0][1]])),
                kv[0][0] + " " + kv[0][1]))
        if cnt < min_pair_count:
            break
        j = a + b[2:]
        tokens.append(j)
        out: dict[tuple, int] = {}
        for syms, c in vocab.items():
            s, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    s.append(j)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            out[tuple(s)] = out.get(tuple(s), 0) + c
        vocab = out
    return tokens


def _sql_wordpiece_vocab(sf_dir: str = _ORACLE_SF_DIR):
    # greedy longest-match-first replay: a non-recursive jump table
    # (word, pos) -> longest consumed match, then a fixed cap-step
    # walk (each live step consumes >= 1 char, so cap steps suffice);
    # over-cap words and unmatchable positions collapse to one [UNK]
    def _sq(s: str) -> str:
        return s.replace("'", "''")

    toks = _wordpiece_oracle_vocab(sf_dir)
    vals = ", ".join(f"('{_sq(t)}')" for t in toks)
    cap = _WP_MAXCHARS
    sql = f"""
WITH wtoks AS (
  SELECT doc_id, unnest({_duck_tokens('text')}) AS word
  FROM documents),
words AS (SELECT DISTINCT word FROM wtoks),
vocab AS (SELECT * FROM (VALUES {vals}) v(tok)),
pos AS (SELECT word, unnest(range(1, length(word) + 1)) AS p
        FROM words WHERE length(word) <= {cap}),
jump AS MATERIALIZED (
  SELECT p.word, p.p,
         MAX(CASE WHEN p.p = 1 THEN length(v.tok)
                  ELSE length(v.tok) - 2 END) AS mlen
  FROM pos p JOIN vocab v
    ON CASE WHEN p.p = 1
            THEN v.tok NOT LIKE '##%'
                 AND v.tok = substring(p.word, 1, length(v.tok))
            ELSE length(v.tok) >= 3 AND v.tok LIKE '##%'
                 AND v.tok = '##' || substring(p.word, p.p,
                                               length(v.tok) - 2)
       END
  GROUP BY 1, 2),
s0 AS (SELECT word, 1 AS pos, 0 AS n, length(word) > {cap} AS unk,
              length(word) AS L FROM words)"""
    for i in range(1, cap + 1):
        sql += f""",
s{i} AS MATERIALIZED (
  SELECT s.word,
         CASE WHEN s.unk OR s.pos > s.L OR j.mlen IS NULL
              THEN s.pos ELSE s.pos + j.mlen END AS pos,
         CASE WHEN s.unk OR s.pos > s.L OR j.mlen IS NULL
              THEN s.n ELSE s.n + 1 END AS n,
         CASE WHEN s.unk THEN TRUE
              WHEN s.pos <= s.L AND j.mlen IS NULL THEN TRUE
              ELSE FALSE END AS unk,
         s.L
  FROM s{i - 1} s LEFT JOIN jump j
    ON j.word = s.word AND j.p = s.pos AND NOT s.unk
       AND s.pos <= s.L)"""
    return sql + f""",
wn AS (SELECT word,
              CAST(CASE WHEN unk THEN 1 ELSE n END AS BIGINT)
                AS n_sub,
              CAST(CASE WHEN unk THEN 1 ELSE 0 END AS BIGINT)
                AS n_unk
       FROM s{cap}),
per_doc AS (
  SELECT t.doc_id, SUM(w.n_sub) AS n_subwords, SUM(w.n_unk) AS n_unk
  FROM wtoks t JOIN wn w USING (word) GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_subwords, 0) AS BIGINT) AS n_subwords,
       CAST(COALESCE(p.n_unk, 0) AS BIGINT) AS n_unk
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def _q_kn_bigram_score(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM scoring (operators/text.py
    kneser_ney_bigram_score) in the held-out configuration (LM = even
    doc_ids, all docs scored): the canonical smoothing — the
    continuation-count lower-order model that backoff/add-1 lack —
    with D = 3/4 making every branch one ln of a ratio of exact
    BIGINT products, so the whole scoring surface replays bit-for-bit
    in the oracle (the trigram_backoff parity class).  Completes the
    LM ladder: add-1 unigram -> bigram -> stupid-backoff trigram ->
    KN bigram."""
    from xpysom_dask_spark.operators.text import kneser_ney_bigram_score

    docs = _docs(spark, sf_dir)
    return kneser_ney_bigram_score(
        docs, "text", "doc_id", lm_df=docs.where("doc_id % 2 = 0"))


def _sql_kn_bigram_score():
    toks = _duck_tokens("text")
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS arr FROM documents),
bi AS (
  SELECT doc_id,
         unnest([struct_pack(x := arr[i], y := arr[i + 1])
                 FOR i IN range(1, len(arr))]) AS p
  FROM tk),
lmbi AS (SELECT p.x, p.y, CAST(COUNT(*) AS BIGINT) AS n12
         FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2),
ctx AS (SELECT x, CAST(SUM(n12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1p
        FROM lmbi GROUP BY 1),
cont AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS nc
         FROM lmbi GROUP BY 1),
tv AS (SELECT GREATEST(
         (SELECT COUNT(*) FROM lmbi)
         + (SELECT COUNT(DISTINCT u) FROM
            (SELECT unnest(arr) AS u FROM tk WHERE doc_id % 2 = 0)),
         1) AS tv),
sc AS (
  SELECT p.doc_id,
         CASE WHEN c.c1 IS NOT NULL AND b.n12 IS NOT NULL
              THEN ln(CAST((4 * b.n12 - 3) * tv.tv
                           + 3 * c.n1p * (COALESCE(k.nc, 0) + 1)
                      AS DOUBLE))
                   - ln(CAST(4 * c.c1 * tv.tv AS DOUBLE))
              WHEN c.c1 IS NOT NULL
              THEN ln(CAST(3 * c.n1p * (COALESCE(k.nc, 0) + 1)
                      AS DOUBLE))
                   - ln(CAST(4 * c.c1 * tv.tv AS DOUBLE))
              ELSE ln(CAST(COALESCE(k.nc, 0) + 1 AS DOUBLE))
                   - ln(CAST(tv.tv AS DOUBLE))
         END AS ls
  FROM (SELECT doc_id, p.x, p.y FROM bi) p
  LEFT JOIN lmbi b ON b.x = p.x AND b.y = p.y
  LEFT JOIN ctx c ON c.x = p.x
  LEFT JOIN cont k ON k.y = p.y
  CROSS JOIN tv)
SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(FLOOR(ls * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_e6
FROM sc GROUP BY 1
"""


def _q_streaming_psi(spark, sf_dir):
    """Live PSI drift monitor (streaming/sketches.py psi_stream): the
    even-event-id value histogram is the STATIC reference snapshot;
    the odd half replays as a file stream whose stateful histogram
    (state ≤ bins rows, no watermark) broadcast-joins the reference
    cells per trigger.  Drained in COMPLETE mode + spine completion +
    the SHARED batch term arithmetic (profile.psi_terms_from_cells),
    the output equals batch psi_drift bit-for-bit — so the oracle IS
    the psi_drift SQL.  The alarm-on-live-ingest shape: the streaming
    query stays a pure bounded-state aggregation; the probability
    arithmetic is a constant-time batch view over ≤ bins rows."""
    import tempfile
    import uuid

    from xpysom_dask_spark.operators import sketches as SK
    from xpysom_dask_spark.operators.profile import psi_terms_from_cells
    from xpysom_dask_spark.streaming import (psi_complete_spine,
                                             psi_stream)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = readers.load_table(spark, sf_dir, "events")
    ref = SK.histogram_sketch(ev.where("event_id % 2 = 0"), "value",
                              _PSI_LO, _PSI_HI, _PSI_BINS)
    odd = ev.where("event_id % 2 = 1").select("value")
    tmp = _staged_gate_dir(
        "stpsigate", sf_dir,
        lambda p: odd.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(odd.schema).parquet(tmp)
    cells = psi_stream(stream, "value", ref, _PSI_LO, _PSI_HI,
                       _PSI_BINS)
    name = "q_stream_psi_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, cells.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    drained = spark.table(name)
    m = psi_complete_spine(drained, ref, _PSI_BINS)
    return psi_terms_from_cells(m, _PSI_BINS)


# --------------------------------------------------------------------- #
# round-10 gate merges (SURVEY.md §8 slot ledger): each gate below
# replaces a PAIR of near-duplicate gates with one widened relation so
# the declared surface stays under the 50-slot x MAX_STALENESS cap —
# the merged members' kernels are all still exercised end-to-end.


def _q_hll_report(spark, sf_dir):
    """Grouped + overall HyperLogLog in ONE gate (merges the round-9
    ``hll_distinct`` and ``hll_by_type`` gates): per-event_type
    register sketches from one scan, the overall sketch derived by the
    HLL merge property (register MAX across groups — never a second
    scan of events), both estimated by the same exact-integer harmonic
    sum and unioned under event_type='ALL'.  This is the warehouse
    rollup shape at 100 TB: sketch once at the finest grain, merge
    upward for coarser grains."""
    from xpysom_dask_spark.operators import sketches as SK

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = readers.load_table(spark, sf_dir, "events")
    regs = SK.hll_registers(
        ev.select("event_type",
                  F.col("user_id").cast("string").alias("k")),
        "k", p=_HLL_P, group_cols=("event_type",))
    grouped = SK.hll_estimate(regs, p=_HLL_P,
                              group_cols=("event_type",))
    merged = regs.groupBy("bucket").agg(
        F.max("rho").cast("int").alias("rho"))
    overall = SK.hll_estimate(merged, p=_HLL_P) \
        .select(F.lit("ALL").alias("event_type"), "m", "n_zero",
                "raw_sum_scaled", "est")
    return grouped.unionByName(overall)


def _sql_hll_report():
    p = _HLL_P
    m = 1 << p
    rem_bits = 48 - p
    rem_pow2 = 1 << (rem_bits + 1)   # Σ 2^{49−p−M_j} headroom bit
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(rem_pow2)
    return f"""
WITH u AS (SELECT DISTINCT event_type,
                  CAST(user_id AS VARCHAR) AS k FROM events),
h AS (SELECT event_type, ({_duck_h48('k', 0)}) AS hv FROM u),
reg AS (
  SELECT event_type, CAST(hv // {1 << rem_bits} AS INTEGER) AS bucket,
         CAST(MAX(CASE WHEN hv % {1 << rem_bits} = 0 THEN {rem_bits + 1}
              ELSE {rem_bits + 1}
                   - length(ltrim(bin(hv % {1 << rem_bits}), '0'))
              END) AS INTEGER) AS rho
  FROM h GROUP BY 1, 2),
allreg AS (
  SELECT event_type, bucket, rho FROM reg
  UNION ALL
  SELECT 'ALL' AS event_type, bucket,
         CAST(MAX(rho) AS INTEGER) AS rho
  FROM reg GROUP BY bucket),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_present,
         CAST(SUM(CAST(2.0 ** ({rem_bits + 1} - rho) AS BIGINT))
              AS BIGINT) AS present_sum
  FROM allreg GROUP BY 1),
calc AS (
  SELECT event_type, CAST({m} - n_present AS BIGINT) AS n_zero,
         CAST(present_sum + ({m} - n_present)
              * CAST({rem_pow2} AS BIGINT) AS BIGINT) AS raw_sum
  FROM agg)
SELECT event_type, CAST({m} AS INTEGER) AS m, n_zero,
       raw_sum AS raw_sum_scaled,
       CAST(CASE WHEN {num!r} / CAST(raw_sum AS DOUBLE)
                      < {2.5 * m!r} AND n_zero > 0
            THEN FLOOR({float(m)!r}
                       * ln({float(m)!r} / CAST(n_zero AS DOUBLE)))
            ELSE FLOOR({num!r} / CAST(raw_sum AS DOUBLE))
            END AS BIGINT) AS est
FROM calc
"""


def _q_som_qe(spark, sf_dir):
    """Per-row quantization error + the corpus QE scalar in one gate
    (merges the round-2 ``som_qe_rows`` and ``som_quantization_error``
    gates — reference xpysom.py:715-746): one BMU scoring pass, the
    scalar derived from the same relation by a tiny aggregate and
    re-attached as a broadcast 1-row scalar (the whitelisted BNLJ
    idiom — never a global window over the corpus)."""
    som = _oracle_som()
    # localCheckpoint, NOT .persist(): both consumers (the broadcast
    # scalar branch and the main projection) need the scored relation,
    # so computing it once matters (dropping reuse entirely re-ran the
    # BMU pass per branch — 1.2 s → 4.1 s solo), but a .persist() here
    # leaks a cacheManager entry per bench invocation (the r10 ADVICE
    # block-manager-churn finding; cacheManager holds a strong ref
    # until unpersist).  localCheckpoint blocks carry no cacheManager
    # entry — the ContextCleaner reclaims them when the driver-side
    # ref is GC'd, so repeated timed runs stay leak-free.
    scored = som.transform(_features(spark, sf_dir), ("qe",)) \
        .localCheckpoint(eager=True)
    corpus = scored.agg(
        F.round(F.avg("qe"), 6).alias("corpus_qe"))
    return (scored.select("l_orderkey", "l_linenumber",
                          F.round("qe", 4).alias("qe"))
            .crossJoin(F.broadcast(corpus)))


def _sql_som_qe():
    return _som_base_cte(f", {_MIN_DSQ} AS min_dsq") + """
SELECT l_orderkey, l_linenumber, ROUND(sqrt(min_dsq), 4) AS qe,
       (SELECT ROUND(AVG(sqrt(min_dsq)), 6) FROM scored) AS corpus_qe
FROM scored
"""


def _q_multimodal_audio(spark, sf_dir):
    """Audio stats + amplitude-profile fingerprint per clip in one
    gate (merges the ``multimodal_audio_stats`` and
    ``multimodal_audio_fp`` gates; the Hamming SEARCH leg of the old
    fp gate stays driver-verified via ``hamming_topk``): embeddings →
    int16 PCM → exact integer sample statistics joined with the
    64-bit gain-robust signature words.  Binary decode kernels in
    Arrow batches; audio bytes never leave the executors."""
    # no .persist() (r10 ADVICE: leaked cache per bench invocation);
    # the decode re-runs for the two join legs of one job — cheap
    # next to churning the block-manager across repeated timed runs
    clips = multimodal.embeddings_as_audio(_emb(spark, sf_dir))
    stats = multimodal.audio_stats(clips)
    sigs = multimodal.audio_fingerprint(clips).select(
        "audio_id",
        F.col("bits").getItem(0).alias("fp_w0"),
        F.col("bits").getItem(1).alias("fp_w1"))
    return stats.join(sigs, "audio_id")


def _sql_multimodal_audio():
    i16 = ("CAST(LEAST(GREATEST(FLOOR(CAST(e AS DOUBLE) * 32767.0), "
           "-32768), 32767) AS BIGINT)")

    def word(lo, hi):
        return ("list_sum([CASE WHEN 64 * a[j] > asum "
                "THEN (CAST(1 AS BIGINT) << (j - %d)) "
                "ELSE CAST(0 AS BIGINT) END "
                "FOR j IN range(%d, %d)])" % (lo, lo, hi + 1))

    return f"""
WITH u AS (
  SELECT vec_id, [{i16} FOR e IN embedding] AS s
  FROM embeddings),
m AS (SELECT vec_id, s, [abs(v) FOR v IN s] AS a FROM u),
w AS (SELECT vec_id, s, a, list_sum(a) AS asum FROM m)
SELECT vec_id AS audio_id,
  CAST(len(s) AS BIGINT) AS n_samples,
  list_reduce(list_prepend(CAST(0 AS BIGINT), s), (x, y) -> x + y)
    AS s_sum,
  list_reduce(list_prepend(CAST(0 AS BIGINT), [v * v FOR v IN s]),
              (x, y) -> x + y) AS s_sumsq,
  CAST(list_min(s) AS INTEGER) AS s_min,
  CAST(list_max(s) AS INTEGER) AS s_max,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CASE WHEN (s[i + 1] < 0) <> (s[i] < 0) THEN 1 ELSE 0 END
     FOR i IN range(1, 64)]), (x, y) -> x + y) AS zero_crossings,
  CAST({word(1, 32)} AS BIGINT) AS fp_w0,
  CAST({word(33, 64)} AS BIGINT) AS fp_w1
FROM w
"""


def _q_hash_partition(spark, sf_dir):
    """Deterministic hash split + content-hash sample flag in one gate
    (merges the ``split_by_hash`` and ``sample_hash`` gates): every
    document gets its stable train/val/test assignment AND a 25%
    keep-flag, both pure map-side hash arithmetic — the single-pass
    layout-independent selection surface a 100 TB curation pipeline
    stamps once and filters on for free thereafter."""
    docs = _docs(spark, sf_dir)
    split = sampling.split_by_hash(docs, "doc_id",
                                   dict(_SPLIT_WEIGHTS), seed=1)
    kept = sampling.hash_sample(docs, "doc_id", 0.25, seed=7) \
        .select("doc_id", F.lit(1).alias("in_sample"))
    return (split.select("doc_id", "split")
            .join(kept, "doc_id", "left")
            .select("doc_id", "split",
                    F.coalesce("in_sample", F.lit(0))
                    .cast("int").alias("in_sample")))


def _sql_hash_partition():
    total = float(sum(_SPLIT_WEIGHTS.values()))
    names = list(_SPLIT_WEIGHTS)
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        whens.append(f"WHEN {u} < {acc!r} THEN '{name}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
    return f"""
SELECT doc_id, {case} AS split,
       CASE WHEN {_duck_unit_hash('doc_id', 7)} < 0.25
            THEN 1 ELSE 0 END AS in_sample
FROM documents
"""


def _q_events_smoothing(spark, sf_dir):
    """Per-type truncated EWMA + per-user trailing-5 moving average in
    one gate (merges the ``events_ewma`` and ``events_moving_avg``
    gates; the streaming EWMA leg keeps its own ``streaming_ewma``
    gate): two single-window passes on their natural keys joined on
    the unique event_id — genuinely two smoothing keys, so two hash
    exchanges is the minimal plan, not a smell."""
    from xpysom_dask_spark.operators import events as EV
    from xpysom_dask_spark.operators.profile import ewma

    ev = readers.load_table(spark, sf_dir, "events")
    ma = EV.moving_average(ev)
    ew = ewma(ev.where(F.col("value").isNotNull()),
              "event_type", "value", "ts", "event_id",
              alpha=_EWMA_ALPHA, lag=_EWMA_LAG)
    return (ew.select(
        F.col("id").alias("event_id"),
        F.col("key").alias("event_type"),
        F.expr("CAST(FLOOR(ewma * 1000000.0 + 0.5) AS BIGINT)")
        .alias("ewma_e6"))
        .join(ma.select("event_id", "user_id", "ma"), "event_id"))


def _sql_events_smoothing():
    return f"""
WITH ew AS ({_sql_events_ewma()}),
ma AS ({_sql_events_moving_avg()})
SELECT ew.event_id, ew.event_type, ew.ewma_e6, ma.user_id, ma.ma
FROM ew JOIN ma USING (event_id)
"""


# --------------------------------------------------------------------- #
# quality-classifier scoring gate (VERDICT r9 #3): the hashed logreg
# scorer driven end-to-end through the driver oracle.

_QC_BUCKETS = 64


def _qc_model() -> dict:
    """Pinned-literal quality model for the gate: integer-valued
    weights (w_b = ((37·b) mod 9) − 4) make the margin's np.dot an
    EXACT integer in float64 (every value and partial sum < 2^53,
    so BLAS reduction order cannot matter), leaving one IEEE division
    and one libm sigmoid as the only float ops — both replayed
    branch-for-branch in the oracle.  The FIT path
    (models.logreg_fit_hashed) stays pinned by
    tests/test_models.py + the two-executor bit-parity suite."""
    w = np.array([((37 * b) % 9) - 4 for b in range(_QC_BUCKETS)],
                 dtype=np.float64)
    return {"w": w, "intercept": -0.5, "n_buckets": _QC_BUCKETS,
            "fold_bigrams": True}


def _q_quality_score(spark, sf_dir):
    """Hashed-ngram logreg document scoring
    (operators/models.py logreg_score_hashed — the fastText/CCNet
    quality-filter shape): ONE narrow mapInPandas pass, weights via
    broadcast, no shuffle.  Featurization is the engine-wide 48-bit
    md5 fold (unigrams + 40-bit-folded bigrams, length-normalized),
    replayed token-for-token by the oracle."""
    from xpysom_dask_spark.operators import models as M

    out = M.logreg_score_hashed(_docs(spark, sf_dir), "text",
                                "doc_id", _qc_model())
    return out.select(
        F.col("id").alias("doc_id"),
        F.expr("CAST(FLOOR(quality_p * 1000000.0 + 0.5) AS BIGINT)")
        .alias("p_e6"))


def _sql_quality_score():
    model = _qc_model()
    wlit = "[" + ", ".join(str(int(v)) for v in model["w"]) + "]"
    b0 = model["intercept"]
    nb = _QC_BUCKETS
    fold_mod = 1 << 40
    # models._doc_buckets splits on the ASCII \s class WITHOUT
    # lowercasing (the Java-\s parity lesson) — NOT _duck_tokens
    split = r"string_split_regex(text, '[ \t\n\x0B\f\r]+')"
    return f"""
WITH tk AS (
  SELECT doc_id,
         list_filter({split}, x -> x <> '') AS arr
  FROM documents),
pos AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS p, unnest(arr) AS t
  FROM tk),
h AS (SELECT doc_id, p, ({_duck_h48('t', 0)}) AS hv FROM pos),
feats AS (
  SELECT doc_id, hv % {nb} AS b FROM h
  UNION ALL
  SELECT a.doc_id,
         ((a.hv % {fold_mod}) * 65599 + c.hv) % {nb} AS b
  FROM h a JOIN h c ON a.doc_id = c.doc_id AND c.p = a.p + 1),
agg AS (
  SELECT doc_id,
         CAST(SUM(({wlit})[b + 1]) AS BIGINT) AS num,
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM feats GROUP BY 1),
z AS (
  SELECT d.doc_id,
         CASE WHEN a.nt IS NULL THEN {b0!r}
              ELSE {b0!r} + CAST(a.num AS DOUBLE) / a.nt END AS zv
  FROM documents d LEFT JOIN agg a USING (doc_id)),
p AS (
  SELECT doc_id,
         CASE WHEN zv >= 0 THEN 1.0 / (1.0 + exp(-zv))
              ELSE exp(zv) / (1.0 + exp(zv)) END AS pv
  FROM z)
SELECT doc_id,
       CAST(FLOOR(pv * 1000000.0 + 0.5) AS BIGINT) AS p_e6
FROM p
"""


_KMV_K = 64


def _q_calibration_report(spark, sf_dir):
    """Classifier reliability table (operators/models.py
    calibration_report): the pinned quality model's probabilities
    (the quality_score gate's scorer) against the lang='en' label,
    10 bins — ONE map-side-combinable aggregate whose probability
    sums are e9-quantized to exact DECIMAL(38,0) before summing, so
    every row is partitioning-independent.  Completes the classifier
    lifecycle surface: fit (test-pinned) → score (quality_score gate)
    → calibrate (this) → filter (filter_by_score, probe_scores
    gate)."""
    from xpysom_dask_spark.operators import models as M

    docs = _docs(spark, sf_dir)
    scored = M.logreg_score_hashed(docs, "text", "doc_id",
                                   _qc_model())
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"))
    return M.calibration_report(scored.join(lab, "id"),
                                "quality_p", "y", n_bins=10)


def _sql_calibration_report():
    # replay quality_score's probability CTEs at FULL precision (pv,
    # not p_e6), then models.calibration_report's exact-integer bin
    # arithmetic: e9-rounded probability sums, integer label counts,
    # e6 floors — mean_p fits double exactly (sum < 2^53)
    qp = _sql_quality_score()
    head, _tail = qp.rsplit("SELECT doc_id,", 1)
    return head + f"""
, lab AS (
  SELECT p.doc_id, p.pv,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM p JOIN documents d USING (doc_id)),
binned AS (
  SELECT LEAST(CAST(FLOOR(pv * 10) AS INTEGER), 9) AS bin,
         CAST(ROUND(pv * 1000000000.0, 0) AS BIGINT) AS pe9, y
  FROM lab),
cagg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pe9) AS BIGINT) AS sp,
         CAST(SUM(y) AS BIGINT) AS sy
  FROM binned GROUP BY 1)
SELECT bin, n,
       CAST(FLOOR(CAST(sp AS DOUBLE) / n / 1000.0 + 0.5) AS BIGINT)
         AS mean_p_e6,
       CAST(FLOOR(sy * 1000000.0 / n + 0.5) AS BIGINT) AS rate_e6,
       CAST(FLOOR(CAST(sp AS DOUBLE) / n / 1000.0 + 0.5)
            - FLOOR(sy * 1000000.0 / n + 0.5) AS BIGINT) AS gap_e6
FROM cagg
"""


#: staged WARC segment dirs, one per (process, sf_dir) — see
#: _q_warc_ingest's staging note
_WARC_GATE_DIRS: dict = {}


def _q_warc_ingest(spark, sf_dir):
    """Crawl front door, driver-verified end-to-end (VERDICT r10 #6 —
    WARC had test-only evidence): documents become HTTP response
    payloads (CRLF headers for even doc_id, LF-ONLY headers for odd —
    the tolerated-in-the-wild variant the r10 ADVICE found leaking
    into extracted text), ship through ``write_warc`` as BOTH plain
    ``.warc`` and per-record-gzip-member ``.warc.gz`` segments, come
    back through ``read_warc`` → ``payload_text``, and the per-source
    counts / char sums / md5-XOR content checksum (doc_id recovered
    from the target URI) must equal the same aggregation on the
    original table — so a dropped record, a mangled byte, a misfiled
    header, or a leaked HTTP header block all change the result.
    Parallelism is by segment file on both legs (sources/warc.py
    layout contract); the checksum aggregation is one codegen'd
    groupBy on a low-cardinality key.

    The WARC segments are STAGED ONCE per (process, sf_dir) — r11
    ADVICE: a fresh mkdtemp per invocation leaked a corpus-sized /tmp
    directory per bench repeat AND billed segment construction to the
    timed leg (unlike bench.py's crawl_ingest, which stages untimed);
    the cache is registered for atexit removal."""
    from xpysom_dask_spark.sources.warc import (payload_text,
                                                read_warc, write_warc)

    tmp = _WARC_GATE_DIRS.get(sf_dir)
    if tmp is None:
        import atexit
        import shutil
        import tempfile

        docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
        http = F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("HTTP/1.1 200 OK\r\nContent-Type: "
                           "text/plain; charset=utf-8\r\n\r\n"),
                     F.col("text"))
        ).otherwise(
            F.concat(F.lit("HTTP/1.1 200 OK\nContent-Type: "
                           "text/plain\n\n"), F.col("text")))
        staged = docs.select(
            F.concat(F.lit("http://crawl.test/"), "source", F.lit("/"),
                     F.col("doc_id").cast("string")).alias("target_uri"),
            F.encode(http, "utf-8").alias("payload"),
            F.concat(F.lit("<urn:doc:"), F.col("doc_id").cast("string"),
                     F.lit(">")).alias("rid"),
            "doc_id")
        tmp = tempfile.mkdtemp(prefix="warcgate_")
        write_warc(staged.where("doc_id % 4 < 2").repartition(4), tmp,
                   record_id_col="rid")
        write_warc(staged.where("doc_id % 4 >= 2").repartition(4), tmp,
                   record_id_col="rid", compress=True, mode="append")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        _WARC_GATE_DIRS[sf_dir] = tmp

    back = payload_text(read_warc(spark, tmp)
                        .where("warc_type = 'response'"))
    parsed = back.select(
        F.regexp_extract("target_uri",
                         r"^http://crawl\.test/(.+)/(\d+)$", 1)
        .alias("source"),
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        "text")
    chk = ("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), "
           "':', text)), 1, 12), 16, 10) AS BIGINT)")
    return (parsed.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text").cast("bigint"))
                 .alias("sum_chars"),
                 F.expr(f"bit_xor({chk})").alias("content_xor")))


def _sql_warc_ingest():
    chk = _duck_md5hash48("concat(CAST(doc_id AS VARCHAR), ':', text)")
    return f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
       bit_xor({chk}) AS content_xor
FROM documents
GROUP BY source
"""


#: footer_stats pruning-leg predicate: col BETWEEN 0 AND _FOOTER_HI
_FOOTER_HI = 100
_FOOTER_COLS = ("l_orderkey", "l_partkey", "l_suppkey",
                "l_linenumber")


def _q_footer_stats(spark, sf_dir):
    """Physical-metadata gate (promoted at the round-12 rotation; the
    footer-stats surface VERDICT r10 #8 floated): per-column parquet
    FOOTER statistics of the lineitem table — n_row_groups, value
    counts, null counts, min/max — via profile.parquet_column_stats,
    engine-cross-checked against DuckDB's parquet_metadata().  What
    the footers CLAIM about the data is what every stats-aware scan
    will silently trust; a writer that mis-stamps stats corrupts
    query results without touching a data page, so the claim itself
    deserves a driver gate.

    Round-12 widening (VERDICT r11 #7 — parquet_pruning_audit had
    only test evidence): each column also carries the PRUNING leg —
    how many row groups / rows a stats-aware scan with the fixed
    range predicate ``col BETWEEN 0 AND 100`` would skip on footer
    min/max alone, plus the no-stats count that says the writer
    dropped statistics.  Both engines derive the skip decision from
    the same footers, so the claim replays exactly; l_orderkey's
    generation-ordered layout prunes heavily while the random-layout
    key columns prune ~nothing — the sorted-vs-random contrast the
    audit exists to measure, inside one gate."""
    import os

    from xpysom_dask_spark.operators.profile import (
        parquet_column_stats, parquet_pruning_audit_multi)

    path = os.path.join(sf_dir, "lineitem.parquet")
    stats = parquet_column_stats(spark, path, list(_FOOTER_COLS))
    prn = (parquet_pruning_audit_multi(spark, path,
                                       list(_FOOTER_COLS), lo=0,
                                       hi=_FOOTER_HI)
           .groupBy("column")
           .agg(F.sum("rg_pruned").cast("bigint").alias("rg_pruned"),
                F.sum("rows_pruned").cast("bigint")
                .alias("rows_pruned"),
                F.sum("rg_no_stats").cast("bigint")
                .alias("rg_no_stats")))
    return stats.join(prn, "column")


def _sql_footer_stats(sf_dir):
    # data-dependent oracle (the wordpiece_vocab idiom): DuckDB reads
    # the SAME footers through its own parquet_metadata() table fn;
    # the pruning leg replays the operator's skip rule
    # (max < lo OR min > hi, no-stats row groups never pruned)
    hi = _FOOTER_HI
    pruned = (f"(stats_min_value IS NOT NULL AND "
              f"stats_max_value IS NOT NULL AND "
              f"(CAST(stats_max_value AS BIGINT) < 0 OR "
              f"CAST(stats_min_value AS BIGINT) > {hi}))")
    nostats = ("(stats_min_value IS NULL OR stats_max_value IS NULL)")
    return f"""
SELECT path_in_schema AS column,
       CAST(COUNT(*) AS BIGINT) AS n_row_groups,
       CAST(SUM(num_values) AS BIGINT) AS n_values,
       CAST(SUM(stats_null_count) AS BIGINT) AS null_count,
       CAST(MIN(CAST(stats_min_value AS BIGINT)) AS BIGINT) AS min_val,
       CAST(MAX(CAST(stats_max_value AS BIGINT)) AS BIGINT) AS max_val,
       CAST(SUM(CASE WHEN {pruned} THEN 1 ELSE 0 END) AS BIGINT)
         AS rg_pruned,
       CAST(SUM(CASE WHEN {pruned} THEN num_values ELSE 0 END)
            AS BIGINT) AS rows_pruned,
       CAST(SUM(CASE WHEN {nostats} THEN 1 ELSE 0 END) AS BIGINT)
         AS rg_no_stats
FROM parquet_metadata('{sf_dir}/lineitem.parquet')
WHERE path_in_schema IN {tuple(_FOOTER_COLS)!r}
GROUP BY 1
"""


def _q_multimodal_fp(spark, sf_dir):
    """Round-12 merge survivor (stage now, promote at the rotation
    while retiring multimodal_phash + multimodal_video_fp — the
    standing §8 merge program): BOTH perceptual-fingerprint legs in
    one relation, tagged by modality — image aHash Hamming top-3 and
    video frame-concatenated-signature Hamming top-3, each exactly
    the retired gate's output.  All kernels stay exercised:
    embeddings_as_images, image_ahash, the video assembly + frame
    fan-out + video_fingerprint composition, and hamming_topk on both
    signature shapes.

    The decoded bitmap relation is built ONCE and localCheckpointed
    (ContextCleaner-reclaimable, no cacheManager entry — the som_qe
    idiom) — the merge's material win over its parents, which each
    decoded the embeddings separately: 3.8 → 2.8 s warm / 10.6 →
    3.3 s cold at sf0.1, and at 100 TB the decode pass is the
    dominant cost, paid once instead of twice."""
    from xpysom_dask_spark.operators import embeddings as EMB

    imgs = multimodal.embeddings_as_images(_emb(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    sigs = multimodal.image_ahash(imgs) \
        .withColumnRenamed("image_id", "vec_id")
    img_leg = EMB.hamming_topk(sigs, sigs.where("vec_id < 5"), k=3) \
        .select(F.lit("image").alias("modality"), "*")
    vids = (imgs.groupBy((F.col("image_id") / 4).cast("bigint")
                         .alias("video_id"))
            .agg(F.expr("array_sort(collect_list(struct(image_id, "
                        "data)))").alias("frames"))
            .select("video_id",
                    F.expr("reduce(transform(frames, f -> f.data), "
                           "X'', (acc, d) -> concat(acc, d))")
                    .alias("data"),
                    F.lit("raw").alias("format"),
                    F.lit(8).alias("width"), F.lit(8).alias("height"),
                    F.lit(1).alias("channels"),
                    F.lit(4).alias("n_frames")))
    vsigs = multimodal.video_fingerprint(vids) \
        .withColumnRenamed("video_id", "vec_id")
    vid_leg = EMB.hamming_topk(vsigs, vsigs.where("vec_id < 3"), k=3) \
        .select(F.lit("video").alias("modality"), "*")
    return img_leg.unionAll(vid_leg)


def _sql_multimodal_fp():
    return (f"SELECT 'image' AS modality, * FROM (\n"
            f"{_sql_multimodal_phash()}\n)\n"
            f"UNION ALL\nSELECT 'video' AS modality, * FROM (\n"
            f"{_sql_multimodal_video_fp()}\n)")


def _q_kmv_report(spark, sf_dir):
    """Round-12 merge survivor (stage now, promote at the rotation
    while retiring kmv_overlap + kmv_novelty): the widened pairwise
    sketch relation ``sketches.kmv_pair_report`` — per language pair,
    the min-hash Jaccard (the kmv_overlap estimator) AND the
    inclusion–exclusion distinct/novelty estimates (the kmv_novelty
    estimator, applied per pair: est_a, est_b, union_est from the
    same merged top-k the Jaccard already builds, novelty clamped at
    0).  Everything on the ≤ groups·k sketch rows, all-integer."""
    from xpysom_dask_spark.operators import sketches as SK

    docs = _docs(spark, sf_dir)
    toks = docs.select("lang", F.explode(T.tokens("text"))
                       .alias("term"))
    sk = SK.kmv_sketch(toks, "term", k=_KMV_K, group_cols=("lang",))
    return SK.kmv_pair_report(sk, _KMV_K, "lang")


def _sql_kmv_report():
    toks = _duck_tokens("text")
    k = _KMV_K
    num = (k - 1) * (1 << 48)

    def est(n, kth):
        return (f"CASE WHEN {n} < {k} THEN CAST({n} AS BIGINT) "
                f"ELSE {num} // {kth} END")

    return f"""
WITH tk AS (
  SELECT lang, unnest({toks}) AS term FROM documents),
hs AS (SELECT DISTINCT lang, {_duck_h48('term', 0)} AS h FROM tk),
rk AS (SELECT lang, h,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS r
       FROM hs),
sk AS (SELECT lang, h FROM rk WHERE r <= {k}),
per AS (SELECT lang, COUNT(*) AS n, MAX(h) AS kth FROM sk GROUP BY 1),
pairs AS (
  SELECT a.lang AS ga, b.lang AS gb
  FROM (SELECT DISTINCT lang FROM sk) a
  JOIN (SELECT DISTINCT lang FROM sk) b ON a.lang < b.lang),
u AS (
  SELECT p.ga, p.gb, s.h,
         MAX(CASE WHEN s.lang = p.ga THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.lang = p.gb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.lang IN (p.ga, p.gb)
  GROUP BY 1, 2, 3),
ur AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rr
  FROM u),
pagg AS (
  SELECT ga, gb, COUNT(*) AS n_sample,
         SUM(in_a * in_b) AS n_common, MAX(h) AS ukth
  FROM ur WHERE rr <= {k} GROUP BY 1, 2)
SELECT p.ga, p.gb,
       CAST(p.n_sample AS INTEGER) AS n_sample,
       CAST(p.n_common AS INTEGER) AS n_common,
       CAST((1000000 * CAST(p.n_common AS BIGINT))
            // CAST(p.n_sample AS BIGINT) AS BIGINT) AS jaccard_e6,
       CAST({est('pa.n', 'pa.kth')} AS BIGINT) AS est_a,
       CAST({est('pb.n', 'pb.kth')} AS BIGINT) AS est_b,
       CAST({est('p.n_sample', 'p.ukth')} AS BIGINT) AS union_est,
       CAST(GREATEST(({est('p.n_sample', 'p.ukth')})
                     - ({est('pa.n', 'pa.kth')}), 0) AS BIGINT)
         AS novelty_ab,
       CAST(GREATEST(({est('p.n_sample', 'p.ukth')})
                     - ({est('pb.n', 'pb.kth')}), 0) AS BIGINT)
         AS novelty_ba
FROM pagg p
JOIN per pa ON pa.lang = p.ga
JOIN per pb ON pb.lang = p.gb
"""


def queries_round11_staged() -> dict:
    """Staging queue — EMPTY after the round-12 rotation (name kept
    for the test suite's import contract): the round-12 queue
    (footer_stats, multimodal_fp, kmv_report) was promoted into the
    head-50 at the round-12 rotation; the two merge survivors retired
    their four parents (multimodal_phash + multimodal_video_fp,
    kmv_overlap + kmv_novelty), so the §8 ledger reads 193 + 3 − 4 =
    192 declared of the 200-slot staleness cap (headroom 8).  Per the
    standing §8 policy no NEW staged queues are opened — new operators
    get test-only evidence or widen an existing gate."""
    return {}


def oracle_sql_round11_staged(
        ivf_sf_dir: str = _ORACLE_SF_DIR) -> dict[str, str]:
    return {}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRATION ORDER IS THE VERIFICATION CONTRACT: the driver
    # oracle-checks the FIRST 50 entries each round
    # (list(queries())[:50]).  Round-14 head (tools/rotate_gate.py
    # ordering): the 43 queries whose freshest green evidence is
    # round 10 (4 rounds old after r14 without a head slot), then 7
    # round-11 fills; the tail keeps staleness order so r14 (union)
    # r13 (union) r12 (union) r11 covers all 192 declared queries.
    # No query added, dropped, or renamed — reordering only.  See
    # SURVEY.md par.8 and tests/test_gate_coverage.py before
    # reordering.
    return {
        # -- freshest green evidence: r10 --
        "psi_drift": _q_psi_drift,
        "streaming_hll": _q_streaming_hll,
        "communities_lpa": _q_communities_lpa,
        "wordpiece_vocab": _q_wordpiece_vocab,
        "mad_outliers": _q_mad_outliers,
        "kn_bigram_score": _q_kn_bigram_score,
        "streaming_psi": _q_streaming_psi,
        "quality_score": _q_quality_score,
        "hll_report": _q_hll_report,
        "som_qe": _q_som_qe,
        "multimodal_audio": _q_multimodal_audio,
        "hash_partition": _q_hash_partition,
        "events_smoothing": _q_events_smoothing,
        "text_novelty": _q_text_novelty,
        "text_lang_consistency": _q_text_lang_consistency,
        "ivfpq_rerank": _q_ivfpq_rerank,
        "shard_layout": _q_shard_layout,
        "tpch_q3": _q_tpch_q3,
        "corpus_diff": _q_corpus_diff,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "orders_histogram": _q_orders_histogram,
        "orders_corr": _q_orders_corr,
        "temperature_mix": _q_temperature_mix,
        "text_chunks": _q_text_chunks,
        "text_collocations": _q_text_collocations,
        "text_c4_lines": _q_text_c4_lines,
        "semantic_dedup": _q_semantic_dedup,
        "som_activation_response": _q_som_activation_response,
        "som_labels_map": _q_som_labels_map,
        "som_topographic_error": _q_som_topographic_error,
        "som_train_epoch": _q_som_train_epoch,
        "som_distance_map": _q_som_distance_map,
        "som_feature_covariance": _q_som_feature_covariance,
        "som_distance_map_hex": _q_som_distance_map_hex,
        "som_train_epoch_hex": _q_som_train_epoch_hex,
        "text_stats": _q_text_stats,
        "text_langid": _q_text_langid,
        "text_fingerprint": _q_text_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "text_dict_coverage": _q_text_dict_coverage,
        "embedding_rp": _q_embedding_rp,
        # -- freshest green evidence: r11 --
        "calibration_report": _q_calibration_report,
        "warc_ingest": _q_warc_ingest,
        "knn_graph": _q_knn_graph,
        "partitioned_roundtrip": _q_partitioned_roundtrip,
        "embedding_mrl": _q_embedding_mrl,
        "graph_triangles": _q_graph_triangles,
        "lsh_recall_audit": _q_lsh_recall_audit,
        "text_tfidf": _q_text_tfidf,
        "streaming_ewma": _q_streaming_ewma,
        "pack_bins": _q_pack_bins,
        "dedup_containment": _q_dedup_containment,
        "vocab_zipf": _q_vocab_zipf,
        "curation_pipeline": _q_curation_pipeline,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "simhash_signatures": _q_simhash_signatures,
        "text_quality": _q_text_quality,
        "text_tokens_bpe": _q_text_tokens_bpe,
        "multimodal_image_stats": _q_multimodal_image_stats,
        "som_win_map": _q_som_win_map,
        "decontaminate": _q_decontaminate,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "dedup_incremental": _q_dedup_incremental,
        "zorder_key": _q_zorder_key,
        "dedup_spans": _q_dedup_spans,
        "events_rollup": _q_events_rollup,
        "events_pivot": _q_events_pivot,
        "events_json_stats": _q_events_json_stats,
        "table_profile": _q_table_profile,
        "data_quality": _q_data_quality,
        "text_vocab": _q_text_vocab,
        "text_lm_score": _q_text_lm_score,
        "pii_redact": _q_pii_redact,
        "source_quota": _q_source_quota,
        "importance_sample": _q_importance_sample,
        "corpus_shuffle": _q_corpus_shuffle,
        "label_centroids": _q_label_centroids,
        "ann_recall_curve": _q_ann_recall_curve,
        "streaming_sessions": _q_streaming_sessions,
        "streaming_interval_join": _q_streaming_interval_join,
        "streaming_qe_drift": _q_streaming_qe_drift,
        "hamming_topk": _q_hamming_topk,
        "kmeans_assign": _q_kmeans_assign,
        "dedup_keep_best": _q_dedup_keep_best,
        "token_budget_mix": _q_token_budget_mix,
        "binary_rerank": _q_binary_rerank,
        "pack_bins_ffd": _q_pack_bins_ffd,
        "knn_graph_full": _q_knn_graph_full,
        # -- freshest green evidence: r12 --
        "footer_stats": _q_footer_stats,
        "multimodal_fp": _q_multimodal_fp,
        "kmv_report": _q_kmv_report,
        "bm25_topk": _q_bm25_topk,
        "contamination_report": _q_contamination_report,
        "ann_kmeans_ivf": _q_ann_kmeans_ivf,
        "tpch_q4": _q_tpch_q4,
        "tpch_q15": _q_tpch_q15,
        "tpch_q19": _q_tpch_q19,
        "tpch_q2": _q_tpch_q2,
        "tpch_q9": _q_tpch_q9,
        "tpch_q11": _q_tpch_q11,
        "tpch_q16": _q_tpch_q16,
        "tpch_q17": _q_tpch_q17,
        "tpch_q20": _q_tpch_q20,
        "tpch_q21": _q_tpch_q21,
        "tpch_q22": _q_tpch_q22,
        "upsample_mix": _q_upsample_mix,
        "split_no_leakage": _q_split_no_leakage,
        "fuzzy_decontaminate": _q_fuzzy_decontaminate,
        "events_regr": _q_events_regr,
        "hard_negatives": _q_hard_negatives,
        "weighted_sample": _q_weighted_sample,
        "streaming_decontaminate": _q_streaming_decontaminate,
        "probe_scores": _q_probe_scores,
        "bpe_subwords": _q_bpe_subwords,
        "tpch_q12": _q_tpch_q12,
        "text_token_ids": _q_text_token_ids,
        "embedding_quantize": _q_embedding_quantize,
        "embedding_pca": _q_embedding_pca,
        "knn_cosine": _q_knn_cosine,
        "embedding_near_dup": _q_embedding_near_dup,
        "events_hourly": _q_events_hourly,
        "streaming_events_hourly_bmu": _q_streaming_events_hourly_bmu,
        "streaming_user_transitions": _q_streaming_user_transitions,
        "relational_revenue_topk": _q_relational_revenue_topk,
        "multimodal_frame_sample": _q_multimodal_frame_sample,
        "events_sessionize": _q_events_sessionize,
        "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
        "ann_som_ivf": _q_ann_som_ivf,
        "dedup_components": _q_dedup_components,
        "fuzzy_dedup": _q_fuzzy_dedup,
        "stratified_sample": _q_stratified_sample,
        "pack_sequences": _q_pack_sequences,
        "corpus_report": _q_corpus_report,
        "streaming_dedup": _q_streaming_dedup,
        "top_terms": _q_top_terms,
        "som_classify": _q_som_classify,
        "cms_top_terms": _q_cms_top_terms,
        "text_readability": _q_text_readability,
        # -- freshest green evidence: r13 --
        "nb_lang": _q_nb_lang,
        "hybrid_rrf": _q_hybrid_rrf,
        "pagerank_hubs": _q_pagerank_hubs,
        "streaming_cms": _q_streaming_cms,
        "knn_label_purity": _q_knn_label_purity,
        "textrank_keywords": _q_textrank_keywords,
        "unigram_segments": _q_unigram_segments,
        "som_anomalies": _q_som_anomalies,
        "text_gopher": _q_text_gopher,
        "events_asof": _q_events_asof,
        "events_interval": _q_events_interval,
        "mixture_resample": _q_mixture_resample,
        "som_predict": _q_som_predict,
        "ab_report": _q_ab_report,
        "doc_length_buckets": _q_doc_length_buckets,
        "events_quantiles": _q_events_quantiles,
        "dedup_substrings": _q_dedup_substrings,
        "session_paths": _q_session_paths,
        "text_lm_bigram": _q_text_lm_bigram,
        "tpch_q1": _q_tpch_q1,
        "tpch_q6": _q_tpch_q6,
        "tpch_q5": _q_tpch_q5,
        "tpch_q10": _q_tpch_q10,
        "tpch_q7": _q_tpch_q7,
        "tpch_q8": _q_tpch_q8,
        "tpch_q13": _q_tpch_q13,
        "tpch_q18": _q_tpch_q18,
        "tpch_q14": _q_tpch_q14,
        "decontaminate_spans": _q_decontaminate_spans,
        "index_compaction": _q_index_compaction,
        "dedup_cluster_sizes": _q_dedup_cluster_sizes,
        "dedup_lines": _q_dedup_lines,
        "text_repetition": _q_text_repetition,
        "streaming_top_terms": _q_streaming_top_terms,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "pq_codes": _q_pq_codes,
        "pq_adc": _q_pq_adc,
        "orc_roundtrip": _q_orc_roundtrip,
        "ivfpq_topk": _q_ivfpq_topk,
        "text_entropy": _q_text_entropy,
        "text_hash_embedding": _q_text_hash_embedding,
        "pseudonymize": _q_pseudonymize,
        "events_zscore": _q_events_zscore,
        "streaming_zscore": _q_streaming_zscore,
        "events_ks_drift": _q_events_ks_drift,
        "fuzzy_join": _q_fuzzy_join,
        "quantile_hist": _q_quantile_hist,
        "streaming_qhist": _q_streaming_qhist,
        "dsir_importance": _q_dsir_importance,
        "trigram_backoff": _q_trigram_backoff,
    }


# --------------------------------------------------------------------- #
# oracle SQL


def _sql_som_predict():
    return _som_base_cte() + """
SELECT l_orderkey, l_linenumber,
       CAST(bx * 8 + by AS BIGINT) AS cluster_id
FROM scored
"""


def _sql_som_activation_response():
    return _som_base_cte() + """
SELECT CAST(bx AS INTEGER) AS bmu_x, CAST(by AS INTEGER) AS bmu_y,
       COUNT(*) AS n_wins
FROM scored GROUP BY bx, by
"""


def _sql_som_labels_map():
    # join back on keys is unsafe (keys not unique) — recompute the BMU on
    # the full lineitem row instead, carrying l_returnflag through feats
    return f"""
WITH feats AS (
  SELECT l_returnflag,
         {', '.join(f'CAST({expr} AS DOUBLE) AS {name}'
                    for name, expr in readers.LINEITEM_FEATURES)}
  FROM lineitem
),
w({_W_COLS}) AS (
  VALUES
      {_weights_values()}
),
scored AS (
  SELECT f.l_returnflag,
         {_bmu_scalar('w.i')} AS bx,
         {_bmu_scalar('w.j')} AS by
  FROM feats f
)
SELECT CAST(bx AS INTEGER) AS bmu_x, CAST(by AS INTEGER) AS bmu_y,
       l_returnflag AS label, COUNT(*) AS n
FROM scored GROUP BY bx, by, l_returnflag
"""


def _sql_som_topographic_error():
    extra = (f", {_bmu_scalar('w.i', 1)} AS bx2"
             f", {_bmu_scalar('w.j', 1)} AS by2")
    return _som_base_cte(extra) + """
SELECT ROUND(AVG(CASE WHEN abs(bx - bx2) > 1 OR abs(by - by2) > 1
                      THEN 1.0 ELSE 0.0 END), 6) AS te
FROM scored
"""


def _sql_som_train_epoch():
    # epoch 0 constants: eta = lr0·exp(0) = 0.5 exactly;
    # sigma = min(x,y)/2 = 4 → gaussian denominator d = 2·0.5²·4² = 8
    num_terms = ",\n         ".join(
        f"sum(gv * f{k + 1}) AS s{k + 1}" for k in range(NF))
    new_w = " ".join(
        f"WHEN kk.k = {k + 1} THEN CASE WHEN a.den <> 0 "
        f"THEN a.s{k + 1} / a.den ELSE w.w{k + 1} END"
        for k in range(NF))
    ks = ", ".join(f"({k + 1})" for k in range(NF))
    return _som_base_cte() + f"""
, cells AS (SELECT DISTINCT i, j FROM w),
g AS (
  SELECT c.i, c.j, s.*,
         (exp(-((c.i - s.bx) * (c.i - s.bx)) / CAST(8 AS DOUBLE))
          * exp(-((c.j - s.by) * (c.j - s.by)) / CAST(8 AS DOUBLE)))
         * CAST('0.5' AS DOUBLE) AS gv
  FROM scored s CROSS JOIN cells c
),
acc AS (
  SELECT i, j, sum(gv) AS den,
         {num_terms}
  FROM g GROUP BY i, j
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(a.j AS INTEGER) AS j, kk.k AS k,
       ROUND(CASE {new_w} END, 6) AS wv
FROM acc a JOIN w ON w.i = a.i AND w.j = a.j
CROSS JOIN (VALUES {ks}) kk(k)
"""


def _sql_som_distance_map():
    norm = "sqrt(" + " + ".join(
        f"(a.w{k + 1} - b.w{k + 1}) * (a.w{k + 1} - b.w{k + 1})"
        for k in range(NF)) + ")"
    return f"""
WITH w({_W_COLS}) AS (
  VALUES
      {_weights_values()}
),
offs(di, dj) AS (VALUES (0, -1), (-1, -1), (-1, 0), (-1, 1),
                        (0, 1), (1, 1), (1, 0), (1, -1)),
nbr AS (
  SELECT a.i, a.j, sum({norm}) AS s
  FROM w a JOIN offs o ON TRUE
  JOIN w b ON b.i = a.i + o.di AND b.j = a.j + o.dj
  GROUP BY a.i, a.j
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       ROUND(s / MAX(s) OVER (), 6) AS u
FROM nbr
"""


def _duck_strip_html(expr: str) -> str:
    """DuckDB replay of operators/text.py strip_html — the SAME
    RE2-compatible patterns in the SAME order (the operator avoids
    backreferences precisely so one pattern text serves both
    engines)."""
    steps = [
        ('<(script|style)\\b[^>]*>.*?</(script|style)\\s*>', "' '", 'gis'),
        ('<!--.*?-->', "' '", 'gs'),
        ('</(p|div|li|ul|ol|h[1-6]|tr|table|blockquote|pre)\\s*>', "e'\\n'", 'gi'),
        ('<br\\s*/?>', "e'\\n'", 'gi'),
        ('<[^>]*>', "' '", 'gs'),
        ('&#(0*34|x0*22);', '\'"\'', 'gi'),
        ('&#(0*39|x0*27);', "''''", 'gi'),
        ('&#(0*60|x0*3c);', "'<'", 'gi'),
        ('&#(0*62|x0*3e);', "'>'", 'gi'),
        ('&#(0*160|x0*a0);', "' '", 'gi'),
        ('&nbsp;', "' '", 'g'),
        ('&lt;', "'<'", 'g'),
        ('&gt;', "'>'", 'g'),
        ('&quot;', '\'"\'', 'g'),
        ('&#39;', "''''", 'g'),
        ('&apos;', "''''", 'g'),
        ('&(amp;|#0*38;|#x0*26;)', "'&'", 'gi'),
        ('[ \\t\\x0B\\f\\r]+', "' '", 'g'),
        (' ?\\n ?', "e'\\n'", 'g'),
        ('\\n{3,}', "e'\\n\\n'", 'g'),
        ('^\\s+', "''", 'g'),
        ('\\s+$', "''", 'g'),
    ]
    out = expr
    for pat, rep, flags in steps:
        out = f"regexp_replace({out}, '{pat}', {rep}, '{flags}')"
    return out


def _sql_text_stats():
    toks = _duck_tokens("text")
    wrapped = ("'" + _HTML_WRAP_PRE.replace("'", "''") + "' || text || '"
               + _HTML_WRAP_POST.replace("'", "''") + "'")
    return f"""
SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS alpha_ratio,
       ROUND(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 [CAST(length(x) AS BIGINT) FOR x IN {toks}]),
                 (acc, v) -> acc + v) AS DOUBLE)
             / greatest(len({toks}), 1), 6) AS avg_token_len,
       md5({_duck_strip_html("(" + wrapped + ")")}) AS html_clean_md5
FROM documents
"""


def _sql_text_langid():
    toks = _duck_tokens("text")
    scores = {}
    for lang, words in T.LANG_STOPWORDS.items():
        lit = ", ".join(f"'{w}'" for w in words)
        scores[lang] = f"len(list_filter({toks}, t -> t IN ({lit})))"
    case = T.lang_id_case_sql(scores)
    return f"SELECT doc_id, {case} AS lang_pred FROM documents"


def _sql_text_fingerprint():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
SELECT doc_id,
       md5({t}) AS fp_md5,
       list_min([md5(substring({t}, i, 8))
                 FOR i IN range(1, greatest(length({t}) - 7, 1) + 1)])
           AS fp_shingle,
       CAST({_duck_polyhash('text')} AS BIGINT) AS fp_roll
FROM documents
"""


def _sql_dedup_exact():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
SELECT md5({t}) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents GROUP BY md5({t})
"""


def _shingle_cte_sql():
    toks = _duck_tokens("text")
    return f"""
toks AS (
  SELECT doc_id, {toks} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) < 3 THEN [] ELSE
             [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
              FOR i IN range(1, len(t) - 1)] END) AS shingle
    FROM toks)
)"""


def _duck_md5hash12(col: str) -> str:
    """First 12 md5 hex nibbles folded to a BIGINT, mod 2³¹−1 — the twin
    of dedup._shingle_hash_expr."""
    return _duck_md5hash48(col) + f" % {T.HASH_PRIME}"


def _duck_md5hash48(col: str) -> str:
    """Raw 48-bit md5 fold (no modulus) — the twin of
    dedup._HASH48_EXPR, feeding the Bloom probe schedule."""
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"[CAST(strpos('0123456789abcdef', substring(md5({col}), i, 1)) "
            f"- 1 AS BIGINT) FOR i IN range(1, 13)]), "
            f"(acc, v) -> acc * 16 + v)")


def _minhash_sig_sql():
    a, b = dedup.minhash_coefficients()
    mins = ",\n         ".join(
        f"min(({a[i]} * h + {b[i]}) % {T.HASH_PRIME}) AS mh_{i}"
        for i in range(dedup.MINHASH_K))
    return f"""{_shingle_cte_sql()},
hashes AS (
  SELECT doc_id, shingle, {_duck_md5hash12('shingle')} AS h FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashes GROUP BY doc_id
)"""


def _minhash_verified_cte(threshold: float = 0.5) -> str:
    """CTE chain ending in ``verified(id_a, id_b, jaccard)`` — the exact
    near-dup pairs; shared by the minhash, components, and fuzzy-dedup
    oracles."""
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, concat('{b}', ':', mh_{2 * b}, ':', mh_{2 * b + 1}) "
        f"AS band_key FROM sig" for b in range(dedup.MINHASH_K // 2))
    return f"""{_minhash_sig_sql()},
bands AS (
{bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
verified AS (
  SELECT i.id_a, i.id_b,
         CAST(i.n_inter AS DOUBLE)
           / (na.n_sh + nb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  WHERE CAST(i.n_inter AS DOUBLE)
          / (na.n_sh + nb.n_sh - i.n_inter) >= {threshold}
)"""


def _sql_dedup_minhash():
    return f"""
WITH {_minhash_verified_cte(0.5)}
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM verified
"""


def _components_cte(threshold: float = 0.5) -> str:
    """CTE chain (requires WITH RECURSIVE) ending in ``comp(id,
    component)``: connected components of the verified minhash pair
    graph via transitive closure — exact at oracle scale; the Spark
    side runs distributed min-label propagation
    (operators.graph.connected_components)."""
    return f"""{_minhash_verified_cte(threshold)},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b AS src, id_a AS dst FROM verified
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
comp AS (
  SELECT src AS id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src
)"""


def _sql_dedup_components():
    return f"""
WITH RECURSIVE {_components_cte(0.5)}
SELECT id, component FROM comp
"""


def _sql_fuzzy_dedup():
    return f"""
WITH RECURSIVE {_components_cte(0.5)}
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
"""


def _simhash_sql():
    """(doc_id, sh) CTE body — per-token MD5-nibble bit votes (60-bit)."""
    toks = _duck_tokens("text")
    nib = ("(strpos('0123456789abcdef', "
           "substring(md5(tok), 1 + CAST((j - (j % 4)) / 4 AS INTEGER), 1)) - 1)")
    return f"""
tk AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN (({nib} >> (3 - j % 4)) & 1) = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM tk CROSS JOIN (SELECT unnest(range(0, 60)) AS j)
  GROUP BY doc_id, j
),
simsum AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
                  ELSE 0 END) AS sh
  FROM votes GROUP BY doc_id
),
sims AS (
  -- token-less docs still get a fingerprint of 0 (Spark aggregate over an
  -- empty array yields 0; a bare unnest would drop the row)
  SELECT d.doc_id, COALESCE(s.sh, 0) AS sh
  FROM documents d LEFT JOIN simsum s ON s.doc_id = d.doc_id
)"""


def _sql_simhash_signatures():
    return f"""
WITH {_simhash_sql()}
SELECT doc_id, CAST(sh AS BIGINT) AS simhash FROM sims
"""


def _sql_dedup_simhash():
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sh, concat('{b}', ':', (sh >> {15 * b}) & 32767) "
        f"AS band_key FROM sims" for b in range(4))
    return f"""
WITH {_simhash_sql()},
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sh, b.sh)) AS hamming
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM cand WHERE hamming <= 3
"""


def _sql_dedup_ngram_jaccard():
    return f"""
WITH {_shingle_cte_sql()},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / (na.n_sh + nb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter) >= 0.8
"""


def _sql_text_quality():
    toks = _duck_tokens("text")
    alpha = ("CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)"
             " / greatest(length(text), 1)")
    repl = "length(text) - length(regexp_replace(text, '[\ufffd]', '', 'g'))"
    ctl = ("length(text) - length(regexp_replace(text, "
           "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'))")
    asc = ("length(regexp_replace(text, '[^\\x20-\\x7E\\t\\n\\r]',"
           " '', 'g'))")
    return f"""
SELECT doc_id,
       ROUND(0.5 * LEAST(len({toks}) / 100.0, 1.0) + 0.5 * ({alpha}), 6)
           AS quality,
       CAST({repl} AS INTEGER) AS n_replacement,
       CAST({ctl} AS INTEGER) AS n_control,
       CAST(FLOOR(CAST({asc} AS DOUBLE)
                  / greatest(length(text), 1) * 1000000.0 + 0.5)
            AS BIGINT) AS ascii_e6
FROM documents
"""


def _sql_multimodal_image_stats():
    return """
WITH u AS (
  SELECT vec_id,
    [CAST(LEAST(GREATEST(FLOOR((CAST(e AS DOUBLE) + 1.0) * 127.5), 0), 255)
          AS BIGINT) FOR e IN embedding] AS px
  FROM embeddings
)
SELECT vec_id AS image_id,
  CAST(len(px) AS BIGINT) AS n_px,
  list_reduce(list_prepend(CAST(0 AS BIGINT), px), (a, b) -> a + b) AS px_sum,
  list_reduce(list_prepend(CAST(0 AS BIGINT), [p * p FOR p IN px]),
              (a, b) -> a + b) AS px_sumsq,
  CAST(list_min(px) AS INTEGER) AS px_min,
  CAST(list_max(px) AS INTEGER) AS px_max,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    [abs(px[i + 1] - px[i]) FOR i IN range(1, 64) IF i % 8 <> 0]),
    (a, b) -> a + b) AS edge_sum
FROM u
"""


def _sql_som_win_map():
    cents = ",\n       ".join(
        f"ROUND(AVG(f{k + 1}), 6) AS c{k + 1}" for k in range(NF))
    return _som_base_cte() + f"""
SELECT CAST(bx AS INTEGER) AS bmu_x, CAST(by AS INTEGER) AS bmu_y,
       COUNT(*) AS n,
       {cents}
FROM scored GROUP BY bx, by
"""


def _sql_knn_cosine():
    dot = _DOT64.format(a="q.embedding", b="c.embedding")
    qq = _DOT64.format(a="q.embedding", b="q.embedding")
    cc = _DOT64.format(a="c.embedding", b="c.embedding")
    return f"""
WITH q AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS sim
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= 5
"""


def _sql_embedding_near_dup():
    dot = _DOT64.format(a="a.embedding", b="b.embedding")
    aa = _DOT64.format(a="a.embedding", b="a.embedding")
    bb = _DOT64.format(a="b.embedding", b="b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(({dot}) / (sqrt({aa}) * sqrt({bb})), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ({dot}) / (sqrt({aa}) * sqrt({bb})) >= 0.45
"""


def _sql_events_hourly():
    return """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def _duck_unit_hash(id_col: str, seed: int) -> str:
    """Twin of sampling._unit_hash: first 12 md5 nibbles of "seed:id"
    folded to a BIGINT, divided by 2⁴⁸ — bit-identical uniform."""
    s = f"concat('{seed}', ':', CAST({id_col} AS VARCHAR))"
    raw = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
           f"[CAST(strpos('0123456789abcdef', substring(md5({s}), i, 1)) "
           f"- 1 AS BIGINT) FOR i IN range(1, 13)]), "
           f"(acc, v) -> acc * 16 + v)")
    return f"(({raw}) / 281474976710656.0)"


def _sql_stratified_sample():
    u = _duck_unit_hash("doc_id", 11)
    rate = ("CASE WHEN lang = 'en' THEN 1.0 WHEN lang = 'de' THEN 0.5 "
            "WHEN lang = 'fr' THEN 0.25 ELSE 0.0 END")
    return f"""
SELECT doc_id, lang FROM documents WHERE {u} < {rate}
"""


def _sql_pack_sequences():
    toks = _duck_tokens("text")
    u = _duck_unit_hash("doc_id", 2)
    return f"""
WITH base AS (
  SELECT doc_id, len({toks}) AS n_tok,
         CAST(floor({u} * 8) AS BIGINT) AS grp
  FROM documents
),
packed AS (
  SELECT doc_id, grp,
         CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_offset
  FROM base
)
SELECT doc_id, grp AS "group", start_offset,
       CAST(grp * 1099511627776
            + floor(start_offset / 1024.0) AS BIGINT) AS pack_id
FROM packed
"""


def _sql_corpus_report():
    toks = _duck_tokens("text")
    alpha = ("CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)"
             " / greatest(length(text), 1)")
    quality = f"0.5 * LEAST(len({toks}) / 100.0, 1.0) + 0.5 * ({alpha})"
    return f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({toks})) AS BIGINT) AS n_tokens,
       ROUND(AVG({quality}), 6) AS avg_quality,
       ROUND(quantile_cont(CAST(length(text) AS DOUBLE), 0.5), 4)
         AS p50_chars,
       ROUND(quantile_cont(CAST(length(text) AS DOUBLE), 0.9), 4)
         AS p90_chars
FROM documents GROUP BY lang
"""


def _sql_streaming_dedup():
    t = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
SELECT DISTINCT md5({t}) AS fp FROM documents
"""


def _sql_som_classify():
    # l_returnflag rides the feats CTE: a key join back would fan out
    # ((l_orderkey, l_linenumber) is not unique in the synthetic data)
    return _som_base_cte(feat_extra_cols=("l_returnflag",)) + """
, counts AS (
  SELECT bx, by, l_returnflag, COUNT(*) AS n
  FROM scored GROUP BY bx, by, l_returnflag
),
maj AS (
  SELECT bx, by, l_returnflag,
         ROW_NUMBER() OVER (PARTITION BY bx, by
                            ORDER BY n DESC, l_returnflag) AS rn
  FROM counts
)
SELECT s.l_orderkey, s.l_linenumber,
       CAST(s.bx AS BIGINT) AS bmu_x, CAST(s.by AS BIGINT) AS bmu_y,
       m.l_returnflag AS pred_flag
FROM scored s JOIN maj m ON m.bx = s.bx AND m.by = s.by AND m.rn = 1
"""


def _sql_som_anomalies():
    return _som_base_cte(f", {_MIN_DSQ} AS min_dsq") + """
SELECT l_orderkey, l_linenumber, ROUND(sqrt(min_dsq), 4) AS qe
FROM scored
WHERE sqrt(min_dsq) > (SELECT quantile_cont(sqrt(min_dsq), 0.95)
                       FROM scored)
"""


def _sql_events_asof():
    # both engines at us precision (see _q_events_asof)
    return """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, epoch_us(ts) AS ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts,
       ROUND(p.value, 6) AS last_purchase_value,
       p.ts AS last_purchase_ts
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def _duck_ngrams_cte(src: str, out: str, n: int) -> str:
    """CTE pair: tokenized ``src`` → DISTINCT (doc_id, shingle) word
    n-grams as ``out`` (generalizes _shingle_cte_sql to any n)."""
    toks = _duck_tokens("text")
    gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""{out}_t AS (
  SELECT doc_id, {toks} AS t FROM {src}
),
{out} AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) < {n} THEN [] ELSE
             [{gram} FOR i IN range(1, len(t) - {n - 2})] END) AS shingle
    FROM {out}_t)
)"""


def _sql_decontaminate():
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.9 / (0.9 + 0.1)  # mirror split_by_hash's normalization
    return f"""
WITH uh AS (
  SELECT doc_id, lang, text, {u} AS u FROM documents
),
tr AS (SELECT doc_id, lang, text FROM uh WHERE u < {acc!r}),
te AS (SELECT doc_id, lang, text FROM uh WHERE u >= {acc!r}),
{_duck_ngrams_cte('tr', 'trsh', 5)},
{_duck_ngrams_cte('te', 'tesh', 5)},
bad AS (
  SELECT DISTINCT a.doc_id FROM trsh a JOIN tesh b
    ON a.shingle = b.shingle
)
SELECT doc_id, lang FROM tr
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def _sql_bloom_decontaminate():
    u = _duck_unit_hash("doc_id", 1)
    acc = 0.9 / (0.9 + 0.1)  # mirror split_by_hash's normalization
    m, k = 1 << 20, 3
    h48 = _duck_md5hash48("shingle")
    pos = f"(h % {m} + j * (1 + h % {m - 1})) % {m}"
    js = ", ".join(str(j) for j in range(k))
    return f"""
WITH uh AS (
  SELECT doc_id, lang, text, {u} AS u FROM documents
),
tr AS (SELECT doc_id, lang, text FROM uh WHERE u < {acc!r}),
te AS (SELECT doc_id, lang, text FROM uh WHERE u >= {acc!r}),
{_duck_ngrams_cte('tr', 'trsh', 5)},
{_duck_ngrams_cte('te', 'tesh', 5)},
js AS (SELECT unnest([{js}]) AS j),
teh AS (SELECT DISTINCT {h48} AS h FROM tesh),
bitmap AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS mask
  FROM (SELECT {pos} AS pos FROM teh CROSS JOIN js)
  GROUP BY 1),
trh AS (SELECT DISTINCT doc_id, {h48} AS h FROM trsh),
probe AS (
  SELECT doc_id, h,
         ((coalesce(mask, 0) >> CAST(pos % 32 AS INTEGER)) & 1) = 1
             AS bit_set
  FROM (SELECT doc_id, h, {pos} AS pos FROM trh CROSS JOIN js) p
  LEFT JOIN bitmap ON p.pos // 32 = bitmap.word),
bad AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, h, bool_and(bit_set) AS all_set
    FROM probe GROUP BY doc_id, h)
  WHERE all_set)
SELECT doc_id, lang FROM tr
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def _sql_mixture_resample():
    u = _duck_unit_hash("doc_id", 13)
    rate = ("CASE WHEN lang = 'de' THEN 2.5 WHEN lang = 'fr' THEN 0.4 "
            "WHEN lang = 'zh' THEN 0.0 ELSE 1.0 END")
    return f"""
WITH m AS (
  SELECT doc_id, lang, {rate} AS rate, {u} AS u FROM documents
),
c AS (
  SELECT doc_id, lang,
         CAST(floor(rate)
              + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END
           AS INTEGER) AS n
  FROM m
)
SELECT doc_id, lang,
       CAST(unnest([i FOR i IN range(1, n + 1)]) AS BIGINT) AS copy_id
FROM c
"""


def _sql_events_interval():
    # sessionize CTEs (twin of _sql_events_sessionize) + a plain range
    # join — DuckDB's IEJoin handles it directly at oracle scale
    return """
WITH seq AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM seq
),
windows AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_s,
         CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS end_s
  FROM sess GROUP BY user_id, session_id
),
clicks AS (
  SELECT event_id, user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
  FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, c.ts_s, w.session_id, w.start_s, w.end_s
FROM clicks c JOIN windows w
  ON w.user_id = c.user_id
 AND c.ts_s >= w.start_s AND c.ts_s <= w.end_s
"""


def _sql_text_gopher():
    toks = _duck_tokens("text")
    alpha = ("CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS "
             "DOUBLE) / greatest(length(text), 1)")
    mwl = (f"CASE WHEN len({toks}) = 0 THEN 0.0 ELSE "
           f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"[CAST(length(x) AS DOUBLE) FOR x IN {toks}]), "
           f"(a, v) -> a + v) / len({toks}) END")
    grams = (f"[t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]")
    rep = (f"CASE WHEN len(t) < 2 THEN 0.0 ELSE "
           f"1.0 - len(list_distinct({grams})) "
           f"/ CAST(len({grams}) AS DOUBLE) END")
    return f"""
WITH base AS (
  SELECT doc_id, text, {toks} AS t FROM documents
),
m AS (
  SELECT doc_id,
         len(t) AS n_words,
         {mwl} AS mean_word_len,
         {alpha} AS alpha_ratio,
         {rep} AS bigram_repetition
  FROM base
)
SELECT doc_id, n_words,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(alpha_ratio, 6) AS alpha_ratio,
       ROUND(bigram_repetition, 6) AS bigram_repetition,
       CAST(n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_ratio >= 0.6
            AND bigram_repetition <= 0.3 AS INTEGER) AS passes_gopher
FROM m
"""


def _sql_top_terms():
    toks = _duck_tokens("text")
    return f"""
WITH tk AS (
  SELECT lang AS grp, doc_id AS doc, unnest({toks}) AS term FROM documents
),
tf AS (SELECT grp, term, COUNT(*) AS tf FROM tk GROUP BY grp, term),
dfq AS (
  SELECT term, COUNT(*) AS df_docs
  FROM (SELECT DISTINCT doc, term FROM tk) GROUP BY term
  HAVING COUNT(*) >= 2
),
scored AS (
  SELECT tf.grp, tf.term, tf.tf, dfq.df_docs,
         tf.tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                    / dfq.df_docs) AS score
  FROM tf JOIN dfq ON dfq.term = tf.term
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY grp ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT grp AS lang, rank, term, tf, df_docs, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 5
"""


def oracle_sql(ivf_sf_dir: str = _ORACLE_SF_DIR) -> dict[str, str]:
    """``ivf_sf_dir`` parameterizes the one data-dependent oracle
    (``ann_recall_curve`` embeds the IVF codebook trained on that sf's
    embeddings); the driver's no-arg call gets sf0.01 — the scale it
    runs oracle SQL at — and the local parity test passes sf0.001."""
    return {
        # -- promoted in round 12 from the round-12 staging queue
        # (multimodal_fp / kmv_report are the merge survivors of the
        # retired multimodal_phash+multimodal_video_fp and
        # kmv_overlap+kmv_novelty pairs; footer_stats's oracle is
        # data-dependent — DuckDB reads the same parquet footers) --
        "footer_stats": _sql_footer_stats(ivf_sf_dir),
        "multimodal_fp": _sql_multimodal_fp(),
        "kmv_report": _sql_kmv_report(),
        # -- promoted in round 11 from the round-11 staging area --
        "calibration_report": _sql_calibration_report(),
        # -- new round-11 gate: crawl front door (VERDICT r10 #6) --
        "warc_ingest": _sql_warc_ingest(),
        # -- promoted in round 10 from the round-10/11 staging areas --
        "quantile_hist": _sql_quantile_hist(),
        "streaming_qhist": _sql_streaming_qhist(),
        "dsir_importance": _sql_dsir_importance(),
        "trigram_backoff": _sql_trigram_backoff(),
        "psi_drift": _sql_psi_drift(),
        "streaming_hll": _sql_streaming_hll(),
        "communities_lpa": _sql_communities_lpa(),
        # data-dependent twin: the reference-learned vocabulary is
        # embedded in the SQL, so the tier must match the run
        "wordpiece_vocab": _sql_wordpiece_vocab(ivf_sf_dir),
        "mad_outliers": _sql_mad_outliers(),
        "kn_bigram_score": _sql_kn_bigram_score(),
        # the drained streaming PSI equals batch psi_drift exactly
        # (COMPLETE mode + spine completion): oracle shared
        "streaming_psi": _sql_psi_drift(),
        # -- new round-10 gates: classifier scoring + the 5 merge
        # survivors (SURVEY.md par.8 slot ledger) --
        "quality_score": _sql_quality_score(),
        "hll_report": _sql_hll_report(),
        "som_qe": _sql_som_qe(),
        "multimodal_audio": _sql_multimodal_audio(),
        "hash_partition": _sql_hash_partition(),
        "events_smoothing": _sql_events_smoothing(),
        # -- promoted in round 9 from the round-8 staging area --
        "cms_top_terms": _sql_cms_top_terms(),
        "text_readability": _sql_text_readability(),
        "nb_lang": _sql_nb_lang(),
        "hybrid_rrf": _sql_hybrid_rrf(),
        "pagerank_hubs": _sql_pagerank_hubs(),
        "streaming_cms": _sql_streaming_cms(),
        "knn_label_purity": _sql_knn_label_purity(),
        "textrank_keywords": _sql_textrank_keywords(),
        # data-dependent twin (the bpe_subwords idiom): vocabulary
        # re-learned from the corpus at ivf_sf_dir by an independent
        # reference loop
        "unigram_segments": _sql_unigram_segments(ivf_sf_dir),
        # -- promoted in round 8 from the round-7 staging area --
        "pack_bins_ffd": _sql_pack_bins_ffd(),
        "knn_graph_full": _sql_knn_graph_full(),
        "bm25_topk": _sql_bm25_topk(),
        # -- promoted in round 7 from the round-6 staging area --
        "dedup_paragraphs": _sql_dedup_paragraphs(),
        "text_dict_coverage": _sql_text_dict_coverage(),
        "embedding_rp": _sql_embedding_rp(),
        "knn_graph": _sql_knn_graph(),
        "partitioned_roundtrip": _sql_partitioned_roundtrip(),
        "embedding_mrl": _sql_embedding_mrl(),
        "graph_triangles": _sql_graph_triangles(),
        "lsh_recall_audit": _sql_lsh_recall_audit(),
        "text_tfidf": _sql_text_tfidf(),
        # the drained two-micro-batch stream equals batch events_ewma
        # exactly (state carries the trailing window): oracle shared
        "streaming_ewma": _sql_events_ewma(),
        "pack_bins": _sql_pack_bins(),
        "dedup_containment": _sql_dedup_containment(),
        "vocab_zipf": _sql_vocab_zipf(),
        # -- promoted in round 6 from the round-5 staging area --
        "decontaminate_spans": _sql_decontaminate_spans(),
        "index_compaction": _sql_index_compaction(),
        "dedup_cluster_sizes": _sql_dedup_cluster_sizes(),
        "dedup_lines": _sql_dedup_lines(),
        "text_repetition": _sql_text_repetition(),
        "streaming_top_terms": _sql_streaming_top_terms(),
        "jsonl_roundtrip": _sql_jsonl_roundtrip(),
        "pq_codes": _sql_pq_codes(),
        "pq_adc": _sql_pq_adc(),
        "orc_roundtrip": _sql_orc_roundtrip(),
        "ivfpq_topk": _sql_ivfpq_topk(),
        "text_entropy": _sql_text_entropy(),
        "text_hash_embedding": _sql_text_hash_embedding(),
        "pseudonymize": _sql_pseudonymize(),
        "events_zscore": _sql_events_zscore(),
        # the stream is stateless, so its drained result IS the batch
        # z-score — the oracle is shared verbatim
        "streaming_zscore": _sql_events_zscore(),
        "events_ks_drift": _sql_events_ks_drift(),
        "fuzzy_join": _sql_fuzzy_join(),
        "text_novelty": _sql_text_novelty(),
        "text_lang_consistency": _sql_text_lang_consistency(),
        "ivfpq_rerank": _sql_ivfpq_rerank(),
        # -- promoted in round 5 from the round-4 staging area --
        # streaming decontamination is stateless, so the drained
        # stream equals batch `decontaminate` exactly: same SQL twin
        "streaming_decontaminate": _sql_decontaminate(),
        "shard_layout": _sql_shard_layout(),
        "probe_scores": _sql_probe_scores(),
        # data-dependent twin: merge table re-learned from the corpus
        # at ivf_sf_dir by an independent reference loop
        "bpe_subwords": _sql_bpe_subwords(ivf_sf_dir),
        "som_predict": _sql_som_predict(),
        "ab_report": _sql_ab_report(),
        "doc_length_buckets": _sql_doc_length_buckets(),
        "events_quantiles": _sql_events_quantiles(),
        "dedup_substrings": _sql_dedup_substrings(),
        "session_paths": _sql_session_paths(),
        "text_lm_bigram": _sql_text_lm_bigram(),
        "tpch_q1": _sql_tpch_q1(),
        "tpch_q6": _sql_tpch_q6(),
        "tpch_q5": _sql_tpch_q5(),
        "tpch_q10": _sql_tpch_q10(),
        "tpch_q7": _sql_tpch_q7(),
        "tpch_q8": _sql_tpch_q8(),
        "tpch_q13": _sql_tpch_q13(),
        "tpch_q18": _sql_tpch_q18(),
        "tpch_q14": _sql_tpch_q14(),
        "tpch_q3": _sql_tpch_q3(),
        "tpch_q4": _sql_tpch_q4(),
        "tpch_q12": _sql_tpch_q12(),
        "tpch_q15": _sql_tpch_q15(),
        "tpch_q19": _sql_tpch_q19(),
        "tpch_q2": _sql_tpch_q2(),
        "tpch_q9": _sql_tpch_q9(),
        "tpch_q11": _sql_tpch_q11(),
        "tpch_q16": _sql_tpch_q16(),
        "tpch_q17": _sql_tpch_q17(),
        "tpch_q20": _sql_tpch_q20(),
        "tpch_q21": _sql_tpch_q21(),
        "tpch_q22": _sql_tpch_q22(),
        "hamming_topk": _sql_hamming_topk(),
        "binary_rerank": _sql_binary_rerank(),
        # full probe ≡ exact: same brute-force twin as ann_som_ivf
        "ann_kmeans_ivf": _sql_ann_som_ivf(),
        "contamination_report": _sql_contamination_report(),
        "kmeans_assign": _sql_kmeans_assign(),
        "dedup_keep_best": _sql_dedup_keep_best(),
        "token_budget_mix": _sql_token_budget_mix(),
        # embedding_pca: full fit+projection replay (exact DECIMAL
        # moments + closed-form 2×2 eigensolve, the probe_scores
        # pattern); the d=64 eigh path keeps its numpy-differential
        # coverage in tests/test_embeddings.py
        "embedding_pca": _sql_embedding_pca(),
        "corpus_diff": _sql_corpus_diff(),
        "events_funnel": _sql_events_funnel(),
        "events_retention": _sql_events_retention(),
        "orders_histogram": _sql_orders_histogram(),
        "orders_corr": _sql_orders_corr(),
        "temperature_mix": _sql_temperature_mix(),
        "text_chunks": _sql_text_chunks(),
        "text_collocations": _sql_text_collocations(),
        "text_c4_lines": _sql_text_c4_lines(),
        "semantic_dedup": _sql_semantic_dedup(ivf_sf_dir),
        "som_activation_response": _sql_som_activation_response(),
        "som_labels_map": _sql_som_labels_map(),
        "som_topographic_error": _sql_som_topographic_error(),
        "som_train_epoch": _sql_som_train_epoch(),
        "som_distance_map": _sql_som_distance_map(),
        "som_feature_covariance": _sql_som_feature_covariance(),
        "som_distance_map_hex": _sql_som_distance_map_hex(),
        "som_train_epoch_hex": _sql_som_train_epoch_hex(),
        "text_stats": _sql_text_stats(),
        "text_langid": _sql_text_langid(),
        "text_fingerprint": _sql_text_fingerprint(),
        "dedup_exact": _sql_dedup_exact(),
        "curation_pipeline": _sql_curation_pipeline(),
        "dedup_minhash": _sql_dedup_minhash(),
        "dedup_simhash": _sql_dedup_simhash(),
        "dedup_ngram_jaccard": _sql_dedup_ngram_jaccard(),
        "simhash_signatures": _sql_simhash_signatures(),
        "text_quality": _sql_text_quality(),
        "text_tokens_bpe": _sql_text_tokens_bpe(),
        "multimodal_image_stats": _sql_multimodal_image_stats(),
        "som_win_map": _sql_som_win_map(),
        "upsample_mix": _sql_upsample_mix(),
        "split_no_leakage": _sql_split_no_leakage(),
        "fuzzy_decontaminate": _sql_fuzzy_decontaminate(),
        "events_regr": _sql_events_regr(),
        "hard_negatives": _sql_hard_negatives(),
        "weighted_sample": _sql_weighted_sample(),
        "knn_cosine": _sql_knn_cosine(),
        "embedding_near_dup": _sql_embedding_near_dup(),
        "events_hourly": _sql_events_hourly(),
        "streaming_events_hourly_bmu": _sql_streaming_events_hourly_bmu(),
        "streaming_user_transitions": _sql_streaming_user_transitions(),
        "relational_revenue_topk": _sql_relational_revenue_topk(),
        "multimodal_frame_sample": _sql_multimodal_frame_sample(),
        "events_sessionize": _sql_events_sessionize(),
        # the approximate ops run in deterministic configurations whose
        # output IS exact (full-probe IVF; full-recall banded LSH), so
        # they get real oracles too
        "embedding_near_dup_lsh": _sql_embedding_near_dup_lsh(),
        "ann_som_ivf": _sql_ann_som_ivf(),
        "ann_recall_curve": _sql_ann_recall_curve(ivf_sf_dir),
        # cluster-level dedup: recursive-CTE transitive closure twins the
        # distributed min-label propagation
        "dedup_components": _sql_dedup_components(),
        "fuzzy_dedup": _sql_fuzzy_dedup(),
        # deterministic content-hash sampling: same md5-nibble uniform on
        # both engines
        "stratified_sample": _sql_stratified_sample(),
        "pack_sequences": _sql_pack_sequences(),
        "corpus_report": _sql_corpus_report(),
        # streaming dedup's deterministic contract is the fingerprint SET
        "streaming_dedup": _sql_streaming_dedup(),
        "top_terms": _sql_top_terms(),
        # reference-notebook workflows as operators
        "som_classify": _sql_som_classify(),
        "som_anomalies": _sql_som_anomalies(),
        "text_gopher": _sql_text_gopher(),
        # DuckDB's native ASOF JOIN twins the union-and-window plan
        "events_asof": _sql_events_asof(),
        "events_interval": _sql_events_interval(),
        "mixture_resample": _sql_mixture_resample(),
        "decontaminate": _sql_decontaminate(),
        "bloom_decontaminate": _sql_bloom_decontaminate(),
        "dedup_incremental": _sql_dedup_incremental(),
        "zorder_key": _sql_zorder_key(),
        # round-3 pipeline surface: embedding storage/geometry, JSON
        # profiling, weighted sampling, corpus shuffle, PII redaction
        "embedding_quantize": _sql_embedding_quantize(),
        "label_centroids": _sql_label_centroids(),
        "events_json_stats": _sql_events_json_stats(),
        "importance_sample": _sql_importance_sample(),
        "corpus_shuffle": _sql_corpus_shuffle(),
        "pii_redact": _sql_pii_redact(),
        "events_rollup": _sql_events_rollup(),
        "table_profile": _sql_table_profile(),
        "data_quality": _sql_data_quality(),
        "streaming_sessions": _sql_streaming_sessions(),
        "text_vocab": _sql_text_vocab(),
        "text_lm_score": _sql_text_lm_score(),
        "source_quota": _sql_source_quota(),
        "events_pivot": _sql_events_pivot(),
        "streaming_interval_join": _sql_streaming_interval_join(),
        "streaming_qe_drift": _sql_streaming_qe_drift(),
        "text_token_ids": _sql_text_token_ids(),
        "dedup_spans": _sql_dedup_spans(),
    }


# ===================================================================== #
# round-9 staging area: sketches, readability, NB, hybrid retrieval,
# PageRank (operators landed round 8; see SURVEY.md §8)

def _duck_h48(expr: str, seed: int) -> str:
    """48-bit md5 fold of ``'{seed}:' || expr`` — the DuckDB twin of
    sketches._h48 (single comprehension: the nested-`i` pitfall does
    not apply)."""
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"[CAST(strpos('0123456789abcdef', "
            f"substring(md5('{seed}:' || {expr}), i, 1)) - 1 AS BIGINT) "
            f"FOR i IN range(1, 13)]), (acc, v) -> acc * 16 + v)")


_CMS_DEPTH, _CMS_WIDTH = 4, 256


def _q_cms_top_terms(spark, sf_dir):
    """Count-min sketch audit (operators/sketches.py): build the
    4×256 CM sketch over document tokens, point-estimate every
    distinct term, and emit the top-20 by (est DESC, term) next to the
    exact counts — the sketch's overestimate property is visible in
    the output (est ≥ exact always).  The sketch relation is ONE
    map-side-combined groupBy bounded at depth·width rows regardless
    of corpus size; the oracle replays every md5 cell exactly."""
    from xpysom_dask_spark.operators import sketches as SK
    from pyspark.sql import Window

    toks = _docs(spark, sf_dir).select(
        F.explode(T.tokens("text")).alias("term"))
    # optimization r12 (guide §1.2): tokenize the corpus ONCE.  The
    # sketch-builder unions one subtree per depth row, so feeding it
    # the raw token stream re-ran the explode 4×, plus once more for
    # the exact counts (5 corpus passes per invocation).  The exact
    # vocab relation is materialized first and the sketch derives from
    # it via the builder's weighted path — Σ per-term counts grouped
    # by (d, h48(term)%width) is EXACTLY the per-occurrence cell count,
    # so every cell (and therefore every estimate) is bit-identical.
    exact = (toks.groupBy("term")
             .agg(F.count(F.lit(1)).cast("bigint").alias("exact"))
             .localCheckpoint(eager=True))
    sk = SK.count_min_sketch(exact, "term", count_col="exact",
                             depth=_CMS_DEPTH, width=_CMS_WIDTH)
    est = SK.cms_estimate(sk, exact.select("term"), "term",
                          depth=_CMS_DEPTH, width=_CMS_WIDTH)
    w = Window.orderBy(F.col("est").desc(), F.col("term").asc())
    return (est.join(exact, "term")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 20)
            .select("rank", "term", "est", "exact"))


def _sql_cms_top_terms():
    toks = _duck_tokens("text")
    cells = " UNION ALL ".join(
        f"SELECT {d} AS d, CAST(({_duck_h48('term', d)}) % {_CMS_WIDTH}"
        f" AS INTEGER) AS w FROM tk" for d in range(_CMS_DEPTH))
    probes = " UNION ALL ".join(
        f"SELECT term, {d} AS d, CAST(({_duck_h48('term', d)}) % "
        f"{_CMS_WIDTH} AS INTEGER) AS w FROM vocab"
        for d in range(_CMS_DEPTH))
    return f"""
WITH tk AS (SELECT unnest({toks}) AS term FROM documents),
cells AS (
  SELECT d, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ({cells}) GROUP BY 1, 2),
exact AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact
          FROM tk GROUP BY 1),
vocab AS (SELECT term FROM exact),
probes AS ({probes}),
est AS (
  SELECT p.term, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
  FROM probes p LEFT JOIN cells c USING (d, w) GROUP BY 1),
rk AS (
  SELECT e.term, e.est, x.exact,
         ROW_NUMBER() OVER (ORDER BY e.est DESC, e.term) AS rank
  FROM est e JOIN exact x USING (term))
SELECT rank, term, est, exact FROM rk WHERE rank <= 20
"""


_HLL_P = 9


def _q_text_readability(spark, sf_dir):
    """Flesch / Flesch-Kincaid readability (operators/text.py
    readability_scores): one narrow regex-count projection, scaled-e6
    scores; empty documents (0 words — scores undefined) are
    excluded on both sides."""
    from xpysom_dask_spark.operators.text import readability_scores

    out = readability_scores(_docs(spark, sf_dir), "text", "doc_id")
    return out.where(F.col("n_words") > 0)


def _sql_text_readability():
    toks = _duck_tokens("text")
    return f"""
WITH base AS (
  SELECT doc_id, text, len({toks}) AS nw FROM documents),
cnt AS (
  SELECT doc_id, nw,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                  nw) AS syl
  FROM base WHERE nw > 0)
SELECT doc_id AS id,
       CAST(ns AS INTEGER) AS n_sentences,
       CAST(nw AS INTEGER) AS n_words,
       CAST(syl AS INTEGER) AS n_syllables,
       CAST(FLOOR((206.835 - 1.015 * (CAST(nw AS DOUBLE)
                                      / CAST(ns AS DOUBLE))
                   - 84.6 * (CAST(syl AS DOUBLE)
                             / CAST(nw AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) AS flesch_e6,
       CAST(FLOOR((0.39 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
                   + 11.8 * (CAST(syl AS DOUBLE)
                             / CAST(nw AS DOUBLE)) - 15.59)
                  * 1000000.0 + 0.5) AS BIGINT) AS fkgl_e6
FROM cnt
"""


def _q_nb_lang(spark, sf_dir):
    """Multinomial Naive Bayes self-labelling audit (operators/text.py
    nb_classify): train class token counts by `lang` in one combinable
    aggregation pass, score every document with e6-rounded integer
    log-prob sums (the bm25 order-free class), argmax with
    label-ascending ties.  Output = id, recorded label, prediction,
    winning score."""
    from xpysom_dask_spark.operators.text import nb_classify

    return nb_classify(_docs(spark, sf_dir), "text", "doc_id", "lang")


def _sql_nb_lang():
    toks = _duck_tokens("text")
    return f"""
WITH tk AS (
  SELECT doc_id, lang, unnest({toks}) AS term FROM documents),
doc_tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tk GROUP BY 1, 2),
cls_tf AS (
  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY 1, 2),
cls_tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM cls_tf GROUP BY 1),
vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
          FROM cls_tf),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
priors AS (
  SELECT lang,
         CAST(FLOOR(ln(CAST(COUNT(*) AS DOUBLE)
                       / CAST((SELECT n FROM nd) AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS prior_e6
  FROM documents GROUP BY 1),
mat AS (
  SELECT ct.lang, t.term,
         CAST(FLOOR(ln(CAST(COALESCE(cf.c, 0) + 1 AS DOUBLE)
                       / CAST(ct.tot + (SELECT v FROM vocab)
                              AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS lnp_e6
  FROM (SELECT DISTINCT term FROM cls_tf) t
  CROSS JOIN cls_tot ct
  LEFT JOIN cls_tf cf ON cf.lang = ct.lang AND cf.term = t.term),
scored AS (
  SELECT d.doc_id, m.lang,
         CAST(CAST(SUM(d.tf * m.lnp_e6) AS BIGINT)
              + ANY_VALUE(p.prior_e6) AS BIGINT) AS score_e6
  FROM doc_tf d JOIN mat m USING (term)
  JOIN priors p ON p.lang = m.lang
  GROUP BY 1, 2),
best AS (
  SELECT doc_id, lang AS pred, score_e6,
         ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score_e6 DESC, lang) AS rn
  FROM scored)
SELECT b.doc_id AS id, d.lang AS label, b.pred, b.score_e6
FROM best b JOIN documents d USING (doc_id) WHERE b.rn = 1
"""


def _q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval (operators/text.py rrf_fuse): reciprocal-rank
    fusion of bm25_topk (rare-term weighting) and jaccard_topk
    (set overlap) at k=20 each, fused to the top-10 — the
    calibration-free hybrid that consumes only ranks, so every score
    is integer `div` arithmetic and replays exactly.  Both rankers
    share ONE tokenized (id, term, tf) relation (doc_term_counts,
    localCheckpointed — eager, ContextCleaner-reclaimable, NO
    cacheManager entry; a bare .persist() here leaked a cached
    relation per invocation, VERDICT r11 #1 / the som_qe idiom) so
    the corpus is tokenized/shuffled once, not once per ranker — the
    shared-candidate idiom of the r9 recall sweep (VERDICT r9 #5)."""
    from xpysom_dask_spark.operators.text import (bm25_topk,
                                                  doc_term_counts,
                                                  jaccard_topk,
                                                  rrf_fuse)

    docs = _docs(spark, sf_dir)
    qdocs = docs.where(_BM25_QDOCS).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"))
    dt = doc_term_counts(docs, "text", "doc_id") \
        .localCheckpoint(eager=True)
    bm = bm25_topk(docs, "text", "doc_id", qdocs, "qtext", "query_id",
                   k=20, k1=_BM25_K1, b=_BM25_B, doc_terms=dt)
    jc = jaccard_topk(docs, "text", "doc_id", qdocs, "qtext",
                      "query_id", k=20, doc_terms=dt)
    return rrf_fuse([bm, jc], k=10)


def _sql_hybrid_rrf():
    toks = _duck_tokens("text")
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH tk AS (
  SELECT doc_id AS id, unnest({toks}) AS term FROM documents),
tf AS (
  SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
q AS (
  SELECT query_id, unnest(list_distinct(qt)) AS term FROM (
    SELECT doc_id AS query_id, {toks} AS qt
    FROM documents WHERE {_BM25_QDOCS})),
qd AS (
  SELECT q.query_id, q.term,
         ln(1.0 + (CAST((SELECT n FROM st) AS DOUBLE) - d.df_t + 0.5)
                  / (d.df_t + 0.5)) AS idf
  FROM q JOIN dfq d USING (term)),
sc AS (
  SELECT qd.query_id, tf.id,
         CAST(FLOOR(qd.idf * tf.tf * {k1 + 1.0!r}
              / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.dl
                 / (SELECT avgdl FROM st)))
              * 1000000.0 + 0.5) AS BIGINT) AS s_e6
  FROM tf JOIN qd USING (term) JOIN dl ON dl.id = tf.id),
bmagg AS (
  SELECT query_id, id, CAST(SUM(s_e6) AS BIGINT) AS score_e6
  FROM sc GROUP BY 1, 2),
bmrk AS (
  SELECT query_id, id AS doc_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_e6 DESC, id) AS rank
  FROM bmagg),
dtok AS (SELECT DISTINCT id, term FROM tk),
dsz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS nd
        FROM dtok GROUP BY 1),
qtok AS (SELECT DISTINCT query_id, term FROM q),
qsz AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nq
        FROM qtok GROUP BY 1),
inter AS (
  SELECT qtok.query_id, dtok.id, CAST(COUNT(*) AS BIGINT) AS ni
  FROM dtok JOIN qtok USING (term) GROUP BY 1, 2),
jrk AS (
  SELECT i.query_id, i.id AS doc_id, ROW_NUMBER() OVER (
      PARTITION BY i.query_id
      ORDER BY (1000000 * i.ni) // (qsz.nq + dsz.nd - i.ni) DESC,
               i.id) AS rank
  FROM inter i JOIN qsz USING (query_id) JOIN dsz ON dsz.id = i.id),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS rrf_e9 FROM (
    SELECT query_id, doc_id,
           CAST(1000000000 // (60 + rank) AS BIGINT) AS s
    FROM bmrk WHERE rank <= 20
    UNION ALL
    SELECT query_id, doc_id,
           CAST(1000000000 // (60 + rank) AS BIGINT) AS s
    FROM jrk WHERE rank <= 20)
  GROUP BY 1, 2),
out AS (
  SELECT query_id, doc_id, rrf_e9, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rrf_e9 DESC, doc_id) AS rank
  FROM fused)
SELECT query_id, rank, doc_id, rrf_e9 FROM out WHERE rank <= 10
"""


def _q_pagerank_hubs(spark, sf_dir):
    """Exact-integer PageRank (operators/graph.py pagerank) over the
    knn_graph edge relation (same 4-cell codebook as the knn_graph
    gate): 5 synchronous iterations, damping 0.85 as e6 integer, all
    contributions integer `div` — the oracle replays every iteration
    as a chained CTE and matches bit-for-bit."""
    import numpy as np

    from xpysom_dask_spark.operators.graph import pagerank
    from xpysom_dask_spark.operators.similarity import knn_graph

    emb = _emb(spark, sf_dir)
    cents = np.stack([
        np.asarray(r["embedding"], np.float64)
        for r in emb.where("vec_id < 4").orderBy("vec_id").collect()])
    edges = knn_graph(emb, cents, k=5).select(
        F.col("vec_id").alias("src"),
        F.col("neighbor_id").alias("dst"))
    return pagerank(edges, n_iter=5)


def _duck_pagerank_tail(n_iter: int = 5) -> str:
    """Iteration-CTE chain replaying graph.pagerank's exact integer
    power iteration; expects a prior CTE ``edges(s, t)`` (directed,
    deduplicated).  Shared by pagerank_hubs and textrank_keywords."""
    sql = """,
verts AS (SELECT DISTINCT v AS id FROM (
  SELECT s AS v FROM edges UNION SELECT t AS v FROM edges)),
od AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS od
       FROM edges GROUP BY 1),
it0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM verts)"""
    for i in range(1, n_iter + 1):
        sql += f""",
it{i} AS (
  SELECT v.id, CAST(150000 + (850000 * COALESCE(i.s, 0)) // 1000000
               AS BIGINT) AS r
  FROM verts v LEFT JOIN (
    SELECT e.t AS id, CAST(SUM(p.r // od.od) AS BIGINT) AS s
    FROM edges e JOIN it{i - 1} p ON p.id = e.s
    JOIN od ON od.s = e.s
    GROUP BY 1) i ON i.id = v.id)"""
    return sql


def _sql_pagerank_hubs():
    return (_knn_graph_ctes() + """,
edges AS (SELECT vec_id AS s, neighbor_id AS t FROM ranked
          WHERE rank <= 5)""" + _duck_pagerank_tail(5)
            + "\nSELECT id, r AS rank_e6 FROM it5\n")


def _q_streaming_cms(spark, sf_dir):
    """Streaming count-min maintenance (streaming/sketches.py
    cms_stream): document tokens replayed as a file stream, the
    4×256 cell relation maintained by a stateful streaming groupBy
    whose state IS the sketch — bounded at depth·width rows by
    construction, no watermark needed.  Drained in COMPLETE mode the
    cells equal the batch sketch bit-for-bit (order-free sums), so
    the oracle is the batch cells SQL."""
    import tempfile
    import uuid

    from xpysom_dask_spark.streaming import cms_stream

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = _staged_gate_dir(
        "stcmsgate", sf_dir,
        lambda p: docs.repartition(4)
        .write.mode("overwrite").parquet(p))
    stream = spark.readStream.schema(docs.schema).parquet(tmp)
    toks = stream.select(F.explode(T.tokens("text")).alias("term"))
    cells = cms_stream(toks, "term", depth=_CMS_DEPTH,
                       width=_CMS_WIDTH)
    name = "q_stream_cms_" + uuid.uuid4().hex[:8]
    _drain_stream(
        spark, cells.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    return spark.table(name).select("d", "w", "count")


def _sql_streaming_cms():
    toks = _duck_tokens("text")
    cells = " UNION ALL ".join(
        f"SELECT {d} AS d, CAST(({_duck_h48('term', d)}) % {_CMS_WIDTH}"
        f" AS INTEGER) AS w FROM tk" for d in range(_CMS_DEPTH))
    return f"""
WITH tk AS (SELECT unnest({toks}) AS term FROM documents)
SELECT d, w, CAST(COUNT(*) AS BIGINT) AS count
FROM ({cells}) GROUP BY 1, 2
"""


def _q_knn_label_purity(spark, sf_dir):
    """Embedding-quality audit (operators/similarity.py label_purity):
    per-vector fraction of kNN neighbors sharing the vector's label —
    the kNN-classifier-consistency estimate that audits the EMBEDDING
    against labels the way recall@k audits the INDEX against brute
    force.  Codebook = the IVF sizing rule n_cells = ⌊√N⌋ (VERDICT r8:
    a fixed 4-cell pin makes per-cell GEMM quadratic in N; √N cells
    keep total candidate pairs at N^1.5, the scale-safe shape the
    graded artifact should exercise) — the oracle derives the same
    ⌊√N⌋ from COUNT(*), so the config scales with the data on both
    engines.  k=5 edges; purity is integer `div`, engine-exact."""
    import math

    import numpy as np

    from xpysom_dask_spark.operators.similarity import (knn_graph,
                                                        label_purity)

    emb = _emb(spark, sf_dir)
    n_cells = max(1, math.isqrt(emb.count()))
    cents = np.stack([
        np.asarray(r["embedding"], np.float64)
        for r in emb.where(f"vec_id < {n_cells}")
        .orderBy("vec_id").collect()])
    edges = knn_graph(emb, cents, k=5).select("vec_id", "neighbor_id")
    return label_purity(edges, emb.select("vec_id", "label"))


def _sql_knn_label_purity():
    # the IVF sizing rule: n_cells = floor(sqrt(N)), derived from the
    # same table on both engines (see _q_knn_label_purity)
    sqrtn = ("vec_id < (SELECT CAST(floor(sqrt(COUNT(*))) AS BIGINT) "
             "FROM embeddings)")
    return _knn_graph_ctes(sqrtn) + """,
edges AS (SELECT vec_id AS s, neighbor_id AS t FROM ranked
          WHERE rank <= 5),
marked AS (
  SELECT e.s AS vec_id, x.label,
         CASE WHEN x.label = y.label THEN 1 ELSE 0 END AS same
  FROM edges e
  JOIN embeddings x ON x.vec_id = e.s
  JOIN embeddings y ON y.vec_id = e.t)
SELECT vec_id, label,
       CAST(COUNT(*) AS INTEGER) AS n_neighbors,
       CAST(SUM(same) AS INTEGER) AS n_same,
       CAST((1000000 * CAST(SUM(same) AS BIGINT)) // COUNT(*)
            AS BIGINT) AS purity_e6
FROM marked GROUP BY 1, 2
"""


def _q_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (operators/text.py
    textrank_keywords): integer PageRank over the deduplicated
    adjacent-token co-occurrence graph, top-20 by centrality — the
    graph build is one narrow zip-shift expression, the iterations
    replay in the oracle through the shared pagerank CTE chain."""
    from xpysom_dask_spark.operators.text import textrank_keywords

    return textrank_keywords(_docs(spark, sf_dir), "text", top_k=20)


def _sql_textrank_keywords():
    toks = _duck_tokens("text")
    return f"""
WITH raw AS (
  SELECT unnest([struct_pack(
           a := least(arr[i], arr[i + 1]),
           b := greatest(arr[i], arr[i + 1]))
         FOR i IN range(1, len(arr))]) AS p
  FROM (SELECT {toks} AS arr FROM documents)),
pairs AS (
  SELECT DISTINCT p.a AS a, p.b AS b FROM raw WHERE p.a <> p.b),
edges AS (
  SELECT a AS s, b AS t FROM pairs
  UNION ALL SELECT b AS s, a AS t FROM pairs)"""         + _duck_pagerank_tail(5) + """,
rk AS (SELECT id, r, ROW_NUMBER() OVER (ORDER BY r DESC, id) AS rank
       FROM it5)
SELECT rank, id AS term, r AS rank_e6 FROM rk WHERE rank <= 20
"""


_UNI_VOCAB, _UNI_L, _UNI_ITER, _UNI_MAXW = 64, 4, 2, 16


def _q_unigram_segments(spark, sf_dir):
    """Unigram-LM tokenizer trained-model gate (operators/unigram.py):
    train the vocab on the documents corpus (hard-EM, smallest-j
    Viterbi ties, Laplace e6 scores — integers end-to-end), then
    Viterbi-segment every distinct word under it.  The oracle embeds
    the vocabulary learned by an INDEPENDENT pure-Python reference
    loop (the bpe_subwords idiom) and replays the Viterbi DP as
    chained per-position CTEs, so vocab, scores, paths, and piece
    counts must all match bit-for-bit."""
    from xpysom_dask_spark.operators import unigram as UNI

    docs = _docs(spark, sf_dir)
    vocab = UNI.learn_unigram(
        docs, "text", vocab_size=_UNI_VOCAB,
        max_piece_len=_UNI_L, n_iter=_UNI_ITER,
        max_word_len=_UNI_MAXW)
    return UNI.segment_words(docs, "text", vocab,
                             max_piece_len=_UNI_L,
                             max_word_len=_UNI_MAXW)


def _unigram_ref_vocab(sf_dir: str):
    """Independent single-node reference trainer (reads the parquet
    directly; no engine code) — the oracle's embedded model."""
    import math as _m

    import duckdb as _dk

    con = _dk.connect()
    texts = [t[0] for t in con.execute(
        f"SELECT text FROM read_parquet("
        f"'{sf_dir}/documents.parquet')").fetchall()]
    con.close()
    V, L, IT, MW = _UNI_VOCAB, _UNI_L, _UNI_ITER, _UNI_MAXW
    wc = {}
    for t in texts:
        for w in (t or "").lower().split():
            if w and len(w) <= MW:
                wc[w] = wc.get(w, 0) + 1
    cand = {}
    for w, c in wc.items():
        for i in range(len(w)):
            for j in range(i + 1, min(i + L, len(w)) + 1):
                p = w[i:j]
                cand[p] = cand.get(p, 0) + c
    singles = {p: c for p, c in cand.items() if len(p) == 1}
    multis = sorted(((p, c) for p, c in cand.items() if len(p) > 1),
                    key=lambda pc: (-pc[1], pc[0]))[:8 * V]
    counts = dict(singles)
    counts.update(dict(multis))

    def smooth(cnt):
        tot, nv = sum(cnt.values()), len(cnt)
        return {p: _m.floor(_m.log((c + 1) / (tot + nv)) * 1e6)
                for p, c in cnt.items()}

    def viterbi(word, scores):
        neg = -(10 ** 15)
        n = len(word)
        best, back = [neg] * (n + 1), [-1] * (n + 1)
        best[0] = 0
        for i in range(1, n + 1):
            for j in range(max(0, i - L), i):
                if best[j] == neg:
                    continue
                sc = scores.get(word[j:i])
                if sc is None:
                    continue
                if best[j] + sc > best[i]:
                    best[i], back[i] = best[j] + sc, j
        if best[n] == neg:
            return None
        out, i = [], n
        while i > 0:
            out.append(word[back[i]:i])
            i = back[i]
        return out[::-1]

    for _ in range(IT):
        scores = smooth(counts)
        used = {}
        for w, c in wc.items():
            pieces = viterbi(w, scores)
            if pieces is None:
                continue
            for p in pieces:
                used[p] = used.get(p, 0) + c
        counts = {p: used.get(p, 0) for p in counts
                  if len(p) == 1 or p in used}
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multis = sorted(((p, c) for p, c in counts.items() if len(p) > 1),
                    key=lambda pc: (-pc[1], pc[0]))
    room = max(V - len(singles), 0)
    final = dict(singles)
    final.update(dict(multis[:room]))
    return smooth(final)


def _sql_unigram_segments(sf_dir: str):
    scores = _unigram_ref_vocab(sf_dir)
    vals = ", ".join(
        "(" + repr(p).replace('"', "'") + f", {s})"
        for p, s in sorted(scores.items()))
    L, MW = _UNI_L, _UNI_MAXW
    toks = _duck_tokens("lower(text)")
    # AS MATERIALIZED: DuckDB inlines CTEs by default, and the DP
    # chain re-expands each referenced predecessor — exponential scans
    # without it (measured: "too many open files" at 16 positions)
    sql = f"""
WITH vocab AS MATERIALIZED (
  SELECT * FROM (VALUES {vals}) v(piece, vs)),
words AS MATERIALIZED (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS count FROM (
    SELECT unnest({toks}) AS w FROM documents)
  WHERE length(w) <= {MW} GROUP BY 1),
st0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS score,
               0 AS np, '' AS path FROM words)"""
    for i in range(1, MW + 1):
        branches = " UNION ALL ".join(
            f"""SELECT s.word, s.score + v.vs AS score,
       s.np + 1 AS np,
       CASE WHEN s.path = '' THEN v.piece
            ELSE s.path || '␟' || v.piece END AS path,
       {j} AS j
FROM st{j} s JOIN vocab v
  ON v.piece = substring(s.word, {j + 1}, {i - j})
WHERE length(s.word) >= {i}"""
            for j in range(max(0, i - L), i))
        sql += f""",
st{i} AS MATERIALIZED (
  SELECT word, score, np, path FROM (
    SELECT u.*, ROW_NUMBER() OVER (
        PARTITION BY u.word ORDER BY u.score DESC, u.j) AS rn
    FROM ({branches}) u) WHERE rn = 1)"""
    finals = " UNION ALL ".join(
        f"SELECT word, score, np, path FROM st{i} "
        f"WHERE length(word) = {i}" for i in range(1, MW + 1))
    sql += f"""
SELECT w.word, w.count, f.path AS encoded,
       CAST(f.score AS BIGINT) AS score_e6,
       CAST(f.np AS INTEGER) AS n_pieces
FROM words w JOIN ({finals}) f USING (word)
"""
    return sql
