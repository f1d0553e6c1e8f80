"""Unit tests: connected components, cluster-level dedup, and the
deterministic sampling/splitting/mixing operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark.operators import dedup, sampling
from xpysom_dask_spark.operators.graph import (
    component_sizes,
    connected_components,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a bigint, id_b bigint")


def test_connected_components_basic(spark):
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (5, 6), (8, 9), (9, 10)])
    got = {r.id: r.component
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}
    sizes = {r.component: r.n_members
             for r in component_sizes(connected_components(pairs)).collect()}
    assert sizes == {1: 4, 5: 2, 8: 3}


def test_connected_components_chain(spark):
    """A 30-node chain (worst diameter) still converges and labels
    everything with the chain minimum."""
    pairs = _pairs(spark, [(i, i + 1) for i in range(30)])
    got = {r.id: r.component
           for r in connected_components(pairs).collect()}
    assert set(got) == set(range(31))
    assert set(got.values()) == {0}


def test_connected_components_reversed_ids(spark):
    """Edge direction must not matter: (9,1) connects like (1,9)."""
    pairs = _pairs(spark, [(9, 1), (5, 9)])
    got = {r.id: r.component
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 5: 1, 9: 1}


def test_fuzzy_dedup_keep_first(spark):
    text_a = "alpha bravo charlie delta echo foxtrot golf hotel"
    text_b = "uno dos tres cuatro cinco seis siete ocho nueve"
    rows = [(1, text_a), (2, text_a), (7, text_a),      # dup cluster → keep 1
            (3, text_b), (9, text_b),                   # dup cluster → keep 3
            (4, "a single unique document with its own words entirely")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    comp = {r.id: r.component
            for r in dedup.dedup_clusters(df, "text", "doc_id",
                                          threshold=0.9).collect()}
    assert comp == {1: 1, 2: 1, 7: 1, 3: 3, 9: 3}

    kept = sorted(r.doc_id for r in
                  dedup.fuzzy_dedup_keep_first(df, "text", "doc_id",
                                               threshold=0.9).collect())
    assert kept == [1, 3, 4]


def test_hash_sample_deterministic_and_nested(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    s10 = {r.doc_id for r in
           sampling.hash_sample(df, "doc_id", 0.1, seed=3).collect()}
    again = {r.doc_id for r in
             sampling.hash_sample(df.repartition(7), "doc_id", 0.1,
                                  seed=3).collect()}
    assert s10 == again                     # layout-independent
    assert 0.07 < len(s10) / 5000 < 0.13    # ~fraction
    s50 = {r.doc_id for r in
           sampling.hash_sample(df, "doc_id", 0.5, seed=3).collect()}
    assert s10 <= s50                       # subset chain at same seed
    s10_other = {r.doc_id for r in
                 sampling.hash_sample(df, "doc_id", 0.1, seed=4).collect()}
    assert s10 != s10_other                 # seed matters


def test_split_by_hash_disjoint_exhaustive_stable(spark):
    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    out = sampling.split_by_hash(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=1)
    pdf = out.toPandas()
    assert len(pdf) == 4000                 # exhaustive
    shares = pdf["split"].value_counts(normalize=True)
    assert 0.75 < shares["train"] < 0.85
    assert 0.06 < shares["val"] < 0.14
    # stability: the label of a row is unchanged when scoring a subset
    sub = sampling.split_by_hash(
        df.where("doc_id < 100"), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=1).toPandas()
    merged = sub.merge(pdf, on="doc_id", suffixes=("_sub", "_full"))
    assert (merged["split_sub"] == merged["split_full"]).all()


def test_stratified_sample_rates(spark):
    df = (spark.range(6000).withColumnRenamed("id", "doc_id")
          .withColumn("source", F.expr(
              "CASE WHEN doc_id % 3 = 0 THEN 'crawl' "
              "WHEN doc_id % 3 = 1 THEN 'books' ELSE 'code' END")))
    out = sampling.stratified_sample(
        df, "doc_id", "source", {"crawl": 0.1, "books": 1.0}, seed=5)
    counts = {r.source: r.n for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("books") == 2000        # keep-all stratum
    assert "code" not in counts               # default 0 drops
    assert 120 < counts.get("crawl", 0) < 280  # ~10% of 2000


def test_sampling_validation():
    import pyspark.sql

    with pytest.raises(ValueError, match="fraction"):
        sampling.hash_sample(None, "id", 1.5)
    with pytest.raises(ValueError, match="weights"):
        sampling.split_by_hash(None, "id", {})
    with pytest.raises(ValueError, match="stratum"):
        sampling.stratified_sample(None, "id", "s", {"a": 2.0})


def test_mixture_report(spark):
    df = (spark.range(300).withColumnRenamed("id", "doc_id")
          .withColumn("source",
                      F.expr("IF(doc_id < 100, 'a', 'b')"))
          .withColumn("n_tok", F.lit(10) + F.col("doc_id") % 5))
    rep = {r.source: (r.n_rows, r.share)
           for r in sampling.mixture_report(df, "source").collect()}
    assert rep["a"][0] == 100 and rep["b"][0] == 200
    assert abs(rep["a"][1] - 1 / 3) < 1e-12
    wrep = sampling.mixture_report(df, "source", weight_col="n_tok")
    assert abs(sum(r.share for r in wrep.collect()) - 1.0) < 1e-12


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_random_vs_unionfind(spark, seed):
    """Random graphs vs a driver-side union-find oracle: identical
    membership AND the min-id canonical labeling."""
    rng = np.random.RandomState(seed)
    raw = rng.randint(0, 60, (50, 2))
    edges = sorted({(int(min(a, b)), int(max(a, b)))
                    for a, b in raw if a != b})
    got = {r.id: r.component
           for r in connected_components(_pairs(spark, edges)).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for x in parent:
        roots.setdefault(find(x), []).append(x)
    expect = {x: min(members)
              for members in roots.values() for x in members}
    assert got == expect


@pytest.mark.parametrize("weights", [
    {"a": 2.0, "b": 1.0, "c": 1.0},          # unnormalized
    {"train": 0.98, "val": 0.01, "test": 0.01},
    {"only": 5.0},                           # single split
])
def test_split_by_hash_properties(spark, weights):
    """Exhaustive + disjoint for arbitrary weight dicts; empirical
    shares track the normalized weights."""
    n = 3000
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = sampling.split_by_hash(df, "doc_id", weights, seed=9).toPandas()
    assert len(out) == n                       # every row labeled once
    counts = out["split"].value_counts()
    total = sum(weights.values())
    for name, w in weights.items():
        share = counts.get(name, 0) / n
        assert abs(share - w / total) < 0.05, (name, share)


def test_empty_inputs_are_graceful(spark):
    """Every operator family returns empty/identity on empty input —
    no crashes on the degenerate corpus."""
    from xpysom_dask_spark import SparkSom
    from xpysom_dask_spark.operators import graph, packing, similarity
    from xpysom_dask_spark.operators.graph import connected_components

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    empty_emb = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>")
    empty_feat = spark.createDataFrame([], "features array<double>")

    som = SparkSom(3, 3, 4, random_seed=1)
    # training stores weights in the configured dtype; "unchanged"
    # means equal after the same float32 round-trip
    w0 = som.get_weights().astype(som.dtype).copy()
    som.train(empty_feat, 2)                       # fused path
    assert np.array_equal(som.get_weights(), w0)   # no data -> unchanged
    som_d = SparkSom(3, 3, 4, random_seed=1, fuse_local_bytes=0)
    som_d.train(empty_feat, 1)                     # distributed path
    assert np.array_equal(som_d.get_weights(), w0)

    assert dedup.minhash_near_dups(empty_docs, "text", "doc_id").count() == 0
    assert dedup.simhash_near_dups(empty_docs, "text", "doc_id").count() == 0
    assert dedup.fuzzy_dedup_keep_first(empty_docs, "text",
                                        "doc_id").count() == 0
    assert connected_components(empty_pairs).count() == 0
    assert sampling.hash_sample(empty_docs, "doc_id", 0.5).count() == 0
    assert packing.pack_sequences(
        empty_docs.withColumn("n_tok", F.lit(1)),
        "doc_id", "n_tok", 100).count() == 0
    assert similarity.cosine_topk(empty_emb, empty_emb).count() == 0
    assert similarity.lsh_near_dup_pairs(empty_emb, dim=4).count() == 0
    assert similarity.near_dup_pairs(empty_emb).count() == 0


def test_mixture_resample_copies_and_rates(spark):
    """floor(f) full copies + hash-selected fractional extra; f<1
    downsamples, f>1 upsamples; deterministic under repartitioning."""
    df = (spark.range(6000).withColumnRenamed("id", "doc_id")
          .withColumn("src", F.expr(
              "CASE WHEN doc_id % 3 = 0 THEN 'a' "
              "WHEN doc_id % 3 = 1 THEN 'b' ELSE 'c' END")))
    out = sampling.mixture_resample(
        df, "doc_id", "src", {"a": 2.5, "b": 0.4, "c": 0.0}, seed=1)
    pdf = out.toPandas()
    counts = pdf.groupby("src")["doc_id"].count()
    # a: 2000 rows * 2.5 → ~5000 (each row 2 or 3 copies)
    assert 4700 < counts["a"] < 5300
    per_row = pdf[pdf["src"] == "a"].groupby("doc_id")["copy_id"].count()
    assert set(per_row.unique()) <= {2, 3}
    # copy ids are 1..n per row
    assert set(pdf[pdf["src"] == "a"]["copy_id"].unique()) <= {1, 2, 3}
    # b: ~40% keep with exactly one copy
    assert 650 < counts["b"] < 950
    assert (pdf[pdf["src"] == "b"].groupby("doc_id")["copy_id"]
            .count() == 1).all()
    # c: dropped entirely
    assert "c" not in counts.index

    again = sampling.mixture_resample(
        df.repartition(11), "doc_id", "src",
        {"a": 2.5, "b": 0.4, "c": 0.0}, seed=1).toPandas()
    a = pdf.sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    with pytest.raises(ValueError, match="factor"):
        sampling.mixture_resample(df, "doc_id", "src", {"a": -1})


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_star_matches_unionfind(spark):
    """Star algorithm == union-find oracle on a random mixed graph
    (cliques + chains + singleton pairs)."""
    from xpysom_dask_spark.operators.graph import connected_components_star

    rng = np.random.RandomState(13)
    edges = [(int(a), int(b)) for a, b in
             zip(rng.randint(0, 400, 600), rng.randint(0, 400, 600))
             if a != b]
    edges += [(1000 + i, 1001 + i) for i in range(50)]   # a 51-node chain
    got = {r.id: r.component for r in
           connected_components_star(_pairs(spark, edges)).collect()}
    want = _uf_oracle(edges)
    assert got == want


def test_connected_components_long_chain_auto_switch(spark):
    """A 300-node chain exceeds the label-propagation budget; auto mode
    must switch to the star algorithm and converge instead of raising
    (VERDICT r02 #6)."""
    pairs = _pairs(spark, [(i, i + 1) for i in range(300)])
    got = {r.id: r.component
           for r in connected_components(pairs, switch_after=3,
                                          fuse_local_edges=0).collect()}
    assert set(got) == set(range(301))
    assert set(got.values()) == {0}
    # explicit label algorithm with a tight budget still raises (the
    # budget applies to the DISTRIBUTED loop; r9 driver fusion would
    # solve a 300-edge graph before the loop, so disable it here)
    with pytest.raises(RuntimeError, match="star"):
        connected_components(pairs, max_iter=3, algorithm="label",
                             fuse_local_edges=0)


def test_connected_components_star_self_loops_and_reversed(spark):
    from xpysom_dask_spark.operators.graph import connected_components_star

    pairs = _pairs(spark, [(7, 7), (9, 1), (5, 9)])
    got = {r.id: r.component
           for r in connected_components_star(pairs).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 7: 7}


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_label_propagation_random_vs_python_reference(spark, seed):
    """Random graphs vs a driver-side pure-Python replay of the
    deterministic LPA definition (closed neighborhood, most-frequent
    label, smallest-label tie-break, synchronous fixed rounds)."""
    from xpysom_dask_spark.operators.graph import label_propagation

    rng = np.random.RandomState(seed)
    raw = rng.randint(0, 40, (60, 2))
    edges = sorted({(int(min(a, b)), int(max(a, b)))
                    for a, b in raw if a != b})
    n_iter = 4
    got = {r.id: r.community for r in label_propagation(
        _pairs(spark, edges), n_iter=n_iter).collect()}

    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {v: v for v in nbrs}
    for _ in range(n_iter):
        new = {}
        for v in nbrs:
            votes = {}
            for u in nbrs[v]:
                votes[label[u]] = votes.get(label[u], 0) + 1
            votes[label[v]] = votes.get(label[v], 0) + 1
            new[v] = min(votes, key=lambda l: (-votes[l], l))
        label = new
    verts = {v for e in edges for v in e}
    expect = {v: label.get(v, v) for v in verts}
    assert got == expect


@pytest.mark.parametrize("seed", [5, 17])
def test_psi_drift_random_vs_python_reference(spark, seed):
    """Random snapshots vs a pure-Python replay of the smoothed-PSI
    definition on the fixed grid (clamped bins, (c+1)/(n+B))."""
    import math

    from xpysom_dask_spark.operators.profile import psi_drift

    rng = np.random.RandomState(seed)
    va = np.round(rng.normal(10, 6, 300), 3)
    vb = np.round(rng.normal(13, 4, 250), 3)
    lo, hi, bins = 0.0, 25.0, 8
    a = spark.createDataFrame([(float(v),) for v in va], "v double")
    b = spark.createDataFrame([(float(v),) for v in vb], "v double")
    got = {r["bin"]: r for r in
           psi_drift(a, b, "v", lo, hi, bins=bins).collect()}

    def hist(vals):
        h = [0] * bins
        for v in vals:
            i = int(math.floor((v - lo) * (bins / (hi - lo))))
            h[max(0, min(i, bins - 1))] += 1
        return h

    ha, hb = hist(va), hist(vb)
    na, nb = sum(ha), sum(hb)
    assert len(got) == bins
    for i in range(bins):
        assert got[i]["ca"] == ha[i] and got[i]["cb"] == hb[i]
        assert got[i]["n_a"] == na and got[i]["n_b"] == nb
        pa = (ha[i] + 1) / (na + bins)
        pb = (hb[i] + 1) / (nb + bins)
        term = (pa - pb) * math.log(
            ((ha[i] + 1) * (nb + bins)) / ((hb[i] + 1) * (na + bins)))
        assert got[i]["term_e6"] == math.floor(term * 1e6 + 0.5)


def test_label_propagation_weighted_strongest_tie_wins(spark):
    """With integer edge weights, one heavy edge outvotes several
    light ones (and the unweighted call keeps count semantics)."""
    from xpysom_dask_spark.operators.graph import label_propagation

    wpairs = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (1, 4, 5)],
        "id_a bigint, id_b bigint, w bigint")
    weighted = {r.id: r.community for r in label_propagation(
        wpairs, n_iter=1, weight_col="w").collect()}
    assert weighted[1] == 4
    unweighted = {r.id: r.community for r in label_propagation(
        wpairs, n_iter=1).collect()}
    assert unweighted[1] == 1  # 4-way weight-1 tie -> smallest label


def test_psi_drift_grouped_matches_per_group_calls(spark):
    """group_cols output must equal separate ungrouped calls per
    group (same grid, same smoothing)."""
    from xpysom_dask_spark.operators.profile import psi_drift

    rows_a = [("x", float(v % 17)) for v in range(200)] + \
             [("y", float(v % 5)) for v in range(150)]
    rows_b = [("x", float((v * 3) % 19)) for v in range(180)] + \
             [("y", float(v % 11)) for v in range(90)]
    a = spark.createDataFrame(rows_a, "g string, v double")
    b = spark.createDataFrame(rows_b, "g string, v double")
    got = {(r["g"], r["bin"]): tuple(r)[2:] for r in psi_drift(
        a, b, "v", 0.0, 20.0, bins=10, group_cols=("g",)).collect()}
    for grp in ("x", "y"):
        solo = psi_drift(a.where(F.col("g") == grp),
                         b.where(F.col("g") == grp),
                         "v", 0.0, 20.0, bins=10).collect()
        for r in solo:
            assert got[(grp, r["bin"])] == tuple(r)[1:]
    assert len(got) == 20


def test_round8_session2_ops_empty_inputs_graceful(spark):
    """Empty inputs: LPA/psi/mad return empty or well-defined
    relations instead of raising (the empty-inputs contract the
    older operators already honor)."""
    from xpysom_dask_spark.operators.graph import label_propagation
    from xpysom_dask_spark.operators.profile import (mad_outliers,
                                                     psi_drift)

    empty_pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert label_propagation(empty_pairs, n_iter=2).count() == 0

    empty_vals = spark.createDataFrame([], "g string, v double")
    rows = psi_drift(empty_vals, empty_vals, "v", 0.0, 10.0,
                     bins=4).collect()
    assert len(rows) == 4 and all(r["term_e6"] == 0 for r in rows)
    assert psi_drift(empty_vals, empty_vals, "v", 0.0, 10.0, bins=4,
                     group_cols=("g",)).count() == 0
    assert mad_outliers(empty_vals, "g", "v").count() == 0


def test_community_modularity_exact_and_vs_python(spark):
    """Bridged-cliques fixture: hand-computed Q plus a random-graph
    differential against a pure-Python replay."""
    from xpysom_dask_spark.operators.graph import (community_modularity,
                                                   label_propagation)

    pairs = _pairs(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6),
                           (5, 6), (3, 4)])
    comm = label_propagation(pairs, n_iter=4)
    rows = {r["community"]: r for r in
            community_modularity(pairs, comm).collect()}
    # m=7; each clique: e_c=3, d_c=7 -> (4*7*3 - 49)/196 = 35/196
    import math
    want = math.floor(35 / 196 * 1e6 + 0.5)
    assert set(rows) == {1, 4}
    for c in (1, 4):
        r = rows[c]
        assert (r["n_nodes"], r["intra_edges"], r["degree_sum"],
                r["contrib_e6"]) == (3, 3, 7, want)

    rng = np.random.RandomState(23)
    raw = rng.randint(0, 30, (50, 2))
    edges = sorted({(int(min(a, b)), int(max(a, b)))
                    for a, b in raw if a != b})
    comm2 = label_propagation(_pairs(spark, edges), n_iter=3)
    got = {r["community"]: r["contrib_e6"] for r in
           community_modularity(_pairs(spark, edges), comm2).collect()}
    lab = {r["id"]: r["community"] for r in comm2.collect()}
    m = len(edges)
    deg, intra, dsum = {}, {}, {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
        if lab[a] == lab[b]:
            intra[lab[a]] = intra.get(lab[a], 0) + 1
    for v, d in deg.items():
        dsum[lab[v]] = dsum.get(lab[v], 0) + d
    exp = {c: math.floor((4 * m * intra.get(c, 0) - dsum[c] ** 2)
                         / (4 * m * m) * 1e6 + 0.5)
           for c in dsum}
    assert got == exp


def test_community_modularity_empty_and_singletons(spark):
    from xpysom_dask_spark.operators.graph import community_modularity

    empty = _pairs(spark, [])
    comm = spark.createDataFrame([], "id bigint, community bigint")
    assert community_modularity(empty, comm).count() == 0
    # node absent from communities -> singleton of its own id
    pairs = _pairs(spark, [(1, 2)])
    comm1 = spark.createDataFrame([(1, 1)], ["id", "community"])
    rows = {r["community"]: r for r in
            community_modularity(pairs, comm1).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["intra_edges"] == 0 and rows[2]["degree_sum"] == 1


def _py_coreness(edges):
    """Reference peeling on the driver: repeatedly remove min-degree
    vertices, recording the layer each vertex falls out at."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    k = 1
    while adj:
        while True:
            shed = [v for v, ns in adj.items() if len(ns) < k]
            if not shed:
                break
            for v in shed:
                core[v] = k - 1
                for u in adj.pop(v):
                    if u in adj:
                        adj[u].discard(v)
        k += 1
        if k > 10_000:
            raise RuntimeError("reference peel runaway")
    return core


def test_k_core_and_coreness_match_reference_peel(spark):
    """K5 clique + pendant chain + a triangle bridge: coreness must
    equal the driver-side peel exactly, and k_core(k) must return
    exactly the vertices with coreness >= k at their in-core degree."""
    from xpysom_dask_spark.operators.graph import coreness, k_core

    edges = []
    clique = [0, 1, 2, 3, 4]
    edges += [(a, b) for i, a in enumerate(clique)
              for b in clique[i + 1:]]
    edges += [(4, 10), (10, 11), (11, 12)]          # pendant chain
    edges += [(12, 20), (20, 21), (21, 12)]         # triangle
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    ref = _py_coreness(edges)
    got = {r["id"]: r["core"] for r in
           coreness(df, "id_a", "id_b").collect()}
    assert got == ref
    assert got[0] == 4 and got[20] == 2 and got[10] == 2

    for k in (1, 2, 3, 4, 5):
        survivors = {r["id"]: r["degree"] for r in
                     k_core(df, k, "id_a", "id_b").collect()}
        want = {v for v, c in ref.items() if c >= k}
        assert set(survivors) == want, k
        # in-core degree: count edges among survivors
        for v in want:
            d = sum(1 for a, b in edges
                    if (a == v and b in want) or (b == v and a in want))
            assert survivors[v] == d, (k, v)


def test_k_core_randomized_against_reference(spark):
    import random

    from xpysom_dask_spark.operators.graph import coreness

    rng = random.Random(7)
    n = 40
    edges = sorted({(min(a, b), max(a, b))
                    for _ in range(160)
                    for a, b in [(rng.randrange(n), rng.randrange(n))]
                    if a != b})
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    ref = _py_coreness(edges)
    got = {r["id"]: r["core"] for r in
           coreness(df, "id_a", "id_b").collect()}
    assert got == ref


def test_k_core_validation_and_empty(spark):
    import pytest as _pt

    from xpysom_dask_spark.operators.graph import k_core

    df = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with _pt.raises(ValueError, match="k must"):
        k_core(df, 0)
    # K2 has no 2-core
    assert k_core(df, 2).count() == 0


def test_components_two_path_parity(spark):
    """Driver union-find fusion == distributed min-label propagation
    == star algorithm, on a graph with chains, cliques and
    self-loops."""
    import random

    from xpysom_dask_spark.operators.graph import (
        connected_components, connected_components_star)

    rng = random.Random(13)
    edges = sorted({(rng.randrange(50), rng.randrange(50))
                    for _ in range(60)})   # sparse -> several comps
    edges += [(7, 7), (49, 49)]            # self-loops
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    fused = {r["id"]: r["component"] for r in
             connected_components(df).collect()}
    dist = {r["id"]: r["component"] for r in
            connected_components(df, fuse_local_edges=0).collect()}
    star = {r["id"]: r["component"] for r in
            connected_components_star(df).collect()}
    assert fused == dist == star


def test_coreness_deep_degeneracy_bounded_plan(spark):
    """High-degeneracy graph (VERDICT r9 #6): a 65-clique (core 64)
    plus one pendant at every level k=1..63 forces ~64 shed shards,
    so the distributed peel must truncate its accumulator's union
    TREE (every ~16 shards) or the final plan is hundreds of unions
    deep.  Exact parity with the driver-side reference peel."""
    from xpysom_dask_spark.operators.graph import coreness

    clique = list(range(65))
    edges = [(a, b) for i, a in enumerate(clique)
             for b in clique[i + 1:]]
    # pendant 100+k attaches to the first k clique members -> core k
    for k in range(1, 64):
        edges += [(100 + k, m) for m in range(k)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    ref = _py_coreness(edges)
    out = coreness(df, "id_a", "id_b", fuse_local_edges=0)
    got = {r["id"]: r["core"] for r in out.collect()}
    assert got == ref
    assert got[0] == 64 and got[101] == 1 and got[163] == 63
    # the truncation must keep the plan shallow: a 64-deep union
    # chain stringifies enormous; bound the plan's total size
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Union") <= 20, plan.count("Union")


def test_core_two_path_parity(spark):
    """Driver-fused coreness/k_core == the distributed peel."""
    import random

    from xpysom_dask_spark.operators.graph import coreness, k_core

    rng = random.Random(17)
    edges = sorted({(rng.randrange(35), rng.randrange(35))
                    for _ in range(140)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    fused = {r["id"]: r["core"] for r in coreness(df).collect()}
    dist = {r["id"]: r["core"] for r in
            coreness(df, fuse_local_edges=0).collect()}
    assert fused == dist
    for k in (2, 3):
        f = {r["id"]: r["degree"] for r in k_core(df, k).collect()}
        d = {r["id"]: r["degree"] for r in
             k_core(df, k, fuse_local_edges=0).collect()}
        assert f == d, k


def test_triangle_counts_two_path_parity(spark):
    """optimization r13: triangle_counts gained the small-graph driver
    fusion (the label_propagation/pagerank idiom) — the fused path and
    the distributed compact-forward plan must agree bit-for-bit."""
    import random

    from xpysom_dask_spark.operators.graph import triangle_counts

    rng = random.Random(31)
    edges = {(rng.randint(0, 40), rng.randint(0, 40))
             for _ in range(260)}
    df = spark.createDataFrame(sorted(edges), "id_a bigint, id_b bigint")
    fused = {(r["id"], r["n_triangles"])
             for r in triangle_counts(df).collect()}
    dist = {(r["id"], r["n_triangles"])
            for r in triangle_counts(df, fuse_local_edges=0).collect()}
    assert fused == dist and fused


def test_triangle_counts_over_wedge_cap_runs_distributed(spark, monkeypatch):
    """A dense graph under the edge cap but over the wedge cap skips the
    Python enumeration: the distributed plan over the same checkpointed
    edges, with the fuse_local_edges=0 result."""
    from xpysom_dask_spark.operators import graph

    clique = [(a, b) for a in range(12) for b in range(a + 1, 12)]
    df = spark.createDataFrame(clique + [(11, 20), (20, 21)],
                               "id_a bigint, id_b bigint")
    assert "LocalTableScan" in graph.triangle_counts(df)._jdf \
        .queryExecution().executedPlan().toString()
    monkeypatch.setattr(graph, "TRIANGLE_FUSE_WEDGES", 100)   # K12: 220
    capped = graph.triangle_counts(df)
    assert "LocalTableScan" not in \
        capped._jdf.queryExecution().executedPlan().toString()
    dist = graph.triangle_counts(df, fuse_local_edges=0)
    assert capped.schema == dist.schema
    got = sorted(capped.collect())
    assert got == sorted(dist.collect())
    assert dict(got)[0] == 55 and dict(got)[21] == 0   # C(11, 2)


def test_fused_components_are_an_arrow_local_relation(spark):
    """The fused result is an Arrow-built LocalRelation: a sized
    LocalTableScan, not the statistics-free RDD scan that
    createDataFrame(<list>) yields."""
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3), (5, 6)]))
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_fuzzy_dedup_anti_join_is_broadcast(spark):
    """The loser set comes from a sized local relation, so the final
    anti-join broadcasts it instead of shuffling both sides."""
    text = "alpha bravo charlie delta echo foxtrot golf hotel"
    df = spark.createDataFrame([(1, text), (2, text), (3, "other words")],
                               "doc_id bigint, text string")
    kept = dedup.fuzzy_dedup_keep_first(df, "text", "doc_id", threshold=0.9)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def _group_jobs(spark, group, build):
    """Ids of the Spark jobs ``build()`` runs, via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_fused_components_jobs_are_checkpoint_plus_one_fetch(spark):
    """A fused connected_components runs the jobs of its edge
    checkpoint and exactly one more — the bounded fetch (no count())."""
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6), (9, 5)])
    e = pairs.selectExpr("id_a AS src", "id_b AS dst")
    ckpt = _group_jobs(spark, "cc-edges-checkpoint", lambda: e.unionByName(
        e.selectExpr("dst AS src", "src AS dst")).distinct()
        .localCheckpoint(eager=True))
    fused = _group_jobs(spark, "cc-fused",
                        lambda: connected_components(pairs))
    assert ckpt and len(fused) == len(ckpt) + 1, (ckpt, fused)


def test_fused_and_distributed_schemas_agree_on_mixed_id_types(spark):
    """int/bigint endpoint columns: both paths type ids from the
    canonical edge relation (the promoted type), so the fused and the
    distributed schemas — nullability included — are equal."""
    from xpysom_dask_spark.operators.graph import k_core, triangle_counts

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (5, 6)],
                                  "id_a int, id_b bigint")
    for op in (connected_components, triangle_counts,
               lambda p, **kw: k_core(p, 2, **kw)):
        fused, dist = op(pairs), op(pairs, fuse_local_edges=0)
        assert fused.schema == dist.schema, (fused.schema, dist.schema)
        assert sorted(fused.collect()) == sorted(dist.collect())
    assert dict(connected_components(pairs).dtypes)["id"] == "bigint"


#: py4j round trips to BUILD (not run) the MinHash → band join →
#: Jaccard verify plan.  Measured 160-177 with SQL-string expressions
#: (the spread is py4j's object-release commands); the Column-expression
#: form took 1,391.
PLAN_PY4J_BUDGET = 250


def _collect_py4j_garbage(spark, timeout=10.0):
    """gc.collect(), then wait until py4j's finalizer thread has sent
    the release commands it queued.  That thread wakes about once a
    second, so without the wait the releases of every earlier test's
    garbage can land inside a counted window (seen: 352 calls in a
    full-suite run, 160 alone)."""
    import gc
    import time

    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + timeout
    while pending and time.monotonic() < deadline:
        time.sleep(0.05)


def test_minhash_verify_plan_py4j_budget(spark, monkeypatch):
    """Building the near-dup plan stays within a py4j call budget:
    every F.* call / Column operator is its own JVM round trip, so a
    regression to Column trees shows up here long before it shows up
    as driver time."""
    from py4j.clientserver import ClientServerConnection

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w")],
        "doc_id bigint, text string")
    sh = dedup.word_shingles(df, "text", "doc_id").localCheckpoint(
        eager=True)
    _collect_py4j_garbage(spark)
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    dedup.jaccard_verify(dedup.minhash_band_pairs(
        dedup.minhash_signatures_from_shingles(sh)), sh)
    monkeypatch.undo()
    assert 0 < len(calls) <= PLAN_PY4J_BUDGET, len(calls)

    # the set form minhash_near_dups builds over its checkpointed table
    sets = dedup._shingle_sets(df, "text", "doc_id", 3,
                               dedup.MINHASH_K).localCheckpoint(eager=True)
    _collect_py4j_garbage(spark)
    calls.clear()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    dedup._verify_shingle_sets(dedup.minhash_band_pairs(sets), sets, 0.5)
    monkeypatch.undo()
    assert 0 < len(calls) <= PLAN_PY4J_BUDGET, len(calls)


_NEAR = "one two three four five six seven eight nine ten eleven twelve"
_HOT = "the quick brown fox jumps over the lazy dog again and again"


@pytest.fixture(scope="module")
def verify_docs(spark):
    """Every shape the per-document set table must treat as the row
    form does: a repeated id, docs shorter than n, NULL text, a NULL
    id, shingles repeated inside a doc, a cold near-dup pair and an
    exact-duplicate hot bucket."""
    rows = [(1, _NEAR), (2, _NEAR.replace("twelve", "zebra")),
            (3, _NEAR.replace("one", "uno")), (3, "red green blue cyan"),
            (4, "a b"), (5, None), (None, _NEAR),
            (6, "red green blue cyan magenta yellow black white"),
            (7, "red green blue cyan magenta yellow black grey"),
            (8, "p q r s t u p q r s t u w"),
            (9, "p q r s t u p q r s t u v")]
    rows += [(100 + i, _HOT) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id bigint, text string") \
        .repartition(4)


def _row_form_near_dups(df, threshold=0.5, max_bucket=None):
    sh = dedup.word_shingles(df, "text", "doc_id").localCheckpoint(
        eager=True)
    return dedup.jaccard_verify(dedup.minhash_band_pairs(
        dedup.minhash_signatures_from_shingles(sh), max_bucket=max_bucket),
        sh, threshold)


@pytest.mark.parametrize("max_bucket", [None, 2])
def test_minhash_near_dups_equals_row_form_chain(spark, verify_docs,
                                                 max_bucket):
    """The set-table plan returns the row-form chain's rows and schema,
    nullability included."""
    got = dedup.minhash_near_dups(verify_docs, "text", "doc_id",
                                  max_bucket=max_bucket)
    ref = _row_form_near_dups(verify_docs, max_bucket=max_bucket)
    assert got.schema == ref.schema, (got.schema, ref.schema)
    rows = sorted(got.collect())
    assert rows == sorted(ref.collect())
    hot = [r for r in rows if r.id_a >= 100]
    assert len(hot) == (11 if max_bucket else 66)
    assert {(r.id_a, r.id_b) for r in rows if r.id_a < 100} >= \
        {(1, 2), (8, 9)}
    # the repeated id 3 is one set: the union of its two rows' shingles
    assert all(r.jaccard < 1.0 for r in rows if 3 in (r.id_a, r.id_b))


def test_fuzzy_dedup_runs_fewer_jobs_than_row_form_chain(spark,
                                                        verify_docs):
    """keep-first over the set table runs at least three jobs fewer
    than the same op over the row-form chain (measured 13 vs 16 here,
    12 vs 15 on the 3,000-doc benchmark corpus): one checkpointed
    aggregate instead of the shingle distinct + checkpoint, and no
    separate signature/size aggregates of the shingle rows."""
    def row_form():
        comp = connected_components(_row_form_near_dups(verify_docs))
        losers = comp.where("id != component").selectExpr("id AS doc_id")
        return verify_docs.join(losers, "doc_id", "left_anti").count()

    new = _group_jobs(spark, "keep-first-sets",
                      lambda: dedup.fuzzy_dedup_keep_first(
                          verify_docs, "text", "doc_id").count())
    row = _group_jobs(spark, "keep-first-rows", row_form)
    assert new and len(new) <= len(row) - 3, (new, row)


def test_minhash_near_dups_candidate_bound_raises(spark, verify_docs):
    """max_candidates keeps its guard on the set-table plan."""
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.minhash_near_dups(verify_docs, "text", "doc_id",
                                max_candidates=10).collect()
    got = dedup.minhash_near_dups(verify_docs, "text", "doc_id",
                                  max_bucket=2, max_candidates=1000)
    assert sorted(got.collect()) == sorted(
        _row_form_near_dups(verify_docs, max_bucket=2).collect())
