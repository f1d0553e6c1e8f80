"""Connected components over candidate-pair graphs.

Every near-duplicate pipeline ends the same way: pair generators
(operators.dedup / operators.similarity) emit verified (id_a, id_b)
edges, and the *consumer* needs duplicate CLUSTERS — "keep one document
per component" — not raw pairs.  This module closes that gap with a
DataFrame-native connected-components operator.

Algorithm: iterated min-label propagation.  Each round every node
adopts the minimum label in its closed neighborhood; rounds repeat
until no label changes.  Convergence takes O(graph diameter) rounds —
and duplicate graphs are near-clique clusters with tiny diameter (a
star component converges in 2 rounds), so the loop is a handful of
Spark jobs even at corpus scale.  Each round is one shuffle
(edges ⋈ labels on id, then min-agg on the neighbor side), both
map-side combinable; lineage is truncated every round with
``localCheckpoint`` so the plan never grows with the iteration count.
Driver traffic per round is ONE scalar (the changed-label count) — no
O(V) state ever leaves the executors.

For adversarial high-diameter graphs (long chains — not the dedup
shape), label propagation needs O(diameter) rounds; the classic fix is
alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log² n) rounds — implemented here as ``connected_components_star``.
The default ``algorithm="auto"`` runs label propagation (the right
trade for near-clique duplicate clusters: 2-3 rounds, one
well-partitioned join each) and switches to the star algorithm if the
graph turns out to be deep instead of raising.

Graphs under :data:`GRAPH_FUSE_LOCAL_EDGES` run on the driver, all
under one contract: eager checkpoint of the canonical edges → ONE
bounded Arrow fetch (``fetch_if_small``: no ``count()`` job, and an
over-cap graph falls back onto the same checkpointed blocks) → exact
Python-int rounds → an Arrow-built local relation (``local_frame``).
Not ``createDataFrame(<list>)``: its RDD scan has no size statistics,
so a downstream join plans as a two-shuffle sort-merge join instead of
a broadcast, and every action over it runs Python worker tasks.  Ids
are typed from the canonical edge relation on both paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.exchange import fetch_if_small, local_frame


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50,
                         algorithm: str = "auto",
                         switch_after: int = 8,
                         fuse_local_edges: int | None = None
                         ) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; ``component``
    is the minimum id reachable through the pair graph — a canonical,
    deterministic cluster representative.

    Nodes not present in any pair are not emitted (callers treat absent
    ids as singleton components).

    ``algorithm``: ``"label"`` = min-label propagation (O(diameter)
    rounds — duplicate graphs are near-cliques, diameter 2-3);
    ``"star"`` = alternating large-star/small-star (O(log² n) rounds —
    the chain-graph shape); ``"auto"`` (default) = label propagation,
    switching to the star algorithm after ``switch_after`` unconverged
    rounds instead of burning O(diameter) jobs or raising.
    """
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(f"algorithm must be auto/label/star, "
                         f"got {algorithm!r}")
    if algorithm == "star":
        return connected_components_star(pairs, id_a, id_b, max_iter)
    label_budget = switch_after if algorithm == "auto" else max_iter
    # symmetric edge list; (a,b) with a<b also contributes (b,a)
    e = pairs.selectExpr(f"{id_a} AS src", f"{id_b} AS dst")
    edges = (e.unionByName(e.selectExpr("dst AS src", "src AS dst"))
             .distinct()
             .localCheckpoint(eager=True))
    table = _fetch_small(edges, fuse_local_edges)
    # NULL endpoint: Python ordering would raise where SQL null
    # semantics quietly cope — such graphs take the distributed path
    # so both paths agree on the edge case
    if table is not None and not (table.column("src").null_count
                                  or table.column("dst").null_count):
        # driver fusion: union-find with path compression computes the
        # same min-reachable-id representative exactly (two-path
        # parity pinned by tests); iterative min-label rounds on a
        # graph that fits in one list are pure job latency
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in _rows(table, "src", "dst"):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the root the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        id_t = _id_type(edges, "src")
        return local_frame(pairs.sparkSession,
                           [list(parent), [find(v) for v in parent]],
                           f"id {id_t}, component {id_t}")

    # label(x) starts at x; first round folds in direct neighbors
    labels = (edges.groupBy("src")
              .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
              .withColumnRenamed("src", "id")
              .localCheckpoint(eager=True))

    for _ in range(min(label_budget, max_iter)):
        # candidate label via neighbors: min over label(neighbor)
        nbr = (edges.join(labels.withColumnRenamed("id", "dst"), "dst")
               .groupBy("src").agg(F.min("label").alias("nbr_label"))
               .withColumnRenamed("src", "id"))
        new_labels = (labels.join(nbr, "id", "left")
                      .select("id",
                              F.least("label", "nbr_label").alias("label"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.label") != F.col("o.label"))
                   .count())
        labels = new_labels
        if changed == 0:
            break
    else:
        if algorithm == "auto":
            # deep graph (chains, long boilerplate link paths): hand the
            # ORIGINAL pairs to the O(log² n) star algorithm — partial
            # labels don't transfer, but the wasted work is bounded at
            # switch_after cheap rounds
            return connected_components_star(pairs, id_a, id_b, max_iter)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter — raise it, or use "
            "algorithm='star' for chain-shaped graphs)")
    return labels.select("id", F.col("label").alias("component"))


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iter: int = 30) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., SoCC'14) — O(log² n) rounds on ANY graph shape,
    the fallback for high-diameter graphs where label propagation
    would need O(diameter) rounds.

    * large-star: every node u points its LARGER neighbors at the
      minimum of its closed neighborhood — one symmetric-neighborhood
      aggregation plus an equi-join per round;
    * small-star: every node u points its smaller-or-self neighbors at
      the minimum — same shape over the directed (u > v) edges.

    Both halves are a groupBy + join on the node id (map-side
    combinable, no quadratic stage); the edge list monotonically
    flattens into stars rooted at each component's minimum id.
    Convergence is an exact symmetric anti-join check (two scalar
    counts per round); lineage is truncated per round with
    ``localCheckpoint`` like the label-propagation loop.
    """
    # canonical directed edges u > v (drop self-loops; they add nodes
    # but no connectivity — reattached from the node set at the end)
    e0 = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (e0.where(F.col("a") != F.col("b"))
             .select(F.greatest("a", "b").alias("u"),
                     F.least("a", "b").alias("v"))
             .distinct().localCheckpoint(eager=True))
    for _ in range(max_iter):
        # large-star over symmetric neighborhoods: m = min(closed nbhd)
        sym = edges.select("u", "v").unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (sym.groupBy("u")
             .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        large = (sym.join(m, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct())
        # small-star over the directed u > v edges
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (large.join(m2, "u")
                 .where(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(m2.select("u", F.col("m").alias("v")))
                 .distinct().localCheckpoint(eager=True))
        # symmetric difference in ONE scalar job (both relations are
        # checkpointed, so each side is a cheap rescan, but two count()
        # actions still cost two scheduling round-trips per iteration)
        changed = (small.join(edges, ["u", "v"], "left_anti")
                   .unionByName(edges.join(small, ["u", "v"],
                                           "left_anti"))
                   .count())
        edges = small
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — this exceeds the O(log² n) bound and indicates a "
            "bug or an astronomically large graph; raise max_iter.")
    # converged edge set is a star forest (u → component min); emit
    # every node that appeared in pairs, roots/singletons map to self
    nodes = (pairs.select(F.col(id_a).alias("id"))
             .unionByName(pairs.select(F.col(id_b).alias("id")))
             .distinct())
    stars = edges.select(F.col("u").alias("id"),
                         F.col("v").alias("component"))
    return (nodes.join(stars, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component")))


#: small-graph fusion bound (rows of the SYMMETRIC edge relation AND
#: of the vertex set): below it the fixed-round loops run on the
#: driver in exact Python ints — bit-identical by construction, two-
#: path parity tested — because n_iter distributed rounds cost n_iter
#: × (join + agg + checkpoint) JOBS of pure latency on a graph that
#: fits in one list.  The distributed path stays the default at scale
#: (the SOM trainer's fuse_local_bytes idiom).  Every fused path:
#: eager checkpoint → one bounded Arrow fetch (``fetch_if_small``) →
#: Python rounds → an Arrow local relation (``local_frame``), never
#: ``createDataFrame(<list>)`` (module docstring).
GRAPH_FUSE_LOCAL_EDGES = 200_000


def _fetch_small(rel: DataFrame, cap: int | None):
    """``rel`` as a ``pa.Table`` if it fits the fusion cap (``None``:
    :data:`GRAPH_FUSE_LOCAL_EDGES`), else ``None``."""
    return fetch_if_small(rel, GRAPH_FUSE_LOCAL_EDGES if cap is None
                          else cap)


def _undirected(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Canonical undirected edges ``(a, b)``, ``a < b``: one row per
    unordered pair, self-loops dropped."""
    return (pairs.selectExpr(f"least({id_a}, {id_b}) AS a",
                             f"greatest({id_a}, {id_b}) AS b")
            .where("a != b").distinct())


def _rows(table, *names):
    """The named columns of a fetched ``pa.Table`` as row tuples of
    Python values (exact ints for integral ids)."""
    return list(zip(*(table.column(n).to_pylist() for n in names)))


def _id_type(rel: DataFrame, col: str) -> str:
    """DDL type of ``rel[col]``: the id type both paths return."""
    return rel.schema[col].dataType.simpleString()


def label_propagation(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b", n_iter: int = 4,
                      weight_col: str | None = None,
                      fuse_local_edges: int = GRAPH_FUSE_LOCAL_EDGES
                      ) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al., Phys. Rev. E 76, 2007): ``(id, community)``
    after exactly ``n_iter`` rounds over the undirected pair graph.

    Where :func:`connected_components` answers "which ids are
    transitively linked at all", LPA answers the finer curation
    question "which DENSE families exist inside the link graph" —
    boilerplate/mirror families inside one weakly-connected blob, or
    topical groups in a kNN graph, where a single spurious edge must
    NOT glue two communities together the way it does for components.

    Deterministic variant (engine-exact, replayable in SQL): every
    node starts with its own id as label; each round every node
    adopts the most FREQUENT label in its CLOSED neighborhood (its
    neighbors' labels plus one vote for its own current label), ties
    broken by smallest label; all nodes update simultaneously;
    exactly ``n_iter`` rounds — a fixed-round pure function of the
    graph, with none of the random node order the original paper
    uses (async order-dependence is what makes textbook LPA
    non-reproducible; fixed synchronous rounds with a total-order
    tie-break is the standard determinization, and the self-vote is
    the standard damping that kills the bipartite 2-cycle a pure
    open-neighborhood sync update oscillates on — an isolated edge
    {1,2} converges to label 1 instead of swapping forever).

    Plan: the symmetric edge relation builds once (one shuffle); each
    round is ONE join (labels ⋈ edges on the neighbor id) + one
    map-side-combinable ``groupBy(node, label)`` count, and the
    per-node argmax is TWO more combinable aggregates (max vote,
    then min label at the max) instead of a window top-1 — a window
    ``PARTITION BY node`` is a single-task SORT over a celebrity
    hub's whole vote set, while max/min partials stay skew-proof at
    any degree; all keyed on vertex ids, no cartesian anywhere;
    lineage truncates per round with ``localCheckpoint`` (the
    connected_components discipline).  Graphs whose symmetric edge
    relation AND vertex set both fit ``fuse_local_edges`` run the
    identical rounds on the driver in exact Python ints (bit-equal
    two-path parity tested) — n_iter distributed rounds on a tiny
    graph are pure job latency.
    Self-loop-only and absent nodes return their own id.

    ``weight_col``: optional POSITIVE INTEGER edge weights (e.g. a
    scaled similarity or a co-occurrence count) — votes sum weights
    instead of counting edges, so a node follows its strongest tie,
    not its most numerous one.  Weights of duplicate/symmetric pair
    rows for the same unordered edge SUM; the self-vote keeps weight
    1 (pure damping).  Integer weights keep every round engine-exact
    (float weights would make argmax ties platform-dependent)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    wexp = (F.col(weight_col).cast("bigint") if weight_col
            else F.lit(1).cast("bigint"))
    e = pairs.select(F.col(id_a).alias("src"),
                     F.col(id_b).alias("dst"), wexp.alias("w"))
    sym0 = (e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"), "w"))
            .where(F.col("src") != F.col("dst")))
    if weight_col is None:
        sym = (sym0.select("src", "dst").distinct()
               .withColumn("w", F.lit(1).cast("bigint")))
    else:
        sym = (sym0.groupBy("src", "dst")
               .agg(F.sum("w").cast("bigint").alias("w")))
    sym = sym.localCheckpoint(eager=True)
    verts = (pairs.select(F.col(id_a).alias("id"))
             .unionByName(pairs.select(F.col(id_b).alias("id")))
             .distinct().localCheckpoint(eager=True))
    sym_t = _fetch_small(sym, fuse_local_edges)
    verts_t = (None if sym_t is None
               else _fetch_small(verts, fuse_local_edges))
    if verts_t is not None:
        # driver fusion: the same synchronous rounds in exact Python
        # ints (two-path parity pinned by tests)
        rows = _rows(sym_t, "src", "dst", "w")
        vids = verts_t.column("id").to_pylist()
        labels_d = {s: s for s, _d, _w in rows}
        for _ in range(n_iter):
            votes: dict = {}
            for s, d, w in rows:
                key = (s, labels_d[d])
                votes[key] = votes.get(key, 0) + w
            for node, lab in labels_d.items():
                key = (node, lab)
                votes[key] = votes.get(key, 0) + 1
            best: dict = {}
            for (s, lab), c in votes.items():
                cur = best.get(s)
                if cur is None or (-c, lab) < cur:
                    best[s] = (-c, lab)
            labels_d = {s: lab for s, (_negc, lab) in best.items()}
        id_t = _id_type(verts, "id")
        return local_frame(pairs.sparkSession,
                           [vids, [labels_d.get(v, v) for v in vids]],
                           f"id {id_t}, community {id_t}")
    labels = (sym.select(F.col("src").alias("id")).distinct()
              .select("id", F.col("id").alias("label")))
    for _ in range(n_iter):
        nbr = sym.join(labels.select(F.col("id").alias("dst"),
                                     F.col("label").alias("l")),
                       "dst").select("src", "l", "w")
        own = labels.select(F.col("id").alias("src"),
                            F.col("label").alias("l"),
                            F.lit(1).cast("bigint").alias("w"))
        votes = (nbr.unionByName(own)
                 .groupBy("src", "l")
                 .agg(F.sum("w").alias("c")))
        cmax = votes.groupBy("src").agg(F.max("c").alias("cmax"))
        labels = (votes.join(cmax, "src")
                  .where(F.col("c") == F.col("cmax"))
                  .groupBy("src").agg(F.min("l").alias("label"))
                  .withColumnRenamed("src", "id")
                  .localCheckpoint(eager=True))
    return (verts.join(labels, "id", "left")
            .select("id", F.coalesce("label", "id").alias("community")))


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, n_members) — one map-side-combinable aggregation."""
    return (components.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members")))


def triangle_counts(pairs: DataFrame, id_a: str = "id_a",
                    id_b: str = "id_b",
                    fuse_local_edges: int | None = None) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    pair relation: ``(id, n_triangles)`` — the near-dup-graph density
    audit (a tight duplicate family is a clique, triangle-rich; a
    false-positive LSH chain is triangle-poor; the local clustering
    coefficient is ``n_triangles / C(degree, 2)`` downstream).

    Exact, via the degree-ordered compact-forward plan — the standard
    trick that makes distributed triangle enumeration skew-proof:
    every edge is directed from its lower-(degree, id) endpoint to the
    higher, so a vertex's out-degree is bounded by ~sqrt(|E|) even
    for celebrity vertices, and the wedge self-join (the quadratic
    step) is quadratic in OUT-degree, never in raw degree.  Each
    triangle is enumerated exactly once.

    Plan: canonicalize+distinct (one shuffle) → degree aggregate
    (map-side combined) → two hash joins (wedge build, wedge close) →
    one explode + count.  Every join keys on vertex ids; AQE handles
    residual skew.  Isolated vertices of the pair relation are
    returned with 0 (every vertex appears in some pair by
    construction).

    Graphs whose canonical edge set fits ``fuse_local_edges``
    (default :data:`GRAPH_FUSE_LOCAL_EDGES`) run the identical
    compact-forward enumeration on the driver in exact Python ints
    (two-path parity tested) — the wedge self-join over a tiny graph
    is pure job latency (optimization r13, the label_propagation /
    pagerank fusion idiom)."""
    e = _undirected(pairs, id_a, id_b).localCheckpoint(eager=True)
    table = _fetch_small(e, fuse_local_edges)
    if table is not None:
        # driver fusion: same degree-ordered compact-forward plan in
        # exact Python (each triangle counted once, all three
        # endpoints credited — parity pinned by tests)
        rows = _rows(table, "a", "b")
        deg: dict = {}
        for a, b in rows:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        out_adj: dict = {}
        dirset = set()
        for a, b in rows:
            u, v = ((a, b) if (deg[a], a) < (deg[b], b) else (b, a))
            out_adj.setdefault(u, []).append(v)
            dirset.add((u, v))
        tri = {v: 0 for v in deg}
        for u, nbrs in out_adj.items():
            ns = sorted(nbrs)
            for i in range(len(ns) - 1):
                for j in range(i + 1, len(ns)):
                    v, w = ns[i], ns[j]
                    if (v, w) in dirset or (w, v) in dirset:
                        tri[u] += 1
                        tri[v] += 1
                        tri[w] += 1
        return local_frame(pairs.sparkSession,
                           [list(tri), list(tri.values())],
                           f"id {_id_type(e, 'a')}, "
                           "n_triangles bigint NOT NULL")
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    # direct each edge low-(deg, id) -> high-(deg, id)
    ed = (e.join(deg.withColumnRenamed("v", "a")
                 .withColumnRenamed("d", "da"), "a")
          .join(deg.withColumnRenamed("v", "b")
                .withColumnRenamed("d", "db"), "b")
          .select(
              F.when((F.col("da") < F.col("db"))
                     | ((F.col("da") == F.col("db"))
                        & (F.col("a") < F.col("b"))),
                     F.col("a")).otherwise(F.col("b")).alias("src"),
              F.when((F.col("da") < F.col("db"))
                     | ((F.col("da") == F.col("db"))
                        & (F.col("a") < F.col("b"))),
                     F.col("b")).otherwise(F.col("a")).alias("dst")))
    e1 = ed.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = ed.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    # a wedge (u; v, w) closes iff the DIRECTED edge between v and w
    # exists — v<w is id order, but direction is degree order, so
    # check both orientations
    closing = ed.select(F.col("src").alias("v"),
                        F.col("dst").alias("w")) \
        .unionAll(ed.select(F.col("dst").alias("v"),
                            F.col("src").alias("w")))
    tri = wedges.join(closing, ["v", "w"])
    per_vertex = (tri.select(F.explode(F.array("u", "v", "w"))
                             .alias("id"))
                  .groupBy("id")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_triangles")))
    verts = deg.select(F.col("v").alias("id"))
    return (verts.join(per_vertex, "id", "left")
            .select("id", F.coalesce("n_triangles", F.lit(0))
                    .cast("bigint").alias("n_triangles")))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 5, damping_e6: int = 850000,
             scale: int = 1_000_000,
             fuse_local_edges: int = GRAPH_FUSE_LOCAL_EDGES
             ) -> DataFrame:
    """Deterministic integer-arithmetic PageRank: ``(id, rank_e6)``
    after exactly ``n_iter`` synchronous power iterations on the
    DIRECTED edge relation (Page et al., "The PageRank Citation
    Ranking", Stanford InfoLab 1999).

    Ranks the hub documents of a near-dup/citation/knn graph — the
    curation signal for "this page is the canonical copy" and a
    centrality feature for quality scoring.

    Every iteration is EXACT integer arithmetic, so any engine
    reproduces it bit-for-bit (the bm25 order-free parity class):

    * ranks start at ``scale`` (1e6) per vertex;
    * each vertex sends ``rank // out_degree`` (integer floor) along
      each out-edge; dangling vertices (no out-edges) send nothing —
      their mass is dropped, the classic simplification;
    * new rank = ``(1−d)·scale + (d · Σ incoming) // scale`` using the
      integer ``damping_e6`` (d = 0.85 as 850000/1e6).

    Scale shape: the vertex set and out-degrees are computed once; an
    iteration is ONE join (ranks ⋈ edges on src — rank relation keyed
    and partitioned by vertex id) + one map-side-combinable
    ``groupBy(dst).sum`` + a left join back onto the vertex set for
    no-inbound vertices.  Per-iteration shuffle is O(E + V); lineage
    is cut with ``localCheckpoint`` per round (the
    connected_components discipline) so the plan stays flat for any
    ``n_iter``.  Graphs at or under ``fuse_local_edges`` distinct
    edges run the identical integer iteration on the driver (two-path
    parity tested) — the small-input fusion idiom.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
         .where(F.col("s").isNotNull() & F.col("t").isNotNull())
         .distinct().localCheckpoint(eager=True))
    base = (scale * (scale - damping_e6)) // scale
    # vertex ids: s and t widened to one type by the union
    ends = (e.select(F.col("s").alias("id"))
            .unionAll(e.select(F.col("t").alias("id"))))
    table = _fetch_small(e, fuse_local_edges)
    if table is not None:
        # driver fusion (exact Python ints — the identical iteration;
        # two-path parity pinned by tests)
        rows = _rows(table, "s", "t")
        vids = sorted({s for s, _t in rows} | {t for _s, t in rows})
        od: dict = {}
        for s, _t in rows:
            od[s] = od.get(s, 0) + 1
        ranks_d = {v: scale for v in vids}
        for _ in range(n_iter):
            inbound: dict = {}
            for s, t in rows:
                inbound[t] = inbound.get(t, 0) + ranks_d[s] // od[s]
            ranks_d = {v: base + (damping_e6 * inbound.get(v, 0))
                       // scale for v in vids}
        return local_frame(edges.sparkSession,
                           [vids, [ranks_d[v] for v in vids]],
                           f"id {_id_type(ends, 'id')}, rank_e6 bigint")
    verts = ends.distinct().localCheckpoint(eager=False)
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    es = e.join(outdeg, "s")        # (s, t, od) — static, reused
    es = es.localCheckpoint(eager=False)
    ranks = verts.select("id", F.lit(scale).cast("bigint")
                         .alias("rank_e6"))
    for _ in range(n_iter):
        # `div` (not `/`): Spark's slash is DOUBLE division, which
        # silently breaks exact integer parity past 2^53
        contrib = (es.join(ranks.withColumnRenamed("id", "s"), "s")
                   .select(F.col("t").alias("id"),
                           F.expr("rank_e6 div od").cast("bigint")
                           .alias("c")))
        inbound = contrib.groupBy("id").agg(
            F.sum("c").cast("bigint").alias("in_sum"))
        ranks = (verts.join(inbound, "id", "left")
                 .select("id", (F.lit(base).cast("bigint") + F.expr(
                     f"(CAST({damping_e6} AS BIGINT) * "
                     f"coalesce(in_sum, CAST(0 AS BIGINT))) "
                     f"div {scale}")).cast("bigint").alias("rank_e6"))
                 .localCheckpoint(eager=False))
    return ranks


def community_modularity(pairs: DataFrame, communities: DataFrame,
                         id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Per-community Newman modularity contributions for a partition
    (Newman & Girvan, Phys. Rev. E 69, 2004): ``(community, n_nodes,
    intra_edges, degree_sum, contrib_e6)`` where the partition's
    modularity is ``Q = Σ contrib`` with

        contrib_c = e_c / m − (d_c / 2m)²
                  = (4·m·e_c − d_c²) / (4·m²)

    over the undirected deduplicated edge set (m edges, e_c edges
    with both endpoints in c, d_c the summed degree of c's nodes).
    The quality audit for :func:`label_propagation` output — Q near 0
    means the "communities" are no better than random, Q ≳ 0.3 means
    real structure — and the comparator when tuning ``n_iter`` or
    edge weights.

    EXACT: numerator and denominator are exact BIGINT products (the
    pagerank/kn integer parity class — bounded below ~2^31 edges,
    i.e. 4·m² < 2^63; document-dedup graphs are far smaller than
    their corpora); one double division + e6 floor at the end.
    Nodes absent from ``communities`` count as singleton communities
    of their own id (the label_propagation convention).

    Plan: degrees and the edge count are map-side-combined
    aggregates; intra-edge counts are two label hash-joins on the
    endpoint ids + one ``groupBy(community)``; everything after runs
    on the |communities|-row relation."""
    e = _undirected(pairs, id_a, id_b).localCheckpoint(eager=False)
    m = e.count()
    if m == 0:
        return communities.sparkSession.createDataFrame(
            [], "community bigint, n_nodes bigint, intra_edges bigint,"
                " degree_sum bigint, contrib_e6 bigint")
    lab = communities.select(F.col("id"), F.col("community"))
    verts = (e.select(F.col("a").alias("id"))
             .unionByName(e.select(F.col("b").alias("id")))
             .distinct())
    lab_full = (verts.join(lab, "id", "left")
                .select("id", F.coalesce("community", "id")
                        .alias("community")))
    deg = (e.select(F.col("a").alias("id"))
           .unionAll(e.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    dsum = (deg.join(lab_full, "id")
            .groupBy("community")
            .agg(F.sum("d").cast("bigint").alias("degree_sum"),
                 F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
    intra = (e.join(lab_full.select(F.col("id").alias("a"),
                                    F.col("community").alias("ca")),
                    "a")
             .join(lab_full.select(F.col("id").alias("b"),
                                   F.col("community").alias("cb")),
                   "b")
             .where(F.col("ca") == F.col("cb"))
             .groupBy(F.col("ca").alias("community"))
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("intra_edges")))
    den = float(4 * m * m)
    return (dsum.join(intra, "community", "left")
            .select("community", "n_nodes",
                    F.coalesce("intra_edges", F.lit(0)).cast("bigint")
                    .alias("intra_edges"), "degree_sum")
            .withColumn("contrib_e6", F.floor(
                (F.lit(4 * m).cast("bigint") * F.col("intra_edges")
                 - F.col("degree_sum") * F.col("degree_sum"))
                .cast("double") / F.lit(den) * F.lit(1000000.0)
                + F.lit(0.5)).cast("bigint")))


def k_core(pairs: DataFrame, k: int, id_a: str = "id_a",
           id_b: str = "id_b", max_iter: int = 100,
           fuse_local_edges: int | None = None) -> DataFrame:
    """The k-core of the undirected graph: iteratively peel vertices
    of degree < ``k`` until every survivor has ≥ ``k`` surviving
    neighbors (Seidman, "Network structure and minimum degree",
    Social Networks 1983).  Returns the surviving vertices with their
    in-core degree: ``(id, degree)`` — empty when the graph has no
    k-core.

    The curation use: in near-dup/citation/link graphs the dense core
    is the boilerplate/spam/mirror tier (template pages interlink
    heavily), while coreness-1 vertices are the organic tail — peeling
    is the cheap structural filter before expensive per-document
    scoring.

    Scale shape: each round is one map-side-combinable degree
    aggregation + one semi-join of the edge relation onto the
    surviving vertex set — no per-node neighbor lists ever
    materialize, so a celebrity hub costs nothing beyond its edge
    rows (skew-proof, unlike h-index-style coreness iterations which
    sort each node's neighborhood).  Rounds are bounded by the peel
    depth (the degeneracy ordering's layer count — tiny for the
    near-clique graphs dedup produces); lineage truncates per round
    (localCheckpoint), ONE scalar (the removed-vertex count) reaches
    the driver per round.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = _undirected(pairs, id_a, id_b).localCheckpoint(eager=True)
    table = _fetch_small(e, fuse_local_edges)
    if table is not None:
        rows = _rows(table, "a", "b")
        core = _py_core_numbers(rows)
        survivors = [v for v, c in core.items() if c >= k]
        keep = set(survivors)
        deg: dict = {}
        for a, b in rows:
            if a in keep and b in keep:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        # in-core degree means degree inside the k-core SUBGRAPH
        return local_frame(pairs.sparkSession,
                           [survivors, [deg.get(v, 0) for v in survivors]],
                           f"id {_id_type(e, 'a')}, degree bigint NOT NULL")
    peels = 0
    while True:
        deg = (e.select(F.col("a").alias("id"))
               .unionAll(e.select(F.col("b").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("degree")))
        keep = deg.where(F.col("degree") >= k) \
            .localCheckpoint(eager=True)
        dropped = deg.where(F.col("degree") < k).count()
        if dropped == 0:
            return keep.select("id", F.col("degree").cast("bigint")
                               .alias("degree"))
        # convergence is checked BEFORE the bound so a peel that
        # finishes exactly at max_iter returns instead of raising
        if peels >= max_iter:
            raise RuntimeError(
                f"k_core did not converge in {max_iter} rounds — "
                "raise max_iter (peel depth exceeds the bound)")
        peels += 1
        ids = keep.select("id")
        e = (e.join(ids.withColumnRenamed("id", "a"), "a", "left_semi")
             .join(ids.withColumnRenamed("id", "b"), "b", "left_semi")
             .localCheckpoint(eager=True))


def _py_core_numbers(edges) -> dict:
    """Driver-side layered peel (the fusion twin of :func:`coreness`;
    identical layer semantics: shed everything below k at layer k,
    record k−1)."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core: dict = {}
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
    return core


def coreness(pairs: DataFrame, id_a: str = "id_a",
             id_b: str = "id_b", max_iter: int = 100,
             fuse_local_edges: int | None = None) -> DataFrame:
    """Full core decomposition: every vertex's core number
    ``(id, core)`` — the largest k such that the vertex belongs to
    the k-core.  Computed by layered peeling (repeated :func:`k_core`
    semantics in ONE loop): round r removes every vertex whose
    current degree is the round's minimum layer — equivalently, we
    peel k = 1, 2, 3, … and record the k at which each vertex fell
    out.  Deterministic, exact, and skew-proof for the same reason as
    :func:`k_core` (degree aggregates + semi-joins only; no neighbor
    lists).  Driver traffic: one scalar per peel round.
    """
    e = _undirected(pairs, id_a, id_b).localCheckpoint(eager=True)
    spark = pairs.sparkSession
    table = _fetch_small(e, fuse_local_edges)
    if table is not None:
        core = sorted(_py_core_numbers(_rows(table, "a", "b")).items())
        return local_frame(spark, [[v for v, _c in core],
                                   [c for _v, c in core]],
                           f"id {_id_type(e, 'a')}, core bigint NOT NULL")
    # live vertex set tracked explicitly: a vertex whose last edges
    # peel away vanishes from the edge-derived degree relation but
    # must still shed (degree 0) at the current layer
    verts = (e.select(F.col("a").alias("id"))
             .unionByName(e.select(F.col("b").alias("id")))
             .distinct().localCheckpoint(eager=True))
    out = None
    kk = 1
    layers = 0
    shed_count = 0
    while not verts.isEmpty():
        # the emptiness test re-runs AFTER every layer, so a peel
        # completing in the final allowed layer returns normally
        if layers >= max_iter:
            raise RuntimeError(
                f"coreness did not converge in {max_iter} layers — "
                "raise max_iter")
        layers += 1
        # peel everything below kk until the kk-core stabilizes
        while True:
            deg = (verts.join(
                e.select(F.col("a").alias("id"))
                .unionAll(e.select(F.col("b").alias("id")))
                .groupBy("id").agg(F.count(F.lit(1)).alias("d")),
                "id", "left")
                .select("id", F.coalesce("d", F.lit(0)).alias("d")))
            shed = deg.where(F.col("d") < kk) \
                .select("id", F.lit(kk - 1).cast("bigint").alias("core")) \
                .localCheckpoint(eager=True)
            if shed.isEmpty():
                break
            out = shed if out is None else out.unionByName(shed)
            # each shed shard is checkpointed but the accumulator's
            # union TREE is lineage too: on a high-degeneracy graph
            # (core number in the hundreds) it would grow hundreds
            # deep — truncate it every ~16 shards (VERDICT r9 #6)
            shed_count += 1
            if shed_count % 16 == 0:
                out = out.localCheckpoint(eager=True)
            verts = deg.where(F.col("d") >= kk).select("id") \
                .localCheckpoint(eager=True)
            e = (e.join(verts.withColumnRenamed("id", "a"), "a",
                        "left_semi")
                 .join(verts.withColumnRenamed("id", "b"), "b",
                       "left_semi")
                 .localCheckpoint(eager=True))
        kk += 1
    if out is None:
        return local_frame(spark, [[], []],
                           f"id {_id_type(e, 'a')}, core bigint NOT NULL")
    return out
