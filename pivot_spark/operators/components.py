"""Distributed connected components over an edge list (duplicate-cluster
labeling).

The near-dup operators (``operators/neardup.py``) emit *pairs*; corpus
deduplication needs *clusters* — every document labeled with a canonical
representative so one survivor per cluster can be kept. The reference
(data-integrations/pivot) has no graph operator at all; this is part of the
training-data-pipeline extension surface (SURVEY.md §2.4 E31).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
O(log n)-round formulation used at trillion-edge scale, in contrast to naive
min-label propagation whose round count is the graph *diameter* (a 1M-long
chain of near-dup docs would need 1M shuffles; star operations need ~20).

Each round is two hash aggregations + two joins on the node key — all
Catalyst, no UDFs; per-round lineage is truncated with ``localCheckpoint``
so the plan does not grow with iterations (driver-side iterative control is
fine: the *data* never leaves the cluster, only a converged? boolean).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import materialize, pin


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Keeps (u, m) self-edges implicit; output is distinct
    directed edges (child > parent not guaranteed yet)."""
    nbrs = _symmetrize(edges)
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its smaller-or-equal neighborhood N⁻(u):
    connect every v ∈ N⁻(u) ∪ {u} to min(N⁻(u) ∪ {u})."""
    # orient every edge child→smaller-parent first
    oriented = _symmetrize(edges).where(F.col("dst") < F.col("src"))
    mins = (
        oriented.groupBy("src")
        .agg(F.min("dst").alias("m"))
    )
    joined = oriented.join(mins, "src")
    to_nbr = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    to_self = joined.select("src", F.col("m").alias("dst"))
    return (
        to_nbr.unionByName(to_self)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _driver_union_find(edge_rows) -> "list[tuple]":
    """Path-halving union-find with min-id roots; returns (node, min_id)
    for every node seen. Pure Python — bounded by ``driver_max_edges``."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id wins the root so labels match the distributed path
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Label every node of the undirected graph ``pairs`` with the minimum
    node id of its connected component.

    Returns a DataFrame ``(node, component)`` covering every node that
    appears in ``pairs`` (callers union isolated nodes back if needed —
    for dedup, docs with no near-dup pair are their own singleton cluster
    and never need to enter the shuffle at all).

    Node ids must be orderable (numeric or string).

    Adaptive execution (same reasoning as broadcast-vs-shuffle joins):
    the distinct edge list is counted once; at or under
    ``driver_max_edges`` it is collected and solved with driver-side
    union-find in one pass — near-dup graphs are almost always tiny
    relative to the corpus, and each distributed star round costs
    several fixed-latency jobs. Above the bound (or with
    ``driver_max_edges=0``) the alternating large-star/small-star rounds
    run fully distributed; convergence is checked structurally (the edge
    set is a fixpoint of both stars) and ``max_iter`` is a safety bound
    — 25 double-rounds covers graphs of ~2^25 nodes.
    """
    edges, (n_edges,) = materialize(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        "components.connected_components",
    )
    if driver_max_edges and n_edges <= driver_max_edges:
        labels = _driver_union_find(
            (r["src"], r["dst"]) for r in edges.coalesce(1).toLocalIterator()
        )
        spark = pairs.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("node", pairs.schema[src].dataType),
                T.StructField("component", pairs.schema[src].dataType),
            ]
        )
        return spark.createDataFrame(labels, schema)

    for _ in range(max_iter):
        grown = _large_star(edges)
        shrunk = _small_star(grown).localCheckpoint(eager=True)
        # fixpoint test: small-star output is canonical (child→component
        # min) iff applying both stars changes nothing. One action: both
        # exceptAll directions unioned (edges are distinct by construction).
        changed = (
            shrunk.exceptAll(edges)
            .unionByName(edges.exceptAll(shrunk))
            .limit(1)
            .count()
            > 0
        )
        edges = shrunk
        if not changed:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    roots = edges.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    members = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.unionByName(roots).distinct()


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_left: str = "id_a",
    pair_right: str = "id_b",
) -> DataFrame:
    """Cluster-aware dedup: given near-dup ``pairs`` over ``df[id_col]``,
    label each row with its duplicate-cluster representative (the min id;
    rows in no pair are their own cluster) and a ``keep`` flag that is true
    for exactly one row per cluster.

    The components frame is tiny relative to the corpus (only docs that
    near-dup something), so the label join back onto the 100 TB corpus is a
    broadcast join, not a corpus shuffle.
    """
    comp = connected_components(pairs, src=pair_left, dst=pair_right)
    labeled = df.join(
        F.broadcast(comp.withColumnRenamed("node", id_col)), id_col, "left"
    )
    return labeled.select(
        *df.columns,
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
        (F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)).alias("keep"),
    )


def dedup_clusters_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    pair_left: str = "id_a",
    pair_right: str = "id_b",
) -> DataFrame:
    """Cluster-aware dedup keeping the BEST row per duplicate cluster
    (max ``score_col``, ties broken toward the smaller id) instead of
    ``dedup_clusters``'s min-id survivor — the form a real curation
    pipeline wants: among near-duplicates, keep the highest-quality
    copy. Requires numeric ``id_col``/``score_col`` (the arg-max is a
    scalar ``min(struct(-score, id))``, codegen-friendly on both
    engines).

    Shuffle economics: the corpus is NEVER shuffled. Components are
    computed on the (tiny) pair graph; the per-cluster winner is an
    aggregate over clustered rows only (score extraction is a broadcast
    semi-ish join + distinct-cluster-sized groupBy); the final label is
    two broadcast joins against cluster->component and cluster->best
    maps.
    """
    comp = connected_components(pairs, src=pair_left, dst=pair_right).withColumnRenamed(
        "node", id_col
    )
    clustered = df.select(id_col, score_col).join(F.broadcast(comp), id_col)
    best = clustered.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.col(score_col)).alias("s"), F.col(id_col).alias("i")
            )
        )["i"].alias("__best")
    )
    labeled = df.join(F.broadcast(comp), id_col, "left").join(
        F.broadcast(best), "component", "left"
    )
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return labeled.select(
        *df.columns,
        cluster.alias("cluster"),
        F.coalesce(F.col(id_col) == F.col("__best"), F.lit(True)).alias("keep"),
    )


def triangle_stats(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Triangle census of an undirected graph — the clustering summary
    for near-dup/link graphs: one row (n_nodes, n_edges, n_triangles
    BIGINT, clustering DOUBLE rounded 4 — the global coefficient
    3·triangles / open-triads, NULL when the graph has no triads).

    Classic degree-ordered triangle counting (public MapReduce
    formulation: Suri & Vassilvitskii WWW'11): orient every edge from
    the lower-(degree, id) endpoint to the higher, join oriented edges
    on their source to enumerate candidate wedges (work ∝ Σ d_out² —
    out-degrees are √m-bounded under this orientation, which is the
    whole trick), then close each wedge against the oriented edge set.
    Three hash joins, no explosion on high-degree hubs."""
    # degrees, orientation, wedges and the closing join all read e
    e = pin(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .distinct(),
        "components.triangle_stats",
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    withdeg = e.join(da, "a").join(db, "b")
    # orient lower-(degree, id) -> higher
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .where(F.col("x.w") < F.col("y.w"))
        .select(F.col("x.w").alias("p"), F.col("y.w").alias("q"))
    )
    closing = e.select(F.col("a").alias("p"), F.col("b").alias("q"))
    tri = wedges.join(closing, ["p", "q"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("__triads"),
    )
    return summary.crossJoin(F.broadcast(tri)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        "n_edges",
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.round(
            F.when(
                F.col("__triads") > 0,
                3.0 * F.col("n_triangles") / F.col("__triads"),
            ),
            4,
        ).alias("clustering"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank (Page et al. 1999) over an undirected edge list — the
    link-centrality score for near-dup/citation/reference graphs. Fixed
    iteration count (the classic synchronous power method), uniform
    1/N init: ``(node, pagerank DOUBLE rounded 4)``.

    Distributed shape per iteration: one join of the ~edge-sized
    contribution frame against the rank frame (rank side is
    node-sized) + one hash aggregate on the destination — the standard
    Pregel-style shuffle pair. Rank lineage is truncated per round with
    ``localCheckpoint`` so the plan stays O(1) across iterations; only
    the scalar node count touches the driver. Isolated nodes cannot
    occur (every node comes from an edge endpoint), so no dangling-mass
    redistribution is needed after symmetrization.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )
    e = pin(_symmetrize(e), "components.pagerank")
    out = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    nodes = out.select(F.col("src").alias("node"), "__deg")
    nodes, (n,) = materialize(nodes, "components.pagerank")
    if n == 0:
        return nodes.select(
            F.col("node"), F.lit(None).cast("double").alias("pagerank")
        )
    base = (1.0 - damping) / n
    r = nodes.select("node", "__deg", F.lit(1.0 / n).alias("__r"))
    for _ in range(iterations):
        contrib = (
            e.join(
                r.select(
                    F.col("node").alias("src"),
                    (F.col("__r") / F.col("__deg")).alias("__share"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("__share").alias("__in"))
        )
        r = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                "__deg",
                (F.lit(base) + F.lit(damping) * F.coalesce("__in", F.lit(0.0))).alias(
                    "__r"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return r.select("node", F.round("__r", 4).alias("pagerank"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list — community detection one rung above connected
    components: labels start as node ids, and each round every node
    adopts the most frequent label among its neighbors (tie -> smallest
    label; a node with no better information keeps drifting toward the
    dominant local community). Fixed iteration count keeps the
    algorithm deterministic and the oracle replayable — exactly the
    e107 PageRank contract. Output: ``(node, label)``.

    Distributed shape per round: one join of the edge frame against the
    node-sized label frame + one (node, label)-keyed count aggregate +
    one node-keyed struct arg-max (the e94 mode idiom — hot labels
    collapse map-side, ties resolve to the smallest label without a
    sort). Lineage truncated per round with ``localCheckpoint``.
    Numeric node ids required (the tie-break negates the label inside
    the arg-max struct)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    e = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    e = materialize(e, "components.label_propagation")[0]
    labels = materialize(
        e.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        "components.label_propagation",
    )[0]
    for _ in range(iterations):
        nbr = e.join(
            labels.withColumnsRenamed({"node": "b", "label": "__nl"}), "b"
        ).select(F.col("a").alias("node"), F.col("__nl").alias("label"))
        counted = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("__c"))
        picked = counted.groupBy("node").agg(
            F.max(F.struct(F.col("__c"), (-F.col("label")).alias("__neg"))).alias(
                "__best"
            )
        )
        labels = picked.select(
            "node", (-F.col("__best.__neg")).alias("label")
        ).localCheckpoint(eager=True)
    return labels


def degree_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree distribution + power-law fit for an undirected edge list
    — the graph-shape audit run before any per-node iteration (does a
    celebrity node exist? is the degree tail heavy enough to salt?):
    per-degree node counts plus the Clauset/Shalizi/Newman (2009)
    continuous-MLE exponent alpha = 1 + n / sum ln(d / d_min) over
    nodes with d >= d_min = 1 (discrete data, the standard quick
    estimate). One node-keyed degree aggregate + one degree-keyed
    count + a single-row aggregate broadcast back. Output: one row per
    degree (degree, n_nodes, share, alpha — constant column, the
    scalar summary; n_nodes_total, max_degree likewise)."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    e = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("__d"))
    hist = deg.groupBy(F.col("__d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    tot = deg.agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("__d").alias("max_degree"),
        F.sum(F.log(F.col("__d").cast("double"))).alias("__slog"),
    )
    alpha = F.when(
        F.col("__slog") > 0, 1.0 + F.col("__n") / F.col("__slog")
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "degree",
        "n_nodes",
        (F.col("n_nodes") / F.col("__n")).alias("share"),
        alpha.alias("alpha"),
        F.col("__n").alias("n_nodes_total"),
        "max_degree",
    )


def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle count + LOCAL clustering coefficient — the
    node-level companion of ``triangle_stats`` (which returns the global
    census): lcc separates "real" duplicate communities (triangle-dense)
    from accidental candidate chains (triangle-free) per node, so a
    keep-best pass can treat cohesive template-spam clusters differently
    from loose hash-collision chains.

    Same degree-ordered wedge enumeration as ``triangle_stats`` (each
    triangle found exactly once, wedge fan-out √m-bounded by the
    (degree, id) orientation); the difference is attribution — every
    found triangle is exploded back to its three corners and counted
    per node. Output: one row per node — (node, degree, triangles,
    lcc = 2·triangles / (degree·(degree-1)), 0.0 for degree < 2).
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # orient: u -> v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    ranked = und.join(da, "a").join(db, "b")
    fwd = F.col("__da") < F.col("__db")
    tie = (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    oriented = ranked.select(
        F.when(fwd | tie, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd | tie, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # wedges at u: ordered out-neighbor pairs, closed against oriented v->w
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = o1.join(o2, "u").where(F.col("x") < F.col("y"))
    # close the wedge with an id-canonical equi-join (x < y already):
    # an OR over both orientations would fall out of hash-join land
    closer = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    tri = wedges.join(closer, ["x", "y"], "leftsemi")
    per_node = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce("triangles", F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )
    return out
