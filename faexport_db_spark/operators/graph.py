"""Distributed graph metrics over edge-list DataFrames.

The near-dup clustering path already does connected components
(training/dedup.py: large-star/small-star);
this module adds the other graph shapes an analytics engine needs —
triangle counting and degree statistics — as pure DataFrame
compositions over an ``(src, dst)`` edge list.

Scale notes (the part that matters at 100 TB):

- ``triangle_count`` uses the DEGREE-ORDERED orientation (Cohen 2009 /
  the MapReduce triangle-counting standard): each undirected edge is
  directed from its lower-(degree, id) endpoint to the higher one,
  which caps every node's out-degree at O(sqrt(m)) regardless of how
  skewed the raw degree distribution is. The wedge-generation
  self-join therefore cannot blow up on hub nodes the way the naive
  ``a < b`` id-orientation can (a single celebrity node with 10M
  followers generates C(10M, 2) wedges under id order, but only
  wedges among its ~sqrt(m) higher-ranked neighbours under degree
  order). Wedges then semi-join the edge set itself — the only
  shuffles are two equi-joins and the degree aggregate, all on edge
  keys, and nothing ever collects.
- ``degree_histogram`` is two cheap aggregates (node degree, then
  histogram) — map-side combinable on both hops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faexport_db_spark.operators.pins import unpin


def canonical_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Normalize a raw edge list to simple undirected form: drop
    self-loops, orient each pair as (least, greatest), and dedup —
    the canonical input every metric below expects."""
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"),
            F.greatest(src, dst).alias("b"),
        )
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree over canonical edges: (node, degree)."""
    ends = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    return ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution: (degree, n_nodes). Two map-side-combining
    aggregates; no joins."""
    return degrees(edges).groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangle count via degree-ordered wedge enumeration.

    1. Rank nodes by (degree, id); orient each canonical edge from
       lower rank to higher rank (an acyclic orientation in which
       every out-degree is O(sqrt(m))).
    2. Self-join oriented edges on their source to enumerate wedges
       (u -> v, u -> w) with rank(v) < rank(w).
    3. Semi-join wedges against the oriented edge set on (v, w): a
       hit closes the triangle, and each triangle is found exactly
       once (from its lowest-ranked corner).

    Returns a 1-row DataFrame ``(n_triangles bigint)``.
    """
    deg = degrees(edges)
    # rank = (degree, node) lexicographic, encoded into one orderable
    # struct; carried on both endpoints via two broadcast-unfriendly
    # but edge-keyed equi-joins (degree table is node-cardinality —
    # too big to broadcast at scale, so these stay shuffle joins AQE
    # can co-partition).
    e = (
        edges.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("degree", "deg_a")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("degree", "deg_b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            a_first,
            F.struct(F.col("deg_b").alias("deg"), F.col("b").alias("node")),
        )
        .otherwise(
            F.struct(F.col("deg_a").alias("deg"), F.col("a").alias("node"))
        )
        .alias("rank_v"),
    )
    lo = oriented.select("u", F.col("v").alias("v1"), F.col("rank_v").alias("r1"))
    hi = oriented.select("u", F.col("v").alias("v2"), F.col("rank_v").alias("r2"))
    wedges = lo.join(hi, "u").filter(F.col("r1") < F.col("r2")).select("v1", "v2")
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return (
        wedges.join(closing, ["v1", "v2"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list (self-loops
    dropped, duplicate edges collapsed). The simplified (mass-leaking)
    formulation every MapReduce-era treatment starts from:

        r_{k+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_k(u) / outdeg(u)

    with r_0 = 1/N uniform; nodes without out-edges leak their damped
    mass (no dangling redistribution), which keeps each iteration a
    closed-form join+aggregate both engines reproduce exactly — the
    property the unrolled-SQL oracle needs.

    Scale shape: the rank vector is a (node, rank) DataFrame, never
    driver-side; each iteration is one equi-join on the edge source
    (ranks × out-degree-normalized edges) and one groupBy on the
    destination — both shuffles keyed by node id, the standard
    Pregel-as-DataFrame step. ``iters`` is fixed (batch analytics /
    feature-extraction usage), so the lineage is a short static chain;
    at hundreds of iterations you would checkpoint every ~10. Skewed
    in-degree (hub pages) is absorbed by map-side partial sums in the
    contribution aggregate. Output: (node, rank) rounded to 6 — the
    cross-engine comparison grain."""
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        # materialized ONCE: every iteration reads nodes and the
        # normalized edges; without pinning, each iteration's plan
        # re-embeds (and re-shuffles) the whole derivation — lineage
        # also grows per iteration, the classic iterative-DataFrame
        # trap. The n_nodes count forces nodes anyway.
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    norm = e.join(outdeg, "u").localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = F.lit((1.0 - damping) / n_nodes)
    for _ in range(iters):
        contribs = (
            norm.join(ranks, norm["u"] == ranks["node"])
            .select("v", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["v"], "left"
        ).select(
            "node",
            (base + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))).alias(
                "rank"
            ),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def kcore(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """Bounded-round k-core peel over canonical undirected edges:
    ``rounds`` times, drop every node whose degree in the CURRENT
    subgraph is below ``k`` (with all its edges), then report the
    survivors' degrees. Fixed rounds keep the op deterministic and
    oracle-unrollable; full convergence is the rounds→diameter limit
    and each extra round is the same three exchanges.

    Scale shape: per round one node-keyed count aggregate (map-side
    combining) plus two left-semi joins shuffling (edge, endpoint)
    keys only — the standard distributed peel; nothing is ever
    collected to the driver. The edge frame is eagerly
    localCheckpoint-ed each round so the plan stays three stages per
    round instead of re-embedding every prior round's derivation
    (the PageRank lesson, ``pagerank`` above), and the round it
    replaces is released (``operators.pins.unpin``).

    Output: (node, degree) for nodes alive after ``rounds`` peels,
    degree measured in the surviving subgraph.
    """
    g = edges
    for _ in range(rounds):
        keep = degrees(g).filter(F.col("degree") >= k).select("node")
        done, g = g, (
            g.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        if done is not edges:
            unpin(done)
    return degrees(g)


def hits(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over a DIRECTED edge list
    (self-loops dropped, duplicates collapsed), UNNORMALIZED: starting
    from hub = 1 everywhere, alternate

        auth_{k+1}(v) = Σ_{(u,v)∈E} hub_k(u)
        hub_{k+1}(u)  = Σ_{(u,v)∈E} auth_{k+1}(v)

    Skipping the usual L2 normalization keeps every score an exact
    INTEGER — cross-engine bit-reproducible with no float-sum order
    anywhere (the norm only rescales; rankings are identical), the
    same trick the quantized k-means trainer uses. Scores grow by a
    factor ≤ (max degree)² per iteration, so fixed small ``iters``
    with bigint scores is safe far beyond this fixture's scale.

    Scale shape mirrors ``pagerank``: the score vectors are (node,
    score) DataFrames, never driver-side; each half-step is one
    equi-join keyed on an edge endpoint plus one node-keyed groupBy;
    edges and nodes are pinned once with localCheckpoint so the
    per-iteration lineage stays flat. Output: (node, hub, auth) —
    nodes with no in-edges have auth 0, no out-edges hub 0.
    """
    if iters < 1:
        raise ValueError(f"need iters >= 1, got {iters}")
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(1).cast("bigint").alias("score"))
    auth = None
    for _ in range(iters):
        auth = (
            e.join(hub.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("score").alias("score"))
        )
        hub = (
            e.join(auth.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("score").alias("score"))
        )
        # pin per iteration: both halves feed the next join twice
        auth = auth.localCheckpoint(eager=False)
        hub = hub.localCheckpoint(eager=False)
    return (
        nodes.join(hub.withColumnRenamed("score", "hub"), "node", "left")
        .join(auth.withColumnRenamed("score", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).cast("bigint").alias("auth"),
        )
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 4) -> DataFrame:
    """Bounded multi-source BFS over canonical undirected edges:
    minimum hop count from any seed node, explored to ``max_hops``
    levels. The reference walks its submission↔file hash web one
    entity at a time (models.py SubmissionSnapshot.files plus the
    db_merge chase); this is the set-at-once distributed form.

    Frontier-style level-synchronous BFS — the textbook Pregel shape
    as DataFrames:

    - ``dist`` holds (node, hops) for every settled node; ``frontier``
      is only the nodes FIRST reached in the previous level, so each
      expansion join is frontier-sized, not visited-sized.
    - Per level: one equi-join frontier→neighbors (edge-keyed
      shuffle), one anti-join against settled nodes, one distinct —
      all keyed on node ids, nothing driver-side. Eager
      localCheckpoint pins each level so level k's plan does not
      re-derive levels 1..k-1 (the PageRank lineage lesson); the
      level it replaces, and at the end the symmetrized edges, are
      released (``operators.pins.unpin``).
    - Level-synchronous BFS reaches every node first at its true
      minimum distance, so fixed ``max_hops`` levels compute exactly
      ``min(hops) <= max_hops`` — the same value an all-walks
      enumeration (the recursive-CTE oracle) takes the min over.

    Output: (node, hops) for nodes within ``max_hops`` of a seed;
    unreachable nodes are absent by design (their distance is not a
    representable integer, and at 100 TB emitting the complement
    would dwarf the answer).
    """
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col("node"), F.lit(0).cast("bigint").alias("hops"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for level in range(1, max_hops + 1):
        reached = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        fresh = reached.join(dist, "node", "left_anti").select(
            "node", F.lit(level).cast("bigint").alias("hops")
        )
        done, dist = dist, dist.unionAll(fresh).localCheckpoint(eager=True)
        unpin(done)
        frontier = dist.filter(F.col("hops") == level).select("node")
    unpin(sym)
    return dist
