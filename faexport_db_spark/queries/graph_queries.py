"""Graph-metric queries (G1+): triangle counting and degree
statistics over an edge list derived deterministically from the
orders fixture. The reference keeps an implicit graph too — the
hash-match web between submissions and files (faexport_db/models.py
SubmissionSnapshot.files) that m8_entity_web walks; these queries are
the metric side of that capability, built on operators/graph.py.

The fixture edge list is synthetic but adversarially shaped: node ids
are orderkeys folded into a small id space, so degrees are highly
non-uniform — exactly the skew the degree-ordered orientation in
triangle_count exists to absorb.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.operators.graph import (
    canonical_edges,
    degree_histogram,
    triangle_count,
)
from faexport_db_spark.queries.registry import register

# Shared deterministic edge derivation: fold orderkeys into a 97-node
# id space with two coprime affine maps. Both engines compute it with
# integer arithmetic only.
_EDGE_SQL = """
      SELECT o_orderkey % 97 AS src, (o_orderkey * 31 + 7) % 97 AS dst
      FROM orders
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        (F.col("o_orderkey") % 97).alias("src"),
        ((F.col("o_orderkey") * 31 + 7) % 97).alias("dst"),
    )


@register(
    "g1_triangle_count",
    oracle=f"""
    WITH raw AS ({_EDGE_SQL}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def g1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — total triangles. The oracle enumerates via the naive
    id-ordered three-way self-join (fine for DuckDB at test scale);
    the engine uses the degree-ordered orientation whose wedge
    fan-out is bounded O(sqrt(m)) per node — the count is
    orientation-invariant, so the two agree while the plans differ
    exactly where 100 TB demands it."""
    return triangle_count(canonical_edges(_edges(spark, sf_dir)))


@register(
    "g2_degree_histogram",
    oracle=f"""
    WITH raw AS ({_EDGE_SQL}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    ends AS (
      SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM ends GROUP BY node
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def g2_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — degree distribution: two map-side-combining aggregates,
    no joins; the shape that summarizes any entity-link table (file
    hash webs, user interaction graphs) at any scale."""
    return degree_histogram(canonical_edges(_edges(spark, sf_dir))).select(
        "degree", F.col("n_nodes").cast("long").alias("n_nodes")
    )


@register(
    "g3_pagerank",
    oracle=f"""
    WITH raw AS ({_EDGE_SQL}),
    e AS (SELECT DISTINCT src AS u, dst AS v FROM raw WHERE src <> dst),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      )
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT u, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY u),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    c1 AS (SELECT e.v, CAST(sum(r0.rank / outdeg.od) AS DOUBLE) AS inflow
           FROM e JOIN outdeg USING (u) JOIN r0 ON r0.node = e.u GROUP BY e.v),
    r1 AS (SELECT node, (1.0 - 0.85) / (SELECT n FROM nn)
                        + 0.85 * coalesce(inflow, 0.0) AS rank
           FROM nodes LEFT JOIN c1 ON c1.v = node),
    c2 AS (SELECT e.v, CAST(sum(r1.rank / outdeg.od) AS DOUBLE) AS inflow
           FROM e JOIN outdeg USING (u) JOIN r1 ON r1.node = e.u GROUP BY e.v),
    r2 AS (SELECT node, (1.0 - 0.85) / (SELECT n FROM nn)
                        + 0.85 * coalesce(inflow, 0.0) AS rank
           FROM nodes LEFT JOIN c2 ON c2.v = node),
    c3 AS (SELECT e.v, CAST(sum(r2.rank / outdeg.od) AS DOUBLE) AS inflow
           FROM e JOIN outdeg USING (u) JOIN r2 ON r2.node = e.u GROUP BY e.v),
    r3 AS (SELECT node, (1.0 - 0.85) / (SELECT n FROM nn)
                        + 0.85 * coalesce(inflow, 0.0) AS rank
           FROM nodes LEFT JOIN c3 ON c3.v = node)
    SELECT node, round(CAST(rank AS DOUBLE), 6) AS rank FROM r3
    """,
)
def g3_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — fixed-iteration PageRank (3 iterations, d=0.85, simplified
    mass-leaking form) over the DIRECTED fixture edge list. The engine
    iterates rank-join-aggregate (operators/graph.py::pagerank — the
    Pregel-as-DataFrame step, node-keyed shuffles only, rank vector
    never driver-side); the oracle unrolls the same three iterations
    as chained SQL CTEs, value-matching at the round-6 grain."""
    from faexport_db_spark.operators.graph import pagerank

    return pagerank(_edges(spark, sf_dir), iters=3, damping=0.85)


# k-core uses a 997-node fold so the fixture graph is sparse enough to
# actually peel (the 97-node space is near-complete even at sf0.001).
_KCORE_EDGE_SQL = """
      SELECT o_orderkey % 997 AS src, (o_orderkey * 31 + 7) % 997 AS dst
      FROM orders
"""


@register(
    "g4_kcore",
    oracle=f"""
    WITH raw AS ({_KCORE_EDGE_SQL}),
    e0 AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    d0 AS (SELECT node, count(*) AS dg FROM
           (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
           GROUP BY node),
    k0 AS (SELECT node FROM d0 WHERE dg >= 3),
    e1 AS (SELECT a, b FROM e0
           WHERE a IN (SELECT node FROM k0) AND b IN (SELECT node FROM k0)),
    d1 AS (SELECT node, count(*) AS dg FROM
           (SELECT a AS node FROM e1 UNION ALL SELECT b AS node FROM e1)
           GROUP BY node),
    k1 AS (SELECT node FROM d1 WHERE dg >= 3),
    e2 AS (SELECT a, b FROM e1
           WHERE a IN (SELECT node FROM k1) AND b IN (SELECT node FROM k1)),
    d2 AS (SELECT node, count(*) AS dg FROM
           (SELECT a AS node FROM e2 UNION ALL SELECT b AS node FROM e2)
           GROUP BY node),
    k2 AS (SELECT node FROM d2 WHERE dg >= 3),
    e3 AS (SELECT a, b FROM e2
           WHERE a IN (SELECT node FROM k2) AND b IN (SELECT node FROM k2))
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
      (SELECT a AS node FROM e3 UNION ALL SELECT b AS node FROM e3)
    GROUP BY node
    """,
)
def g4_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — bounded-round k-core peel (k=3, 3 rounds): repeatedly drop
    nodes whose current-subgraph degree is < k, then report survivor
    degrees. The engine loops degree-aggregate + two left-semi joins
    with an eager checkpoint per round (plan stays 3 stages/round);
    the oracle unrolls the same three peels as chained CTEs."""
    from faexport_db_spark.operators.graph import kcore

    o = load_table(spark, sf_dir, "orders")
    edges = canonical_edges(
        o.select(
            (F.col("o_orderkey") % 997).alias("src"),
            ((F.col("o_orderkey") * 31 + 7) % 997).alias("dst"),
        )
    )
    return kcore(edges, k=3, rounds=3)


@register(
    "g5_hits",
    oracle=f"""
    WITH raw AS ({_EDGE_SQL}),
    e AS (SELECT DISTINCT src AS u, dst AS v FROM raw WHERE src <> dst),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      )
    ),
    a1 AS (SELECT v, CAST(count(*) AS BIGINT) AS s FROM e GROUP BY v),
    h1 AS (SELECT e.u, CAST(sum(a1.s) AS BIGINT) AS s
           FROM e JOIN a1 USING (v) GROUP BY e.u),
    a2 AS (SELECT e.v, CAST(sum(h1.s) AS BIGINT) AS s
           FROM e JOIN h1 USING (u) GROUP BY e.v),
    h2 AS (SELECT e.u, CAST(sum(a2.s) AS BIGINT) AS s
           FROM e JOIN a2 USING (v) GROUP BY e.u)
    SELECT node,
           CAST(coalesce(h2.s, 0) AS BIGINT) AS hub,
           CAST(coalesce(a2.s, 0) AS BIGINT) AS auth
    FROM nodes LEFT JOIN h2 ON h2.u = node LEFT JOIN a2 ON a2.v = node
    """,
)
def g5_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — fixed-iteration HITS hubs/authorities (2 iterations,
    UNNORMALIZED so every score is an exact integer — rankings are
    identical to the normalized form, and the oracle replays scores
    bit-for-bit with no float-sum order anywhere; the engine loop is
    node-keyed join+aggregate halves, operators/graph.py::hits)."""
    from faexport_db_spark.operators.graph import hits

    return hits(_edges(spark, sf_dir), iters=2)


# Sparse fixture graph for the traversal ops: keep 1-in-20 orderkeys
# before folding into the 997-node space, so the graph actually has
# multiple components and hop-distances > 1 at every SF (the dense
# fold is near-complete and every traversal would trivialize).
_SPARSE_EDGE_SQL = """
      SELECT o_orderkey % 997 AS src, (o_orderkey * 31 + 7) % 997 AS dst
      FROM orders WHERE o_orderkey % 20 = 3
"""


def _sparse_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 3)
    return canonical_edges(
        o.select(
            (F.col("o_orderkey") % 997).alias("src"),
            ((F.col("o_orderkey") * 31 + 7) % 997).alias("dst"),
        )
    )


@register(
    "g6_connected_components",
    oracle=f"""
    WITH RECURSIVE
    raw AS ({_SPARSE_EDGE_SQL}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b AS u, a AS v FROM e),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.lab
    )
    SELECT node, CAST(min(lab) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def g6_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — connected components to CONVERGENCE, labels = component
    minimum. The engine runs the near-dup clusterer's alternating
    large-star/small-star contraction (training/dedup.py::dedup_clusters
    — O(log n) rounds regardless of diameter, edge-shaped rows only,
    the Kiveris et al. SoCC'14 scheme); the
    oracle computes the same fixpoint from first principles as a
    recursive-CTE transitive closure + min. Component minimum is
    convergence-order-independent, so the two meet exactly."""
    from faexport_db_spark.training.dedup import dedup_clusters

    pairs = _sparse_edges(spark, sf_dir).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    return dedup_clusters(pairs).select(
        F.col("doc_id").alias("node"),
        F.col("cluster_rep").cast("bigint").alias("component"),
    )


@register(
    "g7_bfs_hops",
    oracle=f"""
    WITH RECURSIVE
    raw AS ({_SPARSE_EDGE_SQL}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b AS u, a AS v FROM e),
    seeds AS (SELECT DISTINCT u AS node FROM sym WHERE u % 13 = 0),
    bfs(node, hop) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT sym.v, bfs.hop + 1 FROM bfs JOIN sym ON sym.u = bfs.node
      WHERE bfs.hop < 4
    )
    SELECT node, CAST(min(hop) AS BIGINT) AS hops
    FROM bfs GROUP BY node
    """,
)
def g7_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — multi-source BFS hop distance (seeds = node id % 13 == 0,
    explored 4 levels) over the sparse fixture graph. Engine:
    level-synchronous frontier BFS (operators/graph.py::bfs_hops,
    frontier-sized joins, settled-set anti-join, per-level pin). The
    oracle enumerates ALL walks of length <= 4 from the seed set via
    a bounded recursive CTE and takes min — level-synchronous first
    touch IS that minimum, so the equality is exact, not approximate."""
    from faexport_db_spark.operators.graph import bfs_hops

    edges = _sparse_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .distinct()
        .filter(F.col("node") % 13 == 0)
    )
    return bfs_hops(edges, seeds, max_hops=4)


@register(
    "g8_edge_jaccard",
    oracle=f"""
    WITH raw AS ({_SPARSE_EDGE_SQL}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b AS u, a AS v FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY u),
    common AS (
      SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS n_common
      FROM e
      JOIN sym s1 ON s1.u = e.a
      JOIN sym s2 ON s2.u = e.b AND s2.v = s1.v
      GROUP BY e.a, e.b
    )
    SELECT e.a, e.b,
           CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           da.degree AS deg_a, db.degree AS deg_b
    FROM e
    LEFT JOIN common c ON c.a = e.a AND c.b = e.b
    JOIN deg da ON da.node = e.a
    JOIN deg db ON db.node = e.b
    """,
)
def g8_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — per-edge common-neighbor statistics (the link-prediction /
    tie-strength primitive: n_common with both endpoint degrees gives
    Jaccard, Adamic-Adar denominators, embeddedness). Same
    wedge-enumeration shape as triangle counting, but emitted PER
    EDGE instead of summed: two edge-keyed equi-joins + one
    map-side-combining count, nothing driver-side, all-integer
    output. Note a wedge through w counts once per (edge, w) — each
    common neighbor exactly once because sym holds each directed pair
    once."""
    # pin the canonical edge set: it feeds the wedge join twice, the
    # degree table, and the output spine — unpinned, each reference
    # re-expands the orders scan (the KMV estimator lesson)
    edges = _sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from faexport_db_spark.operators.graph import degrees

    deg = degrees(edges)
    s1 = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    s2 = sym.select(F.col("u").alias("b2"), F.col("v").alias("w2"))
    common = (
        edges.join(s1, "a")
        .join(s2, (F.col("b") == F.col("b2")) & (F.col("w") == F.col("w2")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        edges.join(common, ["a", "b"], "left")
        .join(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "deg_a"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "deg_b"), "b")
        .select(
            "a",
            "b",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
        )
    )


@register(
    "g9_modularity",
    oracle=f"""
    WITH RECURSIVE
    raw AS ({_SPARSE_EDGE_SQL}),
    e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b AS u, a AS v FROM e),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.lab
    ),
    comp AS (SELECT node, min(lab) AS c FROM reach GROUP BY node),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY u),
    lc AS (
      SELECT ca.c AS component, CAST(count(*) AS BIGINT) AS internal_edges
      FROM e JOIN comp ca ON ca.node = e.a JOIN comp cb ON cb.node = e.b
      WHERE ca.c = cb.c
      GROUP BY ca.c
    ),
    dc AS (
      SELECT comp.c AS component, CAST(sum(deg.d) AS BIGINT) AS degree_sum
      FROM comp JOIN deg USING (node)
      GROUP BY comp.c
    )
    SELECT dc.component,
           CAST(coalesce(lc.internal_edges, 0) AS BIGINT) AS internal_edges,
           dc.degree_sum,
           CAST(4 * m.m * coalesce(lc.internal_edges, 0)
                - dc.degree_sum * dc.degree_sum AS BIGINT) AS q_num
    FROM dc LEFT JOIN lc USING (component), m
    """,
)
def g9_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — per-community modularity contributions for the CONVERGED
    component partition (g6's labels): internal edge count L_c,
    degree mass D_c, and the INTEGER numerator 4m·L_c − D_c² of the
    modularity term (Q_c = L_c/m − (D_c/2m)², scaled by 4m² — the
    by-now-standard trick: a positive constant scale preserves every
    comparison, so community quality ranks exactly, no floats).
    Engine: ``dedup_clusters`` labels + two label-keyed joins/aggs; the
    oracle recomputes the partition from first principles via the
    recursive closure, so label AND metric must both agree."""
    from faexport_db_spark.operators.graph import degrees
    from faexport_db_spark.training.dedup import dedup_clusters

    edges = _sparse_edges(spark, sf_dir).localCheckpoint(eager=True)
    comp = dedup_clusters(
        edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    ).select(F.col("doc_id").alias("node"), F.col("cluster_rep").alias("c"))
    comp = comp.localCheckpoint(eager=True)
    m = edges.count()
    ca = comp.select(F.col("node").alias("a"), F.col("c").alias("c_a"))
    cb = comp.select(F.col("node").alias("b"), F.col("c").alias("c_b"))
    lc = (
        edges.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("component"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal_edges"))
    )
    dc = (
        comp.join(degrees(edges), "node")
        .groupBy(F.col("c").alias("component"))
        .agg(F.sum("degree").cast("bigint").alias("degree_sum"))
    )
    return (
        dc.join(lc, "component", "left")
        .select(
            "component",
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            "degree_sum",
            (
                F.lit(4 * m) * F.coalesce("internal_edges", F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("bigint")
            .alias("q_num"),
        )
    )
