"""Iterative graph operators on the mod-50/mod-500 customer graphs,
each with a recursive-CTE oracle: triangles, (weighted, personalized)
PageRank, BFS, k-core, label propagation, modularity, adjacency."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.graph_stats import (
    bfs_distances,
    kcore,
    label_propagation,
    modularity_scaled,
    pagerank,
    pagerank_weighted,
    triangle_counts,
    undirected_edges,
)
from batch_import_spark.queries.common import query
from batch_import_spark.session import fan_out


def _triangle_counts(spark, sf):
    """Per-node triangle participation over a deterministic graph
    derived from customer ids (degree-oriented wedge formulation,
    operators/graph_stats.py — the skew-bounded shape that survives
    hub nodes at 100 TB)."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 50).alias("src"),
        ((F.col("c_custkey") * 7 + 3) % 50).alias("dst"),
    )
    return triangle_counts(edges)


_TRIANGLES_SQL = """
WITH e AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM (SELECT c_custkey % 50 AS a, (c_custkey * 7 + 3) % 50 AS b FROM customer)
  WHERE a <> b
),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS node FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
)
GROUP BY node
"""
query("triangle_counts", _triangle_counts, _TRIANGLES_SQL)


def _pagerank(spark, sf):
    """Integer-exact PageRank (operators/graph_stats.py pagerank) over
    the deterministic customer-derived directed graph. Fixed-point
    BIGINT recurrence — the DuckDB oracle replays the identical
    integer arithmetic in a recursive CTE, so ranks match bit-for-bit
    (no float accumulation order to diverge)."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    # (src, dst) varies with BOTH c mod 50 and c div 7 — irregular
    # in/out degrees (a permutation graph would sit at PageRank's
    # fixed point and test nothing)
    edges = c.select(
        (F.col("c_custkey") % 50).alias("src"),
        F.expr("(c_custkey div 7) % 50").alias("dst"),
    )
    return pagerank(edges, iterations=6)


# the w=0 self-loop rows keep every node present in each recursive
# step (a node with no in-edges still gets its BASE term) with a
# single reference to the recursive table
_PAGERANK_SQL = """
WITH RECURSIVE
raw AS (SELECT c_custkey % 50 AS src, (c_custkey // 7) % 50 AS dst FROM customer),
e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
-- NOT a bare UNION: inside WITH RECURSIVE, DuckDB resolves a
-- two-arm UNION CTE through the recursive-union machinery and the
-- cross-arm dedup is lost (observed: 100 rows from 50 distinct ids)
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
consts AS (SELECT 1000000000000 // COUNT(*) AS init,
                  (15 * 1000000000000) // (100 * COUNT(*)) AS base
           FROM nodes),
ea AS (
  SELECT e.src, e.dst, CAST(1 AS BIGINT) AS w, o.d FROM e JOIN outd o USING (src)
  UNION ALL
  SELECT node, node, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM nodes
),
pr AS (
  SELECT 0 AS iter, node, (SELECT init FROM consts) AS rank FROM nodes
  UNION ALL
  SELECT p.iter + 1, ea.dst,
         (SELECT base FROM consts)
         + CAST(SUM((85 * p.rank * ea.w) // (100 * ea.d)) AS BIGINT)
  FROM pr p JOIN ea ON ea.src = p.node
  WHERE p.iter < 6
  GROUP BY 1, 2
)
SELECT node, CAST(rank AS BIGINT) AS pagerank_scaled FROM pr WHERE iter = 6
"""
query("pagerank", _pagerank, _PAGERANK_SQL)


def _ppr(spark, sf):
    """Personalized PageRank from reset set {0, 1} — the KG
    entity-relatedness scorer (teleport mass confined to the seeds;
    rank = integer-exact proximity to them)."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 50).alias("src"),
        F.expr("(c_custkey div 7) % 50").alias("dst"),
    )
    return pagerank(edges, iterations=6, reset_nodes=[0, 1])


_PPR_SQL = """
WITH RECURSIVE
raw AS (SELECT c_custkey % 50 AS src, (c_custkey // 7) % 50 AS dst FROM customer),
e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
ea AS (
  SELECT e.src, e.dst, CAST(1 AS BIGINT) AS w, o.d FROM e JOIN outd o USING (src)
  UNION ALL
  SELECT node, node, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM nodes
),
pr AS (
  SELECT 0 AS iter, node,
         CASE WHEN node IN (0, 1) THEN 1000000000000 // 2 ELSE 0 END AS rank
  FROM nodes
  UNION ALL
  SELECT p.iter + 1, ea.dst,
         CASE WHEN ea.dst IN (0, 1)
              THEN (15 * 1000000000000) // (100 * 2) ELSE 0 END
         + CAST(SUM((85 * p.rank * ea.w) // (100 * ea.d)) AS BIGINT)
  FROM pr p JOIN ea ON ea.src = p.node
  WHERE p.iter < 6
  GROUP BY 1, 2
)
SELECT node, CAST(rank AS BIGINT) AS pagerank_scaled FROM pr WHERE iter = 6
"""
query("personalized_pagerank", _ppr, _PPR_SQL)


def _weighted_pagerank(spark, sf):
    """Weighted PageRank (operators/graph_stats.py pagerank_weighted):
    edge weights are the (src,dst) multiplicities over customers —
    mass splits proportionally to weight, all arithmetic BIGINT."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 50).alias("src"),
        F.expr("(c_custkey div 7) % 50").alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    return pagerank_weighted(edges, iterations=6)


_WEIGHTED_PAGERANK_SQL = """
WITH RECURSIVE
raw AS (SELECT c_custkey % 50 AS src, (c_custkey // 7) % 50 AS dst FROM customer),
e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM raw WHERE src <> dst GROUP BY 1, 2),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM e GROUP BY src),
consts AS (SELECT 1000000000000 // COUNT(*) AS init,
                  (15 * 1000000000000) // (100 * COUNT(*)) AS base
           FROM nodes),
ea AS (
  SELECT e.src, e.dst, e.w, o.tw FROM e JOIN outw o USING (src)
  UNION ALL
  SELECT node, node, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM nodes
),
pr AS (
  SELECT 0 AS iter, node, (SELECT init FROM consts) AS rank FROM nodes
  UNION ALL
  SELECT p.iter + 1, ea.dst,
         (SELECT base FROM consts)
         + CAST(SUM((85 * p.rank * ea.w) // (100 * ea.tw)) AS BIGINT)
  FROM pr p JOIN ea ON ea.src = p.node
  WHERE p.iter < 6
  GROUP BY 1, 2
)
SELECT node, CAST(rank AS BIGINT) AS pagerank_scaled FROM pr WHERE iter = 6
"""
query("weighted_pagerank", _weighted_pagerank, _WEIGHTED_PAGERANK_SQL)


def _bfs_hops(spark, sf):
    """Frontier BFS hop distances (operators/graph_stats.py
    bfs_distances) on the directed customer graph from sources
    {0, 1}; per-round work proportional to the frontier, not the
    graph."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 50).alias("src"),
        F.expr("(c_custkey div 7) % 50").alias("dst"),
    )
    sources = edges.select(F.col("src").alias("node")).where(
        F.col("node") < 2
    ).distinct()
    return bfs_distances(edges, sources, max_hops=20)


_BFS_SQL = """
WITH RECURSIVE
raw AS (SELECT c_custkey % 50 AS src, (c_custkey // 7) % 50 AS dst FROM customer),
e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
d AS (
  SELECT DISTINCT src AS node, 0 AS dist FROM e WHERE src < 2
  UNION
  SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node WHERE d.dist < 20
)
SELECT node, CAST(MIN(dist) AS INT) AS dist FROM d GROUP BY node
"""
query("bfs_hops", _bfs_hops, _BFS_SQL)


def _communities(spark, sf):
    """Deterministic synchronous label propagation
    (operators/graph_stats.py label_propagation) on the mod-500
    customer graph: 4 fixed rounds, min-label tie-break — a pure
    function of the graph, replayed exactly by the recursive-CTE
    oracle."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 500).alias("src"),
        F.expr("(c_custkey div 7) % 500").alias("dst"),
    )
    return label_propagation(edges, iterations=4)


# shared recursive-CTE body: deterministic 4-round label propagation on
# the mod-500 customer graph (used by both the communities oracle and
# the modularity oracle, which grades the same assignment)
_LP_CTE = """WITH RECURSIVE
raw AS (SELECT c_custkey % 500 AS a, (c_custkey // 7) % 500 AS b FROM customer),
e0 AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b),
b2 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
lp AS (
  SELECT 0 AS iter, u AS node, u AS label FROM (SELECT DISTINCT u FROM b2)
  UNION ALL
  SELECT iter, node, label FROM (
    SELECT c.iter, c.node, c.label,
           ROW_NUMBER() OVER (PARTITION BY c.iter, c.node
                              ORDER BY c.cnt DESC, c.label ASC) AS rn
    FROM (
      SELECT p.iter + 1 AS iter, b2.v AS node, p.label, COUNT(*) AS cnt
      FROM lp p JOIN b2 ON b2.u = p.node
      WHERE p.iter < 4
      GROUP BY 1, 2, 3
    ) c
  ) WHERE rn = 1
)"""

_COMMUNITIES_SQL = f"""
{_LP_CTE}
SELECT node, label AS community FROM lp WHERE iter = 4
"""
query("communities", _communities, _COMMUNITIES_SQL)


def _modularity(spark, sf):
    """Integer-exact modularity of the label-propagation communities
    (operators/graph_stats.py modularity_scaled): per-community
    contrib = 4*m*m_intra - deg_sum^2, i.e. Q * 4m^2 cleared of every
    denominator - the community output graded, not just reproduced.
    The oracle replays label propagation (shared CTE) and the same
    BIGINT arithmetic."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 500).alias("src"),
        F.expr("(c_custkey div 7) % 500").alias("dst"),
    )
    assign = label_propagation(edges, iterations=4)
    return modularity_scaled(edges, assign)


_MODULARITY_SQL = f"""
{_LP_CTE},
assign AS (SELECT node, label AS community FROM lp WHERE iter = 4),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM b2 GROUP BY u),
intra AS (
  SELECT a1.community, CAST(COUNT(*) AS BIGINT) AS m_intra
  FROM e0 JOIN assign a1 ON e0.u = a1.node
          JOIN assign a2 ON e0.v = a2.node
  WHERE a1.community = a2.community GROUP BY 1
),
ks AS (
  SELECT a.community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg.d) AS BIGINT) AS deg_sum
  FROM assign a JOIN deg ON deg.node = a.node GROUP BY 1
)
SELECT ks.community, ks.n_nodes,
       CAST(COALESCE(intra.m_intra, 0) AS BIGINT) AS m_intra,
       ks.deg_sum,
       CAST(4 * mm.m * COALESCE(intra.m_intra, 0)
            - ks.deg_sum * ks.deg_sum AS BIGINT) AS contrib
FROM ks LEFT JOIN intra ON intra.community = ks.community CROSS JOIN mm
"""
query("modularity", _modularity, _MODULARITY_SQL)


def _adjacency_lists(spark, sf):
    """Graph export shape: per-node sorted adjacency list (the
    grouped-ordered-array aggregation every downstream graph tool
    ingests), serialized to CSV strings for engine-stable compare."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))

    e = undirected_edges(
        c.select(
            (F.col("c_custkey") % 50).alias("src"),
            F.expr("(c_custkey div 7) % 50").alias("dst"),
        )
    )
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return both.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"),
        F.array_join(F.sort_array(F.collect_list("v")), ",").alias("neighbors"),
    )


_ADJACENCY_SQL = """
WITH raw AS (SELECT c_custkey % 50 AS a, (c_custkey // 7) % 50 AS b FROM customer),
e AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b),
b2 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree,
       array_to_string(list(v ORDER BY v), ',') AS neighbors
FROM b2 GROUP BY u
"""
query("adjacency_lists", _adjacency_lists, _ADJACENCY_SQL)


def _kcore(spark, sf):
    """4-core of the mod-500 customer graph by iterative peeling
    (operators/graph_stats.py kcore); the oracle replays the peel in
    a recursive CTE with window-function degrees (converges by round
    ~5; the SQL runs a fixed 40, idempotent past the fixpoint)."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    edges = c.select(
        (F.col("c_custkey") % 500).alias("src"),
        F.expr("(c_custkey div 7) % 500").alias("dst"),
    )
    return kcore(edges, 4)


_KCORE_SQL = """
WITH RECURSIVE
raw AS (SELECT c_custkey % 500 AS a, (c_custkey // 7) % 500 AS b FROM customer),
e0 AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw WHERE a <> b),
b2 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
peel AS (
  SELECT 0 AS iter, u, v FROM b2
  UNION ALL
  SELECT iter, u, v FROM (
    SELECT p.iter + 1 AS iter, p.u, p.v,
           COUNT(*) OVER (PARTITION BY p.u) AS du,
           COUNT(*) OVER (PARTITION BY p.v) AS dv
    FROM peel p WHERE p.iter < 40
  ) WHERE du >= 4 AND dv >= 4
)
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM peel WHERE iter = 40 GROUP BY u
"""
query("kcore", _kcore, _KCORE_SQL)
