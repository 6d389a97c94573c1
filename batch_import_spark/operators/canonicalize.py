"""Canonicalization: connected components over an equivalence edge list.

The reference's value-level identity convention is "two rows that
resolve to the same indexed key get the same node id"
(Importer.java:129-132); its edge-normalization sort key
min(start,end)/max(start,end) (FileIterator.java:88-98) is the
one-step version of what we make transitive here: the alternating
**large-star / small-star** connected-components algorithm of Kiveris
et al. (MapReduce and Beyond), expressed as DataFrame joins/aggs so
Catalyst/AQE handle shuffle and skew.

Determinism: component id = min node id in the component — an
order-free election, identical at any parallelism (SURVEY.md §7.3).
Lineage is cut with ``localCheckpoint`` every iteration so long runs
do not blow the plan up.

Scale notes: both stars are groupBy-min + join — no collect_list, so
hub nodes cost a shuffle but never a single-task materialization; AQE
skew-join splitting covers the rest.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_import_spark.session import (
    DRIVER_CC_THRESHOLD,
    checkpoint_rotate,
    local_frame,
    unpersist_ids,
)

_MAX_ITERATIONS = 50


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of u to min(Γ⁺(u))."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's ≤-neighborhood, attach everything to the min."""
    # orient every edge (hi, lo)
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    j = o.join(m, "u")
    to_min = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = m.select("u", F.col("m").alias("v"))
    return to_min.union(self_edge).where(F.col("u") != F.col("v")).distinct()


def min_id_components(edges: Iterable[tuple]) -> dict:
    """Driver-side union-find: map every node of ``edges`` (pairs) to
    the min node of its connected component.

    Each union keeps the smaller root, so a root is always its
    component's min and ``find`` IS the election — the same min-id
    contract as the distributed large-star/small-star loop.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _driver_cc_edges(spark, e: DataFrame) -> DataFrame:
    """``min_id_components`` over a collected (u, v) edge table. Same
    output contract as the distributed loop: one (node_id,
    component_id) row per node appearing in the (self-loop-filtered)
    edge set, component_id = the component's min node id."""
    from pyspark.sql.types import StructField, StructType

    comp = min_id_components((r[0], r[1]) for r in e.collect())
    schema = StructType(
        [
            StructField("node_id", e.schema[0].dataType, True),
            StructField("component_id", e.schema[1].dataType, True),
        ]
    )
    return local_frame(spark, comp.items(), schema)


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Return (node_id, component_id) with component_id = min id.

    ``edges``: long-typed undirected edge list; isolated nodes absent
    from it map to themselves (callers union identity if needed).
    Convergence: edge multiset fingerprint (count + hash-sum) stable
    across a large+small round.

    Edge sets at or under ``DRIVER_CC_THRESHOLD`` (read at call time;
    the count is already paid to size the iteration's shuffles) take a
    DRIVER-SIDE union-find — the CC
    analog of a broadcast join — skipping the multi-round shuffle
    loop's scheduling floor entirely. Both paths elect the min node id
    per component over the self-loop-filtered distinct edge set:
    identical, deterministic results (pytest-pinned on randomized
    graphs, test_round7_cc.py).
    """
    spark = edges.sparkSession
    e, ckpt_ids = checkpoint_rotate(
        spark,
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(src) != F.col(dst))
        .distinct(),
        set(),
    )

    # size the iteration's shuffles to the graph, not the session: a
    # tiny equivalence graph (e.g. an alias dictionary) converges in a
    # couple of 1-partition rounds; a billion-edge graph keeps the
    # session's width. ~1M edges per partition.
    n_edges = e.count()
    if n_edges <= DRIVER_CC_THRESHOLD:
        out = _driver_cc_edges(spark, e)
        unpersist_ids(spark, ckpt_ids)
        return out
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    cc_parts = max(1, min(int(saved), n_edges // 1_000_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(cc_parts))

    try:
        prev_sig = None
        for _ in range(_MAX_ITERATIONS):
            # each round's checkpoint supersedes the previous one —
            # long CC loops (and long sessions running many CCs)
            # otherwise accumulate MEMORY_AND_DISK blocks
            e, ckpt_ids = checkpoint_rotate(spark, _small_star(_large_star(e)), ckpt_ids)
            sig_row = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            sig = (sig_row["n"], sig_row["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected_components: no convergence in {_MAX_ITERATIONS} iterations"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    # converged: every edge is (node, component-min); roots map to themselves
    members = e.select(F.col("u").alias("node_id"), F.col("v").alias("component_id"))
    roots = e.select(F.col("v").alias("node_id")).distinct().withColumn(
        "component_id", F.col("node_id")
    )
    return members.union(roots).distinct()
