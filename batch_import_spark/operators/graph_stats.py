"""Distributed graph statistics over DataFrame edge lists.

Companions to operators/canonicalize.py (connected components) for the
KG-analytics surface: triangle counting here, degree stats in the
driver contract. The reference has no analytics layer (its graph ends
at the BatchInserter); these operators serve the downstream QA that a
KG construction pipeline needs (clustering coefficients, community
seeds, link-error smells such as triangle-free hub nodes).

Triangle counting uses the degree-orientation formulation (the
standard MapReduce/Spark shape, cf. Suri & Vassilvitskii, "Counting
Triangles and the Curse of the Last Reducer", WWW'11): orient every
undirected edge from its lower-(degree, id) endpoint to the higher
one, generate wedges only at each edge's LOW endpoint, and close them
against the oriented edge set. A node of degree d generates
O(min(d, √m)²) wedges instead of O(d²) — the hub node that would melt
a naive formulation generates almost none, because nearly all its
edges point INTO it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.session import checkpoint_rotate, persistent_rdd_ids, unpersist_ids

#: PageRank's fixed-point unit: ranks are BIGINT multiples of 1/PR_SCALE
PR_SCALE = 10**12
#: kcore peeling rounds before it gives up
_MAX_ITERATIONS = 50
#: hash-colored sub-steps per louvain_refine sweep
_COLORS = 4


def undirected_edges(df: DataFrame) -> DataFrame:
    """Canonical undirected simple edge set: (u < v), self-loops
    dropped, duplicates collapsed."""
    u = F.least(F.col("src"), F.col("dst")).alias("u")
    v = F.greatest(F.col("src"), F.col("dst")).alias("v")
    return df.select(u, v).where(F.col("u") != F.col("v")).distinct()


def triangle_counts(df: DataFrame) -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles),
    nodes in at least one triangle.

    Plan: degrees (map-side combinable groupBy) → broadcast-joined
    orientation (the degree table has one SMALL row per node — still
    a shuffle join at web scale, on an evenly-hashed key) → one
    self-join to build wedges at low endpoints → one equi-join to
    close them. Every join key is (node, node) pairs or single node
    ids — no key is hotter than the max ORIENTED out-degree, which
    orientation bounds by ~√(2m).
    """
    e = undirected_edges(df)
    deg = (
        e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient: a → b iff (deg(a), a) < (deg(b), b); total order, so the
    # oriented graph is acyclic and every triangle is counted exactly
    # once as wedge (a→b, a→c) + closing edge (b→c) with b before c
    with_deg = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    hi_ord = F.when(
        lo_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    ).otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
    oriented = with_deg.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        hi_ord.alias("_ord_b"),
    )
    # wedges at the low endpoint; order the two outs by the SAME total
    # order used for orientation so the closing edge (b→c) exists in
    # the oriented set iff the wedge is a triangle
    o1 = oriented.select("a", F.col("b").alias("w1"), F.col("_ord_b").alias("o1"))
    o2 = oriented.select(F.col("a").alias("a2"), F.col("b").alias("w2"), F.col("_ord_b").alias("o2"))
    wedges = (
        o1.join(o2, (o1.a == o2.a2) & (F.col("o1") < F.col("o2")))
        .select("a", F.col("w1").alias("b"), F.col("w2").alias("c"))
    )
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    df: DataFrame,
    iterations: int = 6,
    reset_nodes: list | None = None,
) -> DataFrame:
    """Integer-exact PageRank over a directed simple edge list.

    Returns (node, pagerank_scaled) where ``pagerank_scaled`` is the
    rank carried in fixed-point BIGINT units of 1/``PR_SCALE``:

        rank0(v)   = PR_SCALE div N
        rank_i(v)  = (15*PR_SCALE) div (100*N)
                     + Σ_{u→v} (85 * rank_{i-1}(u)) div (100 * outdeg(u))

    Every step is non-negative BIGINT arithmetic with truncating
    division — bit-identical in any engine (the DuckDB oracle unrolls
    the same recurrence), no float accumulation order to diverge.
    Dangling-node mass is dropped (the classic simplification); both
    engines drop it identically.

    With ``reset_nodes`` (PERSONALIZED PageRank), the teleport mass
    goes only to that set R — N above becomes |R| and the base/init
    terms are zero off R. Ranks then measure proximity to R: the
    standard KG entity-relatedness / expansion scorer.

    Scale shape: outdeg is a map-side-combinable groupBy; the edge
    table is joined to outdeg ONCE and checkpointed; each iteration is
    one equi-join of the (node, rank) table to that edge table plus
    one groupBy(dst) — the standard Pregel-on-DataFrame shape, two
    shuffles per iteration on evenly-hashed node ids. The rank table
    is one row per node (asymptotically smaller than the edges); a
    fixed iteration count keeps the job DAG statically known.
    """
    spark = df.sparkSession
    e = (
        df.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes, node_ids = checkpoint_rotate(spark, nodes, set())
    if reset_nodes is None:
        n = nodes.count()
        in_reset = F.lit(True)
    else:
        n = len(set(reset_nodes))
        in_reset = F.col("node").isin(list(set(reset_nodes)))
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed, ed_ids = checkpoint_rotate(spark, e.join(outd, "src"), set())

    init = PR_SCALE // n
    base = (15 * PR_SCALE) // (100 * n)
    init_col = F.when(in_reset, F.lit(init)).otherwise(F.lit(0))
    base_col = F.when(in_reset, F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select("node", init_col.cast("long").alias("rank"))
    prev_ids: set = set()
    for _ in range(iterations):
        contribs = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("(85 * rank) div (100 * d)").alias("c"),
        )
        agg = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(agg, "node", "left").select(
            "node",
            (base_col + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("rank"),
        )
        ranks, prev_ids = checkpoint_rotate(spark, ranks, prev_ids)
    # the final ranks checkpoint is materialized — the edge/node
    # checkpoints are no longer referenced by its lineage
    unpersist_ids(spark, ed_ids | node_ids)
    return ranks.select("node", F.col("rank").alias("pagerank_scaled"))


def bfs_distances(
    df: DataFrame,
    sources: DataFrame,
    max_hops: int = 20,
) -> DataFrame:
    """Minimum hop distance from any node in ``sources`` (one column,
    ``node``) to every node reachable along the directed edges.
    Returns (node, dist int).

    Frontier BFS on DataFrames: each round joins ONLY the new frontier
    (nodes first reached last round) against the edge list, then
    anti-joins the visited set — work per round is proportional to the
    frontier's out-edges, not the graph, and the visited set grows
    monotonically. Two shuffles per round on node ids; terminates when
    the frontier empties (diameter rounds, not max_hops, in the common
    case). The visited set is checkpointed per round with the same
    block-rotation discipline as connected_components.
    """
    spark = df.sparkSession
    e = df.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    e, e_ids = checkpoint_rotate(spark, e, set())

    visited = sources.select("node").distinct().select(
        "node", F.lit(0).cast("int").alias("dist")
    )
    visited, visited_ids = checkpoint_rotate(spark, visited, set())
    # the initial frontier aliases the visited checkpoint: its blocks
    # are owned (and freed) through visited_ids, so frontier_ids is
    # empty until the first real frontier replaces it
    frontier, frontier_ids = visited, set()
    for hop in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
        )
        reached, r_ids = checkpoint_rotate(spark, reached, set())
        if reached.limit(1).count() == 0:
            unpersist_ids(spark, r_ids)
            break
        # new visited materializes from the old visited + reached
        # checkpoints; after that the old visited and the old frontier
        # (last round's reached) are unreferenced
        visited, visited_ids = checkpoint_rotate(
            spark, visited.unionAll(reached), visited_ids | frontier_ids
        )
        frontier, frontier_ids = reached, r_ids
    unpersist_ids(spark, e_ids | frontier_ids)
    return visited


def kcore(df: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core (the maximal subgraph where every node has
    degree ≥ k), by iterative peeling: drop nodes of degree < k,
    recompute, repeat to fixpoint. Returns (node, core_degree) —
    each survivor's degree inside the core.

    Per round: one doubled-edge degree count (map-side combinable)
    and one semi-join filter — two shuffles on node ids; the edge set
    only shrinks, so round cost is monotonically decreasing. The loop
    checkpoint-rotates like connected_components. Peeling converges in
    at most diameter-ish rounds on real graphs (the loop exits on the
    first round that removes nothing).
    """
    e = undirected_edges(df)
    # doubled edge list: degree(u) = row count with u first
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    spark = df.sparkSession
    cur, prev_ids = checkpoint_rotate(spark, both, set())
    n_prev = cur.count()
    for _ in range(_MAX_ITERATIONS):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        good = deg.where(F.col("d") >= k).select("u")
        nxt = cur.join(good, "u").join(
            good.select(F.col("u").alias("v")), "v"
        ).select("u", "v")
        nxt, prev_ids = checkpoint_rotate(spark, nxt, prev_ids)
        n_now = nxt.count()
        cur = nxt
        if n_now == n_prev:
            break
        n_prev = n_now
    else:
        raise RuntimeError(f"kcore: no convergence in {_MAX_ITERATIONS} rounds")
    out = cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )
    return out


def label_propagation(df: DataFrame, iterations: int = 4) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection). Returns (node, community) after a FIXED number of
    rounds: every node simultaneously adopts its neighbors' most
    frequent label, ties broken by the smallest label id. Labels start
    as node ids.

    Classic async LPA is run-order-dependent; the synchronous variant
    with a total tie-break order is a pure function of the graph, so
    the DuckDB oracle replays it exactly in a recursive CTE. A fixed
    round count sidesteps sync-LPA's known 2-cycle oscillation (both
    engines stop at the same round regardless) and keeps the DAG
    static — the standard production compromise.

    Per round: one equi-join (labels → doubled edges) + one count
    groupBy + one rank-limited window (WindowGroupLimit cuts to the
    argmax below the exchange) — three shuffles on node ids, state one
    row per node. Checkpoint-rotated like the other iterative ops.
    """
    spark = df.sparkSession
    e = undirected_edges(df)
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    both, e_ids = checkpoint_rotate(spark, both, set())
    labels = both.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels, prev_ids = checkpoint_rotate(spark, labels, set())
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(iterations):
        counted = (
            both.join(labels, both["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
        )
        labels, prev_ids = checkpoint_rotate(spark, labels, prev_ids)
    unpersist_ids(spark, e_ids)
    return labels.select("node", F.col("label").alias("community"))


def pagerank_weighted(df: DataFrame, iterations: int = 6) -> DataFrame:
    """Integer-exact PageRank with BIGINT edge weights (e.g. triple
    occurrence counts from the KG aggregate): a node's outgoing mass
    splits proportionally to weight,

        contrib(u→v) = (85 · rank(u) · w_uv) div (100 · W_u),

    W_u = Σ out-weights of u (column ``tw`` internally). Same fixed-point discipline and
    per-iteration shape as ``pagerank`` (one equi-join + one groupBy
    per round); the oracle replays the identical recurrence.
    """
    spark = df.sparkSession
    e = (
        df.select(
            "src",
            "dst",
            F.col("w").cast("long").alias("w"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes, node_ids = checkpoint_rotate(spark, nodes, set())
    n = nodes.count()
    # "tw" not "W": Spark resolves identifiers case-insensitively by
    # default, so w/W in one schema is AMBIGUOUS_REFERENCE
    outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
    ed, ed_ids = checkpoint_rotate(spark, e.join(outw, "src"), set())

    init = PR_SCALE // n
    base = (15 * PR_SCALE) // (100 * n)
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    prev_ids: set = set()
    for _ in range(iterations):
        contribs = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("(85 * rank * w) div (100 * tw)").alias("c"),
        )
        agg = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(agg, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("rank"),
        )
        ranks, prev_ids = checkpoint_rotate(spark, ranks, prev_ids)
    unpersist_ids(spark, ed_ids | node_ids)
    return ranks.select("node", F.col("rank").alias("pagerank_scaled"))


def modularity_scaled(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """Integer-exact modularity of a community assignment — makes a
    community output GRADEABLE, not just reproducible.

    Newman modularity over the undirected simple graph G(m edges):

        Q = Σ_c [ m_c/m − (K_c / 2m)² ]

    (m_c = intra-community edges, K_c = degree sum of c). Multiplying
    by 4m² clears every denominator:

        contrib_c = 4·m·m_c − K_c²      Q = Σ_c contrib_c / (4m²)

    so the per-community contributions — and their sum — are exact
    BIGINTs, bit-identical in any engine (same discipline as the
    integer PageRank). Returns (community, n_nodes, m_intra, deg_sum,
    contrib). ``contrib`` fits int64 for m ≲ 1.5·10⁹ edges; beyond
    that shard the graph or lift to DECIMAL(38,0).

    Scale shape: canonicalize + degree are map-side-combinable; the
    intra-edge count is two broadcast-or-shuffle hash joins of the
    edge list against the (node, community) map keyed on node ids; the
    single-row m aggregate broadcasts. No window over the full graph.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    b2 = e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
    deg = b2.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    a = assign.select(F.col("node").alias("n"), F.col("community").alias("c"))
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        e.join(a.select(F.col("n").alias("u"), F.col("c").alias("cu")), "u")
        .join(a.select(F.col("n").alias("v"), F.col("c").alias("cv")), "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("m_intra"))
    )
    ks = (
        a.join(deg, "n")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("deg_sum"),
        )
    )
    return (
        ks.join(intra, "c", "left")
        .na.fill(0, ["m_intra"])
        .crossJoin(F.broadcast(m_df))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            F.col("m_intra").cast("long").alias("m_intra"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            (
                4 * F.col("m") * F.col("m_intra")
                - F.col("deg_sum") * F.col("deg_sum")
            ).cast("long").alias("contrib"),
        )
    )


def louvain_refine(df: DataFrame, assign: DataFrame, sweeps: int = 1) -> DataFrame:
    """One-level Louvain refinement (Blondel et al. 2008, phase-1
    local moves) of an existing community assignment — typically the
    ``label_propagation`` output — by synchronous greedy modularity-
    gain moves in exact scaled integers.

    Moving node u from its community a to a neighbor community b
    changes Newman modularity by

        ΔQ = (k_ub − k_ua′)/m − k_u·(K_b − K_a′) / (2m²)

    (k_uc = u's links into c, k_ua′ excluding u itself, K_c = degree
    sum, K_a′ = K_a − k_u). Multiplying by 2m² clears denominators:

        gain = 2·m·(k_ub − k_ua′) − k_u·(K_b − (K_a − k_u))

    an exact BIGINT, engine-reproducible. Each sweep runs ``_COLORS``
    hash-colored sub-steps: only nodes with
    pmod(portable_hash60(node), _COLORS) == sub-step may move, to the
    best strictly-positive gain (ties → smallest community id), and
    gains are recomputed between sub-steps. Fully-simultaneous moves
    oscillate (two nodes swap into each other's community, or a
    cohort overshoots into one community, measurably DECREASING Q on
    real graphs — observed on the planted KG); classic async Louvain
    is visit-order-dependent. Hash-colored sub-sweeps are the
    standard distributed-Louvain compromise (cf. Halappanavar et al.,
    "Scalable static and dynamic community detection using Grappolo"):
    deterministic, engine-replayable (the color hash is the portable
    md5-60bit), and near-sequential in behavior as ``_COLORS`` grows.
    Grade the result with ``modularity_scaled`` (the pytest pins
    refined >= baseline on the planted KG).

    Scale shape per sweep: K_c and k_uc are map-side-combinable
    groupBys; candidate scoring is equi-joins on node/community ids
    with the single-row m broadcast. No window over the full graph,
    state one row per (node, adjacent community). `gain` fits int64
    for m ≲ 1.5·10⁹ edges (same bound as modularity_scaled); lift to
    DECIMAL(38,0) beyond.
    """
    from batch_import_spark.operators.sketches import portable_hash60

    e = undirected_edges(df)
    # loop invariants, materialized once: the doubled edge list and the
    # degree table are referenced in every colored sub-step (deg twice
    # per sub-step: the community-total join and the mover join), and m
    # is a scalar — collected here and inlined as a literal instead of
    # a per-sub-step aggregate+broadcast (round 7; results unchanged,
    # the sub-step arithmetic is identical).
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    both = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = (
        both.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    invariant_ids = persistent_rdd_ids(spark) - before
    m_val = int(e.count())
    a = assign.select(F.col("node").alias("n"), F.col("community").alias("c"))

    prev_ids: set = set()
    for _ in range(sweeps):
        for ci in range(_COLORS):
            # tot and kuc are each read twice inside one sub-step
            # (current-community attributes + candidate scoring):
            # lazy checkpoints make the second reference a block read
            # instead of a re-aggregation. Their blocks are freed once
            # the sub-step's assignment is checkpointed.
            before = persistent_rdd_ids(spark)
            tot = (
                a.join(deg, a["n"] == deg["u"])
                .groupBy("c")
                .agg(F.sum("d").cast("long").alias("tot"))
                .localCheckpoint(eager=False)
            )
            kuc = (
                both.join(
                    a.select(F.col("n").alias("v"), F.col("c").alias("vc")),
                    "v",
                )
                .groupBy("u", "vc")
                .agg(F.count(F.lit(1)).cast("long").alias("k"))
                .localCheckpoint(eager=False)
            )
            step_ids = persistent_rdd_ids(spark) - before
            cur = (
                a.select(F.col("n").alias("u"), F.col("c").alias("cu"))
                .join(deg.select("u", F.col("d").alias("ku")), "u")
                .join(
                    tot.select(
                        F.col("c").alias("cu"), F.col("tot").alias("tot_cu")
                    ),
                    "cu",
                )
                .join(
                    kuc.select(
                        "u", F.col("vc").alias("cu"), F.col("k").alias("k_own")
                    ),
                    ["u", "cu"],
                    "left",
                )
                .na.fill(0, ["k_own"])
            )
            cand = (
                cur.where(
                    F.pmod(portable_hash60(F.col("u")), F.lit(_COLORS)) == ci
                )
                .join(kuc, "u")
                .where(F.col("vc") != F.col("cu"))
                .join(tot.select(F.col("c").alias("vc"), "tot"), "vc")
                .select(
                    "u",
                    "vc",
                    F.expr(
                        f"2*{m_val}L*(k - k_own) - ku*(tot - (tot_cu - ku))"
                    ).alias("gain"),
                )
            )
            best = (
                cand.where(F.col("gain") > 0)
                .groupBy("u")
                .agg(
                    F.min(
                        F.struct((-F.col("gain")).alias("negg"), F.col("vc"))
                    ).alias("b")
                )
                .select("u", F.col("b.vc").alias("new_c"))
            )
            a = (
                cur.select("u", "cu")
                .join(best, "u", "left")
                .select(
                    F.col("u").alias("n"),
                    F.coalesce("new_c", "cu").alias("c"),
                )
            )
            a, prev_ids = checkpoint_rotate(spark, a, prev_ids)
            unpersist_ids(spark, step_ids)
    unpersist_ids(spark, invariant_ids)
    return a.select(F.col("n").alias("node"), F.col("c").alias("community"))


def link_prediction_scores(df: DataFrame) -> DataFrame:
    """KG completion candidates: score non-adjacent node pairs that
    share neighbors, by common-neighbor count and the resource-
    allocation index (Zhou/Lü/Zhang 2009) in integer fixed point:

        ra_ppm(u, v) = Σ_{z ∈ Γ(u) ∩ Γ(v)}  10^6 div deg(z)

    BIGINT division only — engine-reproducible. Plan shape is the
    wedge join (two scans of the doubled edge list joined on the
    center), the same shape as triangle counting. A degree-d hub
    center emits d² wedge pairs while contributing only 10^6/d mass to
    each.
    Output: (u, v, n_common, ra_ppm) for non-adjacent u < v.
    """
    e = undirected_edges(df)
    b2 = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = b2.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    za = b2.join(deg, "u").select(
        F.col("u").alias("z"), F.col("v").alias("a"), "d"
    )
    zb = b2.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedges = za.join(zb, "z").where(F.col("a") < F.col("b"))
    scores = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum(F.expr("1000000L div d")).cast("long").alias("ra_ppm"),
    )
    return (
        scores.join(
            e,
            (scores["a"] == e["u"]) & (scores["b"] == e["v"]),
            "left_anti",
        )
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            "ra_ppm",
        )
    )
