"""Triangle counting (operators/graph_stats.py) — hand-computed oracle."""

from batch_import_spark.operators.graph_stats import triangle_counts, undirected_edges


def test_undirected_canonicalization(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (2, 3)], "src long, dst long"
    )
    got = {(r["u"], r["v"]) for r in undirected_edges(e).collect()}
    assert got == {(1, 2), (2, 3)}  # reversed dup collapsed, self-loop dropped


def test_triangle_counts_hand_graph(spark):
    """K4 on {1..4} (4 triangles, each node in 3), a pendant node 5,
    a separate triangle {6,7,8}, plus noise duplicates/reversals."""
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (5, 1),                                           # pendant
        (6, 7), (7, 8), (8, 6),                           # triangle
        (2, 1), (4, 3), (6, 6),                           # noise
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}


def _py_pagerank(edges, iterations=6, scale=10**12):
    """Pure-python reference of the integer recurrence."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({n for p in e for n in p})
    n = len(nodes)
    outd = {}
    for s, _ in e:
        outd[s] = outd.get(s, 0) + 1
    rank = {v: scale // n for v in nodes}
    base = (15 * scale) // (100 * n)
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for s, d in e:
            contrib[d] += (85 * rank[s]) // (100 * outd[s])
        rank = {v: base + contrib[v] for v in nodes}
    return rank


def test_pagerank_matches_integer_recurrence(spark):
    from batch_import_spark.operators.graph_stats import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (4, 2), (5, 4), (1, 2), (2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pagerank_scaled"] for r in pagerank(df, iterations=4).collect()}
    assert got == _py_pagerank(edges, iterations=4)
    # rank mass is conserved up to truncation + dangling leak: bounded by scale
    assert 0 < sum(got.values()) <= 10**12


def test_pagerank_sink_node_receives_no_out_mass(spark):
    """A pure sink (no out-edges) still gets BASE + in-contributions;
    its mass leaks (dropped dangling mass) — both by design."""
    from batch_import_spark.operators.graph_stats import pagerank

    df = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    got = {r["node"]: r["pagerank_scaled"] for r in pagerank(df, iterations=2).collect()}
    assert got == _py_pagerank([(1, 2), (3, 2)], iterations=2)
    assert got[2] > got[1] == got[3]


def test_bfs_distances_undirected(spark):
    from batch_import_spark.operators.graph_stats import bfs_distances

    # path 1-2-3-4-5, branch 3-6, island 9-10, each edge both ways
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (9, 10)]
    df = spark.createDataFrame(edges + [(b, a) for a, b in edges], "src long, dst long")
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_distances(df, srcs).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 3}  # island unreachable


def test_bfs_distances_directed_multi_source(spark):
    from batch_import_spark.operators.graph_stats import bfs_distances

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3), (3, 1)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,), (4,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, srcs).collect()
    }
    # 4→3 beats 1→2→3; 2 only via 1
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


def test_kcore_peels_to_fixpoint(spark):
    from batch_import_spark.operators.graph_stats import kcore

    # K4 {1..4} + pendant chain 4-5-6 + triangle {7,8,9}: the 3-core
    # is exactly the K4 (triangle nodes have degree 2, chain peels)
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6),
        (7, 8), (8, 9), (7, 9),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["core_degree"] for r in kcore(df, 3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    got2 = {r["node"]: r["core_degree"] for r in kcore(df, 2).collect()}
    # 2-core: K4 + triangle (chain 4-5-6 peels off)
    assert got2 == {1: 3, 2: 3, 3: 3, 4: 3, 7: 2, 8: 2, 9: 2}


def test_kcore_empty_when_overdemanding(spark):
    from batch_import_spark.operators.graph_stats import kcore

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert kcore(df, 5).count() == 0


def test_label_propagation_two_communities(spark):
    from batch_import_spark.operators.graph_stats import label_propagation

    # two triangles bridged by 3-4: sync LPA with min-tie-break
    # converges to community 1 = {1,2,3}, community 3 = {4,5,6}
    # (hand-traced round by round for iterations=4)
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(df, iterations=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_label_propagation_deterministic_under_partitioning(spark):
    from batch_import_spark.operators.graph_stats import label_propagation

    edges = [(i, (i * 3 + 1) % 20) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(11), iterations=3).collect()))
    assert a == b


def _py_ppr(edges, resets, iterations, scale=10**12):
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({n for p in e for n in p})
    outd = {}
    for s, _ in e:
        outd[s] = outd.get(s, 0) + 1
    r = len(set(resets))
    rank = {v: (scale // r if v in resets else 0) for v in nodes}
    base = (15 * scale) // (100 * r)
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for s, d in e:
            contrib[d] += (85 * rank[s]) // (100 * outd[s])
        rank = {v: (base if v in resets else 0) + contrib[v] for v in nodes}
    return rank


def test_personalized_pagerank_teleports_to_reset_set(spark):
    from batch_import_spark.operators.graph_stats import pagerank

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["pagerank_scaled"]
        for r in pagerank(df, iterations=4, reset_nodes=[1]).collect()
    }
    assert got == _py_ppr(edges, {1}, 4)
    # proximity ordering: 1's direct successor outranks the far node,
    # and node 5 (unreachable from 1) holds zero mass
    assert got[2] > got[3] and got[5] == 0


def _py_wpr(edges_w, iterations, scale=10**12):
    agg = {}
    for s, d, w in edges_w:
        if s != d:
            agg[(s, d)] = agg.get((s, d), 0) + w
    nodes = sorted({n for p in agg for n in p})
    n = len(nodes)
    W = {}
    for (s, _), w in agg.items():
        W[s] = W.get(s, 0) + w
    rank = {v: scale // n for v in nodes}
    base = (15 * scale) // (100 * n)
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for (s, d), w in agg.items():
            contrib[d] += (85 * rank[s] * w) // (100 * W[s])
        rank = {v: base + contrib[v] for v in nodes}
    return rank


def test_weighted_pagerank_matches_recurrence(spark):
    from batch_import_spark.operators.graph_stats import pagerank_weighted

    edges = [(1, 2, 5), (1, 3, 1), (2, 3, 2), (3, 1, 4), (1, 2, 3)]  # dup edge sums
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r["node"]: r["pagerank_scaled"]
        for r in pagerank_weighted(df, iterations=4).collect()
    }
    assert got == _py_wpr(edges, 4)

    # acyclic star: the weight split is the ONLY mass difference, so
    # the heavy edge's target must outrank the light one
    star = [(1, 2, 9), (1, 3, 1)]
    got2 = {
        r["node"]: r["pagerank_scaled"]
        for r in pagerank_weighted(
            spark.createDataFrame(star, "src long, dst long, w long"), iterations=3
        ).collect()
    }
    assert got2 == _py_wpr(star, 3)
    assert got2[2] > got2[3]


def test_modularity_two_triangles(spark):
    """Known closed form: two triangles joined by one bridge edge,
    communities = the triangles. m=7, each community m_c=3 and
    K_c=7, so contrib = 4*7*3 - 49 = 35 per side and
    Q = 70/(4*49) = 5/14."""
    from batch_import_spark.operators.graph_stats import modularity_scaled

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)],
        "src long, dst long",
    )
    assign = spark.createDataFrame(
        [(n, n // 3) for n in range(6)], "node long, community long"
    )
    rows = {r["community"]: r for r in modularity_scaled(edges, assign).collect()}
    assert rows[0]["m_intra"] == rows[1]["m_intra"] == 3
    assert rows[0]["deg_sum"] == rows[1]["deg_sum"] == 7
    assert rows[0]["contrib"] == rows[1]["contrib"] == 35
    total = sum(r["contrib"] for r in rows.values())
    assert total == 70  # Q = 70 / (4*7*7) = 5/14


def test_modularity_singleton_partition_is_negative_or_zero(spark):
    """Every node its own community: m_intra=0 everywhere, so Q < 0
    for any graph with edges — a sanity direction check."""
    from batch_import_spark.operators.graph_stats import modularity_scaled

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    assign = spark.createDataFrame([(n, n) for n in range(3)], "node long, community long")
    rows = modularity_scaled(edges, assign).collect()
    assert all(r["m_intra"] == 0 for r in rows)
    assert sum(r["contrib"] for r in rows) < 0


def test_louvain_corrects_misassigned_node(spark):
    """Two triangles + bridge, but node 2 starts in the WRONG triangle
    community: one louvain sweep moves it home and recovers the
    closed-form optimum (contrib 35 + 35 = 70)."""
    from batch_import_spark.operators.graph_stats import (
        louvain_refine,
        modularity_scaled,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)],
        "src long, dst long",
    )
    bad = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 1), (5, 1)],
        "node long, community long",
    )
    before = sum(
        r["contrib"] for r in modularity_scaled(edges, bad).collect()
    )
    refined = louvain_refine(edges, bad, sweeps=1)
    got = {r.node: r.community for r in refined.collect()}
    assert got[2] == 0  # moved back to its triangle
    after = sum(
        r["contrib"]
        for r in modularity_scaled(edges, refined).collect()
    )
    assert after == 70 and after > before


def test_louvain_fixpoint_on_optimal_assignment(spark):
    """On the already-optimal partition no strictly-positive gain
    exists; the sweep is the identity."""
    from batch_import_spark.operators.graph_stats import louvain_refine

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)],
        "src long, dst long",
    )
    good = spark.createDataFrame(
        [(n, n // 3) for n in range(6)], "node long, community long"
    )
    got = {r.node: r.community for r in louvain_refine(edges, good).collect()}
    assert got == {n: n // 3 for n in range(6)}


def test_louvain_beats_lp_baseline_on_actual_kg(spark):
    """Round-4 VERDICT item 7 done-criterion: modularity of the
    refined communities >= the label-propagation baseline on the
    planted KG."""
    from batch_import_spark.queries import kg as entry
    from batch_import_spark.operators.graph_stats import (
        label_propagation,
        louvain_refine,
        modularity_scaled,
    )
    from batch_import_spark.pipeline.kg import run_kg_pipeline
    from batch_import_spark.sources.transcripts import alias_dict_df
    from pyspark.sql import functions as F

    t = entry._planted_transcripts_full(spark, "/root/testdata/sf0.001")
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    g = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    lp = label_propagation(g, iterations=4)
    refined = louvain_refine(g, lp, sweeps=1)
    q_lp = sum(r["contrib"] for r in modularity_scaled(g, lp).collect())
    q_ref = sum(r["contrib"] for r in modularity_scaled(g, refined).collect())
    assert q_ref >= q_lp
