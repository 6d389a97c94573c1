"""Plan-shape regression guards for the round-5 entries.

Same discipline as test_round4_ops.test_round4_query_plan_shapes: no
nested-loop/cartesian joins (the theta scalar assembly and the
modularity-style broadcast single-row joins are the only sanctioned
cross joins in the repo, and none of these queries needs one), and
the pure narrow maps stay zero-Exchange.
"""

from __future__ import annotations


def test_round5_query_plan_shapes(spark):
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()

    def plan_of(name):
        return qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()

    for name in (
        "repetition_screen",
        "pii_redact",
        "crossdoc_substring_removal",
        "sft_pairs",
        "kg_communities_louvain",
        "ivf_pq_topk",
    ):
        p = plan_of(name)
        assert "NestedLoop" not in p and "Cartesian" not in p, name

    for name in (
        "quality_gate",
        "wordpiece_tokenize",
        "sft_pairs",
    ):
        p = plan_of(name)
        assert "NestedLoop" not in p and "CartesianProduct" not in p, name
    # temperature_mixture carries the ONE sanctioned cross join: the
    # broadcast single-row Σw scalar (same pattern as modularity) —
    # assert it is exactly that, not a real product
    p = plan_of("temperature_mixture")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    # semantic_dedup's only cartesian-free exception: none — its pair
    # stage must be a cell-keyed equi-join, never an all-pairs product
    p = plan_of("semantic_dedup")
    assert "CartesianProduct" not in p and "NestedLoop" not in p

    # pii redaction is a pure codegen regex chain: no KEYED shuffle.
    # Round 7 allows the single round-robin scan fan-out (session.fan_out)
    # that parallelizes single-row-group local inputs.
    import re as _re

    pii_exchanges = _re.findall(r"Exchange \w+", plan_of("pii_redact"))
    assert all("RoundRobinPartitioning" in e for e in pii_exchanges)
    assert len(pii_exchanges) <= 1

    # ivf-pq candidates must ship codes, never raw vectors: the join
    # output carries the codes array and the post-join projection has
    # no embedding column
    p = plan_of("ivf_pq_topk")
    # two INDEPENDENT guards (the old `or` was tautological): the
    # probe join must be a broadcast hash join, and no nested-loop
    # join may appear anywhere in the plan
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoop" not in p
    assert "codes" in p
    # the candidate shuffle ships codes only — no raw embedding
    # column may cross an Exchange (the scan may read it; the
    # shuffle must not carry it)
    for line in p.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line, line
