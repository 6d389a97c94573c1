"""Fuzzy ed≤1 join (operators/fuzzy.py) + batch sessionization."""

import datetime

from batch_import_spark.operators.conversations import sessionize
from batch_import_spark.operators.fuzzy import fuzzy_join_ed1


def _brute_pairs(lefts, rights):
    def lev1(a, b):
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) == 1
        s, t = (a, b) if la < lb else (b, a)
        return any(t[:i] + t[i + 1:] == s for i in range(len(t)))

    return {
        (i, j) for i, a in lefts for j, b in rights if lev1(a, b)
    }


def test_fuzzy_join_matches_quadratic_oracle(spark):
    lefts = [(1, "anthropic"), (2, "spark"), (3, "sprk"), (4, "graph"), (5, "ab")]
    rights = [
        (10, "anthropc"),   # deletion
        (11, "spark"),      # equal
        (12, "spurk"),      # substitution
        (13, "graphs"),     # insertion
        (14, "ba"),         # transposition = distance 2: must NOT match
        (15, "zzz"),
    ]
    ldf = spark.createDataFrame(lefts, "lid long, name string")
    rdf = spark.createDataFrame(rights, "rid long, name string")
    out = fuzzy_join_ed1(ldf, rdf, "name", "name", "lid", "rid")
    got = {(r["lid_l"], r["rid_r"]) for r in out.collect()}
    assert got == _brute_pairs(lefts, rights)
    assert (5, 14) not in got  # ab↔ba shares variant 'a' but ed=2


def test_sessionize_gap_split(spark):
    base = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, base),
        ("c1", 1, base + datetime.timedelta(seconds=100)),
        ("c1", 2, base + datetime.timedelta(seconds=5000)),  # gap > 1800
        ("c1", 3, base + datetime.timedelta(seconds=5100)),
        ("c2", 0, base),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = {
        (r["conv_id"], r["session_idx"]): (r["n_turns"], r["end_sec"] - r["start_sec"])
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert got[("c1", 0)] == (2, 100)
    assert got[("c1", 1)] == (2, 100)
    assert got[("c2", 0)] == (1, 0)
    assert len(got) == 3


def test_fuzzy_join_plans_as_equi_join_not_nested_loop(spark):
    """The whole point: the deletion-neighborhood join must be a hash
    equi-join on the variant, never BroadcastNestedLoopJoin with a
    levenshtein residual."""
    ldf = spark.createDataFrame([(i, f"name{i}") for i in range(50)], "lid long, name string")
    out = fuzzy_join_ed1(ldf, ldf, "name", "name", "lid", "lid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # candidate equi-join present
