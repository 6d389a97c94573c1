"""Round-7 pin: connected_components' driver-side union-find fast path
(edge sets <= DRIVER_CC_THRESHOLD) returns exactly the distributed
large/small-star loop's output."""

import random

import pytest
from pyspark.sql import functions as F

from batch_import_spark.operators import canonicalize
from batch_import_spark.operators.canonicalize import connected_components


def _both(spark, edges):
    """The driver path's and the distributed path's rows, asserting
    which path each call took."""
    df = spark.createDataFrame(edges, "u long, v long")
    out, driver_calls = [], []
    driver_cc = canonicalize._driver_cc_edges
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            canonicalize, "_driver_cc_edges",
            lambda *a: driver_calls.append(1) or driver_cc(*a),
        )
        # -1: even an empty edge set takes the distributed loop
        for threshold in (canonicalize.DRIVER_CC_THRESHOLD, -1):
            mp.setattr(canonicalize, "DRIVER_CC_THRESHOLD", threshold)
            out.append(sorted(tuple(r) for r in connected_components(df).collect()))
            assert driver_calls == [1], threshold
    return tuple(out)


def test_matches_distributed_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(40 + 30 * trial)
        ]
        fast, dist = _both(spark, edges)
        assert fast == dist
        assert len(fast) > 0


def test_matches_on_chains_selfloops_and_duplicates(spark):
    edges = (
        [(i, i + 1) for i in range(10)]        # one chain
        + [(20, 21), (21, 20), (20, 21)]       # duplicates both ways
        + [(30, 30)]                           # self-loop only: excluded
        + [(40, 41)]
    )
    fast, dist = _both(spark, edges)
    assert fast == dist
    nodes = {n for n, _ in fast}
    assert 30 not in nodes                      # self-loop-only node absent
    comp = dict(fast)
    assert all(comp[i] == 0 for i in range(11))  # chain collapses to min 0


def test_empty_edge_set(spark):
    fast, dist = _both(spark, [(1, 1)])  # only a self-loop -> empty
    assert fast == dist == []
