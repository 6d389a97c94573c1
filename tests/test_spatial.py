"""Spatial grid-cell index (A8 third index type; Importer.java:28,206-210)."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.spatial import bbox_lookup, build_spatial_index


def _points(spark):
    rows = [
        (1, 0.05, 0.05),
        (2, 0.95, 0.95),
        (3, -0.5, 0.5),
        (4, 10.0, 10.0),
        (5, 0.9999, -0.0001),  # cell-boundary straddlers
        (6, 1.0001, 1.0001),
    ]
    return spark.createDataFrame(rows, "node_id long, lat double, lon double")


def test_bbox_matches_brute_force(spark):
    pts = _points(spark)
    idx = build_spatial_index(pts, cells_per_degree=10)
    got = {r["node_id"] for r in bbox_lookup(idx, -1.0, 1.0, -1.0, 1.0, 10).collect()}
    brute = {
        r["node_id"]
        for r in pts.where(
            (F.col("lat").between(-1.0, 1.0)) & (F.col("lon").between(-1.0, 1.0))
        ).collect()
    }
    assert got == brute == {1, 2, 3, 5}


def test_bbox_prunes_to_covering_cells(spark):
    """The join input is the covering cell rectangle, not the corpus:
    a point far outside never reaches the exact filter."""
    pts = _points(spark)
    idx = build_spatial_index(pts, cells_per_degree=10)
    out = bbox_lookup(idx, -1.0, 1.0, -1.0, 1.0, 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # covering cells broadcast, index probed
