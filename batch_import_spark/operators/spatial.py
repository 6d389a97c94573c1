"""Spatial index analog — the third index type of the reference.

The reference declares exact / fulltext / spatial index configs
(Importer.java:28,206-210; IndexInfo.java:18-25); spatial is backed by
Lucene there. The Spark-native analog is a **grid-cell index**:

- index build: cell = (floor(lat·s), floor(lon·s)) per point, with
  s = cells_per_degree — a pure expression, and the natural partition
  key for the materialized index table (cell-partitioned Parquet /
  Iceberg ⇒ a lookup prunes to the covering cells' partitions);
- bbox lookup: the covering cell rectangle is tiny (it scales with the
  query box, not the corpus), so it broadcasts; the join prunes the
  index to candidate cells and an exact range filter finishes the job.

This is the standard scale shape for point-in-box at 100 TB: no
full-corpus scan per query, no Python, shuffle bounded by candidate
cells. Distance (k-NN / radius) queries reduce to a bbox pre-filter
plus an exact predicate on the survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_spatial_index(df: DataFrame, cells_per_degree: int = 10) -> DataFrame:
    """(cell_lat, cell_lon, node_id, lat, lon) — one row per point.

    At rest, write this partitioned/bucketed by (cell_lat, cell_lon);
    the lookup join then maps to partition pruning.
    """
    return df.select(
        F.floor(F.col("lat") * cells_per_degree).cast("long").alias("cell_lat"),
        F.floor(F.col("lon") * cells_per_degree).cast("long").alias("cell_lon"),
        "node_id",
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
    )


def _covering_cells(
    spark,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    cells_per_degree: int,
) -> DataFrame:
    """The cell rectangle covering a bbox — tiny, built driver-side."""
    import math

    la0 = math.floor(lat_min * cells_per_degree)
    la1 = math.floor(lat_max * cells_per_degree)
    lo0 = math.floor(lon_min * cells_per_degree)
    lo1 = math.floor(lon_max * cells_per_degree)
    lats = spark.range(la0, la1 + 1).select(F.col("id").alias("cell_lat"))
    lons = spark.range(lo0, lo1 + 1).select(F.col("id").alias("cell_lon"))
    return lats.crossJoin(lons)


def bbox_lookup(
    index: DataFrame,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    cells_per_degree: int = 10,
) -> DataFrame:
    """All indexed points inside [lat_min,lat_max]×[lon_min,lon_max].

    Correct by construction: every qualifying point's cell lies in the
    covering rectangle, and the exact filter decides membership — cell
    pruning only ever removes non-candidates.
    """
    cells = F.broadcast(
        _covering_cells(
            index.sparkSession, lat_min, lat_max, lon_min, lon_max, cells_per_degree
        )
    )
    return (
        index.join(cells, ["cell_lat", "cell_lon"])
        .where(
            (F.col("lat") >= lat_min)
            & (F.col("lat") <= lat_max)
            & (F.col("lon") >= lon_min)
            & (F.col("lon") <= lon_max)
        )
        .select("node_id", "lat", "lon")
    )
