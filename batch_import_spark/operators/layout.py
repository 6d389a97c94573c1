"""At-rest file layout: a Z-order clustering key for data skipping.

Per-file min/max column statistics prune a parquet scan only when the
rows inside each file are close in the filtered column. Sorting by one
column keeps one dimension tight; ``zorder_key`` interleaves two, so a
sort or bucketing on it keeps files tight in BOTH (the layout behind
Delta/Iceberg OPTIMIZE ZORDER). The reference has no storage layout
layer at all (it streams into Neo4j's store files); this is the
Spark-native equivalent concern.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton / Z-order interleave of two non-negative integer
    columns (each truncated to its ``bits`` low bits; y takes the
    odd bit positions): the clustering key behind multi-dimensional
    data-skipping layouts (Delta/Iceberg OPTIMIZE ZORDER). Sorting
    or bucketing by this key co-locates rows that are close in BOTH
    dimensions, so per-file min/max stats prune scans filtered on
    either column — the property a single-column sort cannot give.

    Pure integer shifts/masks, one reference of each input per bit
    (linear expression tree — codegen-safe at any ``bits``), and the
    identical arithmetic replays in any SQL engine."""
    xb = F.pmod(x.cast("long"), F.lit(1 << bits))
    yb = F.pmod(y.cast("long"), F.lit(1 << bits))
    key = F.lit(0).cast("long")
    for b in range(bits):
        key = key + F.shiftleft(
            F.shiftright(xb, b).bitwiseAND(F.lit(1)), 2 * b
        ).cast("long")
        key = key + F.shiftleft(
            F.shiftright(yb, b).bitwiseAND(F.lit(1)), 2 * b + 1
        ).cast("long")
    return key
