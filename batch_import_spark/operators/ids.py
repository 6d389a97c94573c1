"""Node-ID assignment.

The reference assigns dense, 0-based, insertion-order node IDs
(Importer.java:103, readme.md:38) — inherently sequential. Two Spark
strategies (SURVEY.md §1.3, §4):

- ``stable_id``: xxhash64 of the canonical key — order-free, shuffle-
  free, the default at scale;
- ``with_dense_id``: dense 0-based IDs under a stable total order,
  without a single-partition global window: repartitionByRange on the
  order key (ascending ranges land in ascending partition ids), sorted
  within each partition, checkpointed, then numbered in place.

Both dense paths share ``_number_pinned_rows``, which numbers rows in
their physical order: partition index, then position in the partition.
It needs PINNED partitions — an assignment of rows to partitions (and
an order within each) that every execution of the plan reproduces. A
file scan has it (splits are a pure function of file sizes and
``maxPartitionBytes``, never sampled) and so does a checkpoint; a
shuffle does not (AQE may coalesce, range bounds are sampled per run).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_import_spark.session import local_frame


def stable_id(*cols: Column | str, seed: int = 0) -> Column:
    """Deterministic 64-bit ID from the canonical key columns."""
    return F.xxhash64(F.lit(seed), *[F.col(c) if isinstance(c, str) else c for c in cols])


def _number_pinned_rows(
    df: DataFrame, id_col: str, group_col: str | None = None, group_id_col: str | None = None
) -> DataFrame:
    """Dense 0-based ``id_col`` in physical order over a pinned ``df``.

    With ``group_col`` — constant within each partition and contiguous
    in partition order, e.g. the file index of a union of per-file
    scans — ``group_id_col`` also numbers each group's rows from 0.

    Plan shape: one count-per-partition job, then a narrow projection
    — position in partition = ``monotonically_increasing_id() -
    (spark_partition_id() << 33)`` — plus a broadcast join of one
    offset row per partition. No Window, no shuffle of the rows. The
    offsets arrive as a LocalRelation (``session.local_frame``), so the
    broadcast starts no Python worker.
    """
    keyed = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_pos", F.monotonically_increasing_id() - F.shiftleft(F.col("_pid").cast("long"), 33)
    )
    group = [group_col] if group_col else []
    counts = keyed.groupBy("_pid", *group).count().collect()
    offsets, acc, group_start = [], 0, {}
    for row in sorted(counts, key=lambda r: r["_pid"]):
        start = group_start.setdefault(row[group_col], acc) if group_col else 0
        offsets.append((row["_pid"], acc, acc - start))
        acc += row["count"]
    odf = local_frame(
        df.sparkSession, offsets or [(0, 0, 0)], "_pid int, _offset long, _group_offset long"
    )
    out = keyed.join(F.broadcast(odf), "_pid").withColumn(
        id_col, F.col("_offset") + F.col("_pos")
    )
    if group_id_col:
        out = out.withColumn(group_id_col, F.col("_group_offset") + F.col("_pos"))
    return out.drop("_pid", "_pos", "_offset", "_group_offset")


def with_dense_id(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "node_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based IDs in ``order_cols`` order, scalably.

    Plan shape: range shuffle → sort within partitions → eager
    checkpoint, which pins the sampled range boundaries and the sorted
    order so the count job and the numbering read the same rows in the
    same places → ``_number_pinned_rows``. No stage ever holds more than
    one partition's rows.
    """
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *order_cols)
    else:
        ranged = df.repartitionByRange(*order_cols)
    # repartitionByRange samples with a per-execution seed (and AQE may
    # re-coalesce), so the range shuffle must run exactly once.
    ranged = ranged.sortWithinPartitions(*order_cols).localCheckpoint(eager=True)
    return _number_pinned_rows(ranged, id_col)
