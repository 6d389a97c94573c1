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

Every dense id in the package comes from ``number_runs``: the CSV
scan's row and line numbers (sources/csv_source.py), the rel ids of
``import_relationships`` and ``with_dense_id``. It numbers RUNS — the
rows of one partition that share some key, e.g. one block of one file
— in physical order, and puts the runs in an order the caller derives
from one count job's per-run statistics. It needs PINNED partitions —
an assignment of rows to partitions (and an order within each) that
every execution of the plan reproduces. A file scan has it (splits are
a pure function of file sizes and ``maxPartitionBytes``, never
sampled) and so does a checkpoint; a shuffle does not (AQE may
coalesce, range bounds are sampled per run).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_import_spark.session import local_frame


def stable_id(*cols: Column | str) -> Column:
    """Deterministic 64-bit ID from the canonical key columns."""
    return F.xxhash64(F.lit(0), *[F.col(c) if isinstance(c, str) else c for c in cols])


def number_runs(
    df: DataFrame,
    id_col: str,
    run_cols: Sequence[str] = (),
    key: Callable[[Row], tuple] = lambda run: (run["_pid"],),
    aggs: Sequence[Column] = (),
    group: tuple[str, str] | None = None,
) -> tuple[DataFrame, list[Row]]:
    """Dense 0-based ``id_col`` over a pinned ``df``, run by run.

    A run is the rows of one partition that share ``run_cols``. Its rows
    are numbered in physical order, so they must sit contiguously in
    the partition: a run of ``count`` rows whose positions span more
    than ``count`` raises ``ValueError``. Runs are numbered in
    ``key(run)`` order, where ``run`` is a Row of ``_pid``,
    ``run_cols``, ``count``, ``_first``/``_last`` (positions) and
    ``aggs``. With ``group=(group_col, group_id_col)``, ``key(run)[0]``
    is the run's group (an int): it comes out as ``group_col``, and
    ``group_id_col`` numbers each group's rows from 0.

    Plan shape: one count job (a per-run aggregate), then a narrow
    projection — position in partition = ``monotonically_increasing_id()
    - (spark_partition_id() << 33)`` — plus a broadcast join of one
    offset row per run. No Window, no shuffle of the rows. The offsets
    arrive as a LocalRelation (``session.local_frame``), so the
    broadcast starts no Python worker.

    Returns the numbered frame and the runs in ``key`` order, for the
    caller's own checks.
    """
    keyed = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_pos", F.monotonically_increasing_id() - F.shiftleft(F.col("_pid").cast("long"), 33)
    )
    runs = keyed.groupBy("_pid", *run_cols).agg(
        F.count(F.lit(1)).alias("count"),
        F.min("_pos").alias("_first"),
        F.max("_pos").alias("_last"),
        *aggs,
    )
    runs = sorted(runs.collect(), key=key)
    offsets, acc, group_start = [], 0, {}
    for run in runs:
        if run["_last"] - run["_first"] + 1 != run["count"]:
            raise ValueError(
                f"run {[run[c] for c in run_cols]} of partition {run['_pid']} is not "
                "contiguous: number_runs needs pinned partitions whose runs are contiguous"
            )
        row = (run["_pid"], *[run[c] for c in run_cols], acc - run["_first"])
        if group:
            g = key(run)[0]
            row += (acc - group_start.setdefault(g, acc) - run["_first"], g)
        offsets.append(row)
        acc += run["count"]
    fields = [T.StructField("_pid", T.IntegerType()), *[df.schema[c] for c in run_cols]]
    fields.append(T.StructField("_offset", T.LongType()))
    if group:
        fields.append(T.StructField("_group_offset", T.LongType()))
        fields.append(T.StructField(group[0], T.IntegerType()))
    odf = local_frame(df.sparkSession, offsets, T.StructType(fields))
    out = keyed.join(F.broadcast(odf), ["_pid", *run_cols]).withColumn(
        id_col, F.col("_offset") + F.col("_pos")
    )
    if group:
        out = out.withColumn(group[1], F.col("_group_offset") + F.col("_pos"))
    return out.drop("_pid", "_pos", "_offset", "_group_offset"), runs


def with_dense_id(df: DataFrame, order_cols: list[str], id_col: str = "node_id") -> DataFrame:
    """Dense 0-based IDs in ``order_cols`` order, scalably.

    Plan shape: range shuffle (``spark.sql.shuffle.partitions`` ranges)
    → sort within partitions → eager
    checkpoint, which pins the sampled range boundaries and the sorted
    order so the count job and the numbering read the same rows in the
    same places → ``number_runs`` with one run per partition. No stage
    ever holds more than one partition's rows.
    """
    ranged = df.repartitionByRange(*order_cols)
    # repartitionByRange samples with a per-execution seed (and AQE may
    # re-coalesce), so the range shuffle must run exactly once.
    ranged = ranged.sortWithinPartitions(*order_cols).localCheckpoint(eager=True)
    return number_runs(ranged, id_col)[0]
