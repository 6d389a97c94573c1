"""SparkSession factory tuned for the KG-construction workload.

The reference (Importer.java:63-65) tunes a single JVM's mmap buffers;
our equivalent knob set is shuffle partitioning, AQE, and Arrow batch
size. All settings are public Spark configs.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing of shuffle partitions + skew-join
  splitting replaces any hand-scheduling the reference does.
- ``spark.sql.shuffle.partitions`` here is a local[32] default; on a
  real cluster set it ~2-3x total cores — AQE coalesces down.
- Arrow self-destruct + batch size keep pandas-UDF memory bounded.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

# rows a driver-side pass (union-find, link-dictionary build) may
# collect: 500k string/long pairs ≈ tens of MB on the heap —
# conservative vs the broadcast-join budget such a pass replaces
DRIVER_CC_THRESHOLD = 500_000

def build_session(
    app_name: str = "batch-import-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores) so the same entry point serves tests, bench, and a real
    ``spark-submit`` (where master is supplied externally and this
    default is ignored because the session already exists).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 32

    # shuffle/spill scratch: prefer tmpfs in this container (the
    # overlay FS makes first-shuffle writes 2-3x slower at high
    # parallelism); on a real cluster point this at fast local disks
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # fail-fast typed conversion (readme.md:41-42 'Conversion
        # failure will result in abort') requires ANSI mode — set it
        # explicitly on the production path, never trust the default
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet scan sizing: 128 MB splits keep task counts sane at scale
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """A driver-built table (dictionary, offsets, manifest stub, …) as
    an Arrow ``LocalRelation``; the one way this package turns Python
    rows into a DataFrame.

    ``spark.createDataFrame(list)`` plans a pickled Python RDD (Spark
    4.1), so every job that reads it starts a Python worker to unpickle
    even a 1-row table; on the kg job that cost 0.8 s of a 2.6 s run
    (kgbench kg_hot, 4 vCPU). Here the rows are typed into a
    ``pyarrow.Table`` and reach the JVM as Arrow batches: a
    ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold``, a JVM-side RDD
    of Arrow batches above it, never a Python worker.

    ``schema`` is a ``StructType`` or any DDL string ``createDataFrame``
    takes (``"a long, b string"`` or ``"a: long, b: string"``). Rows are
    tuples, checked by ``createDataFrame``'s own verifier first, so a
    wrongly typed cell or a NULL in a non-nullable field raises as it
    always did (pyarrow alone would truncate a float into a long). One
    difference: a non-str cell in a string column raises instead of
    being stringified.
    """
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    rows = list(rows)
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session parallelism when ``df``
    has fewer partitions, else ``df`` unchanged. A small parquet file is
    one scan partition however it is split, so every narrow stage over
    it (an Arrow kernel, a partial aggregate) would run one task; the
    shuffle moves the file's bytes once. Row order never feeds a result
    of its callers."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of the RDDs persisted in the session's context. A
    ``localCheckpoint`` registers its RDD here when it is called, eager
    or lazy, so the ids a checkpoint owns are the difference of two
    calls around it."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def unpersist_ids(spark: SparkSession, ids: set[int]) -> None:
    """Free the blocks of the given persisted RDDs. This is the only way
    to release a ``localCheckpoint``: ``DataFrame.unpersist()`` leaves
    its RDD persisted (Spark 4.1), so iterative loops and stream folds
    would otherwise hold every superseded checkpoint for the session's
    lifetime."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


def checkpoint_rotate(
    spark: SparkSession, df: DataFrame, prev_ids: set[int]
) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint`` ``df`` eagerly, then free ``prev_ids`` (the
    checkpoint it supersedes). Returns the checkpointed frame and the
    ids that now own its blocks — the next rotation's ``prev_ids``."""
    before = persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    new_ids = persistent_rdd_ids(spark) - before
    unpersist_ids(spark, prev_ids)
    return out, new_ids
