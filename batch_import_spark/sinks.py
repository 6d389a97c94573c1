"""Graph materialization sinks — Iceberg first, Parquet fallback.

``GraphSink`` is the one writer of every graph table: the ``kg`` and
``import-csv`` jobs write through ``write``/``write_graph``, and the
``resume`` job's per-bucket checkpoint (pipeline/checkpoint.py) writes
its edges, nodes and manifest through ``overwrite_partitions``,
``write`` and ``write(mode="append")`` — the analog of the reference
sending every import, fresh or keep_db, through one BatchInserter
(Importer.java:77-80,113-115).

Reference mapping (SURVEY.md §2.5):

- A1/A3 node/relationship create (Importer.java:96-104, :154) →
  ``nodes`` / ``edges`` tables;
- A7 keep_db append-vs-replace (Importer.java:77-80,
  Config.java:197-199) → ``mode="append"`` vs ``mode="overwrite"``;
- A6 batched flush / idempotent re-run of a work unit
  (Importer.java:30,113-115) → per-partition overwrite: Iceberg
  ``overwritePartitions()`` (snapshot-isolated) or Parquet dynamic
  partition overwrite — re-running a bucket replaces exactly its
  partition, never duplicating rows.

Format selection: ``fmt="auto"`` uses Iceberg when the runtime classes
are on the classpath AND ``base`` names a catalog table prefix
(``catalog.db``), else Parquet under a directory. This sandbox ships
no Iceberg jar, so tests cover the Parquet path and skip the Iceberg
path when the classes are absent; the Iceberg calls are the standard
public DataFrameWriterV2 API and carry no sandbox-specific behavior.

Scale notes: ``overwrite_partitions`` writes partitioned by the
checkpoint bucket so a retry's blast radius is one bucket; Iceberg
additionally gives snapshot isolation + time travel (the manifest table
in pipeline/checkpoint.py remains the lineage/counter surface either
way).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FORMATS = ("auto", "iceberg", "parquet")


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


@dataclass
class GraphSink:
    """Writes/reads the ``nodes`` and ``edges`` tables of one graph.

    ``base``: an Iceberg table prefix (``catalog.db``) or a filesystem
    directory. ``fmt``: "auto" | "iceberg" | "parquet"; any other
    value raises ``ValueError`` at construction.
    """

    spark: SparkSession
    base: str
    fmt: str = "auto"

    def __post_init__(self):
        if self.fmt not in FORMATS:
            raise ValueError(f"fmt must be one of {FORMATS}, got {self.fmt!r}")

    def _use_iceberg(self) -> bool:
        if self.fmt == "iceberg":
            return True
        if self.fmt == "parquet":
            return False
        # auto: a filesystem path can't be an Iceberg identifier
        return "/" not in self.base and iceberg_available(self.spark)

    def _ident(self, table: str) -> str:
        return f"{self.base}.{table}" if self._use_iceberg() else f"{self.base}/{table}"

    # --- writes ---------------------------------------------------------

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        """Full-table write. ``mode``: "overwrite" (replace, the
        reference's default destructive import) or "append" (keep_db)."""
        if self._use_iceberg():
            ident = self._ident(table)
            w = df.writeTo(ident).using("iceberg")
            if mode != "append":
                w.createOrReplace()
            elif self.spark.catalog.tableExists(ident):
                w.append()
            else:
                w.create()  # first append creates the table
            return
        df.write.mode(mode).parquet(self._ident(table))

    def overwrite_partitions(self, df: DataFrame, table: str) -> None:
        """Idempotently replace exactly the ``bucket`` partitions present
        in ``df`` (the A6 checkpoint-unit re-run contract)."""
        if self._use_iceberg():
            ident = self._ident(table)
            if self.spark.catalog.tableExists(ident):
                df.writeTo(ident).overwritePartitions()
            else:
                df.writeTo(ident).using("iceberg").partitionedBy(F.col("bucket")).create()
            return
        # Parquet twin: dynamic partition overwrite, scoped per-write
        # (NOT a session conf — that leaks into unrelated writes)
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(self._ident(table))

    # --- reads ----------------------------------------------------------

    def read(self, table: str) -> DataFrame:
        if self._use_iceberg():
            return self.spark.table(self._ident(table))
        return self.spark.read.parquet(self._ident(table))

    def write_graph(
        self, nodes: DataFrame, edges: DataFrame, mode: str = "overwrite"
    ) -> None:
        """Materialize a KgResult's node+edge tables (A1 + A3)."""
        self.write(nodes, "nodes", mode=mode)
        self.write(edges, "edges", mode=mode)
