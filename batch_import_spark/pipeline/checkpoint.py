"""Per-partition checkpointed, idempotently-resumable KG materialization.

The reference flushes its index every 10M rows and can keep or replace
the target store (Importer.java:30,113-115; keep_db Config.java:197-199)
— batch-grained progress in a single-writer world. The distributed
equivalent here (SURVEY.md §7 stage 5):

- work unit = conversation bucket: ``pmod(xxhash64(conv_id), n_buckets)``
  — deterministic, parallelism-independent, and conversation-aligned so
  a bucket is self-contained for extraction;
- every table goes through one writer, ``sinks.GraphSink`` over
  ``base_dir`` (Parquet): edges by ``overwrite_partitions`` on the
  bucket column — re-running a bucket replaces exactly its partition,
  never duplicating triples (A7 resumability) — nodes by ``write``, the
  manifest by ``write(mode="append")``;
- a manifest table records, per completed bucket, lineage + counters
  (n_turns, n_mentions, n_linked, n_skipped, n_triples) — the G1/G2
  reporting surface;
- ``resume()`` processes only buckets absent from the manifest: a
  bucket whose write crashed before its manifest append is simply
  re-run and overwritten (idempotent; pinned by a crash-injection
  test). The input is read in its own splits, like the ``kg`` job's.

Scale: n_buckets bounds the blast radius of a retry (100 TB / 4096
buckets ≈ 25 GB per unit) while the inner job still parallelizes each
bucket across the cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_import_spark.pipeline.extract import extract_mentions
from batch_import_spark.pipeline.kg import (
    link_and_canonicalize,
    nodes_from_dict,
    prepare_link_dict,
)
from batch_import_spark.session import local_frame
from batch_import_spark.sinks import GraphSink

MANIFEST_SCHEMA = (
    "bucket int, run_id string, n_turns long, n_mentions long, n_linked long, "
    "n_skipped long, n_triples long"
)


def _bucket(col: str = "conv_id", n_buckets: int = 64):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


@dataclass
class KgCheckpointer:
    spark: SparkSession
    base_dir: str
    n_buckets: int = 64

    @property
    def sink(self) -> GraphSink:
        return GraphSink(self.spark, self.base_dir, fmt="parquet")

    def manifest(self) -> DataFrame:
        try:
            return self.sink.read("manifest")
        except AnalysisException:  # no bucket has completed yet
            return local_frame(self.spark, [], MANIFEST_SCHEMA)

    def done_buckets(self) -> set[int]:
        return {r["bucket"] for r in self.manifest().select("bucket").distinct().collect()}

    def edges(self) -> DataFrame:
        return self.sink.read("edges")

    def nodes(self) -> DataFrame:
        return self.sink.read("nodes")

    def triples(self) -> DataFrame:
        """Global (subj, pred, obj) set = distinct over bucket partitions."""
        return self.edges().select("subj", "pred", "obj").distinct()

    def resume(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame,
        run_id: str = "run",
        max_buckets: int | None = None,
    ) -> dict:
        """Process every bucket not yet in the manifest. Returns counters.

        ``max_buckets`` limits how many pending buckets this call takes
        (simulates a partial run / crash window in tests).
        """
        sink = self.sink
        done = self.done_buckets()
        pending_df = transcripts.select(
            _bucket("conv_id", self.n_buckets).alias("bucket")
        ).distinct()
        pending = sorted(
            r["bucket"] for r in pending_df.collect() if r["bucket"] not in done
        )
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return {"buckets_processed": 0}

        t = transcripts.withColumn("bucket", _bucket("conv_id", self.n_buckets)).where(
            F.col("bucket").isin([int(b) for b in pending])
        )

        turn_counts = t.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_turns"))

        # persist the extraction output: it feeds the edges write AND
        # two counter aggregations below — without the cache the
        # mapInPandas extraction (the most expensive stage) re-runs
        # once per consumer (3× per resume call)
        mentions = (
            extract_mentions(t.select("conv_id", "turn_idx", "text"))
            .withColumn("bucket", _bucket("conv_id", self.n_buckets))
            .persist()
        )
        try:
            link_dict = prepare_link_dict(alias_dict)
            resolved, _obs = link_and_canonicalize(mentions, link_dict)

            edges = resolved.groupBy(
                "bucket", "subj_id", "subj", "pred", "obj_id", "obj"
            ).agg(F.count(F.lit(1)).alias("n_occurrences"))

            # idempotent per-bucket replacement
            sink.overwrite_partitions(edges, "edges")
            # nodes derive from the dictionary alone — bucket-independent
            sink.write(nodes_from_dict(link_dict), "nodes")

            # lineage counters per bucket (exact aggregates, not observers —
            # observers double-count under resampling plans; see verify skill)
            mention_counts = mentions.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n_mentions")
            )
            linked_counts = resolved.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n_linked")
            )
            triple_counts = (
                sink.read("edges")
                .where(F.col("bucket").isin([int(b) for b in pending]))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n_triples"))
            )
            manifest_rows = (
                turn_counts.join(mention_counts, "bucket", "left")
                .join(linked_counts, "bucket", "left")
                .join(triple_counts, "bucket", "left")
                .select(
                    "bucket",
                    F.lit(run_id).alias("run_id"),
                    "n_turns",
                    F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
                    F.coalesce("n_linked", F.lit(0)).alias("n_linked"),
                    (
                        F.coalesce("n_mentions", F.lit(0)) - F.coalesce("n_linked", F.lit(0))
                    ).alias("n_skipped"),
                    F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
                )
            )
            sink.write(manifest_rows, "manifest", mode="append")
        finally:
            mentions.unpersist()
        return {"buckets_processed": len(pending)}
