"""Per-partition checkpointed, idempotently-resumable KG materialization.

The reference flushes its index every 10M rows and can keep or replace
the target store (Importer.java:30,113-115; keep_db Config.java:197-199)
— batch-grained progress in a single-writer world. The distributed
equivalent here (SURVEY.md §7 stage 5):

- work unit = conversation bucket: ``pmod(xxhash64(conv_id), n_buckets)``
  — deterministic, parallelism-independent, and conversation-aligned so
  a bucket is self-contained for extraction;
- the pending buckets are built by the ``kg`` job's own
  ``run_kg_pipeline``, with the bucket as its ``by`` key: bucket edges
  have the ``kg`` edges schema plus ``bucket``, and folding the bucket
  partitions with ``merge_kg_edges`` (bucket dropped) gives the ``kg``
  job's edges row for row;
- every table goes through one writer, ``sinks.GraphSink`` over
  ``base_dir`` (Parquet): edges by ``overwrite_partitions`` on the
  bucket column — re-running a bucket replaces exactly its partition,
  never duplicating triples (A7 resumability) — nodes by ``write``, the
  manifest by ``write(mode="append")``;
- a manifest table records, per completed bucket, lineage + counters
  (n_turns, n_mentions, n_linked, n_skipped, n_triples) — the G1/G2
  reporting surface. n_turns comes from the one aggregate that also
  finds the pending buckets; n_mentions/n_linked from one aggregate
  over the persisted link-flagged mentions the edges write also reads;
  n_triples from the edges frame. Their sums over a call's buckets are
  that build's Observations, which ``resume()`` returns;
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

from batch_import_spark.pipeline.kg import _linked, run_kg_pipeline
from batch_import_spark.session import local_frame
from batch_import_spark.sinks import GraphSink

MANIFEST_SCHEMA = (
    "bucket int, run_id string, n_turns long, n_mentions long, n_linked long, "
    "n_skipped long, n_triples long"
)


@dataclass
class KgCheckpointer:
    spark: SparkSession
    base_dir: str
    n_buckets: int = 64

    def __post_init__(self):
        if self.n_buckets < 1:
            raise ValueError(f"n_buckets must be at least 1, got {self.n_buckets}")

    @property
    def sink(self) -> GraphSink:
        return GraphSink(self.spark, self.base_dir, fmt="parquet")

    def manifest(self) -> DataFrame:
        try:
            return self.sink.read("manifest")
        except AnalysisException:  # no bucket has completed yet
            return local_frame(self.spark, [], MANIFEST_SCHEMA)

    def done_buckets(self) -> set[int]:
        return {r["bucket"] for r in self.manifest().select("bucket").collect()}

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
        """Process every bucket not yet in the manifest. Returns the
        buckets processed and done, and the build's counters.

        ``max_buckets`` limits how many pending buckets this call takes
        (simulates a partial run / crash window in tests).
        """
        if max_buckets is not None and max_buckets < 0:
            raise ValueError(f"max_buckets must be at least 0, got {max_buckets}")
        sink = self.sink
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)).cast("int")
        done = self.done_buckets()
        n_turns = dict(transcripts.groupBy(bucket).count().collect())
        pending = sorted(set(n_turns) - done)[:max_buckets]
        if not pending:
            return {"buckets_processed": 0, "buckets_done": len(done)}

        res = run_kg_pipeline(
            transcripts.where(bucket.isin(pending)),
            alias_dict,
            by=(bucket.alias("bucket"),),
        )
        # the edges write and the counter aggregate below both read the
        # link-flagged mentions: without the cache the extraction (the
        # most expensive stage) runs once per consumer
        mentions = res.mentions.persist()
        try:
            # idempotent per-bucket replacement
            sink.overwrite_partitions(res.edges, "edges")
            # nodes derive from the dictionary alone — bucket-independent
            sink.write(res.nodes, "nodes")
            counts = {
                b: (n, k)
                for b, n, k in mentions.groupBy(bucket)
                .agg(F.count(F.lit(1)), F.sum(_linked().cast("long")))
                .collect()
            }
            triples = dict(res.edges.groupBy("bucket").count().collect())
            rows = []
            for b in pending:
                n, k = counts.get(b, (0, 0))
                rows.append((b, run_id, n_turns[b], n, k, n - k, triples.get(b, 0)))
            sink.write(local_frame(self.spark, rows, MANIFEST_SCHEMA), "manifest", mode="append")
        finally:
            mentions.unpersist()
        return {
            "buckets_processed": len(pending),
            "buckets_done": len(done) + len(pending),
            **res.metrics,
        }
