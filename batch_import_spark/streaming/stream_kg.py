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
- the caller picks the sink: the ``stream_kg_windowed`` query drains a
  bounded replay into a memory sink. The batch graph tables (nodes,
  edges, resume checkpoint) have one writer, ``sinks.GraphSink``;
  continuous folds into them go through streaming/incremental.py.

Scale notes: state is bounded by (watermark horizon × triple
vocabulary), not the corpus; extraction is a narrow map over each
micro-batch, as in the batch pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_import_spark.pipeline.extract import extract_mentions_pdf
from batch_import_spark.pipeline.kg import link_and_canonicalize


def streaming_triples(stream: DataFrame, link_dict: DataFrame) -> DataFrame:
    """transcript stream → canonical triple counts per 10-minute
    event-time window.

    ``stream`` must carry (conv_id, turn_idx, text, ts). The watermark
    trails by 30 minutes: in append mode, late turns beyond it are
    dropped and state stays bounded by watermark horizon × vocabulary;
    a complete-mode sink (a bounded replay) keeps every window.
    """
    mentions = stream.select("conv_id", "turn_idx", "ts", "text").mapInPandas(
        lambda batches: map(extract_mentions_pdf, batches),
        schema="conv_id string, turn_idx int, ts timestamp, "
        "subj_surface string, pred string, obj_surface string",
    )
    resolved, _obs = link_and_canonicalize(mentions, link_dict)
    return (
        resolved.withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "10 minutes").alias("w"),
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
