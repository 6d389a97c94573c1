"""Streaming KG: file-source micro-batches → windowed triples parquet.

Drives a real StreamingQuery (not just plan construction): transcripts
written as parquet files become a file-source stream; the windowed
triple counts, summed over windows, must equal the batch pipeline's
counts for the same data once the stream drains (availableNow trigger).
"""

import pytest
from pyspark.sql import functions as F

from batch_import_spark.pipeline.kg import prepare_link_dict, run_kg_pipeline
from batch_import_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    alias_dict_df,
    generate_transcripts,
)
from batch_import_spark.streaming.stream_kg import streaming_triples


def test_stream_matches_batch(spark, tmp_path):
    t = generate_transcripts(spark, n_convs=12, median_turns=6, hot_factor=3)
    src = str(tmp_path / "stream_src")
    t.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    link_dict = prepare_link_dict(alias_dict_df(spark))
    # complete mode keeps every window: summed over windows, the
    # bounded replay must converge to exactly the batch pipeline's totals
    triples = streaming_triples(stream, link_dict)
    q = (
        triples.writeStream.outputMode("complete")
        .format("memory")
        .queryName("triples_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "select subj, pred, obj, sum(n_occurrences) as n from triples_stream "
        "group by subj, pred, obj"
    )
    batch = run_kg_pipeline(t, alias_dict_df(spark)).edges.select(
        "subj", "pred", "obj", F.col("n_occurrences").alias("n")
    )
    g = {(r["subj"], r["pred"], r["obj"]): r["n"] for r in got.collect()}
    b = {(r["subj"], r["pred"], r["obj"]): r["n"] for r in batch.collect()}
    assert g == b and len(g) > 0


def test_conversation_sessions_gap_timeout(spark, tmp_path):
    """Stateful sessionization (applyInPandasWithState): sessions close
    when the event-time watermark passes last_ts + gap, with exact
    turn/mention counts and first/last timestamps."""
    import os
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_import_spark.streaming.sessions import conversation_sessions

    t0 = datetime(2025, 1, 1, 0, 0, 0)

    def us(minutes):
        return int((t0.timestamp() + minutes * 60) * 1_000_000)

    def table(rows):
        return pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
                "role": pa.array(["user"] * len(rows), pa.string()),
                "text": pa.array([r[2] for r in rows], pa.string()),
                "tool": pa.array([None] * len(rows), pa.string()),
                "ts": pa.array([us(r[3]) for r in rows], pa.timestamp("us")),
            }
        )

    src = tmp_path / "sess_src"
    src.mkdir()
    # batch 1: convs A (3 turns, 2 mentions) and B (2 turns, 0 mentions)
    pq.write_table(
        table(
            [
                ("A", 0, "Alice works at Acme. hello", 0),
                ("A", 1, "no mention here", 1),
                ("A", 2, "Bob uses Spark.", 2),
                ("B", 0, "plain turn", 0),
                ("B", 1, "another plain turn", 0),
            ]
        ),
        src / "b1.parquet",
    )
    # batch 2: conv C two hours later — advances the watermark past
    # A/B's (last_ts + 30 min) timeout
    pq.write_table(table([("C", 0, "later turn", 120)]), src / "b2.parquet")
    # batch 3: conv D even later — the batch in which A/B's timeout fires
    pq.write_table(table([("D", 0, "final turn", 240)]), src / "b3.parquet")
    base = os.path.getmtime(src / "b1.parquet")
    os.utime(src / "b2.parquet", (base + 10, base + 10))
    os.utime(src / "b3.parquet", (base + 20, base + 20))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 minute")
    )
    q = (
        conversation_sessions(stream, gap="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {r["conv_id"]: r for r in spark.sql("select * from sessions").collect()}
    assert "A" in rows and "B" in rows
    a, b = rows["A"], rows["B"]
    assert a["n_turns"] == 3 and a["n_mentions"] == 2
    assert a["first_ts"] == t0 and a["last_ts"] == datetime(2025, 1, 1, 0, 2, 0)
    assert b["n_turns"] == 2 and b["n_mentions"] == 0
    # D's timeout (t0+4h30m) is beyond any watermark the bounded
    # replay reaches — it must stay open; C may close only if a
    # trailing no-data batch runs
    assert "D" not in rows


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Duplicates across micro-batches inside the watermark horizon are
    dropped; each key survives exactly once (append mode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_import_spark.streaming.dedup_stream import streaming_exact_dedup

    src = str(tmp_path / "dedup_src")
    import os

    os.makedirs(src)
    base_us = 1735689600 * 1_000_000

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], pa.string()),
                    "ts": pa.array([base_us + r[1] * 1_000_000 for r in rows],
                                   pa.timestamp("us")),
                }
            ),
            os.path.join(src, name),
        )

    write("b1.parquet", [("a", 0), ("b", 10), ("a", 20)])   # intra-batch dup
    write("b2.parquet", [("a", 30), ("c", 40), ("b", 50)])  # cross-batch dups
    stream = spark.readStream.schema("k string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_exact_dedup(stream, ["k"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["k"] for r in spark.table("dedup_stream_out").collect())
    assert got == ["a", "b", "c"]


def test_incremental_stream_equals_full_build(spark):
    """Two micro-batches through the foreachBatch fold == one-shot
    batch build, full column equality (the continuous-ingest
    invariant)."""
    from batch_import_spark.queries import kg
    from pyspark.sql import functions as F

    from batch_import_spark.pipeline.kg import prepare_link_dict, run_kg_pipeline
    from batch_import_spark.sources.transcripts import alias_dict_df

    sf = "/root/testdata/sf0.001"
    streamed = kg._stream_kg_incremental(spark, sf)
    full = run_kg_pipeline(
        kg._planted_transcripts_full(spark, sf).drop("ts"),
        alias_dict_df(spark),
        link_dict=prepare_link_dict(alias_dict_df(spark)),
    ).edges.select(
        "subj", "pred", "obj", F.col("n_occurrences").cast("long").alias("n")
    )
    assert streamed.exceptAll(full).count() == 0
    assert full.exceptAll(streamed).count() == 0
