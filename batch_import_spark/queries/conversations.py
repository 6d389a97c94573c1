"""Transcript analytics over the documents table read as
conversations: tool transitions, context assembly and budgets, stats,
sessions (batch and streaming), SFT pairs and the interval join."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from batch_import_spark.operators.conversations import (
    assemble_context,
    context_within_budget,
    conversation_stats,
    mine_sft_pairs,
    sessionize,
    tool_transitions,
)
from batch_import_spark.queries.common import _H60_SQL, query
from batch_import_spark.queries.kg import _plant_from_docs
from batch_import_spark.session import fan_out
from batch_import_spark.streaming.interval_join import interval_join
from batch_import_spark.streaming.sessions import conversation_sessions


def _context_token_budget(spark, sf):
    """Token-budgeted context sizing (conversations.py
    context_within_budget): how many preceding items fit in a
    150-token window, per source stream — one prefix sum + one
    RANGE-frame window, the dataloader-side math for SFT context
    assembly. Run over the documents table (source = stream,
    doc_id = order) so the oracle is closed-form."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet")).select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").alias("turn_idx"),
        "text",
    )
    return context_within_budget(d, budget=150)


_CONTEXT_BUDGET_SQL = r"""
WITH t AS (
  SELECT source AS conv_id, doc_id AS turn_idx,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
p AS (
  SELECT conv_id, turn_idx, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS sprev
  FROM t WHERE n_tok > 0
)
SELECT conv_id, turn_idx, n_tok,
       CAST(COUNT(*) OVER fr - 1 AS BIGINT) AS n_ctx_turns,
       CAST(SUM(n_tok) OVER fr - n_tok AS BIGINT) AS ctx_tokens
FROM p
WINDOW fr AS (PARTITION BY conv_id ORDER BY sprev
              RANGE BETWEEN 150 PRECEDING AND CURRENT ROW)
"""
query("context_token_budget", _context_token_budget, _CONTEXT_BUDGET_SQL)


def _conv_table(spark, sf):
    """Deterministic transcript table in the BASELINE input_hint shape
    (conv_id, turn_idx, role, text, tool, ts), derived from documents
    so the DuckDB oracle can rebuild it with the same expressions."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    role = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("user"))
        .when(F.col("doc_id") % 3 == 1, F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )
    tool = F.when(
        F.col("doc_id") % 3 == 2,
        F.concat(F.lit("Tool"), (F.col("doc_id") % 8).cast("string")),
    )
    return d.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        tool.alias("tool"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 60).alias("ts"),
    )


_CONV_SQL = """
SELECT source AS conv_id, CAST(doc_id AS INT) AS turn_idx,
       CASE WHEN doc_id % 3 = 0 THEN 'user'
            WHEN doc_id % 3 = 1 THEN 'assistant'
            ELSE 'tool' END AS role,
       text,
       CASE WHEN doc_id % 3 = 2
            THEN 'Tool' || CAST(doc_id % 8 AS VARCHAR) END AS tool,
       1735689600 + doc_id * 60 AS ts_sec
FROM documents
"""


def _tool_transitions(spark, sf):
    """Agent tool-call bigrams (operators/conversations.py
    tool_transitions): which tool follows which within a
    conversation, non-tool turns transparent."""
    return tool_transitions(_conv_table(spark, sf))


_TOOL_TRANSITIONS_SQL = f"""
WITH t AS (
  SELECT conv_id, turn_idx, tool,
         LAG(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM ({_CONV_SQL}) WHERE tool IS NOT NULL
)
SELECT prev_tool, tool, COUNT(*) AS n_transitions
FROM t WHERE prev_tool IS NOT NULL
GROUP BY prev_tool, tool
"""
query("tool_transitions", _tool_transitions, _TOOL_TRANSITIONS_SQL)


def _context_assembly(spark, sf):
    """Turn-context assembly (operators/conversations.py
    assemble_context): each turn paired with its previous ≤3 turn
    texts — the model-input construction step for replay/distillation
    over transcripts."""
    t = _conv_table(spark, sf)
    return assemble_context(t, k=3).select("conv_id", "turn_idx", "context")


_CONTEXT_ASSEMBLY_SQL = f"""
SELECT conv_id, turn_idx,
       COALESCE(string_agg(text, chr(10)) OVER (
         PARTITION BY conv_id ORDER BY turn_idx
         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
       ), '') AS context
FROM ({_CONV_SQL})
"""
query("context_assembly", _context_assembly, _CONTEXT_ASSEMBLY_SQL)


def _conv_stats(spark, sf):
    """Per-conversation curation rollup (operators/conversations.py
    conversation_stats): role mix, tool calls, token volume, span."""
    return conversation_stats(_conv_table(spark, sf))


_CONV_STATS_SQL = rf"""
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
       CAST(SUM(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                x -> x <> ''))) AS BIGINT) AS n_tokens,
       CAST(MAX(ts_sec) - MIN(ts_sec) AS BIGINT) AS span_seconds
FROM ({_CONV_SQL})
GROUP BY conv_id
"""
query("conv_stats", _conv_stats, _CONV_STATS_SQL)


def _sft_pairs(spark, sf):
    """SFT pair mining over transcripts: each user turn paired with
    the NEXT assistant turn in its conversation, skipping intervening
    tool turns (the realistic instruction-tuning extraction — an
    agent's tool calls sit between the question and the answer), and
    only when no other user turn intervenes (the assistant answers
    THIS prompt). Round-4 VERDICT: the strict-adjacency version was
    vacuously green because the fixture's roles cycle
    user→tool→assistant within every conversation; this pairing
    crosses the tool turn and is exercised on real rows
    (operators/conversations.py mine_sft_pairs)."""
    return mine_sft_pairs(_conv_table(spark, sf))


_SFT_PAIRS_SQL = f"""
WITH t AS (SELECT conv_id, turn_idx, role, text FROM ({_CONV_SQL})),
aug AS (
  SELECT conv_id, turn_idx, role, text,
         MIN(CASE WHEN role = 'assistant' THEN turn_idx END) OVER w AS response_idx,
         MIN(CASE WHEN role = 'user' THEN turn_idx END) OVER w AS next_user_idx
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT u.conv_id, u.turn_idx AS prompt_idx, u.response_idx,
       u.text AS prompt, a.text AS response,
       CAST(length(u.text) AS INT) AS prompt_chars,
       CAST(length(a.text) AS INT) AS response_chars
FROM aug u
JOIN t a ON a.conv_id = u.conv_id AND a.turn_idx = u.response_idx
WHERE u.role = 'user' AND u.response_idx IS NOT NULL
  AND (u.next_user_idx IS NULL OR u.response_idx < u.next_user_idx)
"""
query("sft_pairs", _sft_pairs, _SFT_PAIRS_SQL)


def _batch_sessions(spark, sf):
    """Batch gap-sessionization (operators/conversations.py
    sessionize) — the at-rest twin of the streaming stateful operator,
    same 30-minute gap rule."""
    return sessionize(_conv_table(spark, sf), gap_seconds=1800)


_BATCH_SESSIONS_SQL = f"""
WITH t AS (SELECT conv_id, turn_idx, ts_sec FROM ({_CONV_SQL})),
f AS (
  SELECT conv_id, turn_idx, ts_sec,
         CASE WHEN LAG(ts_sec) OVER w IS NULL
                   OR ts_sec - LAG(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS nw
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts_sec, turn_idx)
),
s AS (
  SELECT conv_id, ts_sec,
         CAST(SUM(nw) OVER (PARTITION BY conv_id ORDER BY ts_sec, turn_idx
                            ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_idx
  FROM f
)
SELECT conv_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(MIN(ts_sec) AS BIGINT) AS start_sec,
       CAST(MAX(ts_sec) AS BIGINT) AS end_sec
FROM s GROUP BY 1, 2
"""
query("batch_sessions", _batch_sessions, _BATCH_SESSIONS_SQL)


def _stream_interval_join(spark, sf):
    """Watermarked stream-stream interval join (streaming/
    interval_join.py): user-request events joined to the assistant
    response landing within 1 hour, both sides replayed as file
    streams (two files per side, maxFilesPerTrigger=1, so matches
    must survive micro-batch boundaries through join state). The
    replay watermark is generous so the bounded fixture drains
    completely and the output equals the batch interval join — the
    eviction path is pytest-pinned separately
    (tests/test_interval_join.py)."""
    pdf = (
        _conv_table(spark, sf)
        .select("conv_id", "turn_idx", "role", "ts")
        .toPandas()
    )  # bounded: one row per document at test scale

    def _write(dirpath, fname, sub, idx_name, ts_name):
        tab = pa.table(
            {
                "conv_id": pa.array(list(sub["conv_id"]), pa.string()),
                idx_name: pa.array(
                    [int(x) for x in sub["turn_idx"]], pa.int32()
                ),
                ts_name: pa.array(
                    list(sub["ts"].astype("datetime64[us]").astype("int64")),
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(tab, os.path.join(dirpath, fname))

    src_u = tempfile.mkdtemp(prefix="ij_users_")
    src_a = tempfile.mkdtemp(prefix="ij_assts_")
    users = pdf[pdf.role == "user"]
    assts = pdf[pdf.role == "assistant"]
    # two files per side, split by conv_id hash parity (deterministic)
    for src, sub, idx_name, ts_name in (
        (src_u, users, "prompt_idx", "req_ts"),
        (src_a, assts, "response_idx", "res_ts"),
    ):
        even = sub[sub["conv_id"].map(lambda c: len(c) % 2 == 0)]
        odd = sub[sub["conv_id"].map(lambda c: len(c) % 2 == 1)]
        _write(src, "b1.parquet", even, idx_name, ts_name)
        _write(src, "b2.parquet", odd, idx_name, ts_name)
        mt = os.path.getmtime(os.path.join(src, "b1.parquet"))
        os.utime(os.path.join(src, "b2.parquet"), (mt + 10, mt + 10))

    us = (
        spark.readStream.schema(
            "conv_id string, prompt_idx int, req_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_u)
    )
    asts = (
        spark.readStream.schema(
            "conv_id string, response_idx int, res_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_a)
    )
    joined = interval_join(
        us,
        asts,
        key="conv_id",
        left_ts="req_ts",
        right_ts="res_ts",
        max_lag="1 hour",
        watermark="1 day",
    ).select(
        "conv_id",
        "prompt_idx",
        "response_idx",
        (F.unix_timestamp("res_ts") - F.unix_timestamp("req_ts"))
        .cast("long")
        .alias("lag_sec"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_interval_join_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("stream_interval_join_out")


_STREAM_IJ_SQL = f"""
WITH t AS ({_CONV_SQL}),
u AS (SELECT conv_id, turn_idx AS prompt_idx, ts_sec AS ts_u
      FROM t WHERE role = 'user'),
a AS (SELECT conv_id, turn_idx AS response_idx, ts_sec AS ts_a
      FROM t WHERE role = 'assistant')
SELECT u.conv_id, prompt_idx, response_idx,
       CAST(ts_a - ts_u AS BIGINT) AS lag_sec
FROM u JOIN a ON u.conv_id = a.conv_id
             AND ts_a > ts_u AND ts_a <= ts_u + 3600
"""
query("stream_interval_join", _stream_interval_join, _STREAM_IJ_SQL)


def _stream_sessions(spark, sf):
    """Stateful streaming sessionization (applyInPandasWithState,
    streaming/sessions.py) over a bounded replay: the planted
    transcripts (planted sentences only — closed-form mention counts)
    land as one data file, then two far-future sentinel files advance
    the event-time watermark and fire every real conversation's gap
    timeout (the batch-N-watermark / batch-N+1-fire mechanics proven in
    tests/test_streaming.py). All real turns arrive in one micro-batch,
    so each conv_id closes as ONE session — the gap-SPLIT path is
    pytest-covered (multi-batch arrival); this row drives state
    create/merge/timeout/emit end-to-end against a batch SQL oracle."""
    docs = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    t = _plant_from_docs(docs, include_doc_text=False)
    pdf = t.toPandas()  # bounded: one row per document at test scale
    max_us = int(pdf["ts"].astype("datetime64[us]").astype("int64").max())

    def _table(conv_ids, turn_idxs, texts, ts_us):
        return pa.table(
            {
                "conv_id": pa.array(conv_ids, pa.string()),
                "turn_idx": pa.array(turn_idxs, pa.int32()),
                "text": pa.array(texts, pa.string()),
                "ts": pa.array(ts_us, pa.timestamp("us")),
            }
        )

    src = tempfile.mkdtemp(prefix="stream_sessions_")
    pq.write_table(
        _table(
            list(pdf["conv_id"]),
            [int(x) for x in pdf["turn_idx"]],
            list(pdf["text"]),
            list(pdf["ts"].astype("datetime64[us]").astype("int64")),
        ),
        os.path.join(src, "b1.parquet"),
    )
    # sentinel 1 advances the watermark past every real last_ts + gap;
    # sentinel 2 is the batch in which those timeouts fire
    s1_us = max_us + 3600 * 1_000_000
    s2_us = s1_us + 3600 * 1_000_000
    pq.write_table(
        _table(["_sentinel"], [0], [""], [s1_us]), os.path.join(src, "b2.parquet")
    )
    pq.write_table(
        _table(["_sentinel"], [1], [""], [s2_us]), os.path.join(src, "b3.parquet")
    )
    base_mt = os.path.getmtime(os.path.join(src, "b1.parquet"))
    os.utime(os.path.join(src, "b2.parquet"), (base_mt + 10, base_mt + 10))
    os.utime(os.path.join(src, "b3.parquet"), (base_mt + 20, base_mt + 20))

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    q = (
        conversation_sessions(stream, gap="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("stream_sessions_out")
    return out.where(F.col("conv_id") != "_sentinel").select(
        "conv_id",
        "n_turns",
        "n_mentions",
        F.col("first_ts").cast("string").alias("first_ts"),
        F.col("last_ts").cast("string").alias("last_ts"),
    )


_STREAM_SESSIONS_SQL = f"""
WITH m AS (
  SELECT source,
         1735689600 + doc_id * 60 AS ts_sec,
         1 + CASE WHEN (h >> 14) % 10 < 2 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 22) % 10 < 2 THEN 1 ELSE 0 END AS n_m
  FROM (SELECT doc_id, source, {_H60_SQL} AS h FROM documents)
)
SELECT source AS conv_id,
       COUNT(*) AS n_turns,
       CAST(SUM(n_m) AS BIGINT) AS n_mentions,
       CAST(make_timestamp(MIN(ts_sec) * 1000000) AS VARCHAR) AS first_ts,
       CAST(make_timestamp(MAX(ts_sec) * 1000000) AS VARCHAR) AS last_ts
FROM m GROUP BY source
"""
query("stream_sessions", _stream_sessions, _STREAM_SESSIONS_SQL)
