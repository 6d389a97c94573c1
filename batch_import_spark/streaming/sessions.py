"""Custom stateful streaming operator: conversation sessionization.

Windowed aggregations can't express data-driven gap sessions (a
session ends when a conversation goes quiet for ``gap``, not at a
fixed boundary). This is the canonical ``applyInPandasWithState``
use case: per-conversation state (turn/mention counters, first/last
event time) lives in the state store, an event-time timeout fires
when the watermark passes last_ts + gap, and the operator emits one
summary row per closed session.

Scale notes: state is one small fixed-size tuple per OPEN
conversation — bounded by the number of conversations inside the
watermark horizon, not the corpus. The grouping shuffle is on
conv_id; the kernel is
Arrow-batched pandas, vectorized per micro-batch.

The reference has no streaming surface (SURVEY.md §2.7); this exceeds
it deliberately — a 10^12-turn transcript feed is continuous, and
session boundaries are the natural checkpoint grain for incremental
KG maintenance.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

SESSION_OUTPUT_SCHEMA = (
    "conv_id string, n_turns bigint, n_mentions bigint, "
    "first_ts timestamp, last_ts timestamp"
)
_STATE_SCHEMA = "n_turns bigint, n_mentions bigint, first_us bigint, last_us bigint"

_GAP_RE = re.compile(
    r"^\s*(\d+)\s*"
    r"(ms|millis|milliseconds?|s|secs?|seconds?|m|mins?|minutes?"
    r"|h|hrs?|hours?|d|days?)\s*$",
    re.IGNORECASE,
)
_UNIT_MS = {
    "ms": 1, "milli": 1, "millisecond": 1,
    "s": 1000, "sec": 1000, "second": 1000,
    "m": 60_000, "min": 60_000, "minute": 60_000,
    "h": 3_600_000, "hr": 3_600_000, "hour": 3_600_000,
    "d": 86_400_000, "day": 86_400_000,
}


def _parse_gap_ms(gap: str) -> int:
    """Parse a Spark-style duration ('30 minutes', '2 days', '90s')
    to milliseconds, raising a clear error on anything else."""
    m = _GAP_RE.match(gap)
    if not m:
        raise ValueError(
            f"unsupported session gap {gap!r}; expected '<int> <unit>' with "
            "unit one of ms/seconds/minutes/hours/days (abbreviations ok)"
        )
    n, unit = int(m.group(1)), m.group(2).lower()
    if unit != "ms" and len(unit) > 1 and unit.endswith("s"):
        unit = unit[:-1]  # plural → singular ('seconds' → 'second')
    return n * _UNIT_MS[unit]


def conversation_sessions(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """transcript stream → one row per gap-closed conversation session.

    ``stream`` must carry (conv_id, turn_idx, text, ts) and have an
    event-time watermark on ``ts`` (the timeout clock). A session for
    conv_id closes — and its summary row is emitted — when the
    watermark passes its last turn's event time plus ``gap``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from batch_import_spark.pipeline.extract import MENTION_RE

    gap_ms = _parse_gap_ms(gap)

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n_turns, n_mentions, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n_turns],
                    "n_mentions": [n_mentions],
                    "first_ts": [pd.Timestamp(first_us, unit="us")],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )
            return
        n_turns = 0
        n_mentions = 0
        first_us: int | None = None
        last_us: int | None = None
        for pdf in pdfs:
            if pdf.empty:
                continue
            n_turns += len(pdf)
            n_mentions += int(pdf["text"].str.count(MENTION_RE).sum())
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        if state.exists:
            p_turns, p_mentions, p_first, p_last = state.get
            n_turns += p_turns
            n_mentions += p_mentions
            first_us = p_first if first_us is None else min(first_us, p_first)
            last_us = p_last if last_us is None else max(last_us, p_last)
        if last_us is None:
            return
        state.update((n_turns, n_mentions, first_us, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)

    return (
        stream.select("conv_id", "turn_idx", "text", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
