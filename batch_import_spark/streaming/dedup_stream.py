"""Streaming exact deduplication — first occurrence wins, state
bounded by the watermark.

A continuously-fed corpus (the 10^12-turn landing stream) cannot
batch-dedup each delivery against all history; the streaming layer
deduplicates within the watermark horizon (exactly the window where
duplicate deliveries actually occur: retries, replays, multi-writer
races) and the periodic batch pass (operators/dedup.py) handles the
long tail. This is the standard lambda split: streaming-exactly-once
NEAR the write head, batch-exact at rest.

``dropDuplicatesWithinWatermark`` keeps per-key state only until the
event-time watermark passes the key's first-seen timestamp — constant
state per active horizon, unlike ``dropDuplicates`` on a stream
(which grows state forever and is the classic production OOM).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_fingerprint(text_col: str = "text") -> Column:
    """The exact-dedup content key (md5 of the raw text) — the same
    fingerprint grain as operators/dedup.py exact_dedup, so streaming
    and batch layers agree on what counts as a duplicate."""
    return F.md5(F.col(text_col))


def streaming_exact_dedup(stream: DataFrame, key_cols: list[str]) -> DataFrame:
    """First occurrence of each ``key_cols`` combination within a
    30-minute event-time (``ts``) watermark horizon; later duplicates
    are dropped. Append-mode compatible (emits each survivor once)."""
    return stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        key_cols
    )
