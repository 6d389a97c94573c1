"""Degenerate-bucket guard for LSH-style bucket self-joins.

Every banded/blocked near-dup candidate generator in this package
joins a frame to itself on a bucket key and emits ``id_a < id_b``
pairs — quadratic in the bucket size. A corpus with heavy boilerplate
(or many empty documents, which all hash to signature 0) can put
millions of ids into ONE bucket; that single bucket then dominates the
whole job (the classic 100 TB dedup killer). The guard drops whole
buckets over a size cap *before* the self-join.

Shape chosen for scale: ``groupBy(bucket).count()`` (map-side partial
aggregation — only (bucket, partial_count) rows shuffle, never the
member rows) → filter to the hot buckets (by definition few: at most
``n_rows / cap``) → broadcast LEFT ANTI join back onto the member
frame. No window function, so the degenerate bucket's members are
never gathered into one task even to be counted.

The cap is a lazy in-plan guard: no driver job, no lineage
recompute beyond the in-plan count branch. Drop counts are the
caller's to take (count before/after); the operators document this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: buckets with more member rows than this are dropped (read at call
#: time)
MAX_BUCKET_SIZE = 10_000


def cap_hot_buckets(df: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """Drop every bucket with more than ``MAX_BUCKET_SIZE`` member rows.

    Intended to sit directly above a bucket self-join: a dropped
    bucket of size m removes m·(m-1)/2 candidate pairs — callers trade
    that (documented) recall loss for a bounded join.
    """
    counts = df.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_n"))
    hot = counts.where(F.col("_n") > MAX_BUCKET_SIZE)
    # hot side is tiny by construction (≤ n_rows / cap buckets):
    # broadcast anti-join folds into the caller's single action.
    return df.join(F.broadcast(hot.select(*bucket_cols)), bucket_cols, "left_anti")
