"""As-of (backward) join — a temporal operator Spark lacks natively.

For each left row, attach the most recent right row whose timestamp
is ≤ the left row's, within the same key group ("what was the last
tool call / click / config value before this turn?"). Named in the
task contract's custom-operator examples; DuckDB's native ASOF JOIN
serves as the independent oracle.

Spark-first design — the union + last(ignorenulls) window pattern:
tag both sides, union them, and take a running `last` of the right
payload over (key) ordered by (ts, side). ONE shuffle on the key,
no range-join explosion (a naive `l.ts >= r.ts` join is O(|L|·|R|)
per key and is exactly the plan Catalyst would pick for the direct
inequality join). Right rows sort before left rows at equal ts, so
the match is inclusive — the same tie rule as DuckDB's
``ASOF JOIN ... ON l.ts >= r.ts``.

Scale notes: the window is rows-unbounded-preceding — Spark streams
it in one pass per partition after the sort; no state beyond the
current last-seen payload. Skewed keys shard exactly like any keyed
window (AQE skew handling applies to the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    value_cols: list[str],
    right_order: str,
    ts: str = "ts",
) -> DataFrame:
    """Backward as-of join: left rows + latest right ``value_cols``
    with right.ts ≤ left.ts per ``by`` group (left rows with no prior
    right row keep NULLs — LEFT ASOF semantics).

    ``right_order`` breaks ties among right rows sharing a timestamp
    deterministically (highest wins). ``value_cols`` should be non-null
    in ``right`` — each column's running `last` is independent, so
    nulls inside a matched right row would backfill from an older row
    for that column only.
    """
    shared = set(by) | {ts}
    left_only = [c for c in left.columns if c not in shared]

    clash = sorted(set(left_only) & set(value_cols))
    if clash:
        raise ValueError(
            f"asof_join: columns {clash} exist on both sides; rename them"
        )
    # tie-break among right rows at equal ts by the RAW right_order
    # column (any orderable type — casting to long breaks string keys
    # under ANSI); highest sorts last, so the running last() wins
    rord_type = right.schema[right_order].dataType

    l_tagged = left.select(
        *by,
        ts,
        *left_only,
        F.lit(1).alias("_side"),
        F.lit(None).cast(rord_type).alias("_rord"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    r_tagged = right.select(
        *by,
        ts,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        F.lit(0).alias("_side"),
        F.col(right_order).alias("_rord"),
        *value_cols,
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(), F.col("_rord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tagged.unionByName(r_tagged).select(
        *by,
        ts,
        *left_only,
        "_side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    return filled.where(F.col("_side") == 1).drop("_side")
