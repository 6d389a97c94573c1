"""What every query family shares: the registry, and the helpers
used by more than one family.

Numeric convention: aggregated doubles are leaf-cast to
DECIMAL(18,4)/(18,2) in BOTH engines so arithmetic is exact and
value-hashes match bit-for-bit; cosine similarities are computed in
float64 on both sides and rounded."""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Query(NamedTuple):
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle_sql: str


REGISTRY: dict[str, Query] = {}


def query(
    name: str, build: Callable[[SparkSession, str], DataFrame], oracle_sql: str
) -> None:
    """Declare a query: ``build(spark, sf_dir)`` and the DuckDB SQL that
    returns the same rows, with the same column names, from the same
    parquet tables. Each name is declared once."""
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is declared twice")
    REGISTRY[name] = Query(name, build, oracle_sql)


# Integer micro-units (1e-4): FLOOR of the identical IEEE product is
# engine-independent, and BIGINT sums cannot diverge in scale, rounding
# mode, or rendering the way decimal sums can (round-2 hash-mismatch
# class). Sums/windows over money columns carry these end-to-end; no
# divide back to a fractional type anywhere in a hashed output. Also
# several times faster than decimal aggregation (no 128-bit math).
def _u4(c) -> F.Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 10000)  # LongType in Spark


_U4_SQL = "CAST(FLOOR({c} * 10000) AS BIGINT)"


def _ilog2_ctes(
    src: str, in_expr: str, out: str, keep: str, p: str
) -> tuple[str, str]:
    """(cte_blocks, final_cte_name): the exact shift-and-square
    fixed-point integer log of functions/unigram.py ilog2_fp as a
    chain of MATERIALIZED CTEs — ONE squaring step per CTE. DuckDB
    inlines lateral column aliases, so unrolling all 16 steps in one
    SELECT (each step referencing the prior ~3×) builds a ~3^16-node
    expression tree and hangs the PLANNER — the column-alias twin of
    the chained-CTE exponential-inline gotcha. Pure BIGINT
    shifts/compares, no libm."""
    carry = ", ".join(
        item.split(" AS ")[-1].strip().split(".")[-1]
        for item in keep.split(",")
    )
    # step 0: exponent b via 6-step binary search (lateral aliases,
    # tree stays ~2^6 — safe inline) + mantissa in [2^30, 2^31)
    cols = [f"CAST({in_expr} AS BIGINT) AS {p}n"]
    v, bterms = f"{p}n", []
    for k in (32, 16, 8, 4, 2, 1):
        cols.append(f"CASE WHEN {v} >= {1 << k} THEN {k} ELSE 0 END AS {p}b{k}")
        cols.append(f"({v} >> {p}b{k}) AS {p}v{k}")
        v = f"{p}v{k}"
        bterms.append(f"{p}b{k}")
    cols.append(f"({' + '.join(bterms)}) AS {p}b")
    blocks = [
        f"{p}s0 AS MATERIALIZED (\n"
        f"  SELECT {carry}, {p}b AS b,\n"
        f"         CASE WHEN {p}b <= 30 THEN {p}n << (30 - {p}b)\n"
        f"              ELSE {p}n >> ({p}b - 30) END AS m,\n"
        f"         CAST(0 AS BIGINT) AS f\n"
        f"  FROM (SELECT {keep}, {', '.join(cols)} FROM {src})\n)"
    ]
    for k in range(1, 17):
        blocks.append(
            f"""{p}s{k} AS MATERIALIZED (
  SELECT {carry}, b,
         CASE WHEN sq >= 2147483648 THEN sq >> 1 ELSE sq END AS m,
         f * 2 + CASE WHEN sq >= 2147483648 THEN 1 ELSE 0 END AS f
  FROM (SELECT *, (m * m) >> 30 AS sq FROM {p}s{k - 1})
)"""
        )
    blocks.append(
        f"{p}fin AS (SELECT {carry}, CAST(b * 65536 + f AS BIGINT) "
        f"AS {out} FROM {p}s16)"
    )
    return ",\n".join(blocks), f"{p}fin"


_H60_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"


def _h60(col) -> F.Column:
    """60-bit md5-derived hash of a (string-cast) column — the
    engine-portable twin of DuckDB's hex-parse of md5."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


_KEYED_H_SQL = "('0x' || substr(md5('s{seed}:' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
