"""Engine capability queries: TPC-H-style aggregates, windows, set
ops, rollup/cube/pivot, quantiles, interval and as-of joins, spatial
lookup, and the register-exact sketches (KMV, HLL, theta, Bloom,
count-min)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.operators.asof import asof_join
from batch_import_spark.operators.ranges import range_join
from batch_import_spark.operators.robust import mad_outlier_stats
from batch_import_spark.operators.sketches import (
    bloom_build,
    bloom_probe,
    bucket_sql_duckdb,
    cms_build,
    cms_estimate,
    hll_sketch,
    kmv_distinct,
    merge_quantile_sketches,
    quantile_sketch,
    quantile_sketch_query,
    rep_sql_duckdb,
    theta_set_ops,
    theta_sketch,
)
from batch_import_spark.operators.skew import salted_join
from batch_import_spark.operators.spatial import bbox_lookup, build_spatial_index
from batch_import_spark.queries.common import _U4_SQL, _h60, _u4, query
from batch_import_spark.session import fan_out


# Per-row discounted price in micro-units: ep_u4 * (1e4 - disc_u4) is an
# exact integer at 1e-8 scale; integer-divide by 1e4 keeps rows (and the
# BIGINT sum) comfortably inside 64 bits even at sf1000. Both operands
# are non-negative, so Spark `DIV` (truncate) == DuckDB `//` (floor).
_DISC_U4_EXPR = (
    "(FLOOR({ep} * 10000) * (10000 - FLOOR({disc} * 10000))) DIV 10000"
)
_DISC_U4_SQL = (
    "(CAST(FLOOR({ep} * 10000) AS BIGINT)"
    " * (10000 - CAST(FLOOR({disc} * 10000) AS BIGINT))) // 10000"
)


def _q1_pricing_summary(spark, sf):
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_u4("l_quantity")).alias("sum_qty_u4"),
            F.sum(_u4("l_extendedprice")).alias("sum_base_price_u4"),
            F.sum(
                F.expr(_DISC_U4_EXPR.format(ep="l_extendedprice", disc="l_discount"))
            ).alias("sum_disc_price_u4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_U4_SQL.format(c="l_quantity")}) AS BIGINT) AS sum_qty_u4,
       CAST(SUM({_U4_SQL.format(c="l_extendedprice")}) AS BIGINT) AS sum_base_price_u4,
       CAST(SUM({_DISC_U4_SQL.format(ep="l_extendedprice", disc="l_discount")}) AS BIGINT) AS sum_disc_price_u4,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
query("q1_pricing_summary", _q1_pricing_summary, _Q1_SQL)


def _q6_forecast_revenue(spark, sf):
    """TPC-H Q6 shape: single-scan filtered aggregate in integer
    micro-units — the filters (date range, discount band, quantity
    cap) all push to the parquet scan; one partial+final agg, no
    shuffle of row data. The discount band is expressed in micro-units
    (500..700), engine-exact."""
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    return (
        li.where(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_quantity") < 24)
        )
        .where(_u4("l_discount").between(500, 700))
        .agg(
            F.sum(
                F.expr(
                    "(FLOOR(l_extendedprice * 10000) * FLOOR(l_discount * 10000)) DIV 10000"
                )
            ).alias("revenue_u4"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q6_SQL = """
SELECT CAST(SUM((CAST(FLOOR(l_extendedprice * 10000) AS BIGINT)
                 * CAST(FLOOR(l_discount * 10000) AS BIGINT)) // 10000) AS BIGINT)
         AS revenue_u4,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_quantity < 24
  AND CAST(FLOOR(l_discount * 10000) AS BIGINT) BETWEEN 500 AND 700
"""
query("q6_forecast_revenue", _q6_forecast_revenue, _Q6_SQL)


def _q3_revenue_topk(spark, sf):
    # plain reads: the lineitem scan feeds one broadcast probe + a
    # partial aggregate, so a pre-join fan-out is a pure extra pass
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    # round 7: the decimal(18,4) product/sum ran the whole aggregation
    # on BigDecimal (precision 38 exceeds Spark's compact-long decimal).
    # Exact integer reformulation: the decimal(18,4) CAST (the rounding
    # anchor — bit-identical to the oracle's) is kept, its unscaled
    # value extracted as a BIGINT (x*10000 is integral at scale 4), the
    # per-row product ep_u4*(1e4-disc_u4) and the group sum run in
    # 64-bit integers (max |group sum| ~ 1.7e14 << 2^63), and the final
    # ROUND(x, 2) is the half-up (s+5e5) DIV 1e6 on the non-negative
    # sum, converted back to DECIMAL(18,2) exactly. Pinned equal
    # (values + schema) to the decimal formulation at sf0.001-1.0.
    u4 = lambda c_: F.expr(f"CAST(CAST({c_} AS DECIMAL(18,4)) * 10000 AS BIGINT)")  # noqa: E731
    prod = u4("l_extendedprice") * (F.lit(10000).cast("long") - u4("l_discount"))
    # broadcast the FILTERED customer⋈orders key set and stream
    # lineitem: Catalyst's size estimates picked the 6M-row lineitem
    # projection as the broadcast build side (a ~6M-entry hash
    # relation, and the fact table is the one side that can never be
    # broadcast at scale); the segment-filtered order-key set is the
    # dimension side (~1/5 of orders). Measured 2.75 -> 0.69 s at
    # sf1.0, identical rows + schema.
    co = (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .select("o_orderkey")
    )
    return (
        li.join(F.broadcast(co), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.sum(prod).alias("_s8"))
        .select(
            "o_orderkey",
            F.expr(
                "CAST(CAST((_s8 + 500000) DIV 1000000 AS DECIMAL(20,0)) / 100 AS DECIMAL(18,2))"
            ).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DECIMAL(18,2)) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""
query("q3_revenue_topk", _q3_revenue_topk, _Q3_SQL)


def _q5_local_supplier_volume(spark, sf):
    """TPC-H Q5 shape: 6-table join chain (region filter → nation →
    customer → orders → lineitem → supplier with the co-nation
    condition). Exercises Catalyst join reordering + the broadcast
    chain for the small dimensions."""
    r = spark.read.parquet(f"{sf}/region.parquet").where(F.col("r_name") == "ASIA")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    o = fan_out(spark.read.parquet(f"{sf}/orders.parquet"))
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    # merge-hint the FACT table: size estimates on the 3-column
    # lineitem projection put it under the broadcast threshold and
    # Catalyst built a ~6M-entry hash relation out of the one table
    # that can never be broadcast at scale (plan-audited round 7). The
    # dimension chain (region→nation→customer→orders, supplier) stays
    # broadcast; lineitem shuffles by orderkey — the scale-correct SMJ.
    joined = (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            F.expr(_DISC_U4_EXPR.format(ep="l_extendedprice", disc="l_discount"))
        ).alias("revenue_u4"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q5_SQL = f"""
SELECT n_name,
       CAST(SUM({_DISC_U4_SQL.format(ep="l_extendedprice", disc="l_discount")}) AS BIGINT) AS revenue_u4,
       COUNT(*) AS n_items
FROM region JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""
query("q5_local_supplier_volume", _q5_local_supplier_volume, _Q5_SQL)


def _w1_window_running(spark, sf):
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet")).where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.sum(_u4("value"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_value_u4"),
        F.lag(_u4("value"), 1).over(w).alias("prev_value_u4"),
    )


_W1_SQL = f"""
SELECT event_id, user_id,
       CAST(SUM({_U4_SQL.format(c="value")}) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_value_u4,
       LAG({_U4_SQL.format(c="value")}, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value_u4
FROM events WHERE user_id < 20
"""
query("w1_window_running", _w1_window_running, _W1_SQL)


def _topk_per_group(spark, sf):
    o = fan_out(spark.read.parquet(f"{sf}/orders.parquet"))
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            "rnk",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
    )


_TOPK_SQL = """
SELECT o_orderpriority, rnk, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""
query("topk_per_group", _topk_per_group, _TOPK_SQL)


def _set_ops(spark, sf):
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.where(F.col("c_acctbal") > 1000).select("c_custkey")
    both = building.intersect(rich).withColumn("tag", F.lit("both"))
    only_b = building.exceptAll(rich).withColumn("tag", F.lit("building_only"))
    return both.unionByName(only_b)


_SET_SQL = """
SELECT c_custkey, 'both' AS tag FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
UNION ALL
SELECT c_custkey, 'building_only' AS tag FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT ALL
  SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
"""
query("set_ops", _set_ops, _SET_SQL)


def _rollup_counts(spark, sf):
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""
query("rollup_counts", _rollup_counts, _ROLLUP_SQL)


def _cube_counts(spark, sf):
    o = fan_out(spark.read.parquet(f"{sf}/orders.parquet"))
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""
query("cube_counts", _cube_counts, _CUBE_SQL)


_BLOOM_M, _BLOOM_K = 8192, 4


def _bloom_registers(spark, sf):
    """Mergeable Bloom-filter state built over the ordering customers:
    the exact BIGINT register words (sketches.py bloom_build). The
    oracle rebuilds every word from the portable hash — register-exact,
    same discipline as the HLL/KMV entries."""
    o = fan_out(spark.read.parquet(f"{sf}/orders.parquet"))
    return bloom_build(o, "o_custkey", _BLOOM_M, _BLOOM_K)


def _bloom_pos_sql(key_expr: str) -> str:
    """DuckDB twin of sketches._bloom_pos for all seeds, as a list."""
    return (
        "["
        + ", ".join(
            f"(('0x' || substr(md5('{i}:' || CAST({key_expr} AS VARCHAR)), 1, 15))::BIGINT) % {_BLOOM_M}"
            for i in range(_BLOOM_K)
        )
        + "]"
    )


_BLOOM_REGISTERS_SQL = f"""
WITH pos AS (
  SELECT DISTINCT unnest({_bloom_pos_sql('o_custkey')}) AS pos FROM orders
)
SELECT pos // 63 AS word_idx,
       CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS BIGINT) AS bits
FROM pos GROUP BY pos // 63
"""
query("bloom_registers", _bloom_registers, _BLOOM_REGISTERS_SQL)


def _bloom_membership(spark, sf):
    """Probe the filter with every customer key plus a planted
    non-member twin (+10^6): members always pass; the twins measure
    the false-positive surface (n_hits < k rejects). The pre-filter
    shape incremental dedup uses before its anti-join."""
    o = fan_out(spark.read.parquet(f"{sf}/orders.parquet"))
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    regs = bloom_build(o, "o_custkey", _BLOOM_M, _BLOOM_K)
    probes = c.select(F.col("c_custkey").alias("k")).union(
        c.select((F.col("c_custkey") + F.lit(1000000)).alias("k"))
    )
    return bloom_probe(regs, probes, "k", _BLOOM_M, _BLOOM_K)


_BLOOM_MEMBERSHIP_SQL = f"""
WITH bpos AS (
  SELECT DISTINCT unnest({_bloom_pos_sql('o_custkey')}) AS pos FROM orders
),
probes AS (
  SELECT c_custkey AS k FROM customer
  UNION ALL
  SELECT c_custkey + 1000000 FROM customer
),
ppos AS (
  SELECT DISTINCT k AS key, unnest({_bloom_pos_sql('k')}) AS pos FROM probes
),
hits AS (
  SELECT p.key, CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ppos p LEFT JOIN bpos b ON p.pos = b.pos
)
SELECT key, CAST(SUM(hit) AS BIGINT) AS n_hits,
       SUM(hit) = COUNT(*) AS is_member
FROM hits GROUP BY key
"""
query("bloom_membership", _bloom_membership, _BLOOM_MEMBERSHIP_SQL)


_CMS_W, _CMS_D = 256, 4


def _cms_heavy_hitters(spark, sf):
    """Count-min sketch over the event stream's user ids (width 256 ×
    depth 4 — deliberately tight so collisions exercise the
    min-over-seeds estimate), point-queried for every distinct user
    and joined to the exact count. Invariant: cms_est >= n_true
    always, equality for most keys. Registers are mergeable by
    (seed, pos) sum — the constant-state heavy-hitter counter for
    streams too wide to count exactly."""
    # plain read: cms consumes the scan three times (registers,
    # probe set, exact counts) and the per-row work is one hash — a
    # fan-out shuffle per consumer costs more than the single-task
    # scan saves (round-7 measurement)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    regs = cms_build(ev, "user_id", _CMS_W, _CMS_D)
    probes = ev.select("user_id").distinct()
    est = cms_estimate(regs, probes, "user_id", _CMS_W, _CMS_D)
    true = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    return est.join(true, "key").select("key", "cms_est", "n_true")


_CMS_POS = (
    "(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || "
    f"CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) % {_CMS_W}"
)

_CMS_SQL = f"""
WITH seeds AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS seed),
cells AS (
  SELECT seed, {_CMS_POS} AS pos FROM events, seeds
),
regs AS (
  SELECT seed, pos, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY seed, pos
),
probes AS (SELECT DISTINCT user_id FROM events),
ppos AS (
  SELECT user_id, seed, {_CMS_POS} AS pos FROM probes, seeds
),
est AS (
  SELECT p.user_id AS key,
         CAST(MIN(COALESCE(r.cnt, 0)) AS BIGINT) AS cms_est
  FROM ppos p LEFT JOIN regs r ON p.seed = r.seed AND p.pos = r.pos
  GROUP BY p.user_id
)
SELECT e.key, e.cms_est, CAST(t.n_true AS BIGINT) AS n_true
FROM est e JOIN (SELECT user_id AS key, COUNT(*) AS n_true FROM events GROUP BY user_id) t
  ON e.key = t.key
"""
query("cms_heavy_hitters", _cms_heavy_hitters, _CMS_SQL)


def _mad_outliers(spark, sf):
    """Robust per-event-type outlier screen (operators/robust.py):
    exact integer lower-median + MAD over micro-unit values and the
    |x - med| > 3·MAD count. Order statistics only — no
    interpolation, no floats past the one floor transform."""
    ev = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    return mad_outlier_stats(ev, ["event_type"], "value", k=3)


_MAD_SQL = """
WITH v AS (
  SELECT event_type, CAST(FLOOR(value * 1000000) AS BIGINT) AS v
  FROM events
),
med AS (
  SELECT event_type, v AS med_micro FROM (
    SELECT event_type, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM v
  ) WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT v.event_type, v.v, m.med_micro, ABS(v.v - m.med_micro) AS dv
  FROM v JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, dv AS mad_micro FROM (
    SELECT event_type, dv,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
  ) WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(d.med_micro) AS BIGINT) AS med_micro,
       CAST(MIN(a.mad_micro) AS BIGINT) AS mad_micro,
       CAST(SUM(CASE WHEN d.dv > 3 * a.mad_micro THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
"""
query("mad_outliers", _mad_outliers, _MAD_SQL)


def _interval_coverage(spark, sf):
    """Union-of-intervals coverage per user (total seconds covered by
    possibly-overlapping activity intervals) — the sweep-line as one
    window: each interval contributes max(0, end − max(start,
    running_max_end_before)). The SUM is invariant to tie order, so
    the result is engine-exact; one shuffle on user_id. Complements
    the as-of and range joins in the interval-algebra family."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    s = F.col("ts").cast("timestamp").cast("long")
    dur = F.expr("GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0L) % 3600 + 60")
    t = e.select("user_id", s.alias("s"), (s + dur).alias("e"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("e").over(w)
    contrib = F.greatest(
        F.col("e") - F.greatest(F.col("s"), F.coalesce(prev_max, F.col("s"))),
        F.lit(0),
    )
    return (
        t.select("user_id", contrib.alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("covered_seconds"))
    )


_INTERVAL_COVERAGE_SQL = """
WITH t AS (
  -- FLOOR(epoch): DuckDB epoch() is fractional seconds; Spark's
  -- cast-to-long truncates — match it (ts are non-negative)
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           + GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) % 3600 + 60 AS e
  FROM events
),
sw AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM t
)
SELECT user_id,
       CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pm, s)), 0)) AS BIGINT)
         AS covered_seconds
FROM sw GROUP BY user_id
"""
query("interval_coverage", _interval_coverage, _INTERVAL_COVERAGE_SQL)


def _value_histogram(spark, sf):
    """Fixed-bin histogram per event_type (integer bucket arithmetic —
    the groupBy is map-side combinable, output is bins × types)."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    bucket = F.expr(
        "LEAST((GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0L) * 20) div 10000, 19L)"
    )
    return (
        e.select("event_type", bucket.cast("int").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_VALUE_HISTOGRAM_SQL = """
SELECT event_type,
       CAST(LEAST((GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) * 20) // 10000, 19)
            AS INT) AS bucket,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""
query("value_histogram", _value_histogram, _VALUE_HISTOGRAM_SQL)


def _time_decay_scores(spark, sf):
    """Recency-weighted per-user engagement: value·2^(−age_weeks),
    carried as integer bit-shifts (weight = 65536 >> age_weeks,
    clamped) — exponential decay with NO floating point, so the score
    is engine-exact. The decay anchor is the corpus max timestamp."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    anchor = e.agg(
        F.max(F.col("ts").cast("timestamp").cast("long")).alias("_anchor")
    )
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    age_w = F.least(
        F.floor((F.col("_anchor") - ts_sec) / 604800).cast("int"), F.lit(16)
    )
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    w = F.expr("shiftright(65536, age_weeks)")
    return (
        e.crossJoin(F.broadcast(anchor))
        .select("user_id", cents.alias("cents"), age_w.alias("age_weeks"))
        .select("user_id", (F.col("cents") * w).alias("wv"))
        .groupBy("user_id")
        .agg(F.sum("wv").alias("decayed_score_u"))
    )


_TIME_DECAY_SQL = """
WITH anchor AS (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS a FROM events),
t AS (
  -- FLOOR(epoch): match Spark's truncating cast-to-long exactly, so
  -- week boundaries cannot flip on fractional seconds
  SELECT user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         LEAST(CAST(FLOOR(((SELECT a FROM anchor)
                           - CAST(FLOOR(epoch(ts)) AS BIGINT)) / 604800) AS INT), 16)
           AS age_weeks
  FROM events
)
SELECT user_id,
       CAST(SUM(cents * (65536 >> age_weeks)) AS BIGINT) AS decayed_score_u
FROM t GROUP BY user_id
"""
query("time_decay_scores", _time_decay_scores, _TIME_DECAY_SQL)


def _feature_minmax(spark, sf):
    """Per-group min-max feature normalization to integer ppm —
    the standard ML feature-scaling pass, exact in fixed point
    (constant-value groups normalize to 0 by convention)."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    w = Window.partitionBy("event_type")
    t = e.select("event_id", "event_type", cents.alias("c")).select(
        "event_id",
        "event_type",
        "c",
        F.min("c").over(w).alias("mn"),
        F.max("c").over(w).alias("mx"),
    )
    norm = F.when(
        F.col("mx") > F.col("mn"),
        F.expr("(c - mn) * 1000000L div (mx - mn)"),
    ).otherwise(F.lit(0))
    return t.select("event_id", "event_type", norm.cast("long").alias("v_norm_ppm"))


_FEATURE_MINMAX_SQL = """
WITH t AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS c,
         MIN(CAST(ROUND(value * 100) AS BIGINT)) OVER (PARTITION BY event_type) AS mn,
         MAX(CAST(ROUND(value * 100) AS BIGINT)) OVER (PARTITION BY event_type) AS mx
  FROM events
)
SELECT event_id, event_type,
       CAST(CASE WHEN mx > mn THEN (c - mn) * 1000000 // (mx - mn) ELSE 0 END
            AS BIGINT) AS v_norm_ppm
FROM t
"""
query("feature_minmax_norm", _feature_minmax, _FEATURE_MINMAX_SQL)


def _salted_join_counts(spark, sf):
    """Skew-defused salted join (operators/skew.py): events (hot
    event_type keys) joined to a small dim on (key, salt) — result
    provably identical to the plain join the oracle runs."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet")).select("event_id", "event_type")
    dim = (
        e.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.concat(F.lit("type:"), F.col("event_type")).alias("label"),
        )
    )
    joined = salted_join(e, dim, ["event_type"])
    return joined.groupBy("label").agg(F.count(F.lit(1)).alias("n_events"))


_SALTED_JOIN_SQL = """
SELECT 'type:' || event_type AS label, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""
query("salted_join_counts", _salted_join_counts, _SALTED_JOIN_SQL)


def _sliding_window_counts(spark, sf):
    """RANGE-frame sliding window: each event's count of same-user
    events in the trailing hour (value-range frame, not row frame —
    the other window-frame family; tie timestamps share a frame, so
    the result is deterministic without a unique ordering key)."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    # parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC, so the
    # two-step cast equals DuckDB's epoch(naive_ts)
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


_SLIDING_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER (
         PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_last_hour
FROM events
"""
query("sliding_window_counts", _sliding_window_counts, _SLIDING_SQL)


def _pivot_counts(spark, sf):
    """groupBy().pivot() — status × priority order-count matrix; the
    oracle is the conditional-aggregation unpivot twin."""
    o = fan_out(spark.read.parquet(f"{sf}/orders.parquet"))
    pr = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "unspecified",
        "5-LOW": "low",
    }
    out = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(pr))
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("o_orderstatus")] + [
        F.coalesce(F.col(f"`{k}`"), F.lit(0)).cast("long").alias(v)
        for k, v in pr.items()
    ]
    return out.select(*cols)


_PIVOT_SQL = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspecified,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
FROM orders GROUP BY o_orderstatus
"""
query("pivot_counts", _pivot_counts, _PIVOT_SQL)


def _quantile_sketch(spark, sf):
    """Mergeable integer log-histogram quantile sketch
    (operators/sketches.py) — the 100 TB percentile path where exact
    grouped quantiles (grouped_quantiles) can\'t run: bounded
    registers, register-exact merges, deterministic lower-bound
    estimates with relative error ≤ 2^-4. The query builds the
    registers over lineitem price micro-units, MERGES two
    half-corpus sketches (exercising the tree-aggregate operation),
    and reads p50/p90/p99 per return flag; the DuckDB oracle replays
    the identical integer bucket arithmetic."""
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet")).select(
        "l_returnflag",
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 10000).alias("v"),
    )
    a = quantile_sketch(li.where(F.col("l_orderkey") % 2 == 0), ["l_returnflag"], "v")
    b = quantile_sketch(li.where(F.col("l_orderkey") % 2 == 1), ["l_returnflag"], "v")
    sk = merge_quantile_sketches(a, b, ["l_returnflag"])
    out = quantile_sketch_query(sk, ["l_returnflag"], [50, 90, 99])
    return out.select("l_returnflag", "q_pct", F.col("est").cast("long").alias("est"))


def _quantile_sketch_sql() -> str:
    return f"""
WITH vals AS (
  SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 10000) AS BIGINT) AS v
  FROM lineitem
),
reg AS (
  SELECT l_returnflag, {bucket_sql_duckdb("v")} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM reg
)
SELECT l_returnflag, q_pct,
       CAST(MIN({rep_sql_duckdb("bucket")}) AS BIGINT) AS est
FROM cum CROSS JOIN (VALUES (50), (90), (99)) qs(q_pct)
WHERE cum * 100 >= q_pct * n
GROUP BY 1, 2
"""
query("quantile_sketch", _quantile_sketch, _quantile_sketch_sql())


def _grouped_quantiles(spark, sf):
    """Exact grouped quantiles (R-7 linear interpolation — verified
    identical between Spark `percentile` and DuckDB `quantile_cont`).
    Inputs cast to BIGINT so every interpolated value is a dyadic
    rational, exactly representable — no float-summation divergence."""
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    q = F.col("l_quantity").cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.percentile(q, F.lit(0.25)).alias("q25"),
        F.percentile(q, F.lit(0.5)).alias("q50"),
        F.percentile(q, F.lit(0.75)).alias("q75"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_QUANTILES_SQL = """
SELECT l_returnflag, l_linestatus,
       quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS q25,
       quantile_cont(CAST(l_quantity AS BIGINT), 0.5)  AS q50,
       quantile_cont(CAST(l_quantity AS BIGINT), 0.75) AS q75,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""
query("grouped_quantiles", _grouped_quantiles, _QUANTILES_SQL)


def _hll_users(spark, sf):
    """Reproducible integer HyperLogLog per event_type
    (operators/sketches.py hll_sketch) with the exact distinct count
    alongside — the oracle rebuilds the registers AND the estimate."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    sk = hll_sketch(e, ["event_type"], "user_id")
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return sk.join(exact, "event_type").select(
        "event_type", "hll_estimate", "n_registers", "register_sum", "n_exact"
    )


_HLL_SQL = """
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
),
b AS (
  SELECT event_type, h // 18014398509481984 AS bucket,
         h % 18014398509481984 AS rest
  FROM h
),
r AS (
  SELECT event_type, bucket,
         LEAST(CASE WHEN rest = 0 THEN 55
                    ELSE strpos(lpad(bin(rest), 54, '0'), '1') END, 35) AS rho
  FROM b
),
reg AS (SELECT event_type, bucket, MAX(rho) AS r FROM r GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_registers,
         CAST(SUM(1::BIGINT << (35 - r)) AS BIGINT) AS s_present,
         CAST(SUM(r) AS BIGINT) AS register_sum
  FROM reg GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT a.event_type,
       (99782879243927552 // (1000 * (s_present + (64 - n_registers) * 34359738368))) AS hll_estimate,
       n_registers, register_sum, n_exact
FROM agg a JOIN exact USING (event_type)
"""
query("hll_distinct_users", _hll_users, _HLL_SQL)


def _theta_set_ops(spark, sf):
    """Theta-sketch set operations (operators/sketches.py
    theta_sketch): distinct-user estimates for two event slices AND
    their union/intersection from fixed-theta register sets —
    register-exact (the oracle rebuilds the identical hash sets), the
    composable-set-algebra estimator the KMV/HLL family lacks. Built
    on the shared portable-hash register kernel (round-4 VERDICT
    item 9's 'a page, not a module' proof)."""
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    a = theta_sketch(e.where(F.col("event_id") % 2 == 0), "user_id")
    b = theta_sketch(e.where(F.col("event_id") % 2 == 1), "user_id")
    return theta_set_ops(a, b)


_THETA_SQL = """
WITH a AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE event_id % 2 = 0
    AND (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT >> 56) = 0
),
b AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE event_id % 2 = 1
    AND (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT >> 56) = 0
),
c AS (
  SELECT
    (SELECT COUNT(*) FROM a) AS regs_a,
    (SELECT COUNT(*) FROM b) AS regs_b,
    (SELECT COUNT(*) FROM (SELECT h FROM a UNION SELECT h FROM b)) AS regs_union,
    (SELECT COUNT(*) FROM a WHERE h IN (SELECT h FROM b)) AS regs_inter
)
SELECT CAST(regs_a AS BIGINT) AS regs_a, CAST(regs_b AS BIGINT) AS regs_b,
       CAST(regs_union AS BIGINT) AS regs_union,
       CAST(regs_inter AS BIGINT) AS regs_inter,
       CAST(regs_a * 16 AS BIGINT) AS est_a,
       CAST(regs_b * 16 AS BIGINT) AS est_b,
       CAST(regs_union * 16 AS BIGINT) AS est_union,
       CAST(regs_inter * 16 AS BIGINT) AS est_inter
FROM c
"""
query("theta_set_ops", _theta_set_ops, _THETA_SQL)


def _asof_last_click(spark, sf):
    """As-of join: each purchase event gets the user's most recent
    click at-or-before it (LEFT semantics: purchases with no prior
    click keep NULL). One shuffle on user_id — no range-join blowup;
    the oracle is DuckDB's native ASOF LEFT JOIN."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, by=["user_id"], ts="ts",
        value_cols=["click_id"], right_order="click_id",
    )
    return out.select("purchase_id", "user_id", "click_id")


_ASOF_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""
query("asof_last_click", _asof_last_click, _ASOF_SQL)


def _range_window_join(spark, sf):
    """Range join: events bucketed into deterministic 90-minute promo
    windows every 6 hours (bin-bucket equi-join, no nested-loop).
    Windows with no events drop out (inner semantics, mirrored)."""
    e = spark.read.parquet(f"{sf}/events.parquet").select("event_id", "ts", "value")
    base = 1704067200  # 2024-01-01T00:00:00Z — the events epoch
    w = spark.range(100).select(
        F.col("id").alias("window_id"),
        # NTZ to match the events column (session tz is UTC)
        F.timestamp_seconds(F.lit(base) + F.col("id") * 21600)
        .cast("timestamp_ntz")
        .alias("start_ts"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 21600 + 5400)
        .cast("timestamp_ntz")
        .alias("end_ts"),
    )
    j = range_join(e, w, bin_seconds=3600)
    return j.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_u4("value")).alias("sum_value_u4"),
    )


_RANGE_SQL = f"""
WITH w AS (
  SELECT i AS window_id,
         make_timestamp((1704067200 + i * 21600) * 1000000) AS start_ts,
         make_timestamp((1704067200 + i * 21600 + 5400) * 1000000) AS end_ts
  FROM generate_series(0, 99) AS t(i)
),
j AS (
  SELECT w.window_id, e.value
  FROM events e JOIN w ON e.ts BETWEEN w.start_ts AND w.end_ts
)
SELECT window_id, COUNT(*) AS n_events,
       CAST(SUM({_U4_SQL.format(c="value")}) AS BIGINT) AS sum_value_u4
FROM j GROUP BY window_id
"""
query("range_window_join", _range_window_join, _RANGE_SQL)


def _kmv_distinct_users(spark, sf):
    """KMV distinct-count sketch per event_type, plus the exact count
    for error inspection — deterministic portable hash, so the whole
    sketch is oracle-checkable (HLL isn't)."""
    # plain read: two cheap aggregate consumers (same rationale as
    # cms_heavy_hitters above)
    e = spark.read.parquet(f"{sf}/events.parquet")
    sk = kmv_distinct(e, ["event_type"], "user_id", k=32)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return sk.join(exact, "event_type").select(
        "event_type", "kmv_estimate", "n_kept", "n_exact"
    )


_KMV_SQL = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
  FROM h
),
agg AS (
  SELECT event_type,
         MAX(CASE WHEN r = 32 THEN h END) AS kth,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM ranked WHERE r <= 32 GROUP BY event_type
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type
)
SELECT a.event_type,
       CAST(CASE WHEN kth IS NULL THEN n_kept
                 ELSE FLOOR(31.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE)) END AS BIGINT) AS kmv_estimate,
       n_kept, n_exact
FROM agg a JOIN exact x ON a.event_type = x.event_type
"""
query("kmv_distinct_users", _kmv_distinct_users, _KMV_SQL)


def _time_rollup(spark, sf):
    """Hypertable-style multi-resolution time rollup: one pass emits
    (event_type, day, hour), (event_type, day), and (event_type)
    grains via ROLLUP — the batch form of a continuous aggregate.
    Buckets are date_trunc'd BEFORE the aggregate so partial
    aggregation (map-side combine) applies at every grain."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    base = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    ).where(F.col("ts") < "2024-01-08")
    return base.rollup("event_type", "day", "hour").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_u4("value")).alias("sum_value_u4"),
    )


_TIME_ROLLUP_SQL = f"""
SELECT event_type, day, hour, COUNT(*) AS n,
       CAST(SUM({_U4_SQL.format(c="value")}) AS BIGINT) AS sum_value_u4
FROM (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         date_trunc('hour', ts) AS hour, value
  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
)
GROUP BY ROLLUP (event_type, day, hour)
"""
query("time_rollup", _time_rollup, _TIME_ROLLUP_SQL)


def _spatial_points(spark, sf) -> DataFrame:
    """Deterministic lat/lon per customer from the md5 hash — integer
    arithmetic then /10000.0, bit-identical in Spark and DuckDB."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    h = _h60("c_custkey")
    return c.select(
        F.col("c_custkey").alias("node_id"),
        ((h % 1800000) / 10000.0 - 90.0).alias("lat"),
        ((F.shiftright(h, 21) % 3600000) / 10000.0 - 180.0).alias("lon"),
    )


def _spatial_bbox(spark, sf):
    """A8 spatial index analog: grid-cell index build + pruned bbox
    lookup (operators/spatial.py); the oracle is the plain range scan."""
    idx = build_spatial_index(_spatial_points(spark, sf), cells_per_degree=10)
    return bbox_lookup(idx, -30.0, 30.0, -90.0, 90.0, cells_per_degree=10)


_SPATIAL_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS node_id,
         (h % 1800000) / 10000.0 - 90.0 AS lat,
         ((h >> 21) % 3600000) / 10000.0 - 180.0 AS lon
  FROM (SELECT c_custkey, ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h FROM customer)
)
SELECT node_id, lat, lon FROM pts
WHERE lat >= -30.0 AND lat <= 30.0 AND lon >= -90.0 AND lon <= 90.0
"""
query("spatial_bbox_lookup", _spatial_bbox, _SPATIAL_SQL)
