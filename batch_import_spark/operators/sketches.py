"""Distinct-count sketch: KMV (k-minimum-values).

The contract's operator list names "a novel sketch" alongside the
dedup/similarity family. Spark's built-in HLL
(``approx_count_distinct``) is the production path — map-side
combinable, constant state — but its estimate is not reproducible
outside Spark, so it can't be oracle-checked cross-engine. KMV is:
hash every value with a PORTABLE hash (md5-derived 60-bit integer,
computable in any SQL engine), keep the k smallest distinct hashes
per group, and estimate

    distinct ≈ (k-1) * 2^60 / kth_smallest_hash

(exact count when a group has fewer than k distinct hashes — the
standard KMV small-set rule). Every step is deterministic, so the
DuckDB oracle reproduces the estimate bit-for-bit.

Scale notes: the distinct pass and the per-group top-k window shuffle
only (group, hash) pairs — state bounded by distinct values, and the
window is rank-limited (WindowGroupLimit pushes the k cut below the
exchange). For unbounded-cardinality production use prefer the HLL
built-in; this operator exists where reproducibility matters more
than constant memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.session import local_frame

_HASH_SPACE = float(1 << 60)


def portable_hash60(col: Column | str) -> Column:
    """60-bit integer hash computable identically in any engine:
    first 15 hex chars of md5 of the value's string form."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def portable_bucket(col: Column | str, m: int) -> Column:
    """``pmod(portable_hash60(col), m)`` — exactly — computed from the
    LAST TWO of the 15 hex chars when ``m`` divides 256: every higher
    hex digit contributes a multiple of 16^2 ≡ 0 (mod m), so the
    2-char base conversion is equal and ~6x cheaper than the 15-char
    one (Conv dominates the hash cost — round-7 measurement). Falls
    back to the full hash for other moduli."""
    if m > 0 and 256 % m == 0:
        c = F.col(col) if isinstance(col, str) else col
        two = F.conv(F.substring(F.md5(c.cast("string")), 14, 2), 16, 10)
        return F.pmod(two.cast("long"), F.lit(m))
    return F.pmod(portable_hash60(col), F.lit(m))


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 32,
) -> DataFrame:
    """Per-group KMV distinct-count estimate of ``value_col``.

    Returns (group_cols..., kmv_estimate long, n_kept int).
    """
    d = df.select(*group_cols, portable_hash60(value_col).alias("_h")).distinct()
    w = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
    ranked = d.withColumn("_r", F.row_number().over(w)).where(F.col("_r") <= k)
    agg = ranked.groupBy(*group_cols).agg(
        F.max(F.when(F.col("_r") == k, F.col("_h"))).alias("_kth"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    est = F.when(
        F.col("_kth").isNull(), F.col("n_kept").cast("long")
    ).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col("_kth").cast("double"))
    )
    return agg.select(*group_cols, est.alias("kmv_estimate"), "n_kept")


_HLL_P = 6                       # 2^6 = 64 registers
_HLL_M = 1 << _HLL_P
_HLL_REST_BITS = 60 - _HLL_P     # bits feeding the rank (rho)
_HLL_REST_SPACE = 1 << _HLL_REST_BITS
_HLL_RHO_CAP = 35                # cap register values so the scaled
#   harmonic sum Σ 2^(CAP−r) stays inside BIGINT with the α·m² factor;
#   identical truncation on both engines, estimator impact negligible
#   (rho > 35 needs ~2^35 distinct values per register)
_HLL_SCALE = 1 << _HLL_RHO_CAP
# α₆₄ = 0.7213/(1 + 1.079/64) ≈ 0.709, carried as the rational
# 709/1000 so the estimate is pure integer arithmetic
_HLL_ALPHA_NUM = 709 * _HLL_M * _HLL_M
_HLL_ALPHA_DEN = 1000


def hll_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate, fully reproducible
    cross-engine (unlike ``approx_count_distinct``): 64 registers from
    the portable 60-bit hash (top 6 bits → register, leading-zero
    rank of the remaining 54 → value), raw-HLL estimator in integer
    fixed point. Returns
    (group_cols..., hll_estimate long, n_registers long, register_sum long)
    — the latter two are register-state checksums so an oracle can
    verify the sketch itself, not just the estimate.

    Unlike KMV there is no distinct pre-pass and no window: two
    map-side-combinable groupBys (max per register, then one row per
    group), constant state per group — the shape that survives
    unbounded cardinality at 100 TB. No small-range (linear counting)
    correction: that needs ln(); raw HLL keeps the arithmetic exact.
    """
    # integer div/mod on the named hash column — h/2^54 via float
    # division would lose exactness past 2^53
    b = df.select(*group_cols, portable_hash60(value_col).alias("_h")).select(
        *group_cols,
        F.expr(f"_h div {_HLL_REST_SPACE}L").alias("bucket"),
        F.expr(f"_h % {_HLL_REST_SPACE}L").alias("rest"),
    )
    rho = F.when(F.col("rest") == 0, F.lit(_HLL_REST_BITS + 1)).otherwise(
        F.instr(F.lpad(F.bin(F.col("rest")), _HLL_REST_BITS, "0"), "1")
    )
    ranked = b.select(
        *group_cols, "bucket", F.least(rho, F.lit(_HLL_RHO_CAP)).alias("rho")
    )
    reg = ranked.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("r"))
    agg = reg.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.expr(f"shiftleft(1L, {_HLL_RHO_CAP} - cast(r as int))")).alias("_s"),
        F.sum("r").alias("register_sum"),
    )
    est = F.expr(
        f"{_HLL_ALPHA_NUM * _HLL_SCALE}L div ({_HLL_ALPHA_DEN} * "
        f"(_s + ({_HLL_M} - n_registers) * {_HLL_SCALE}L))"
    )
    return agg.select(
        *group_cols,
        est.alias("hll_estimate"),
        F.col("n_registers").cast("long").alias("n_registers"),
        F.col("register_sum").cast("long").alias("register_sum"),
    )


# --- mergeable quantile sketch (integer log-histogram) ----------------------
#
# Exact grouped quantiles (the `grouped_quantiles` query) need a full
# per-group sort — fine at test scale, impossible at 100 TB. The
# production path is a MERGEABLE bounded-state sketch. This one is the
# HDR-histogram / DDSketch family (public: Dunning & Ertl, and the
# DataDog DDSketch paper) specialised to pure-integer registers so any
# engine replays it bit-for-bit:
#
#   bucket(v) for v < 2^s        = v                   (exact range)
#   bucket(v) for v ≥ 2^s        = (e << s) | m, where
#       e = floor(log2(v))   (float log corrected by integer compares
#                             → exact regardless of libm rounding)
#       m = (v >> (e - s)) - 2^s   (the s bits after the leading bit)
#
# Registers are (group, bucket, count): two map-side-combinable
# groupBys build them, bucket-wise count addition merges them (merge
# is register-EXACT, not just distribution-approximate — the pytest
# asserts sketch(A ∪ B) == sketch(A) ⊎ sketch(B) row-for-row), and
# state per group is bounded by (64 - s)·2^s + 2^s buckets no matter
# how many rows stream in. A quantile query walks the cumulative
# counts and reports the bucket's lower bound, so the estimate is a
# true value lower bound with relative error ≤ 2^-s.

QUANTILE_SUB_BITS = 4  # 2^-4 ≈ 6.25% relative error, ≤ 976 buckets


def _bucket_expr(v: str, s: int) -> str:
    """Spark SQL expression mapping non-negative BIGINT ``v`` to its
    log-histogram bucket (dialect twin: _bucket_sql_duckdb)."""
    e0 = f"CAST(FLOOR(LOG2(CAST({v} AS DOUBLE))) AS BIGINT)"
    e = (
        f"({e0} + CASE WHEN {v} >= SHIFTLEFT(2L, CAST({e0} AS INT)) THEN 1 "
        f"WHEN {v} < SHIFTLEFT(1L, CAST({e0} AS INT)) THEN -1 ELSE 0 END)"
    )
    return (
        f"CASE WHEN {v} < {1 << s} THEN {v} ELSE "
        f"SHIFTLEFT({e}, {s}) + (SHIFTRIGHT({v}, CAST({e} - {s} AS INT)) - {1 << s}) END"
    )


def _rep_expr(bucket: str, s: int) -> str:
    """Bucket lower-bound representative (Spark SQL dialect)."""
    e = f"SHIFTRIGHT({bucket}, {s})"
    m = f"({bucket} & {(1 << s) - 1})"
    return (
        f"CASE WHEN {bucket} < {1 << s} THEN {bucket} ELSE "
        f"SHIFTLEFT({(1 << s)} + {m}, CAST({e} - {s} AS INT)) END"
    )


def bucket_sql_duckdb(v: str) -> str:
    """DuckDB dialect twin of _bucket_expr, for oracles."""
    s = QUANTILE_SUB_BITS
    e0 = f"CAST(FLOOR(LOG2(CAST({v} AS DOUBLE))) AS BIGINT)"
    e = (
        f"({e0} + CASE WHEN {v} >= (CAST(2 AS BIGINT) << CAST({e0} AS INT)) THEN 1 "
        f"WHEN {v} < (CAST(1 AS BIGINT) << CAST({e0} AS INT)) THEN -1 ELSE 0 END)"
    )
    return (
        f"CASE WHEN {v} < {1 << s} THEN {v} ELSE "
        f"({e} << {s}) + (({v} >> CAST({e} - {s} AS INT)) - {1 << s}) END"
    )


def rep_sql_duckdb(bucket: str) -> str:
    """DuckDB dialect twin of _rep_expr, for oracles."""
    s = QUANTILE_SUB_BITS
    e = f"({bucket} >> {s})"
    m = f"({bucket} & {(1 << s) - 1})"
    return (
        f"CASE WHEN {bucket} < {1 << s} THEN {bucket} ELSE "
        f"(({(1 << s)} + {m}) << CAST({e} - {s} AS INT)) END"
    )


def quantile_sketch(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Build log-histogram quantile-sketch registers:
    (group_cols..., bucket long, cnt long). Values must be
    non-negative BIGINTs (use micro-units for money; raise ANSI-style
    on negatives via the caller's cast discipline)."""
    v = f"CAST({value_col} AS BIGINT)"
    return (
        df.select(*group_cols, F.expr(_bucket_expr(v, QUANTILE_SUB_BITS)).alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_quantile_sketches(
    a: DataFrame, b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge two register tables (bucket-wise count addition) — the
    operation a 1000-executor tree-aggregate runs at every level."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def quantile_sketch_query(
    sketch: DataFrame,
    group_cols: list[str],
    q_pcts: list[int] = (50, 90, 99),
) -> DataFrame:
    """Query quantiles from registers: (group_cols..., q_pct int,
    est long). ``est`` is the lower bound of the bucket holding the
    nearest-rank (ceil(q·n)) element — a deterministic value lower
    bound with relative error ≤ 2^-QUANTILE_SUB_BITS. The per-group window
    runs over the bounded register set (≤ ~1k rows/group), never the
    raw data."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*group_cols))
    )
    qd = cum.select(
        *group_cols,
        "bucket",
        "cum",
        "n",
        F.explode(F.array(*[F.lit(int(q)) for q in q_pcts])).alias("q_pct"),
    )
    hit = qd.where(F.col("cum") * 100 >= F.col("q_pct") * F.col("n"))
    return hit.groupBy(*group_cols, "q_pct").agg(
        F.min(F.expr(_rep_expr("bucket", QUANTILE_SUB_BITS))).alias("est")
    )


def _bloom_pos(key: Column, seed: int, m_bits: int) -> Column:
    """Portable bloom/CMS cell position: seed-prefixed portable
    hash pmod m (one definition — the DuckDB twins must track it)."""
    return F.pmod(
        portable_hash60(F.concat(F.lit(f"{seed}:"), key.cast("string"))),
        F.lit(m_bits),
    )


# --- shared register kernel --------------------------------------------------
#
# Every cell-addressed sketch in this module (Bloom, CMS — and any
# future one) shares exactly two pieces of plumbing: the seeded
# position array for a key, and the probe-side (key, seed, pos)
# expansion that joins against a broadcast register table. Keeping
# them here means a new sketch is its register semantics plus an
# estimator — a page, not a module (theta_sketch below is the
# existence proof).


def seeded_positions(key: Column, n_seeds: int, m: int) -> Column:
    """array<struct<seed:int, pos:long>> of a key's register cells
    under the portable seed-prefixed hash."""
    return F.array(
        *[
            F.struct(F.lit(i).alias("seed"), _bloom_pos(key, i, m).alias("pos"))
            for i in range(n_seeds)
        ]
    )


def _probe_positions(
    probes: DataFrame, key_col: str, n_seeds: int, m: int
) -> DataFrame:
    """(key, seed, pos) rows for every probe key — the shared probe
    expansion (narrow map; callers broadcast-join it to registers)."""
    key = F.col(key_col)
    return probes.select(
        key.alias("key"), F.explode(seeded_positions(key, n_seeds, m)).alias("sp")
    ).select("key", F.col("sp.seed").alias("seed"), F.col("sp.pos").alias("pos"))


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 8192, k_hashes: int = 4
) -> DataFrame:
    """Mergeable Bloom filter over a key column.

    State = (word_idx, bits) BIGINT registers: the distinct bit
    positions packed 63 per word (bit 63 stays clear so the packed
    value is identical in engines with and without unsigned shifts).
    Two map-side-combinable aggregations — distinct positions, then
    bit_or per word — so filters from any partitioning of the corpus
    merge with one more bit_or. The portable seed-prefixed md5 hash
    keeps the registers engine-reproducible (same trick as KMV/HLL,
    so the oracle can rebuild the exact BIGINT words).

    At 100 TB this is the membership pre-filter for incremental dedup:
    build on the corpus fingerprints, broadcast the ~m/63-row register
    table, drop landing rows whose k bits aren't all set BEFORE the
    expensive anti-join (false positives only cost a wasted join row).
    """
    key = F.col(key_col)
    return (
        df.select(
            F.explode(seeded_positions(key, k_hashes, m_bits)).alias("sp")
        )
        .select(F.col("sp.pos").alias("pos"))
        .distinct()
        .select(
            F.expr("pos div 63").alias("word_idx"),
            # SQL form: the python shiftleft() binding only takes a
            # literal int shift amount
            F.expr("shiftleft(1L, CAST(pos % 63 AS INT))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("bits"))
    )


def bloom_probe(
    registers: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k_hashes: int = 4,
) -> DataFrame:
    """Test each probe key against a built filter.

    Output: (key, n_hits, is_member) — member iff every one of the
    key's distinct bit positions is set. The register table is tiny
    (m/63 rows), so the position join broadcasts; probing is a narrow
    map + one broadcast join + one groupBy on the probe key.
    """
    probe_pos = (
        _probe_positions(probes, key_col, k_hashes, m_bits)
        .select("key", "pos")
        .distinct()
    )
    joined = probe_pos.withColumn(
        "word_idx", F.expr("pos div 63")
    ).join(F.broadcast(registers), "word_idx", "left")
    hit = F.expr(
        "CAST(shiftright(coalesce(bits, 0L), CAST(pos % 63 AS INT)) % 2 AS BIGINT)"
    )
    return (
        joined.select("key", hit.alias("hit"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum("hit").alias("n_hits"),
        )
        .select(
            "key",
            "n_hits",
            (F.col("n_hits") == F.col("n_pos")).alias("is_member"),
        )
    )


def cms_build(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-min sketch over a key stream: (seed, pos, cnt) registers.

    One explode over the `depth` seeded portable hashes, one
    map-side-combinable groupBy — constant state (depth × width
    cells), mergeable across any partitioning of the stream by
    summing cnt per (seed, pos). The heavy-hitter counter for streams
    too wide to count exactly: estimates overcount only (collisions
    add, never subtract), error ≤ 2N/width with prob 1 - 2^-depth.
    """
    key = F.col(key_col)
    return (
        df.select(F.explode(seeded_positions(key, depth, width)).alias("sp"))
        .groupBy(F.col("sp.seed").alias("seed"), F.col("sp.pos").alias("pos"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    registers: DataFrame,
    probes: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch: est(key) = min over seeds of the
    key's register cell. Registers broadcast (depth × width rows);
    probing is a narrow map + broadcast join + per-key min."""
    probe_pos = _probe_positions(probes, key_col, depth, width)
    joined = probe_pos.join(F.broadcast(registers), ["seed", "pos"], "left")
    return joined.groupBy("key").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est")
    )


# --- theta sketch (set operations) -------------------------------------------

#: registers keep the hashes whose top THETA_FRAC_BITS bits are zero
#: (read at call time)
THETA_FRAC_BITS = 4


def theta_sketch(df: DataFrame, key_col: str) -> DataFrame:
    """Fixed-theta sketch: the distinct portable hashes whose top
    ``THETA_FRAC_BITS`` bits are zero (sampling rate
    2^-THETA_FRAC_BITS, i.e. theta = 2^(60 - THETA_FRAC_BITS)).
    Registers are exact BIGINTs — any engine rebuilds the identical
    set — and the register table is a ~2^-THETA_FRAC_BITS uniform
    sample of the distinct keys, so
    |distinct| ≈ n_registers << THETA_FRAC_BITS.

    Unlike KMV (k smallest) the kept-set is a FIXED hash region, so
    sketches of different tables compose by plain set algebra:
    union of registers = sketch of the union, intersection =
    sketch of the intersection — the set-operation estimator family
    (Dasgupta et al., the DataSketches theta family, specialised to a
    fixed theta). One narrow map + one distinct per sketch; merges
    are map-side-combinable unions. Built on the shared portable-hash
    kernel: this whole sketch is the 'a page, not a module' payoff.
    """
    h = portable_hash60(F.col(key_col))
    return (
        df.select(h.alias("h"))
        .where(F.expr(f"shiftright(h, {60 - THETA_FRAC_BITS})") == 0)
        .distinct()
    )


def theta_set_ops(a: DataFrame, b: DataFrame) -> DataFrame:
    """Estimate |A|, |B|, |A ∪ B|, |A ∩ B| from two theta sketches
    (single-row output; every column BIGINT-exact given the
    registers). Intersection-by-inclusion-exclusion would also work;
    register intersection is direct and never negative.

    All four register counts come from ONE job: union the two register
    tables with a side tag, group by register, and take membership
    flags — the former count()/union().count()/semi-join.count()
    sequence was four driver actions that re-evaluated each sketch's
    upstream scan three times (round-7 measurement)."""
    flags = (
        a.select(F.col("h"), F.lit(0).alias("_s"))
        .unionAll(b.select(F.col("h"), F.lit(1).alias("_s")))
        .groupBy("h")
        .agg(
            F.max(F.when(F.col("_s") == 0, 1).otherwise(0)).alias("_ia"),
            F.max(F.when(F.col("_s") == 1, 1).otherwise(0)).alias("_ib"),
        )
    )
    row = flags.agg(
        F.coalesce(F.sum("_ia"), F.lit(0)).alias("na"),
        F.coalesce(F.sum("_ib"), F.lit(0)).alias("nb"),
        F.count(F.lit(1)).alias("nu"),
        F.coalesce(F.sum(F.col("_ia") * F.col("_ib")), F.lit(0)).alias("ni"),
    ).collect()[0]
    na, nb, n_union, n_inter = row["na"], row["nb"], row["nu"], row["ni"]
    spark = a.sparkSession
    scale = 1 << THETA_FRAC_BITS
    return local_frame(
        spark,
        [
            (
                int(na), int(nb), int(n_union), int(n_inter),
                int(na * scale), int(nb * scale),
                int(n_union * scale), int(n_inter * scale),
            )
        ],
        "regs_a long, regs_b long, regs_union long, regs_inter long, "
        "est_a long, est_b long, est_union long, est_inter long",
    )
