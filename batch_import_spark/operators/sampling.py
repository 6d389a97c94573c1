"""Deterministic sampling & corpus mixing for training-data curation.

``df.sample()`` is useless for a 10^12-turn pipeline that must be
resumable and auditable: its output depends on partitioning, task
retries re-draw it, and no other engine can reproduce it. These
operators sample by a PORTABLE content hash instead (md5-derived, see
operators.sketches.portable_hash60): a row's fate is a pure function
of its key + seed, so samples are stable across runs, partitionings,
engines, and cluster sizes — and composable (the same row is kept at
10% iff it is kept at 20%, enabling nested train/dev carve-outs).

All three operators are single narrow filters / rank-limited windows:
no shuffle for hash_sample / mixture_sample (pure map), one
rank-limited exchange for stratified_sample_k (WindowGroupLimit cuts
to k per group below the shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.operators.sketches import portable_hash60

_BUCKETS = 1_000_000  # hash-space quantization for rate thresholds
#: fingerprints shared by more documents are left out of the
#: split-leakage audit (read at call time)
MAX_GROUP_SIZE = 1000


def _keyed_hash(key_cols: list[str], seed: int) -> Column:
    """Portable hash of the (seed-tagged) concatenated key columns."""
    parts: list[Column] = [F.lit(f"s{seed}")]
    for c in key_cols:
        parts.append(F.lit(":"))
        parts.append(F.col(c).cast("string"))
    return portable_hash60(F.concat(*parts))


def hash_sample(
    df: DataFrame, fraction: float, key_cols: list[str], seed: int = 0
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided by key hash — deterministic,
    engine-portable Bernoulli sampling. Nested: the kept set at a
    lower fraction (same seed) is a subset of any higher fraction's."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    thresh = int(round(fraction * _BUCKETS))
    return df.where(_keyed_hash(key_cols, seed) % _BUCKETS < thresh)


def mixture_sample(
    df: DataFrame,
    source_col: str,
    rates: dict[str, float],
    key_cols: list[str],
    seed: int = 0,
    default_rate: float = 1.0,
) -> DataFrame:
    """Corpus mixing: per-source sampling rates in one pass (e.g. keep
    100% of curated sources, 10% of crawl). Unlisted sources keep
    ``default_rate``."""
    rate = F.lit(int(round(default_rate * _BUCKETS)))
    for name, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == name, F.lit(int(round(r * _BUCKETS)))).otherwise(
            rate
        )
    return df.where(_keyed_hash(key_cols, seed) % _BUCKETS < rate)


def temperature_mixture(df: DataFrame, source_col: str, token_budget: int) -> DataFrame:
    """Temperature-scaled domain mixing weights (the Pile/Gopher/
    XLM-R sampling rule): source s gets sampling weight ∝ n_s^T with
    T = 1/2 (upweights small curated domains relative to proportional
    sampling), and a ``token_budget``-row allocation is split by those
    weights.

    Exactness: sqrt is correctly-rounded IEEE in every engine, so
    w_s = floor(sqrt(n_s) * 10^6) is reproducible; shares and
    allocations are then pure BIGINT arithmetic
    (share_ppm = w_s * 10^6 div Σw, alloc = budget * w_s div Σw,
    epochs_ppm = alloc * 10^6 div n_s — epochs > 1e6 ppm means the
    domain repeats, the signal mixture designers watch).

    Scale shape: one map-side-combinable count groupBy + one
    broadcast single-row total join. Output: (source, n_docs,
    w_scaled, share_ppm, alloc_docs, epochs_ppm).
    """
    w = F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)")
    counts = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("w_scaled", w)
    )
    tot = counts.agg(F.sum("w_scaled").cast("long").alias("wsum"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "w_scaled",
            F.expr("(w_scaled * 1000000L) div wsum").alias("share_ppm"),
            F.expr(f"({token_budget}L * w_scaled) div wsum").alias(
                "alloc_docs"
            ),
            F.expr(
                f"((({token_budget}L * w_scaled) div wsum) * 1000000L) div n_docs"
            ).alias("epochs_ppm"),
        )
    )


def stratified_sample_k(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    key_cols: list[str],
    seed: int = 0,
) -> DataFrame:
    """Exactly min(k, group size) rows per group, chosen by hash order
    — a deterministic reservoir. The window is rank-limited, so Spark
    cuts each group to k on the map side (WindowGroupLimit) before the
    exchange ships it."""
    h = _keyed_hash(key_cols, seed)
    w = Window.partitionBy(*group_cols).orderBy(
        h.asc(), *[F.col(c).asc() for c in key_cols]
    )
    return (
        df.withColumn("_srn", F.row_number().over(w))
        .where(F.col("_srn") <= k)
        .drop("_srn")
    )


def split_leakage_audit(df: DataFrame, fingerprint: Column) -> DataFrame:
    """Find evaluation-set contamination: pairs of fingerprint-equal
    documents that landed on OPPOSITE sides of the hash split — a doc
    is test iff portable_hash60(id) % 10 == 0 (a test
    doc whose duplicate is in train inflates eval scores).

    Equi-join on the fingerprint with a per-group size cap
    (boilerplate fingerprints shared by >MAX_GROUP_SIZE docs are the
    hot keys that would go quadratic; they belong to the dedup pass,
    not the audit — same guard discipline as operators/buckets.py).
    Output: (doc_a, doc_b, fp) with doc_a < doc_b, train/test mixed.
    """
    from batch_import_spark.operators.sketches import portable_hash60

    t = df.select(
        F.col("doc_id").alias("id"),
        fingerprint.alias("fp"),
        (F.pmod(portable_hash60(F.col("doc_id")), F.lit(10)) == 0).alias(
            "is_test"
        ),
    )
    sizes = t.groupBy("fp").agg(F.count(F.lit(1)).alias("_gsz"))
    t = t.join(sizes.where(F.col("_gsz") <= MAX_GROUP_SIZE), "fp").drop("_gsz")
    a = t.select(F.col("id").alias("doc_a"), "fp", F.col("is_test").alias("_ta"))
    b = t.select(F.col("id").alias("doc_b"), "fp", F.col("is_test").alias("_tb"))
    return (
        a.join(b, "fp")
        .where((F.col("doc_a") < F.col("doc_b")) & (F.col("_ta") != F.col("_tb")))
        .select("doc_a", "doc_b", "fp")
    )


def unimax_budget(
    df: DataFrame,
    source_col: str,
    tokens_expr: Column,
    budget: Column,
    max_epochs: int = 2,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): split a total
    token ``budget`` across sources as evenly as possible, subject to
    a per-source repeat cap of ``max_epochs`` epochs — the published
    alternative to temperature sampling that never over-repeats small
    domains.

    Closed-form water-filling instead of the paper's iterative loop:
    sort sources by cap = max_epochs * n_tokens ascending; at rank i
    the tentative level is

        level_i = floor((budget - sum of caps before i) / (n - i + 1))

    and the water level L* is level_i of the FIRST rank with
    cap_i >= level_i (sources before it are fully capped). Every
    source then gets quota = min(cap, L*); if no rank qualifies the
    budget exceeds every cap and all sources are capped. All
    arithmetic is BIGINT except the one floor(double) division,
    exact while |budget| < 2^53 — both engines replay it identically.
    Remainder tokens (< n) are deliberately NOT redistributed; the
    quota sum is within n of the budget (documented determinism over
    the last crumbs).

    ``budget`` is an AGGREGATE Column evaluated over the per-source
    (source, n_tokens) count table, so data-derived budgets (e.g.
    ``F.expr("(sum(n_tokens) * 3L) div 2")``) stay engine-portable;
    wrap a constant as ``F.min(F.lit(...))``.
    Scale shape: one map-side-combinable source groupBy (S rows out),
    then window + broadcast joins over the S-row table only.
    Output: (source, n_tokens, cap_tokens, quota_tokens, epochs_ppm).
    """
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(tokens_expr).cast("long").alias("n_tokens")
    )
    caps = counts.select(
        "source",
        "n_tokens",
        (F.lit(max_epochs) * F.col("n_tokens")).cast("long").alias("cap_tokens"),
    )
    b = caps.agg(budget.cast("long").alias("_budget"), F.count(F.lit(1)).alias("_n"))
    w = Window.orderBy("cap_tokens", "source")
    ranked = (
        caps.crossJoin(F.broadcast(b))
        .withColumn("_i", F.row_number().over(w))
        .withColumn(
            "_pprev",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "_level",
            F.floor(
                (F.col("_budget") - F.col("_pprev")).cast("double")
                / (F.col("_n") - F.col("_i") + 1)
            ).cast("long"),
        )
    )
    lstar = ranked.agg(
        F.min(
            F.when(
                F.col("cap_tokens") >= F.col("_level"),
                F.struct(F.col("_i").alias("i"), F.col("_level").alias("lv")),
            )
        ).alias("_b")
    ).select(F.col("_b.lv").alias("_lstar"))
    return (
        ranked.crossJoin(F.broadcast(lstar))
        .select(
            "source",
            "n_tokens",
            "cap_tokens",
            F.when(
                F.col("_lstar").isNull(), F.col("cap_tokens")
            )
            .otherwise(F.least(F.col("cap_tokens"), F.col("_lstar")))
            .cast("long")
            .alias("quota_tokens"),
        )
        .withColumn(
            "epochs_ppm",
            F.expr("(quota_tokens * 1000000L) div n_tokens"),
        )
    )


def curriculum_order(df: DataFrame, stage_col: Column) -> DataFrame:
    """Deterministic curriculum ordering: a global training order
    that visits stages (easy → hard buckets, e.g. by length or
    quality score) in sequence while DECORRELATING within each stage
    by the portable content hash — the standard curriculum +
    shuffle-within-stage recipe, reproducible across engines, runs,
    and partitionings (same contract as hash_sample). Output:
    (id, stage, curriculum_rank).

    ``stage_col`` must be an engine-portable integer expression
    (fixed thresholds, not data-dependent quantiles). One global
    rank-ordering window — at 100 TB materialize per-stage ranks
    instead (rank within stage + stage offsets) to avoid the single
    ordered exchange; semantics identical."""
    h = portable_hash60(
        F.concat(F.lit("1:"), F.col("doc_id").cast("string"))
    )
    w = Window.orderBy(stage_col.asc(), h.asc(), F.col("doc_id").asc())
    return df.select(
        F.col("doc_id"),
        stage_col.cast("int").alias("stage"),
        F.row_number().over(w).cast("long").alias("curriculum_rank"),
    )
