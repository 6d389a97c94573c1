"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): select raw-corpus documents whose hashed-n-gram
profile looks like a small target corpus.

The published recipe: featurize every document as a bag of hashed
unigrams+bigrams over ``n_buckets`` buckets, fit two bag-of-buckets
LMs — p (target corpus) and q (raw corpus) — and weight each raw
document by its log importance ratio

    log w(x) = sum_b  count_b(x) * (log p_b - log q_b)

then resample/top-k by weight. Reference analog: none (the reference
is a CSV importer, readme.md:1-40) — training-data surface the brief
requires.

Determinism contract (both engines replay bit-for-bit):

- Bucket = ``portable_hash60(gram) % n_buckets`` (the md5-based
  60-bit portable hash, operators/sketches.py:35 — non-negative, so
  ``%`` and ``pmod`` agree).
- Logs are the fixed-point integer log2 of functions/unigram.py
  (``ilog2_fp``) — no libm in cross-engine contracts (the
  operators/lm.py discipline). Add-one smoothing over the full
  bucket grid:

      lam_b = [ilog2(t_b + 1) - ilog2(T + B)]
            - [ilog2(r_b + 1) - ilog2(R + B)]

  with T = sum t_b, R = sum r_b, so every bucket (even one unseen in
  both corpora) has a finite lambda and the weight is an exact
  BIGINT sum.
- Top-k tie-break: (weight_fp DESC, doc_id ASC) row_number.

Scale shape: featurization is one explode + one map-side-combinable
(doc, bucket) groupBy; the two LMs are one more groupBy over the
SAME featurized table (B-bounded output); scoring joins the per-doc
bucket counts against the broadcast B-row lambda table — no shuffle
wider than the feature table, no iteration, no driver state. The
scalar totals ride a sanctioned broadcast single-row cross join
(the operators/sampling.py temperature_mixture pattern). At 100 TB
the featurize groupBy is the only big shuffle and it partial-
aggregates; the lambda table stays n_buckets rows regardless of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.functions.unigram import ilog2_fp
from batch_import_spark.operators.sketches import portable_bucket

N_BUCKETS = 128


def hashed_ngram_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, bucket, cnt): unigram + bigram tokens hashed
    into ``n_buckets`` buckets. Blank docs yield no rows (both
    engines). ``carry_cols`` ride through the explode + groupBy —
    per-doc flags (e.g. the DSIR target flag) are functionally
    dependent on the id, so carrying them is free and saves a
    doc-keyed join back (one whole SortMergeJoin at corpus scale)."""
    return (
        _hashed_gram_rows(docs, id_col, text_col, n_buckets, carry_cols)
        .groupBy(id_col, *carry_cols, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _hashed_gram_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, bucket): one row per unigram/bigram
    occurrence, bucket-hashed — the pre-aggregation grain of
    :func:`hashed_ngram_counts`."""
    from batch_import_spark.operators.lm import _split_raw, _trim_empty_endpoints

    carry = [F.col(c) for c in carry_cols]
    # stage split -> tokens -> gram array as separate projections so
    # each multiply-referenced input is a materialized column (the
    # inlined form re-splits the text per reference and the inferred
    # explode filter triples the generator expression — round 7)
    raw = docs.select(F.col(id_col), *carry, _split_raw(text_col).alias("_raw"))
    tok = raw.select(
        id_col, *carry_cols, _trim_empty_endpoints(F.col("_raw")).alias("_tk")
    )
    # bigram strings via the arrays_zip n-gram builder (n=2) — the
    # same concat_ws(" ", w1, w2) values as the struct-pair transform,
    # without one interpreted struct alloc + one interpreted
    # concat_ws per pair
    from batch_import_spark.operators.contamination import _ngrams_from_tokens

    grams = tok.select(
        id_col,
        *carry_cols,
        F.concat(
            F.col("_tk"), _ngrams_from_tokens(F.col("_tk"), 2)
        ).alias("_grams"),
    )
    return (
        grams.select(
            id_col, *carry_cols, F.explode_outer("_grams").alias("gram")
        )
        .where(F.col("gram").isNotNull())
        .select(
            id_col,
            *carry_cols,
            portable_bucket(F.col("gram"), n_buckets).alias("bucket"),
        )
    )


def dsir_lambda_map(ff: DataFrame, n_buckets: int) -> dict[int, int]:
    """bucket → lam_fp = log p_target - log q_raw, the frozen DSIR
    importance model (n_buckets integers — shippable as a literal to
    a streaming screen or broadcast as a tiny table). Both corpora's
    bucket totals come from ONE map-side-combinable aggregation (the
    flag split is a conditional sum, not two scans); the smoothed
    fixed-point logs are computed driver-side with ilog2_fp (pinned
    equal to its column twin in tests/test_unigram.py) on the
    n_buckets collected totals."""
    rows = (
        ff.groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("_is_target"), F.col("cnt")).otherwise(0)
            )
            .cast("long")
            .alias("t"),
            F.sum(
                F.when(~F.col("_is_target"), F.col("cnt")).otherwise(0)
            )
            .cast("long")
            .alias("r"),
        )
        .collect()
    )
    t_counts = {int(r.bucket): int(r.t) for r in rows}
    r_counts = {int(r.bucket): int(r.r) for r in rows}
    it_t = ilog2_fp(sum(t_counts.values()) + n_buckets)
    it_r = ilog2_fp(sum(r_counts.values()) + n_buckets)
    return {
        b: (ilog2_fp(t_counts.get(b, 0) + 1) - it_t)
        - (ilog2_fp(r_counts.get(b, 0) + 1) - it_r)
        for b in range(n_buckets)
    }


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Per-candidate-document importance weight: (id, n_grams,
    weight_fp). Candidates are the rows where ``target_pred`` is
    false; the target corpus (pred true) only shapes the numerator
    LM, exactly as in the paper (select raw data that resembles the
    target)."""
    tagged = docs.withColumn("_is_target", target_pred)
    # round-7 shape: featurization stops at the EXPLODED (id, flag,
    # bucket) rows — the (doc, bucket) count table the previous
    # formulation aggregated first is cnt≈1 for nearly every pair, so
    # that groupBy was a full-width high-cardinality shuffle that
    # bought nothing. The LM bucket totals come from two 128-group
    # map-side-combinable aggregates over the same materialized rows
    # (sum over cnt == count over grams), and the per-doc weight uses
    # sum_b cnt_b*lam_b == sum_g lam_bucket(g) — one narrow
    # doc-keyed aggregate with the frozen 128-entry lambda table as a
    # literal array (the stream screen's shape). All-integer, exact.
    ex = _hashed_gram_rows(
        tagged, "doc_id", "text", n_buckets, carry_cols=("_is_target",)
    ).localCheckpoint(eager=False)
    lam = dsir_lambda_map(ex.withColumn("cnt", F.lit(1)), n_buckets)
    lam_arr = F.lit([lam[b] for b in range(n_buckets)]).cast("array<bigint>")
    return (
        ex.where(~F.col("_is_target"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.element_at(lam_arr, (F.col("bucket") + 1).cast("int"))
            )
            .cast("long")
            .alias("weight_fp"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target_pred: Column,
    k: int = 100,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Deterministic top-k selection by importance weight:
    (id, n_grams, weight_fp, sel_rank). The paper's Gumbel resampling
    is replaced by the rank cut — the deterministic variant — so both
    engines agree exactly; plug a seeded Gumbel column in front of
    the window for the stochastic flavor."""
    w = dsir_weights(docs, target_pred, n_buckets)
    win = Window.orderBy(F.col("weight_fp").desc(), F.col("doc_id").asc())
    return (
        w.withColumn("sel_rank", F.row_number().over(win).cast("int"))
        .where(F.col("sel_rank") <= k)
    )
