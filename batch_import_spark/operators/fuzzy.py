"""Fuzzy key matching: edit-distance ≤ 1 joins without a cross join.

Entity linking over noisy surface forms (typo'd names, OCR'd aliases)
needs "join where keys are within edit distance 1" — which Spark
would otherwise plan as a BroadcastNestedLoopJoin with a
`levenshtein` residual: quadratic, the classic scale killer.

This operator uses deletion neighborhoods (the FastSS family, cf.
Bocek et al., "Fast Similarity Search in Large Dictionaries", 2007):
every string s expands to {s} ∪ {s minus one character}. Two strings
are within edit distance 1 **only if** their neighborhoods intersect
(equality shares s; insert/delete shares the shorter string;
substitution at i shares the common delete-at-i) — so an equi-join on
the variant finds every candidate, and a `levenshtein ≤ 1` residual
on the (tiny) candidate set removes the false positives (e.g. "ab" vs
"ba" share variant "a" but are distance 2).

Scale shape: |variants| = len(s)+1 per key — the join input grows by
a factor of average key length, but stays an EQUI-join (hash
partitionable, AQE-skew-splittable), vs the nested-loop's |L|·|R|.
The candidate verify is a scalar function on matched pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fuzzy_join_ed1(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """All (left_id, right_id, left_key, right_key, distance) pairs
    with left_id < right_id and levenshtein(left_key, right_key) ≤ 1,
    computed via a deletion-neighborhood equi-join + exact verify
    (never a nested loop). The id filter runs on the CANDIDATE set,
    before the verify: a self-join's candidates are symmetric ((a,b)
    and (b,a) both appear) and include every (a,a), so the filter
    halves the levenshtein/re-attach/distinct volume."""
    # round-7 shape:
    # - variants come from an exploded INDEX sequence with the string
    #   surgery as a codegen row expression (the array-lambda form is
    #   interpreted per element);
    # - the candidate distinct runs on narrow (lid, rid) pairs — keys
    #   re-attach by id afterwards, which is exact because the
    #   levenshtein verify re-tests every (key_l, key_r) combination
    #   and the neighborhood property guarantees every true pair was
    #   a candidate;
    # - a self-join (left IS right, same key/id columns) shares one
    #   materialized variant table instead of computing it twice.
    def variant_rows(df, id_col, key_col, idal, keyal):
        base = df.select(F.col(id_col).alias(idal), F.col(key_col).alias(keyal))
        key = F.col(keyal)
        idx = base.select(
            idal,
            keyal,
            F.explode(F.sequence(F.lit(0), F.length(key))).alias("_i"),
        )
        k = F.col(keyal)
        variant = F.when(F.col("_i") == 0, k).otherwise(
            F.concat(
                k.substr(F.lit(1), F.col("_i") - 1),
                k.substr(F.col("_i") + 1, F.length(k)),
            )
        )
        # join/distinct on the 64-bit variant hash, not the string:
        # candidates only need to be a SUPERSET of the true pairs (the
        # levenshtein verify is exact), and a hash collision merely
        # adds a candidate the verify rejects — so the whole variant
        # shuffle carries two longs per row
        return idx.select(idal, F.xxhash64(variant).alias("_v")).distinct()

    self_join = (
        left is right and left_key == right_key and left_id == right_id
    )
    lv = variant_rows(left, left_id, left_key, "_lid", "_lkey")
    if self_join:
        lv = lv.localCheckpoint(eager=False)
        rv = lv.select(F.col("_lid").alias("_rid"), "_v")
    else:
        rv = variant_rows(right, right_id, right_key, "_rid", "_rkey")
    # verify BEFORE deduplicating: most duplicate candidates are true
    # near-matches reached through several shared variants, so the
    # distinct over raw candidates shuffles the full candidate volume
    # (32.8M rows at sf1.0) while the post-verify distinct only
    # shuffles true ED<=1 pairs — and the levenshtein filter runs
    # inside the join's codegen stage either way.
    cand = lv.join(rv, "_v").select("_lid", "_rid").where(F.col("_lid") < F.col("_rid"))
    # distinct: duplicate (id, key) input rows must not multiply the
    # re-attach join (the old formulation collapsed them in the
    # variant distinct)
    lkeys = left.select(
        F.col(left_id).alias("_lid"), F.col(left_key).alias("_lkey")
    ).distinct()
    rkeys = right.select(
        F.col(right_id).alias("_rid"), F.col(right_key).alias("_rkey")
    ).distinct()
    cand = cand.join(lkeys, "_lid").join(rkeys, "_rid")
    # threshold-bounded levenshtein (Spark 3.5+): banded O(len) DP with
    # early exit instead of the full O(len^2) table — EXACT for this
    # verify (returns the true distance when <= 1, -1 otherwise, so
    # `>= 0` == `full distance <= 1` and the value is unchanged).
    # The verify is the dominant per-candidate cost (~55 CPU-s at
    # sf1.0 with the full DP — round-7 stage profile).
    dist = F.levenshtein("_lkey", "_rkey", 1)
    return (
        cand.where(dist >= 0)
        .select(
            F.col("_lid").alias(left_id + "_l"),
            F.col("_rid").alias(right_id + "_r"),
            F.col("_lkey").alias("key_l"),
            F.col("_rkey").alias("key_r"),
            dist.alias("distance"),
        )
        .dropDuplicates([left_id + "_l", right_id + "_r"])
    )
