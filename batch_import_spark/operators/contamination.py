"""Benchmark-contamination screening for training corpora.

Before training, every corpus must be screened against the eval /
benchmark sets it will be scored on: any document sharing long word
n-grams with a benchmark item is contaminated and either dropped or
flagged. This is the standard n-gram-overlap formulation (cf. the
GPT-3/PaLM appendix methodology: 8-13 token n-gram collision against
eval sets).

Shape at 100 TB: the benchmark side is tiny (thousands of items) —
its distinct n-gram set broadcasts; the corpus side is one explode +
per-doc distinct + one broadcast semi-join + one map-side-combinable
groupBy. No shuffle touches corpus text; only (doc_id, ngram) pairs
for docs that overlap at all. The contamination fraction is integer
ppm (n_hit·10^6 div n_total) — engine-exact, no float thresholds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

#: right-side n-grams in more than this many documents are boilerplate
#: and join nothing in ``containment_pairs`` (read at call time)
MAX_NGRAM_DF = 500


def _ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams of a TOKEN-ARRAY column
    (empty when the document has fewer than n tokens).

    Built from ``arrays_zip`` over n shifted slices (the
    dedup._shingles_from_tokens discipline): each zipped element is
    O(1) to read. The
    previous per-index ``slice(toks, i, n)`` lambda re-evaluated the
    whole filter(split(...)) tokenization PER ELEMENT — O(len²)
    interpreted work per document (round-7 plan audit: the dominant
    cost of every n-gram query). ``toks`` must be a plain column
    reference (stage the tokenization in its own projection, see
    lm._split_raw) — this expression reads it n + 2 times.
    """
    k = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, j + 1, k) for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
    )
    # guard: slice len < 0 raises; short docs must short-circuit to []
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _ngram_arrays(df: DataFrame, id_expr: Column, text_col: str, n: int) -> DataFrame:
    """(_id, _ngs=array_distinct(word n-grams)) with the tokenization
    STAGED through two projections (raw split, then endpoint trim) so
    each stage's multiply-referenced input is a materialized column,
    not an inlined expression re-evaluated per reference (3-7x,
    round-7 measurement)."""
    from batch_import_spark.operators.lm import _split_raw, _trim_empty_endpoints

    raw = df.select(id_expr.alias("_id"), _split_raw(text_col).alias("_raw"))
    tok = raw.select("_id", _trim_empty_endpoints(F.col("_raw")).alias("_tk"))
    return tok.select(
        "_id", F.array_distinct(_ngrams_from_tokens(F.col("_tk"), n)).alias("_ngs")
    )


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Per-document benchmark overlap: returns
    (doc_id, n_hit, n_total, contam_ppm) for every document sharing at
    least one word n-gram with the probe corpus.

    - n_total: the document's DISTINCT n-gram count
    - n_hit:   how many of those occur anywhere in ``probes``
    - contam_ppm = n_hit·10^6 div n_total (integer parts-per-million)

    Production screens use n in 8..13; smaller n over-flags natural
    phrase reuse. The probe n-gram set is broadcast — benchmark sets
    are always tiny next to the corpus.
    """
    # round-7 shape: per-doc dedup is row-local (array_distinct ==
    # distinct over (doc_id, ng)), n_total is a row-local array size,
    # and hits are counted in ONE map-side-combinable groupBy after a
    # broadcast left join — the previous formulation paid a corpus-wide
    # (doc_id, ngram-string) distinct Exchange plus two aggregation
    # Exchanges plus a join, and recomputed the explode subtree twice.
    # explode_outer on purpose: plain explode makes the optimizer
    # infer a `size(ngrams) > 0 AND isnotnull(ngrams)` filter below the
    # Generate, inlining the whole n-gram expression two more times
    # per row (round-7 plan audit). The NULL rows outer-explode emits
    # for empty docs join nothing and are dropped by the n_hit > 0 /
    # null-join-key semantics.
    doc_arr = _ngram_arrays(docs, F.col("doc_id"), "text", n)
    doc_ngrams = doc_arr.select(
        F.col("_id").alias("doc_id"),
        F.size("_ngs").cast("long").alias("n_total"),
        F.explode_outer("_ngs").alias("ng"),
    )
    probe_ngrams = (
        _ngram_arrays(probes, F.col("doc_id"), "text", n)
        .select(F.explode_outer("_ngs").alias("ng"))
        .where(F.col("ng").isNotNull())
        .distinct()
        .select("ng", F.lit(1).alias("_pg"))
    )
    return (
        doc_ngrams.join(F.broadcast(probe_ngrams), "ng", "left")
        .groupBy("doc_id", "n_total")
        .agg(F.count("_pg").alias("n_hit"))
        .where(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_hit",
            "n_total",
            F.expr("n_hit * 1000000L div n_total").alias("contam_ppm"),
        )
    )


def containment_pairs(
    left: DataFrame,
    right: DataFrame,
    n: int = 8,
    min_ppm: int = 500_000,
) -> DataFrame:
    """Quote detection: (left_id, right_id, n_shared, n_left,
    containment_ppm) for every pair where at least ``min_ppm``
    parts-per-million of LEFT's distinct word n-grams also occur in
    the RIGHT document — the asymmetric companion to Jaccard
    (containment ≈ 1 catches a short document quoted inside a long
    one, where Jaccard stays near 0). The standard screen for
    benchmark items embedded verbatim in training documents.

    Scale shape: candidate pairs come from an equi-join on the n-gram
    itself, so cost is Σ_g df_left(g)·df_right(g) — bounded by capping
    ubiquitous n-grams at ``MAX_NGRAM_DF`` occurrences on the right
    (boilerplate n-grams carry no quote signal; the cap is the same
    hot-key guard as the LSH bucket caps). The
    count/total aggregation is map-side combinable; no text ever
    shuffles.
    """
    # round-7 shape: per-doc dedup row-local (array_distinct), n_left
    # carried through the n-gram groupBy as a struct field (no totals
    # join), candidate pairs produced by grouping BOTH sides by n-gram
    # once and exploding the id-list cross product locally — one
    # exchange per side (reused by the n-gram join) instead of two
    # distinct Exchanges + a df-count shuffle + a recomputed right
    # subtree, and the df cap becomes a row-local size filter.
    # explode_outer for the same inferred-filter reason as
    # ngram_contamination above; the NULL-ngram rows form null-key
    # groups that match nothing in the inner n-gram join.
    ln = _ngram_arrays(left, F.col("doc_id"), "text", n).select(
        F.col("_id").alias("lid"),
        F.size("_ngs").cast("long").alias("n_left"),
        F.explode_outer("_ngs").alias("ng"),
    )
    rn = _ngram_arrays(right, F.col("doc_id"), "text", n).select(
        F.col("_id").alias("rid"),
        F.explode_outer("_ngs").alias("ng"),
    )
    rg = (
        rn.groupBy("ng")
        .agg(F.collect_list("rid").alias("_rids"))
        .where(F.size("_rids") <= MAX_NGRAM_DF)
    )

    integral_ids = isinstance(ln.schema["lid"].dataType, LongType) and isinstance(
        rn.schema["rid"].dataType, LongType
    )
    if not integral_ids:
        # generic-id fallback: local pair explosion + one combinable
        # pair aggregate (the pre-round-7 tail)
        pairs = (
            ln.join(rg, "ng")
            .select("lid", "n_left", F.explode("_rids").alias("rid"))
        )
        return (
            pairs.groupBy("lid", "rid", "n_left")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .withColumn(
                "containment_ppm", F.expr("n_shared * 1000000L div n_left")
            )
            .where(F.col("containment_ppm") >= min_ppm)
            .select("lid", "rid", "n_shared", "n_left", "containment_ppm")
        )

    # per-left-doc shared counts in ONE grouped Arrow kernel: the rid
    # lists of the left doc's n-grams concatenate into at most
    # n_grams(left) x MAX_NGRAM_DF ints (bounded group state), and
    # np.unique counts every candidate pair without materializing the
    # 10^7-row (lid, rid) pair explosion through a high-cardinality
    # hash aggregate (2x, round-7 measurement; all-integer math, so
    # bit-exact vs the JVM formulation).
    _min_ppm = int(min_ppm)

    def _count_per_lid(pdf: pd.DataFrame) -> pd.DataFrame:
        lid = pdf["lid"].iloc[0]
        n_left = int(pdf["n_left"].iloc[0])
        allr = (
            np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["_rids"]]
            )
            if len(pdf)
            else np.array([], dtype=np.int64)
        )
        vals, counts = np.unique(allr, return_counts=True)
        counts = counts.astype(np.int64)
        ppm = counts * 1_000_000 // n_left
        m = ppm >= _min_ppm
        k = int(m.sum())
        return pd.DataFrame(
            {
                "lid": np.full(k, lid, dtype=np.int64),
                "rid": vals[m],
                "n_shared": counts[m],
                "n_left": np.full(k, n_left, dtype=np.int64),
                "containment_ppm": ppm[m],
            }
        )

    lr = ln.join(rg, "ng").select("lid", "n_left", "_rids")
    return lr.groupBy("lid").applyInPandas(
        _count_per_lid,
        "lid long, rid long, n_shared long, n_left long, containment_ppm long",
    )
