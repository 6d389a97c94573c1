"""Statistical language-model scoring for corpus quality filtering.

CCNet/Gopher-style pipelines score every document with a small LM and
drop the tails (gibberish scores low, boilerplate scores suspiciously
high). The reference has no notion of this (its only scalar functions
are CSV type casts, Type.java:5-182) — this is a training-data
operator the brief requires beyond reference parity.

Everything is integer fixed-point so the score is bit-reproducible
across engines and mergeable across partitions:

    p(w2 | w1)  ≈  (c(w1,w2) + 1) * 10^6 // (c(w1) + V)     [add-one]

i.e. the smoothed transition probability in ppm, computed with BIGINT
division — no floats, no log() (engines differ in the last ulp of
transcendental functions; a fixed-point probability avoids the whole
class). A doc's score is the mean and min transition probability:
low mean ≈ high perplexity (OOD/gibberish), low min pinpoints the
single rarest transition. The log-space cross-entropy variant is a
trivial extension where float tolerance is acceptable.

Scale shape: the model IS two count tables — unigrams O(V) and
bigrams O(distinct pairs) — built with one map-side-combinable
groupBy each; scoring is two equi-joins of the exploded transition
stream against them (broadcast when the vocabulary is small, shuffle
join at web scale). No iteration, no driver state.

Overflow: (c+1) * 10^6 stays in int64 up to c ≈ 9.2e12 observed
occurrences of a single bigram — beyond any single-planet corpus for
one pair; guard with DECIMAL(38,0) if that ever changes (same
discipline as cooccur.py's lift guard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000


def _words(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.split(F.lower(F.trim(c)), r"\s+"), lambda w: w != F.lit("")
    )


def _split_raw(text_col: Column | str) -> Column:
    """``split(lower(trim(text)), '\\s+')`` — the raw token array
    BEFORE empty-endpoint removal. Stage this as its own projected
    column, then apply :func:`_trim_empty_endpoints` in a second
    projection: each helper references its input several times, and a
    staged column reference is O(1) per use while an inlined
    expression re-splits the text per use (measured 3-7x on the
    round-7 n-gram paths)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def _trim_empty_endpoints(raw: Column) -> Column:
    """Drop empty FIRST/LAST elements of a ``\\s+``-split array —
    bit-identical to ``filter(raw, w -> w != '')`` because a ``\\s+``
    split merges whitespace runs, so empties can only sit at the
    endpoints; two endpoint checks are pure codegen while the
    higher-order filter is interpreted per element (pinned equal by
    tests/test_round7_words.py)."""
    size = F.size(raw)
    lead = F.when(F.get(raw, 0) == "", F.lit(1)).otherwise(F.lit(0))
    trail = F.when(
        (size > 1) & (F.element_at(raw, -1) == ""), F.lit(1)
    ).otherwise(F.lit(0))
    return F.slice(raw, lead + 1, F.greatest(size - lead - trail, F.lit(0)))


def _adjacent_pairs(toks: Column) -> Column:
    """(w1, w2) structs for every adjacent token pair.

    The slice length is clamped to >= 0: an empty/whitespace-only doc
    has size(toks) = 0 and an unclamped `size - 1` slice length is -1,
    which ANSI Spark rejects with INVALID_PARAMETER_VALUE.LENGTH and
    kills the whole job — one blank doc in a corpus must instead yield
    the documented n_trans = 0 row."""
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n),
        F.slice(toks, 2, n),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def bigram_model(docs: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame, int]:
    """Train: (unigram_counts, bigram_counts, vocab_size).

    Both tables are plain aggregations — partial-aggregate
    (map-side-combine) friendly, one shuffle each.
    """
    words = docs.select(F.explode(_words(text_col)).alias("w"))
    # vocabulary-sized table, materialized once: it feeds the
    # vocab_size count action AND the scoring join — without the
    # checkpoint the words-explode aggregation runs twice (round 7)
    uni = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .localCheckpoint(eager=False)
    )
    toks = _words(text_col)
    pairs = _adjacent_pairs(toks)
    bi = (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    vocab_size = uni.count()
    return uni, bi, int(vocab_size)


def score_documents(docs: DataFrame) -> DataFrame:
    """Score each document by its smoothed bigram transition
    probabilities, trained on `docs` itself (the CCNet self-scoring
    setup).

    Output per doc: n_trans, avg_prob_ppm (BIGINT floor mean),
    min_prob_ppm (the rarest transition). Docs with < 2 tokens score
    n_trans = 0 with NULL probabilities (nothing to judge).
    """
    uni, bi, vocab_size = bigram_model(docs, "text")

    toks = _words("text")
    pairs = _adjacent_pairs(toks)
    trans = docs.select(F.col("doc_id"), F.explode_outer(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # BIGINT `div` keeps the probability exact (double division would
    # round once (c2+1)*10^6 passes 2^53); missing joins only happen
    # for the explode_outer NULL row (short doc) — real transitions
    # always hit both tables, the model being trained on this corpus
    scored = (
        trans.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), ["w1"], "left")
        .select(
            "doc_id",
            "w1",
            F.expr(
                f"CASE WHEN w1 IS NULL THEN NULL "
                f"ELSE ((coalesce(c2, 0L) + 1L) * {PPM}L) "
                f"div (coalesce(c1, 0L) + {int(vocab_size)}L) END"
            ).alias("p_ppm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("w1").cast("long").alias("n_trans"),
        F.expr(
            "CASE WHEN count(w1) > 0 THEN sum(p_ppm) div count(w1) END"
        ).alias("avg_prob_ppm"),
        F.min("p_ppm").alias("min_prob_ppm"),
    )
