"""Gopher/C4-style repetition quality screens.

The standard corpus-filtering pass (Rae et al. 2021, "Scaling
Language Models: ... Gopher", §A1.1) removes documents dominated by
repeated content: boilerplate lines, duplicated paragraphs, and
over-represented n-grams. The reference has no notion of document
quality (its scalar surface is CSV type casts, Type.java:5-182) —
this completes the training-data quality stage next to the
text_quality query (queries/text.py) and operators/lm.py scoring.

Per document, in exact integer ppm (floor division — bit-identical
across engines, no float thresholds):

- ``n_lines``, ``dup_line_ppm``      fraction of lines that are
  repeats of an earlier identical line;
- ``dup_line_char_ppm``              fraction of line characters
  inside those repeated lines (a doc of many short dup lines and one
  long unique line scores differently on the two — Gopher keeps both);
- ``top{2,3,4}_gram_ppm``            character mass of the single
  most frequent word n-gram (count × chars(gram) / chars(text),
  most-frequent ties broken toward the lexicographically smallest
  gram so the statistic is deterministic);
- ``dup5_gram_ppm``                  character mass of all 5-grams
  occurring more than once (count × chars summed over duplicated
  grams; overlapping occurrences each count, so heavy loops can
  exceed 1e6 — documented Gopher behavior, thresholded upstream).
  Gopher runs the same rule for n = 5..10; n = 5 is the template,
  the rest differ only in the constant.

Scale shape: every statistic is explode → groupBy(doc_id[, gram]) →
partial-aggregable count — map-side combine does most of the work,
and all shuffles are keyed by doc_id(+gram) so a 100 TB corpus
distributes without driver state or skew beyond a single document's
n-gram table. The per-n argmax is a groupBy min over a
{-count, gram} struct (count DESC, gram ASC), not a window, so no
per-doc sort materializes. Overflow: count × len(gram) × 10^6 needs
count·len ≈ 9.2e12 to wrap int64 — a single document with ~10^12
repeated characters; lift to DECIMAL(38,0) if docs ever get there
(same discipline as cooccur.py's lift guard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000


def _tokens(text_col: Column) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(text_col)), r"\s+"), lambda w: w != F.lit("")
    )


def _word_grams(toks: Column, n: int) -> Column:
    """All word ``n``-grams as space-joined strings (empty array when
    the doc has fewer than ``n`` tokens — guarded, because
    ``sequence(1, 0)`` DESCENDS to [1, 0] rather than being empty)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_screen(
    docs: DataFrame,
    line_sep: str = "\n",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5,),
) -> DataFrame:
    """Gopher repetition statistics per document (see module doc).

    Documents with no words are dropped (nothing to screen), matching
    the convention of the other text operators.
    """
    toks = _tokens(F.col("text"))
    base = docs.select(
        F.col("doc_id"),
        F.col("text").alias("_text"),
        toks.alias("_tk"),
        F.length(F.array_join(toks, " ")).cast("long").alias("_chars"),
    ).where(F.size("_tk") > 0)
    # `base` feeds four aggregations; each re-reads the (column-pruned)
    # scan + tokenize, which beats caching at corpus scale — at 100 TB
    # you'd stage this projection to a temp parquet once instead.

    # --- line metrics --------------------------------------------------------
    lines = base.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split("_text", F.lit(line_sep), -1),
                lambda l: F.trim(l) != F.lit(""),
            )
        ).alias("ln"),
    )
    per_line = lines.groupBy("doc_id", "ln").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    line_stats = per_line.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_lines"),
        # repeats beyond the first occurrence of each distinct line
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("_n_dup"),
        F.sum(F.col("c") * F.length("ln")).cast("long").alias("_lchars"),
        F.sum((F.col("c") - 1) * F.length("ln")).cast("long").alias("_dchars"),
    )

    # --- top-n-gram character mass (one explode per n, one groupBy) ---------
    grams_union = None
    for n in top_ns:
        g = base.select(
            F.col("doc_id"),
            F.lit(n).alias("n"),
            F.explode(_word_grams(F.col("_tk"), n)).alias("g"),
        )
        grams_union = g if grams_union is None else grams_union.unionAll(g)
    gram_counts = grams_union.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # argmax by (count DESC, gram ASC) via struct-min — no window/sort
    best = (
        gram_counts.groupBy("doc_id", "n")
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("negc"), F.col("g").alias("g"))
            ).alias("b")
        )
        .select(
            "doc_id",
            "n",
            ((-F.col("b.negc")) * F.length("b.g")).cast("long").alias("mass"),
        )
    )
    top_mass = best.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("mass"))).alias(f"_m{n}")
            for n in top_ns
        ]
    )

    # --- duplicated n-gram mass (Gopher runs n = 5..10; callers pick) -------
    dups_union = None
    for n in dup_ns:
        g = base.select(
            F.col("doc_id"),
            F.lit(n).alias("n"),
            F.explode(_word_grams(F.col("_tk"), n)).alias("g"),
        )
        dups_union = g if dups_union is None else dups_union.unionAll(g)
    dup_counts = (
        dups_union.groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .where(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(F.col("n") == n, F.col("c") * F.length("g"))
                ).cast("long").alias(f"_d{n}")
                for n in dup_ns
            ]
        )
    )

    out = (
        base.select("doc_id", "_chars")
        .join(line_stats, ["doc_id"], "left")
        .join(top_mass, ["doc_id"], "left")
        .join(dup_counts, ["doc_id"], "left")
    )
    # BIGINT `div` throughout: double division would round once the
    # numerator passes 2^53 — the repo-wide exactness discipline
    sel = [
        F.col("doc_id"),
        F.col("n_lines"),
        F.expr(f"(_n_dup * {PPM}L) div n_lines").alias("dup_line_ppm"),
        F.expr(
            f"CASE WHEN _lchars > 0 THEN (_dchars * {PPM}L) div _lchars "
            "ELSE 0L END"
        ).alias("dup_line_char_ppm"),
    ]
    for n in top_ns:
        sel.append(
            F.expr(f"coalesce((_m{n} * {PPM}L) div _chars, 0L)").alias(
                f"top{n}_gram_ppm"
            )
        )
    for n in dup_ns:
        sel.append(
            F.expr(f"coalesce((_d{n} * {PPM}L) div _chars, 0L)").alias(
                f"dup{n}_gram_ppm"
            )
        )
    return out.select(*sel)


def top_gram_mass_cols(
    text_col: str = "text", n: int = 2
) -> tuple[Column, Column]:
    """Row-local (stateless) twin of the top-n-gram statistic:
    (best_mass, chars) columns computed entirely with higher-order
    functions — no explode, no groupBy — so the screen runs inside a
    streaming narrow map. Same argmax rule as repetition_screen
    (count DESC, gram ASC) for bit parity with the batch oracle:
    max-of-(count·len) would pick a different gram when a longer,
    rarer gram out-masses the most frequent one. O(k²) per row in
    the gram count, bounded by document length — the price of
    statelessness."""
    toks = _tokens(F.col(text_col))
    grams = _word_grams(toks, n)
    cnt = lambda g: F.size(F.filter(grams, lambda x: x == g)).cast("long")
    best = F.array_min(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.struct((-cnt(g)).alias("negc"), g.alias("g")),
        )
    )
    mass = F.when(
        best.isNotNull(), (-best["negc"]) * F.length(best["g"])
    ).otherwise(F.lit(0)).cast("long")
    chars = F.length(F.array_join(toks, " ")).cast("long")
    return mass, chars
