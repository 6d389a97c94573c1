"""Fulltext-index analog (reference A8, Importer.java:28,206-210).

The reference's Lucene *fulltext* indexes tokenize the indexed value
and match per-token. The Spark analog (SURVEY.md §7.3): a tokenized
candidate-generation dictionary — explode the indexed property into
(token → node) postings, look up by joining query tokens against the
postings, score candidates by matched-token count, rank.

Exact-match semantics (the reference default) stay in
operators/linking.py; this module is the candidate-generation path
for fuzzy entity linking. The third reference index type, spatial,
lives in operators/spatial.py (grid-cell index + pruned bbox/radius
lookup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOKENIZE_RE = r"[^\w]+"


def tokenize(col: Column | str) -> Column:
    """Lucene-StandardAnalyzer-ish tokenization: lowercase, split on
    non-word runs, drop empties."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKENIZE_RE), lambda t: t != "")


def build_fulltext_postings(index_entries: DataFrame) -> DataFrame:
    """index entries → (index_name, key_prop, token, node_id) postings."""
    return index_entries.select(
        "index_name",
        "key_prop",
        F.explode(tokenize("key_value")).alias("token"),
        "node_id",
    ).distinct()


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k most distinctive whitespace tokens per document.

    Weight = tf · ((N · 10^6) div df) — an integer-exact tf·idf
    surrogate (log-free, so it is bit-identical in any engine and
    hash-checkable; monotone in tf and 1/df exactly like the log
    form for a fixed tf). Returns (doc_id, token, tf, df, score_u).

    Plan shape: explode → two map-side-combinable groupBys (term
    frequency, then document frequency over the per-doc grain) →
    rank-limited window (WindowGroupLimit cuts to k below the
    exchange). The df table is vocabulary-sized → broadcast join.
    The corpus size N is one count job (documented scalar).
    """
    # explode the raw split and drop empties with a codegen'd row
    # Filter — the array-lambda filter is CodegenFallback (interpreted
    # per element; round-7 finding). Same token multiset.
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    # materialize tf once: it feeds the document-frequency aggregation
    # AND the scored join's probe side — without this the whole
    # explode + (doc, token) aggregation runs twice (plan-audited
    # round 7). (doc_id, token, tf) rows persist MEMORY_AND_DISK —
    # corpus-grain but narrow, spillable.
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    # precompute N·10^6 as a python int and inline it as a BIGINT
    # literal — `n * 1000000` as an INT expression overflows ANSI
    # int32 as soon as the corpus passes ~2.1k docs
    scored = tf.join(F.broadcast(dfreq), "token").withColumn(
        "score_u", F.expr(f"tf * ({n_docs * 1000000}L DIV df)")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_u").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("doc_id", "token", "tf", "df", "score_u")
    )


def fulltext_lookup(
    queries: DataFrame,
    postings: DataFrame,
    top_k: int = 5,
) -> DataFrame:
    """Score candidates by matched-token count; rank per query.

    (query_id, node_id, n_matched, n_query_tokens, score, rank) —
    score = matched / query token count. The postings join shuffles on
    token; at scale, stopword-heavy tokens are the skew keys, which AQE
    skew-join splits.
    """
    q_tokens = queries.select(
        "query_id",
        F.size(tokenize("query")).alias("n_query_tokens"),
        F.explode(tokenize("query")).alias("token"),
    )
    matched = (
        q_tokens.join(postings, "token")
        .groupBy("query_id", "n_query_tokens", "node_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .withColumn(
            "score",
            F.round(F.col("n_matched") / F.col("n_query_tokens"), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("node_id").asc()
    )
    return matched.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_k
    )
