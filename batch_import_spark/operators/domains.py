"""URL/domain-level corpus filtering.

Every production corpus pass filters by source domain BEFORE any
text-quality screen runs (UT1-style blocklists, domain allow/deny
lists, per-domain document caps — the CCNet / RefinedWeb / Dolma
recipe). The reference has no notion of a source URL (its rows come
from CSV headers, `RowData.java`); this is brief-side training-data
surface next to operators/pii.py and operators/repetition.py.

Semantics (deterministic, replayed exactly by the DuckDB oracle):

- ``host`` — lowercased authority of the URL: scheme and userinfo
  stripped, port and path dropped (one RE2-safe regexp, so both
  engines extract byte-identically);
- suffix match — a host is BLOCKED iff any dot-suffix of it
  (``a.b.example.com`` → ``a.b.example.com``, ``b.example.com``,
  ``example.com``, ``com``) appears in the blocklist; the reported
  match is the lexicographically smallest matching suffix so
  overlapping blocklist entries resolve deterministically;
- ``domain`` — the registrable domain, approximated as the last two
  host labels (the sandbox has no public-suffix list; swap
  ``registrable_domain`` for a PSL-backed variant in production —
  the plumbing is identical);
- per-domain cap — among NON-blocked documents, at most ``DOMAIN_CAP`` per
  registrable domain are kept, first-come by ascending id (the
  deterministic stand-in for crawl order).

Scale shape: host/suffix extraction is a zero-shuffle codegen map.
The blocklist join explodes each host into its ≤ label-count
suffixes and equi-joins a **broadcast** blocklist — never a shuffle
of the corpus — so a UT1-sized list (a few MB) rides along with each
task. The cap is one row_number window keyed by domain; a
pathologically hot domain lands its rows in one task, which is the
same bounded-by-a-single-domain cost every quota implementation
pays — at 100 TB, pre-filter with a counted sample if a single
domain exceeds a task (hot-bucket discipline, operators/buckets.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# RE2-safe (no backrefs/lookaround): optional scheme, optional
# userinfo, capture authority up to :port / path / query / fragment
HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)"
#: non-blocked documents kept per registrable domain, by ascending id
DOMAIN_CAP = 20


def host_of(url_col: Column) -> Column:
    """Lowercased host extracted from a URL (or bare-host) string."""
    return F.lower(F.regexp_extract(url_col, HOST_RE, 1))


def host_suffixes(host_col: Column) -> Column:
    """All dot-suffixes of a host, most-specific first."""
    parts = F.split(host_col, r"\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(
            F.slice(parts, i, F.size(parts) - i + 1), "."
        ),
    )


def registrable_domain(host_col: Column) -> Column:
    """Last two host labels (PSL-less approximation, see module doc)."""
    parts = F.split(host_col, r"\.")
    return F.array_join(
        F.slice(parts, F.greatest(F.size(parts) - 1, F.lit(1)), 2), "."
    )


def domain_filter(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Keep/drop verdict per document by source domain.

    ``blocklist``: one column (``suffix``) of host suffixes to
    block — broadcast by contract (UT1-scale lists are a few MB).
    Output: (id, host, domain, blocked, keep, reason) where reason is
    ``blocked:<matched suffix>``, ``over_cap``, or ``''``.
    """
    d0 = docs.select(
        F.col("doc_id"),
        host_of(F.col("url")).alias("host"),
    ).withColumns(
        {
            "domain": registrable_domain(F.col("host")),
            "_sfx": host_suffixes(F.col("host")),
        }
    )
    hits = (
        d0.select("doc_id", F.explode("_sfx").alias("_s"))
        .join(
            F.broadcast(blocklist.select(F.col("suffix").alias("_s"))),
            "_s",
        )
        .groupBy("doc_id")
        .agg(F.min("_s").alias("_matched"))
    )
    j = d0.drop("_sfx").join(hits, "doc_id", "left").withColumn(
        "blocked", F.col("_matched").isNotNull()
    )
    w = Window.partitionBy("domain").orderBy("doc_id")
    unblocked = (
        j.where(~F.col("blocked"))
        .withColumn("_rk", F.row_number().over(w))
        .select("doc_id", "_rk")
    )
    j = j.join(unblocked, "doc_id", "left")
    return j.select(
        "doc_id",
        "host",
        "domain",
        "blocked",
        (~F.col("blocked") & (F.col("_rk") <= F.lit(DOMAIN_CAP))).alias(
            "keep"
        ),
        F.when(F.col("blocked"), F.concat(F.lit("blocked:"), F.col("_matched")))
        .when(F.col("_rk") > F.lit(DOMAIN_CAP), F.lit("over_cap"))
        .otherwise(F.lit(""))
        .alias("reason"),
    )
