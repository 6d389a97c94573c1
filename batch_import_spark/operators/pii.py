"""PII detection and redaction for training corpora.

Table stakes for any pipeline that ships model training data: find
emails / phone numbers / IPv4 addresses / SSN-shaped IDs, count them
per document, and emit text with typed placeholders. The reference
has no text functions at all (its scalar surface is CSV type casts,
Type.java:5-182) — this is brief-side training-data surface.

Engine portability is the design constraint: the patterns avoid every
construct Java regex has but RE2 (DuckDB) lacks — no lookahead/
lookbehind, no backreferences — so the DuckDB oracle replays the
EXACT same regexes and the redacted text is byte-identical across
engines.

Detection is sequential on progressively-redacted text (emails
counted on raw text, IPs counted after emails are gone, then SSNs,
then phones): later patterns can never re-match inside an earlier
match (an IP's digit runs inside an email, a phone shape inside an
SSN), so counts are unambiguous and order-deterministic. The
placeholder tokens contain no digits, so they are inert to every
later pattern.

Scale shape: a pure narrow map — regexp_count/regexp_replace chains
in whole-stage codegen, zero shuffles, zero Python. 100 TB of text
streams through at scan speed; the only aggregate anyone runs on top
(corpus PII rate) is a map-side-combinable sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# order matters: each pattern is counted/redacted on text already
# cleaned of the previous kinds (see module doc)
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # anchored start + explicitly paired parens: "(415) 555 1234" or
    # "415-555-1234", but never the tail of a longer digit run
    # ("1234-567-8901") and never an unpaired "(" pulled into the match
    ("phone", r"(\(\d{3}\)|\b\d{3})[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def _count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).cast(
        "long"
    )


def pii_columns(text_col: str = "text") -> tuple[list[Column], Column, Column]:
    """The detection/redaction logic as COLUMN expressions —
    (per-kind count columns, total count, redacted text) — so any
    projection (including a stateless streaming narrow map) can embed
    the screen without a DataFrame boundary."""
    cur = F.col(text_col)
    counts, total = [], None
    for kind, pattern, token in PII_PATTERNS:
        c = F.coalesce(_count(cur, pattern), F.lit(0))
        counts.append(c.alias(f"n_{kind}"))
        total = c if total is None else total + c
        cur = F.regexp_replace(cur, pattern, token)
    return counts, total.alias("n_pii"), cur.alias("redacted")


def redact_pii(docs: DataFrame) -> DataFrame:
    """Per-doc PII counts by kind + fully redacted text.

    Output: id, n_email, n_ipv4, n_ssn, n_phone, n_pii, redacted.
    NULL text passes through as NULL with zero counts (count of NULL
    is 0, not NULL — a missing doc has no PII).
    """
    counts, total, redacted = pii_columns("text")
    return docs.select(F.col("doc_id"), *counts, total, redacted)
