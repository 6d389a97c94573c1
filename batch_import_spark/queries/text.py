"""Text quality and filtering: quality features, repetition screens,
domain and PII filters, the quality gate, fingerprints, language ID,
LM scoring, tf-idf, co-occurrence and contamination screens."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from batch_import_spark.functions.text import (
    LANG_STOPWORDS,
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    punct_ratio,
    stopword_ratio,
    token_count,
)
from batch_import_spark.operators.contamination import (
    containment_pairs,
    ngram_contamination,
)
from batch_import_spark.operators.cooccur import cooccurrence_lift
from batch_import_spark.operators.domains import domain_filter
from batch_import_spark.operators.fulltext import tfidf_top_terms
from batch_import_spark.operators.lm import score_documents
from batch_import_spark.operators.pii import PII_PATTERNS, pii_columns, redact_pii
from batch_import_spark.operators.repetition import (
    repetition_screen,
    top_gram_mass_cols,
)
from batch_import_spark.queries.common import query
from batch_import_spark.session import fan_out, local_frame


def _text_quality(spark, sf):
    """Full quality-feature surface (C4/Gopher-style signals).

    Ratios stay double (identical IEEE ops both engines); the
    composite score uses the floor transform (memory: decimal-tie
    trick) so no engine-specific rounding can diverge.
    """
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    n_toks = token_count("text")
    pr = punct_ratio("text")
    sw = stopword_ratio("text", "en")
    score = (
        F.least(F.lit(1.0), n_toks / F.lit(100.0)) * 0.5
        + (F.lit(1.0) - F.least(F.lit(1.0), pr * 5)) * 0.3
        + F.least(F.lit(1.0), sw * 4) * 0.2
    )
    mean_tok = F.when(
        n_toks > 0,
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("double") / n_toks,
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
        F.length(F.col("text")).alias("n_chars_m"),
        (F.floor(mean_tok * 1e6) / 1e6).alias("mean_token_len"),
        (F.floor(pr * 1e6) / 1e6).alias("punct_ratio"),
        (F.floor(sw * 1e6) / 1e6).alias("stopword_ratio_en"),
        (F.floor(score * 1e4) / 1e4).alias("quality_score"),
    )


_TEXTQ_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         length(text) AS n_chars
  FROM documents
),
f AS (
  SELECT doc_id, n_chars,
         len(toks) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')) AS bpe_tokens,
         CASE WHEN n_chars > 0
              THEN (n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / CAST(n_chars AS DOUBLE)
              ELSE 0.0 END AS pr,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))
                   / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS sw,
         CASE WHEN len(toks) > 0
              THEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS mean_tok
  FROM t
)
SELECT doc_id, n_tokens, bpe_tokens, n_chars AS n_chars_m,
       floor(mean_tok * 1e6) / 1e6 AS mean_token_len,
       floor(pr * 1e6) / 1e6 AS punct_ratio,
       floor(sw * 1e6) / 1e6 AS stopword_ratio_en,
       floor((least(1.0, n_tokens / 100.0) * 0.5
              + (1.0 - least(1.0, pr * 5)) * 0.3
              + least(1.0, sw * 4) * 0.2) * 1e4) / 1e4 AS quality_score
FROM f
"""
query("text_quality", _text_quality, _TEXTQ_SQL)


def _repetition_screen(spark, sf):
    """Gopher repetition screens (operators/repetition.py): duplicate-
    line fraction + char mass, top-2/3/4-gram char mass, duplicated-
    5-gram char mass — all integer ppm.

    The sf corpus is single-line, so the line metrics are exercised by
    planting deterministic boilerplate on every 5th doc (text + two
    copies of its own first-8-word line — the planted-duplicate
    discipline the dedup queries use); the n-gram metrics run on real
    repetition (~70%% of docs repeat a word bigram)."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != F.lit("")
    )
    boiler = F.array_join(F.slice(toks, 1, 8), " ")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws("\n", F.col("text"), boiler, boiler),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_screen(planted)


_REPETITION_SQL = r"""
WITH tk0 AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t0
  FROM documents
),
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || chr(10) || b || chr(10) || b
              ELSE text END AS text
  FROM (SELECT doc_id, text, array_to_string(t0[1:8], ' ') AS b
        FROM tk0 WHERE text IS NOT NULL)
),
base AS (
  SELECT doc_id, text, tkn,
         CAST(length(array_to_string(tkn, ' ')) AS BIGINT) AS chars
  FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x <> '') AS tkn
        FROM planted)
  WHERE len(tkn) > 0
),
lines AS (
  SELECT doc_id, ln
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln FROM base)
  WHERE trim(ln) <> ''
),
pl AS (SELECT doc_id, ln, CAST(COUNT(*) AS BIGINT) AS c FROM lines GROUP BY 1, 2),
ls AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_lines,
         CAST(SUM(c) - COUNT(*) AS BIGINT) AS ndup,
         CAST(SUM(c * length(ln)) AS BIGINT) AS lchars,
         CAST(SUM((c - 1) * length(ln)) AS BIGINT) AS dchars
  FROM pl GROUP BY 1
),
grams AS (
  SELECT doc_id, 2 AS n, array_to_string(tkn[i:i+1], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 1, 1)) AS i
        FROM base WHERE len(tkn) >= 2)
  UNION ALL
  SELECT doc_id, 3 AS n, array_to_string(tkn[i:i+2], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 2, 1)) AS i
        FROM base WHERE len(tkn) >= 3)
  UNION ALL
  SELECT doc_id, 4 AS n, array_to_string(tkn[i:i+3], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 3, 1)) AS i
        FROM base WHERE len(tkn) >= 4)
),
gc AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
       FROM grams GROUP BY 1, 2, 3),
best AS (SELECT doc_id, n, min({'negc': -c, 'g': g}) AS b
         FROM gc GROUP BY 1, 2),
bm AS (SELECT doc_id, n,
              CAST((-b.negc) * length(b.g) AS BIGINT) AS mass FROM best),
tm AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN mass END) AS m2,
         MAX(CASE WHEN n = 3 THEN mass END) AS m3,
         MAX(CASE WHEN n = 4 THEN mass END) AS m4
  FROM bm GROUP BY 1
),
g5 AS (
  SELECT doc_id, array_to_string(tkn[i:i+4], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 4, 1)) AS i
        FROM base WHERE len(tkn) >= 5)
),
d5 AS (
  SELECT doc_id, CAST(SUM(c * length(g)) AS BIGINT) AS dm
  FROM (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g5 GROUP BY 1, 2)
  WHERE c > 1 GROUP BY 1
)
SELECT b.doc_id, ls.n_lines,
       CAST((ndup * 1000000) // n_lines AS BIGINT) AS dup_line_ppm,
       CAST(CASE WHEN lchars > 0 THEN (dchars * 1000000) // lchars
                 ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
       CAST(coalesce((m2 * 1000000) // chars, 0) AS BIGINT) AS top2_gram_ppm,
       CAST(coalesce((m3 * 1000000) // chars, 0) AS BIGINT) AS top3_gram_ppm,
       CAST(coalesce((m4 * 1000000) // chars, 0) AS BIGINT) AS top4_gram_ppm,
       CAST(coalesce((dm * 1000000) // chars, 0) AS BIGINT) AS dup5_gram_ppm
FROM base b
JOIN ls USING (doc_id)
LEFT JOIN tm USING (doc_id)
LEFT JOIN d5 USING (doc_id)
"""
query("repetition_screen", _repetition_screen, _REPETITION_SQL)


def _repetition_screen_para(spark, sf):
    """Paragraph-grain Gopher screens (the rest of Rae et al. 2021
    Table A1): duplicate-PARAGRAPH fraction + char mass (same line
    machinery with sep='\\n\\n') and duplicated 6/8/10-gram char
    mass. Boilerplate paragraphs are planted on every 4th doc (two
    copies of its own first-12-word prefix), so the paragraph metrics
    and the long-gram duplicate masses all fire on real rows; the
    n_lines/dup_line_* output columns read as paragraph counts here."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != F.lit("")
    )
    para = F.array_join(F.slice(toks, 1, 12), " ")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws("\n\n", F.col("text"), para, para),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_screen(
        planted, line_sep="\n\n", top_ns=(2,), dup_ns=(6, 8, 10)
    )


_REPETITION_PARA_SQL = r"""
WITH tk0 AS MATERIALIZED (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t0
  FROM documents
),
planted AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || chr(10) || chr(10) || b || chr(10) || chr(10) || b
              ELSE text END AS text
  FROM (SELECT doc_id, text, array_to_string(t0[1:12], ' ') AS b
        FROM tk0 WHERE text IS NOT NULL)
),
base AS MATERIALIZED (
  SELECT doc_id, text, tkn,
         CAST(length(array_to_string(tkn, ' ')) AS BIGINT) AS chars
  FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x <> '') AS tkn
        FROM planted)
  WHERE len(tkn) > 0
),
lines AS (
  SELECT doc_id, ln
  FROM (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS ln
        FROM base)
  WHERE trim(ln) <> ''
),
pl AS (SELECT doc_id, ln, CAST(COUNT(*) AS BIGINT) AS c FROM lines GROUP BY 1, 2),
ls AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_lines,
         CAST(SUM(c) - COUNT(*) AS BIGINT) AS ndup,
         CAST(SUM(c * length(ln)) AS BIGINT) AS lchars,
         CAST(SUM((c - 1) * length(ln)) AS BIGINT) AS dchars
  FROM pl GROUP BY 1
),
g2 AS (
  SELECT doc_id, array_to_string(tkn[i:i+1], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 1, 1)) AS i
        FROM base WHERE len(tkn) >= 2)
),
gc2 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2),
best2 AS (SELECT doc_id, min({'negc': -c, 'g': g}) AS b FROM gc2 GROUP BY 1),
tm AS (SELECT doc_id, CAST((-b.negc) * length(b.g) AS BIGINT) AS m2 FROM best2),
g6 AS (
  SELECT doc_id, array_to_string(tkn[i:i+5], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 5, 1)) AS i
        FROM base WHERE len(tkn) >= 6)
),
d6 AS (
  SELECT doc_id, CAST(SUM(c * length(g)) AS BIGINT) AS dm
  FROM (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g6 GROUP BY 1, 2)
  WHERE c > 1 GROUP BY 1
),
g8 AS (
  SELECT doc_id, array_to_string(tkn[i:i+7], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 7, 1)) AS i
        FROM base WHERE len(tkn) >= 8)
),
d8 AS (
  SELECT doc_id, CAST(SUM(c * length(g)) AS BIGINT) AS dm
  FROM (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g8 GROUP BY 1, 2)
  WHERE c > 1 GROUP BY 1
),
g10 AS (
  SELECT doc_id, array_to_string(tkn[i:i+9], ' ') AS g
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 9, 1)) AS i
        FROM base WHERE len(tkn) >= 10)
),
d10 AS (
  SELECT doc_id, CAST(SUM(c * length(g)) AS BIGINT) AS dm
  FROM (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g10 GROUP BY 1, 2)
  WHERE c > 1 GROUP BY 1
)
SELECT b.doc_id, ls.n_lines,
       CAST((ndup * 1000000) // n_lines AS BIGINT) AS dup_line_ppm,
       CAST(CASE WHEN lchars > 0 THEN (dchars * 1000000) // lchars
                 ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
       CAST(coalesce((m2 * 1000000) // chars, 0) AS BIGINT) AS top2_gram_ppm,
       CAST(coalesce((d6.dm * 1000000) // chars, 0) AS BIGINT) AS dup6_gram_ppm,
       CAST(coalesce((d8.dm * 1000000) // chars, 0) AS BIGINT) AS dup8_gram_ppm,
       CAST(coalesce((d10.dm * 1000000) // chars, 0) AS BIGINT) AS dup10_gram_ppm
FROM base b
JOIN ls USING (doc_id)
LEFT JOIN tm USING (doc_id)
LEFT JOIN d6 USING (doc_id)
LEFT JOIN d8 USING (doc_id)
LEFT JOIN d10 USING (doc_id)
"""
query("repetition_screen_para", _repetition_screen_para, _REPETITION_PARA_SQL)


_DOMAIN_BLOCKLIST = ["site3.com", "site5.org", "cdn.site2.net"]


def _domain_filter(spark, sf):
    """URL/domain blocklist + per-domain caps (operators/domains.py):
    the filter every corpus pass runs before text-quality screens.
    The sf corpus has no URL column, so one is planted from doc_id —
    scheme, optional userinfo (mod 17), cdn./www. subdomains (mod 5),
    21 site.tld registrable domains, optional :8080 port (mod 11) —
    so host extraction, multi-level suffix match (cdn.site2.net only
    blocks the cdn subdomain), and the 20-per-domain cap all fire on
    real rows."""
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(did % 17 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("cdn."))
        .when(did % 5 == 1, F.lit("www."))
        .otherwise(F.lit("")),
        F.lit("site"),
        (did % 7).cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("org"), F.lit("net")),
            (did % 3).cast("int") + 1,
        ),
        F.when(did % 11 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/page/"),
        did.cast("string"),
    )
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet")).select(
        "doc_id", url.alias("url")
    )
    bl = local_frame(spark, [(s,) for s in _DOMAIN_BLOCKLIST], "suffix: string")
    return domain_filter(d, bl)


_DOMAIN_FILTER_SQL = """
WITH u AS MATERIALIZED (
  SELECT doc_id,
    'https://' ||
    CASE WHEN doc_id % 17 = 0 THEN 'user:pw@' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN 'cdn.'
         WHEN doc_id % 5 = 1 THEN 'www.' ELSE '' END ||
    'site' || CAST(doc_id % 7 AS VARCHAR) || '.' ||
    (['com', 'org', 'net'])[CAST(doc_id % 3 AS INT) + 1] ||
    CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END ||
    '/page/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
h AS MATERIALIZED (
  SELECT doc_id,
         lower(regexp_extract(url,
           '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)',
           1)) AS host
  FROM u
),
d1 AS MATERIALIZED (
  SELECT doc_id, host,
         array_to_string(parts[greatest(len(parts) - 1, 1):], '.') AS domain,
         list_sort(list_filter(
           list_transform(generate_series(1, len(parts)),
                          i -> array_to_string(parts[i:], '.')),
           s -> list_contains(['site3.com', 'site5.org', 'cdn.site2.net'], s)
         )) AS ms
  FROM (SELECT doc_id, host, string_split(host, '.') AS parts FROM h)
),
d2 AS MATERIALIZED (
  SELECT doc_id, host, domain,
         len(ms) > 0 AS blocked,
         CASE WHEN len(ms) > 0 THEN ms[1] END AS matched
  FROM d1
),
rk AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS r
  FROM d2 WHERE NOT blocked
)
SELECT d2.doc_id, host, domain, blocked,
       (NOT blocked AND coalesce(r, 0) <= 20) AS keep,
       CASE WHEN blocked THEN 'blocked:' || matched
            WHEN r > 20 THEN 'over_cap'
            ELSE '' END AS reason
FROM d2 LEFT JOIN rk USING (doc_id)
"""
query("domain_filter", _domain_filter, _DOMAIN_FILTER_SQL)


def _pii_planted_text(did: Column, text: Column) -> Column:
    """Deterministic PII planting (the sf corpus contains none): every
    doc_id mod-7 class gets a different kind appended, class 4 gets
    two — so each pattern and the multi-PII path are exercised."""
    email = F.concat(
        F.lit(" reach me at user"), did.cast("string"), F.lit("@example.com")
    )
    phone = F.concat(
        F.lit(" call 415-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from 192.168."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
    )
    ssn = F.concat(
        F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")
    )
    return (
        F.when(did % 7 == 0, F.concat(text, email))
        .when(did % 7 == 1, F.concat(text, phone))
        .when(did % 7 == 2, F.concat(text, ip))
        .when(did % 7 == 3, F.concat(text, ssn))
        .when(did % 7 == 4, F.concat(text, email, phone))
        .otherwise(text)
    )


def _pii_redact(spark, sf):
    """PII detection + redaction (operators/pii.py): per-doc counts by
    kind + byte-identical redacted text, over deterministically
    planted emails/phones/IPs/SSNs. Pure narrow map (codegen regex
    chain, zero shuffles); the oracle replays the literal same RE2-
    safe patterns."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    planted = d.select(
        "doc_id",
        _pii_planted_text(F.col("doc_id"), F.col("text")).alias("text"),
    )
    return redact_pii(planted)


_PII_PLANT_BLOCK = """
planted AS (
  SELECT doc_id,
         CASE CAST(doc_id % 7 AS INT)
           WHEN 0 THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR)
                       || '@example.com'
           WHEN 1 THEN text || ' call 415-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 2 THEN text || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
           WHEN 3 THEN text || ' ssn 123-45-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 4 THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR)
                       || '@example.com' || ' call 415-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE text END AS t0
  FROM documents
)"""


def _pii_count_steps() -> tuple[str, str]:
    """The sequential count-then-redact CTE chain over planted.t0;
    returns (joined steps SQL, final-text alias)."""
    steps, prev = [], "t0"
    for i, (kind, pattern, token) in enumerate(PII_PATTERNS):
        cur = f"t{i + 1}"
        src = "planted" if i == 0 else f"s{i - 1}"
        steps.append(
            f"s{i} AS (SELECT *,\n"
            f"  CAST(coalesce(len(regexp_extract_all({prev}, '{pattern}')), 0)"
            f" AS BIGINT) AS n_{kind},\n"
            f"  regexp_replace({prev}, '{pattern}', '{token}', 'g') AS {cur}\n"
            f"  FROM {src})"
        )
        prev = cur
    return ",\n".join(steps), prev


def _pii_sql() -> str:
    steps, final = _pii_count_steps()
    total = " + ".join(f"n_{kind}" for kind, _, _ in PII_PATTERNS)
    names = ", ".join(f"n_{kind}" for kind, _, _ in PII_PATTERNS)
    return (
        "WITH "
        + _PII_PLANT_BLOCK
        + ",\n"
        + steps
        + f"""
SELECT doc_id, {names}, {total} AS n_pii, {final} AS redacted
FROM s{len(PII_PATTERNS) - 1}
"""
    )


_PII_REDACT_SQL = _pii_sql()
query("pii_redact", _pii_redact, _PII_REDACT_SQL)


def _quality_gate(spark, sf):
    """Composite curation gate — the CCNet/Gopher-style keep/drop
    decision chaining this repo's quality screens over one corpus
    (the PII-planted variant, so every rule fires on real rows):
    'pii_heavy' (>= 2 PII hits), 'repetitive' (top-2-gram char mass
    >= 120000 ppm — fires on ~9%% of the fixture), 'too_short'
    (< 30 tokens — ~21%%). Output keeps the signal columns plus the
    ordered reason list so downstream can audit every drop. Pure
    composition of operators/pii.py + operators/repetition.py —
    still narrow maps + per-doc aggregations, no new shuffle class."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    planted = d.select(
        "doc_id",
        _pii_planted_text(F.col("doc_id"), F.col("text")).alias("text"),
    )
    # one materialized planted-text scan shared by the three branches
    # (base/pii/repetition) — each otherwise re-reads the parquet and
    # re-runs the planting projection end-to-end
    planted = planted.localCheckpoint(eager=False)
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != F.lit("")
    )
    base = planted.select(
        "doc_id", F.size(toks).cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    pii = redact_pii(planted).select("doc_id", "n_pii")
    rep = repetition_screen(planted).select("doc_id", "top2_gram_ppm")
    j = base.join(pii, "doc_id").join(rep, "doc_id")
    reasons = F.filter(
        F.array(
            F.when(F.col("n_pii") >= 2, F.lit("pii_heavy")),
            F.when(F.col("top2_gram_ppm") >= 120000, F.lit("repetitive")),
            F.when(F.col("n_tokens") < 30, F.lit("too_short")),
        ),
        lambda x: x.isNotNull(),
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "n_pii",
        "top2_gram_ppm",
        F.concat_ws(",", reasons).alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


def _quality_gate_sql() -> str:
    steps, _final = _pii_count_steps()
    total = " + ".join(f"n_{kind}" for kind, _, _ in PII_PATTERNS)
    return (
        "WITH "
        + _PII_PLANT_BLOCK
        + ",\n"
        + steps
        + f""",
pii AS (SELECT doc_id, {total} AS n_pii FROM s{len(PII_PATTERNS) - 1}),
tk AS (
  SELECT doc_id, t0 AS text,
         list_filter(regexp_split_to_array(lower(trim(t0)), '\\s+'),
                     x -> x <> '') AS tkn
  FROM planted
),
base AS (
  SELECT doc_id, CAST(len(tkn) AS BIGINT) AS n_tokens, tkn,
         CAST(length(array_to_string(tkn, ' ')) AS BIGINT) AS chars
  FROM tk WHERE len(tkn) > 0
),
g AS (
  SELECT doc_id, array_to_string(tkn[i:i+1], ' ') AS gg
  FROM (SELECT doc_id, tkn, unnest(generate_series(1, len(tkn) - 1, 1)) AS i
        FROM base WHERE len(tkn) >= 2)
),
gc AS (SELECT doc_id, gg, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
best AS (SELECT doc_id, min({{'negc': -c, 'g': gg}}) AS b FROM gc GROUP BY 1),
rep AS (
  SELECT base.doc_id,
         CAST(coalesce((-b.b.negc) * length(b.b.g) * 1000000 // base.chars, 0)
              AS BIGINT) AS top2_gram_ppm
  FROM base LEFT JOIN best b ON b.doc_id = base.doc_id
),
j AS (
  SELECT base.doc_id, base.n_tokens, pii.n_pii, rep.top2_gram_ppm,
         list_filter([CASE WHEN pii.n_pii >= 2 THEN 'pii_heavy' END,
                      CASE WHEN rep.top2_gram_ppm >= 120000 THEN 'repetitive' END,
                      CASE WHEN base.n_tokens < 30 THEN 'too_short' END],
                     x -> x IS NOT NULL) AS rs
  FROM base JOIN pii USING (doc_id) JOIN rep USING (doc_id)
)
SELECT doc_id, n_tokens, n_pii, top2_gram_ppm,
       coalesce(array_to_string(rs, ','), '') AS reasons,
       len(rs) = 0 AS keep
FROM j
"""
    )


_QUALITY_GATE_SQL = _quality_gate_sql()
query("quality_gate", _quality_gate, _QUALITY_GATE_SQL)


def _stream_quality_screen(spark, sf):
    """The quality gate applied AT LANDING TIME: the same keep/drop
    decision as `quality_gate`, but as a streaming narrow map over a
    bounded replay of the documents table — fully STATELESS (PII
    regex chain + row-local top-gram expression, no explode/groupBy),
    so it needs no watermark, no state store, and composes in front
    of any ingest. Bit parity with the batch gate is the oracle: the
    output rows equal `quality_gate`'s exactly
    (repetition.top_gram_mass_cols replicates the groupBy argmax's
    count-DESC/gram-ASC rule row-locally)."""
    docs_schema = fan_out(spark.read.parquet(f"{sf}/documents.parquet")).schema
    stream_dir = tempfile.mkdtemp(prefix="stream_quality_docs_")
    os.symlink(
        os.path.abspath(f"{sf}/documents.parquet"),
        os.path.join(stream_dir, "documents.parquet"),
    )
    stream = spark.readStream.schema(docs_schema).parquet(stream_dir)
    planted = stream.select(
        "doc_id",
        _pii_planted_text(F.col("doc_id"), F.col("text")).alias("text"),
    )
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != F.lit("")
    )
    mass, chars = top_gram_mass_cols("text", n=2)
    _counts, n_pii, _red = pii_columns("text")
    base = planted.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        n_pii,
        mass.alias("_mass"),
        chars.alias("_chars"),
    ).where(F.col("n_tokens") > 0)
    scored = base.select(
        "doc_id",
        "n_tokens",
        "n_pii",
        F.expr("coalesce((_mass * 1000000L) div _chars, 0L)").alias(
            "top2_gram_ppm"
        ),
    )
    reasons = F.filter(
        F.array(
            F.when(F.col("n_pii") >= 2, F.lit("pii_heavy")),
            F.when(F.col("top2_gram_ppm") >= 120000, F.lit("repetitive")),
            F.when(F.col("n_tokens") < 30, F.lit("too_short")),
        ),
        lambda x: x.isNotNull(),
    )
    out = scored.select(
        "doc_id",
        "n_tokens",
        "n_pii",
        "top2_gram_ppm",
        F.concat_ws(",", reasons).alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_quality_screen_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("stream_quality_screen_out")


_STREAM_QUALITY_SQL = _QUALITY_GATE_SQL
query("stream_quality_screen", _stream_quality_screen, _STREAM_QUALITY_SQL)


def _text_fingerprint(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return d.select("doc_id", doc_fingerprint("text").alias("fp"))


_FP_SQL = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""
query("text_fingerprint", _text_fingerprint, _FP_SQL)


def _extract_regex(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(r"batch (\w+)"), F.lit(1))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EXTRACT_SQL = """
SELECT tok, COUNT(*) AS n
FROM (SELECT UNNEST(regexp_extract_all(text, 'batch (\\w+)', 1)) AS tok FROM documents)
GROUP BY tok
"""
query("extract_regex", _extract_regex, _EXTRACT_SQL)


def _lm_bigram_score(spark, sf):
    """CCNet-style LM quality scoring: every doc scored by its
    smoothed bigram transition probabilities under a model trained on
    the corpus itself (operators/lm.py). Integer fixed-point (ppm)
    throughout — no log()/float transcendentals, so the score is
    bit-reproducible and the oracle replays it exactly."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return score_documents(d)


_LM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vs FROM uni),
trans AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) < 2 THEN [CAST(NULL AS VARCHAR)]
                     ELSE ws[1:len(ws)-1] END) AS w1,
         unnest(CASE WHEN len(ws) < 2 THEN [CAST(NULL AS VARCHAR)]
                     ELSE ws[2:len(ws)] END) AS w2
  FROM toks
),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM trans WHERE w1 IS NOT NULL GROUP BY w1, w2
),
p AS (
  SELECT t.doc_id, t.w1,
         CASE WHEN t.w1 IS NULL THEN NULL
              ELSE ((COALESCE(b.c2, 0) + 1) * 1000000) // (u.c1 + v.vs) END
           AS p_ppm
  FROM trans t
  LEFT JOIN bi b ON t.w1 = b.w1 AND t.w2 = b.w2
  LEFT JOIN uni u ON t.w1 = u.w
  CROSS JOIN v
)
SELECT doc_id,
       CAST(COUNT(w1) AS BIGINT) AS n_trans,
       CASE WHEN COUNT(w1) > 0
            THEN CAST(SUM(p_ppm) // COUNT(w1) AS BIGINT) END AS avg_prob_ppm,
       CAST(MIN(p_ppm) AS BIGINT) AS min_prob_ppm
FROM p GROUP BY doc_id
"""
query("lm_bigram_score", _lm_bigram_score, _LM_SCORE_SQL)


def _tfidf_terms(spark, sf):
    """Integer-exact tf·idf surrogate: top-3 most distinctive tokens
    per document (operators/fulltext.py tfidf_top_terms)."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return tfidf_top_terms(d, k=3)


_TFIDF_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, token, tf, df, score_u FROM (
  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         CAST(tf.tf * ((n.n_docs * 1000000) // dfq.df) AS BIGINT) AS score_u,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ((n.n_docs * 1000000) // dfq.df) DESC, tf.token
         ) AS rn
  FROM tf JOIN dfq USING (token), n
) WHERE rn <= 3
"""
query("tfidf_terms", _tfidf_terms, _TFIDF_SQL)


def _cooccurrence(spark, sf):
    """Term co-occurrence with integer lift (operators/cooccur.py):
    which tokens appear together above chance — the association-mining
    base signal for KG relation discovery, log-free so it hashes
    identically cross-engine."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return cooccurrence_lift(d, min_count=5)


_COOCCURRENCE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                   x -> x <> '')) AS ts
  FROM documents
),
ok AS (SELECT doc_id, ts FROM toks WHERE len(ts) BETWEEN 1 AND 200),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM ok),
term AS (SELECT doc_id, UNNEST(ts) AS t FROM ok),
nt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM term GROUP BY t),
p AS (
  SELECT a.t AS term_a, b.t AS term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM term a JOIN term b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT term_a, term_b, n_ab, na.n AS n_a, nb.n AS n_b,
       n_ab * (SELECT nd FROM n) * 1000000 // (na.n * nb.n) AS lift_ppm
FROM p JOIN nt na ON na.t = p.term_a JOIN nt nb ON nb.t = p.term_b
"""
query("cooccurrence_lift", _cooccurrence, _COOCCURRENCE_SQL)


def _quote_containment(spark, sf):
    """Quote detection (operators/contamination.py containment_pairs):
    landing-batch docs whose 3-gram sets are ≥50% contained in some
    at-rest corpus document — the asymmetric screen that catches a
    short doc quoted inside a long one where Jaccard stays near 0."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    # the n-gram df cap (contamination.MAX_NGRAM_DF = 500) is inert at
    # the oracle scales (corpus ≤ 450 docs at sf0.01, so no n-gram can
    # exceed it — results stay oracle-exact) but live at bench sf0.1+,
    # where ubiquitous trigrams would otherwise quadratically inflate
    # the candidate join
    return containment_pairs(
        d.where(F.col("doc_id") % 10 == 0),
        d.where(F.col("doc_id") % 10 != 0),
        n=3,
        min_ppm=500_000,
    )


_QUOTE_CONTAINMENT_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i, i + 2), ' ') AS ng
  FROM (SELECT doc_id, tk, UNNEST(generate_series(1, len(tk) - 2, 1)) AS i
        FROM toks WHERE len(tk) >= 3)
),
l AS (SELECT * FROM ng WHERE doc_id % 10 = 0),
r AS (SELECT * FROM ng WHERE doc_id % 10 <> 0),
tot AS (SELECT doc_id AS lid, CAST(COUNT(*) AS BIGINT) AS n_left FROM l GROUP BY 1),
sh AS (SELECT l.doc_id AS lid, r.doc_id AS rid, CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM l JOIN r USING (ng) GROUP BY 1, 2)
SELECT lid, rid, n_shared, n_left,
       n_shared * 1000000 // n_left AS containment_ppm
FROM sh JOIN tot USING (lid)
WHERE n_shared * 1000000 // n_left >= 500000
"""
query("quote_containment", _quote_containment, _QUOTE_CONTAINMENT_SQL)


def _contamination(spark, sf):
    """Benchmark-contamination screen (operators/contamination.py):
    docs with doc_id % 13 == 0 act as the held-out benchmark set;
    every other doc is scored by distinct word-3-gram overlap ppm
    (3-grams here so the small corpus yields a rich result set;
    production screens use n=8..13 via the same parameter)."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return ngram_contamination(
        d.where(F.col("doc_id") % 13 != 0), d.where(F.col("doc_id") % 13 == 0), n=3
    )


_CONTAMINATION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(tk, i, i + 2), ' ') AS ng
  FROM (SELECT doc_id, tk, UNNEST(generate_series(1, len(tk) - 2, 1)) AS i
        FROM toks WHERE len(tk) >= 3)
),
d AS (SELECT * FROM ng WHERE doc_id % 13 <> 0),
p AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 13 = 0),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_total FROM d GROUP BY 1),
hit AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM d JOIN p USING (ng) GROUP BY 1)
SELECT doc_id, n_hit, n_total,
       n_hit * 1000000 // n_total AS contam_ppm
FROM hit JOIN tot USING (doc_id)
"""
query("contamination", _contamination, _CONTAMINATION_SQL)


def _lang_id(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return d.select("doc_id", language_id("text").alias("lang_pred"))


def _lang_id_oracle_sql() -> str:
    structs = ",\n    ".join(
        "{'score': len(list_filter(toks, x -> list_contains("
        + repr(sw).replace('"', "'")
        + f", x))), 'lang': '{lang}'}}"
        for lang, sw in sorted(LANG_STOPWORDS.items())
    )
    return f"""
SELECT doc_id, CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred
FROM (
  SELECT doc_id, list_max([
    {structs}
  ]) AS best
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents)
)
"""
query("lang_id", _lang_id, _lang_id_oracle_sql())
