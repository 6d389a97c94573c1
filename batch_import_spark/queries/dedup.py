"""Deduplication: exact, grouped, incremental and streaming dedup,
MinHash/SimHash/n-gram near-dups, fuzzy matching, entity resolution,
and the chunk-level fingerprints (CDC, rolling hash, winnowing)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from batch_import_spark.functions.text import rolling_fingerprint
from batch_import_spark.operators.canonicalize import connected_components
from batch_import_spark.operators.crossdoc import remove_repeated_substrings
from batch_import_spark.operators.dedup import (
    SIMHASH_BITS,
    duplicate_groups,
    exact_dedup,
    minhash_near_duplicates,
    near_dup_resolution,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    winnowing_sketch,
)
from batch_import_spark.operators.fuzzy import fuzzy_join_ed1
from batch_import_spark.operators.packing import cdc_chunks
from batch_import_spark.queries.common import query
from batch_import_spark.session import fan_out
from batch_import_spark.streaming.dedup_stream import (
    content_fingerprint,
    streaming_exact_dedup,
)


def _dedup_exact(spark, sf):
    d = spark.read.parquet(f"{sf}/documents.parquet")
    fp = F.md5(F.substring(F.col("text"), 1, 20))
    return exact_dedup(d, fp).select("doc_id")


_DEDUP_SQL = """
SELECT doc_id FROM documents d
WHERE doc_id = (SELECT MIN(doc_id) FROM documents d2
                WHERE md5(substr(d2.text, 1, 20)) = md5(substr(d.text, 1, 20)))
"""
query("dedup_exact", _dedup_exact, _DEDUP_SQL)


def _dedup_groups(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    fp = F.md5(F.substring(F.col("text"), 1, 12))
    return duplicate_groups(d, fp).select("fp", "n_dups", "keeper_id")


_DEDUPG_SQL = """
SELECT md5(substr(text, 1, 12)) AS fp, COUNT(*) AS n_dups, MIN(doc_id) AS keeper_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""
query("dedup_groups", _dedup_groups, _DEDUPG_SQL)


def _cdc_chunks(spark, sf):
    """Content-defined chunking (operators/packing.py cdc_chunks):
    Rabin-style cuts where the 8-gram hash % 32 == 0 — boundaries
    move with the content, so chunk-level dedup survives insertions.
    Zero-shuffle narrow map; the oracle replays the identical cut
    rule with list functions."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return cdc_chunks(d, "doc_id", "text", gram=8, mask=32)


_CDC_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
  FROM documents
),
c AS (
  SELECT doc_id, s,
         list_prepend(1,
           CASE WHEN length(s) - 7 >= 2 THEN
             list_filter(generate_series(2, length(s) - 7),
               i -> (('0x' || substr(md5(substr(s, i, 8)), 1, 15))::BIGINT)
                    % 32 = 0)
           ELSE [] END) AS starts
  FROM t
)
SELECT doc_id,
       i AS chunk_idx,
       CAST(COALESCE(starts[i + 2], length(s) + 1) - starts[i + 1] AS BIGINT)
         AS chunk_len,
       md5(substr(s, starts[i + 1],
                  COALESCE(starts[i + 2], length(s) + 1) - starts[i + 1]))
         AS chunk_md5
FROM c, unnest(generate_series(0, len(starts) - 1)) AS u(i)
"""
query("cdc_chunks", _cdc_chunks, _CDC_SQL)


def _crossdoc_substring_removal(spark, sf):
    """Cross-doc repeated-substring removal (operators/crossdoc.py):
    CDC chunks shared by >= 2 distinct docs are cut from every doc
    (Lee et al. exact-substring dedup at chunk grain). The fixture
    corpus repeats ~300 chunk fingerprints across docs naturally, so
    every output column is exercised on real rows."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return remove_repeated_substrings(d)


_CROSSDOC_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
  FROM documents
),
c AS (
  SELECT doc_id, s,
         list_prepend(1,
           CASE WHEN length(s) - 7 >= 2 THEN
             list_filter(generate_series(2, length(s) - 7),
               i -> (('0x' || substr(md5(substr(s, i, 8)), 1, 15))::BIGINT)
                    % 32 = 0)
           ELSE [] END) AS starts
  FROM t WHERE length(s) > 0
),
ch AS (
  SELECT doc_id, i AS chunk_idx,
         substr(s, starts[i + 1],
                COALESCE(starts[i + 2], length(s) + 1) - starts[i + 1]) AS chunk,
         CAST(COALESCE(starts[i + 2], length(s) + 1) - starts[i + 1] AS BIGINT)
           AS chunk_len,
         md5(substr(s, starts[i + 1],
                    COALESCE(starts[i + 2], length(s) + 1) - starts[i + 1]))
           AS chunk_md5,
         strpos(substr(s, greatest(starts[i + 1] - 8, 1),
                       (COALESCE(starts[i + 2], length(s) + 1)
                        - starts[i + 1]) + 16), chr(31)) > 0 AS near_sentinel
  FROM c, unnest(generate_series(0, len(starts) - 1)) AS u(i)
),
rep AS (
  SELECT chunk_md5
  FROM (SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd FROM ch
        WHERE NOT near_sentinel GROUP BY 1)
  WHERE nd >= 2
),
fl AS (
  SELECT ch.*, (rep.chunk_md5 IS NOT NULL) AS is_rep
  FROM ch LEFT JOIN rep ON ch.chunk_md5 = rep.chunk_md5
),
ag AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(chunk_len) AS BIGINT) AS chars,
         CAST(SUM(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(SUM(CASE WHEN is_rep THEN 0 ELSE chunk_len END) AS BIGINT)
           AS kept_chars,
         string_agg(CASE WHEN is_rep THEN chr(31) ELSE chunk END,
                    '' ORDER BY chunk_idx) AS raw
  FROM fl GROUP BY doc_id
)
SELECT doc_id, n_chunks, n_removed,
       CAST(((chars - kept_chars) * 1000000) // chars AS BIGINT)
         AS removed_ppm,
       regexp_replace(
         regexp_replace(raw, chr(31) || '+', chr(31), 'g'),
         '^' || chr(31) || '|' || chr(31) || '$', '', 'g') AS cleaned
FROM ag
"""
query("crossdoc_substring_removal", _crossdoc_substring_removal, _CROSSDOC_SQL)


def _rolling_fingerprint(spark, sf):
    """Rabin polynomial rolling-hash fingerprints (functions/text.py
    rolling_fingerprint): full-doc hash + 64-char-prefix hash, pure
    integer fold — the extendable/content-defined-chunking companion
    to the md5 digest fingerprint. Oracle replays the identical
    (acc*B + byte) mod P fold."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return d.select(
        "doc_id",
        rolling_fingerprint("text").alias("rabin_hash"),
        rolling_fingerprint("text", prefix_len=64).alias("rabin_prefix64"),
    )


_ROLLING_FP_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
  FROM documents
)
SELECT doc_id,
       CASE WHEN length(s) = 0 THEN 0 ELSE list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, length(s)),
                          i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
         (acc, x) -> (acc * 257 + x) % 999999999999989) END AS rabin_hash,
       CASE WHEN length(s) = 0 THEN 0 ELSE list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, least(length(s), 64)),
                          i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
         (acc, x) -> (acc * 257 + x) % 999999999999989) END AS rabin_prefix64
FROM t
"""
query("rolling_fingerprint", _rolling_fingerprint, _ROLLING_FP_SQL)


def _winnowing_sketch(spark, sf):
    """Winnowing (MOSS) positional fingerprints per document
    (operators/dedup.py winnowing_sketch): window-min selection over
    char-8-gram hashes, window 4 — guarantees shared substrings of
    length >= 11 share a fingerprint. Oracle replays the identical
    window-min + XOR-register arithmetic."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return winnowing_sketch(d, "doc_id", "text", k=8, window=4)


_WINNOWING_SQL = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
g0 AS (
  SELECT doc_id, t,
         unnest(generate_series(1, length(t) - 7)) AS pos
  FROM norm
),
g AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(substr(t, pos, 8)), 1, 15))::BIGINT AS h
  FROM g0
),
w AS (
  SELECT doc_id, pos,
         min({'h': h, 'np': -pos})
           OVER (PARTITION BY doc_id ORDER BY pos
                 RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
  FROM g
),
sel AS (SELECT DISTINCT doc_id, (wmin).h AS h FROM w WHERE pos >= 4),
cnts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
sk AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
         CAST(bit_xor(h) AS BIGINT) AS sketch_xor
  FROM sel GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(c.n_grams, 0) AS n_grams,
       COALESCE(s.n_selected, 0) AS n_selected,
       COALESCE(s.sketch_xor, 0) AS sketch_xor
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN cnts c USING (doc_id)
LEFT JOIN sk s USING (doc_id)
"""
query("winnowing_sketch", _winnowing_sketch, _WINNOWING_SQL)


def _fuzzy_names(spark, sf):
    """Edit-distance ≤1 self-join on customer names via deletion
    neighborhoods (operators/fuzzy.py) — an equi-join plan; the DuckDB
    oracle is the quadratic cross join the operator avoids."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet")).select("c_custkey", "c_name")
    out = fuzzy_join_ed1(c, c, "c_name", "c_name", "c_custkey", "c_custkey")
    return out.where(F.col("c_custkey_l") < F.col("c_custkey_r")).select(
        F.col("c_custkey_l").alias("custkey_a"),
        F.col("c_custkey_r").alias("custkey_b"),
        "distance",
    )


_FUZZY_SQL = """
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""
query("fuzzy_name_match", _fuzzy_names, _FUZZY_SQL)


def _dedup_incremental(spark, sf):
    """Incremental-ingest dedup: a landing batch (doc_id % 10 == 0)
    anti-joined against the at-rest corpus's fingerprint set — the
    composition a continuously-fed pipeline runs per delivery
    (operators/dedup.py grain + left_anti). Returns surviving new
    doc ids."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    fp = F.md5(F.col("text"))
    incoming = d.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", fp.alias("fp")
    )
    existing = d.where(F.col("doc_id") % 10 != 0).select(fp.alias("fp")).distinct()
    return incoming.join(existing, "fp", "left_anti").select("doc_id")


_DEDUP_INCREMENTAL_SQL = """
SELECT n.doc_id FROM documents n
WHERE n.doc_id % 10 = 0
  AND NOT EXISTS (
    SELECT 1 FROM documents e
    WHERE e.doc_id % 10 <> 0 AND md5(e.text) = md5(n.text)
  )
"""
query("dedup_incremental", _dedup_incremental, _DEDUP_INCREMENTAL_SQL)


def _entity_resolution(spark, sf):
    """Entity resolution composite: fuzzy ed≤1 name pairs
    (deletion-neighborhood equi-join) → connected components → every
    record mapped to its component's min id (singletons to
    themselves). Customer names are digit-strings, so the ≤300-key
    universe forms ONE edit-connected family — deliberately kept: the
    oracle must propagate the min through a 300-node component
    (transitive-closure stress), not just local pairs."""
    c = (
        fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
        .where(F.col("c_custkey") <= 300)
        .select("c_custkey", "c_name")
    )
    pairs = fuzzy_join_ed1(c, c, "c_name", "c_name", "c_custkey", "c_custkey")
    edges = pairs.where(F.col("c_custkey_l") < F.col("c_custkey_r")).select(
        F.col("c_custkey_l").alias("u"), F.col("c_custkey_r").alias("v")
    )
    cc = connected_components(edges)
    return c.join(
        cc, c["c_custkey"] == cc["node_id"], "left"
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.coalesce(F.col("component_id"), F.col("c_custkey")).alias("canonical"),
    )


_ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE
c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 300),
p AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
e AS (
  SELECT ka AS a, kb AS b FROM p
  UNION SELECT kb, ka FROM p
  UNION SELECT ka, ka FROM p
  UNION SELECT kb, kb FROM p
),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)
SELECT cc.c_custkey AS custkey,
       COALESCE(m.canon, cc.c_custkey) AS canonical
FROM c cc
LEFT JOIN (SELECT a, MIN(b) AS canon FROM reach GROUP BY a) m
  ON m.a = cc.c_custkey
"""
query("entity_resolution", _entity_resolution, _ENTITY_RESOLUTION_SQL)


def _stream_dedup(spark, sf):
    """Streaming exact dedup (streaming/dedup_stream.py,
    dropDuplicatesWithinWatermark) over a bounded replay of the
    documents table, rolled up per source. Which duplicate survives a
    single micro-batch is engine-internal, so the oracle-stable output
    is the per-source surviving-key count — equal to batch
    COUNT(DISTINCT fingerprint)."""
    docs_schema = fan_out(spark.read.parquet(f"{sf}/documents.parquet")).schema
    stream_dir = tempfile.mkdtemp(prefix="stream_dedup_docs_")
    os.symlink(
        os.path.abspath(f"{sf}/documents.parquet"),
        os.path.join(stream_dir, "documents.parquet"),
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .parquet(stream_dir)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 60)
        )
        .withColumn("fp", content_fingerprint("text"))
    )
    deduped = streaming_exact_dedup(stream, ["source", "fp"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table("stream_dedup_out")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


_STREAM_DEDUP_SQL = """
SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
FROM documents GROUP BY source
"""
query("stream_dedup", _stream_dedup, _STREAM_DEDUP_SQL)


# --- near-dup queries with brute-force DuckDB oracles -------------------------
#
# All 25 near-dup pairs in the test corpus sit at Jaccard ≥ 0.9 with a
# clean gap below 0.3, so at threshold 0.8 the LSH banding (32 hashes ×
# 16 bands = 2 rows/band: per-pair miss ≤ (1-0.9²)^16 ≈ 3e-12) recalls
# the exact set; the query's exact-Jaccard verification then makes its
# output literally equal to the oracle's brute-force pair set.


def _minhash_near_dups(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return minhash_near_duplicates(d, num_hashes=32, num_bands=16, threshold=0.8)


_MINHASH_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
           THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN generate_series(1, len(t)-2)])
           ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
"""
query("minhash_near_dups", _minhash_near_dups, _MINHASH_SQL)


def _near_dup_resolution(spark, sf):
    """End-to-end near-dup curation: minhash pair generation → true
    connected-components clustering (similarity is not transitive) →
    min-id keeper per cluster. The oracle brute-forces the pair graph
    and takes its transitive closure with a recursive CTE."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    pairs = minhash_near_duplicates(d, threshold=0.8, num_hashes=32, num_bands=16)
    return near_dup_resolution(pairs)


_NEAR_DUP_RESOLUTION_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
           THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN generate_series(1, len(t)-2)])
           ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
),
e AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION SELECT id_b, id_a FROM p
  UNION SELECT id_a, id_a FROM p
  UNION SELECT id_b, id_b FROM p
),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)
SELECT a AS doc_id, MIN(b) AS keeper, MIN(b) = a AS is_kept
FROM reach GROUP BY a
"""
query("near_dup_resolution", _near_dup_resolution, _NEAR_DUP_RESOLUTION_SQL)


def _simhash_near_dups(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    # max_hamming=3 + 4-block pigeonhole index ⇒ the output is the
    # EXACT hamming≤3 pair set — the oracle recomputes the 60-bit
    # md5-based SimHash independently and brute-forces all pairs
    return simhash_near_duplicates(d, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _simhash_oracle_sql() -> str:
    wsums = ",\n    ".join(
        f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS w{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN w{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS th FROM tok),
w AS (SELECT doc_id, {wsums} FROM th GROUP BY doc_id),
sig0 AS (SELECT doc_id, ({sig}) AS sig FROM w),
sig AS (
  SELECT d.doc_id, COALESCE(s.sig, 0)::BIGINT AS sig
  FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""
query("simhash_near_dups", _simhash_near_dups, _simhash_oracle_sql())


def _ngram_jaccard(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return ngram_jaccard_pairs(d, ngram_chars=5, threshold=0.7)


# the oracle replicates BOTH the length-bucket blocking and the exact
# n-gram Jaccard, so the blocked query's output is its closed form
_NGRAM_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(FLOOR(length(text) / 32) AS INT) AS blk,
         CASE WHEN len(norm) >= 5
           THEN list_distinct([substr(norm, i, 5) FOR i IN generate_series(1, len(norm)-4)])
           ELSE [norm] END AS ng
  FROM (SELECT doc_id, text, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.ng, b.ng))::DOUBLE / len(list_distinct(list_concat(a.ng, b.ng))), 6) AS jaccard
FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.ng, b.ng))::DOUBLE / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.7
"""
query("ngram_jaccard", _ngram_jaccard, _NGRAM_SQL)
