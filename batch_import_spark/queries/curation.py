"""Curation and sampling: hash/mixture/stratified samples,
temperature mixtures, DSIR (batch and streaming), exact k-means,
curriculum and z-order layouts, split leakage, chunking and sequence
packing, and the composed curation pipeline."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from batch_import_spark.functions.text import (
    LANG_STOPWORDS,
    language_id,
    token_count as text_token_count,
)
from batch_import_spark.operators.dsir import (
    dsir_lambda_map,
    dsir_select,
    hashed_ngram_counts,
)
from batch_import_spark.operators.kmeans import cluster_balanced_sample, kmeans_clusters
from batch_import_spark.operators.layout import zorder_key
from batch_import_spark.operators.lm import _adjacent_pairs, _words
from batch_import_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
    pack_sequences_global,
    token_count,
)
from batch_import_spark.operators.sampling import (
    curriculum_order,
    hash_sample,
    mixture_sample,
    split_leakage_audit,
    stratified_sample_k,
    temperature_mixture,
)
from batch_import_spark.operators.sketches import portable_hash60
from batch_import_spark.queries.common import _KEYED_H_SQL, _ilog2_ctes, query
from batch_import_spark.session import fan_out


def _zorder_layout(spark, sf):
    """Z-order clustering audit over the events table
    (operators/layout.py zorder_key): interleave (user_id, ts-minute)
    into a Morton key, bucket by its top 6 bits (64 z-quadrants —
    prospective files under an OPTIMIZE ZORDER layout), and report
    each bucket's row count and per-dimension min/max span. Tight
    per-bucket spans in BOTH dimensions are exactly what makes
    min/max data skipping prune scans filtered on either column —
    the property this query makes measurable and the oracle replays
    with identical shift/mask arithmetic."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    x = F.pmod(F.col("user_id"), F.lit(65536))
    y = F.pmod(
        F.floor(
            F.col("ts").cast("timestamp").cast("long") / F.lit(60)
        ).cast("long"),
        F.lit(65536),
    )
    keyed = e.select(
        x.alias("x"), y.alias("y"), zorder_key(x, y, 16).alias("zkey")
    )
    return (
        keyed.groupBy(
            F.shiftright(F.col("zkey"), 26).cast("int").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
        )
    )


def _zorder_layout_sql() -> str:
    bits = 16
    terms = []
    for b in range(bits):
        terms.append(f"(((x >> {b}) & 1) << {2 * b})")
        terms.append(f"(((y >> {b}) & 1) << {2 * b + 1})")
    return f"""
WITH k AS (
  SELECT user_id % 65536 AS x,
         CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 60) AS BIGINT)
           % 65536 AS y
  FROM events
),
z AS (SELECT x, y, ({' + '.join(terms)}) AS zkey FROM k)
SELECT CAST(zkey >> 26 AS INT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
FROM z GROUP BY 1
"""


_ZORDER_LAYOUT_SQL = _zorder_layout_sql()
query("zorder_layout", _zorder_layout, _ZORDER_LAYOUT_SQL)


def _curriculum_order(spark, sf):
    """Deterministic curriculum ordering (sampling.py
    curriculum_order): visit easy → hard length stages in sequence
    (fixed n_chars thresholds — engine-portable, unlike data-
    dependent quantiles) while decorrelating within each stage by
    the portable content hash; the reproducible training-order
    permutation a dataloader consumes."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    stage = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 300, 1)
        .otherwise(2)
    )
    return curriculum_order(d, stage)


_CURRICULUM_ORDER_SQL = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN n_chars < 150 THEN 0
              WHEN n_chars < 300 THEN 1 ELSE 2 END AS stage,
         ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM documents
)
SELECT doc_id, CAST(stage AS INT) AS stage,
       CAST(row_number() OVER (ORDER BY stage, h, doc_id) AS BIGINT)
         AS curriculum_rank
FROM s
"""
query("curriculum_order", _curriculum_order, _CURRICULUM_ORDER_SQL)


def _temperature_mixture(spark, sf):
    """Temperature-scaled domain-mixture weights (operators/
    sampling.py temperature_mixture): per-source sampling shares
    ∝ sqrt(n_docs) with a 100k-row budget allocation and the
    epochs-per-domain signal — the mixture-design table every
    multi-domain training run starts from. One count groupBy + one
    broadcast scalar join; shares/allocations BIGINT-exact."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return temperature_mixture(d, "source", token_budget=100_000)


_TEMPERATURE_MIXTURE_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
           AS w_scaled
  FROM counts
),
t AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS wsum FROM w)
SELECT source, n_docs, w_scaled,
       CAST((w_scaled * 1000000) // wsum AS BIGINT) AS share_ppm,
       CAST((100000 * w_scaled) // wsum AS BIGINT) AS alloc_docs,
       CAST((((100000 * w_scaled) // wsum) * 1000000) // n_docs AS BIGINT)
         AS epochs_ppm
FROM w CROSS JOIN t
"""
query("temperature_mixture", _temperature_mixture, _TEMPERATURE_MIXTURE_SQL)


# --- DSIR importance resampling ------------------------------------------

_DSIR_K = 100
_DSIR_BUCKETS = 128


def _dsir_select(spark, sf):
    """DSIR data selection (operators/dsir.py; Xie et al. 2023):
    hashed unigram+bigram bag features over 128 buckets, two add-one
    bag-of-buckets LMs (target = source 'src0' docs, raw = the rest),
    per-candidate importance weight Σ cnt_b·(log p_b − log q_b) in
    fixed-point integer log2 (the ilog2_fp kernel unigram shares),
    deterministic top-k by (weight DESC, doc_id). Reference analog:
    none — training-data selection surface."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return dsir_select(
        d, F.col("source") == "src0", k=_DSIR_K, n_buckets=_DSIR_BUCKETS
    )


def _dsir_base_sql() -> str:
    B = _DSIR_BUCKETS
    tb_il, tb_fin = _ilog2_ctes("tb", "cplus", "v", "bucket", "_p")
    rb_il, rb_fin = _ilog2_ctes("rb", "cplus", "v", "bucket", "_q")
    tt_il, tt_fin = _ilog2_ctes("ttot", "t", "v", "1 AS one", "_r")
    rt_il, rt_fin = _ilog2_ctes("rtot", "t", "v", "1 AS one", "_s")
    return f"""WITH toks AS MATERIALIZED (
  SELECT doc_id, source = 'src0' AS is_target,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS MATERIALIZED (
  SELECT doc_id, is_target, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, is_target, t[i] || ' ' || t[i + 1] AS gram
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
),
feats AS MATERIALIZED (
  SELECT doc_id, is_target,
         CAST(('0x' || substr(md5(gram), 1, 15))::BIGINT % {B} AS INT)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM grams GROUP BY 1, 2, 3
),
grid AS (SELECT CAST(unnest(generate_series(0, {B - 1})) AS INT) AS bucket),
tb AS MATERIALIZED (
  SELECT g.bucket, CAST(coalesce(s.c, 0) + 1 AS BIGINT) AS cplus
  FROM grid g LEFT JOIN (
    SELECT bucket, SUM(cnt) AS c FROM feats WHERE is_target GROUP BY 1
  ) s USING (bucket)
),
rb AS MATERIALIZED (
  SELECT g.bucket, CAST(coalesce(s.c, 0) + 1 AS BIGINT) AS cplus
  FROM grid g LEFT JOIN (
    SELECT bucket, SUM(cnt) AS c FROM feats WHERE NOT is_target GROUP BY 1
  ) s USING (bucket)
),
ttot AS (SELECT CAST(SUM(cplus) AS BIGINT) AS t FROM tb),
rtot AS (SELECT CAST(SUM(cplus) AS BIGINT) AS t FROM rb),
{tb_il},
{rb_il},
{tt_il},
{rt_il},
lam AS MATERIALIZED (
  SELECT p.bucket,
         (p.v - (SELECT v FROM {tt_fin}))
         - (q.v - (SELECT v FROM {rt_fin})) AS lam_fp
  FROM {tb_fin} p JOIN {rb_fin} q USING (bucket)
),
sel AS (
  SELECT f.doc_id, CAST(SUM(f.cnt) AS BIGINT) AS n_grams,
         CAST(SUM(f.cnt * l.lam_fp) AS BIGINT) AS weight_fp
  FROM feats f JOIN lam l USING (bucket)
  WHERE NOT f.is_target
  GROUP BY f.doc_id
)
"""


_DSIR_SELECT_SQL = (
    _dsir_base_sql()
    + f"""SELECT doc_id, n_grams, weight_fp,
       CAST(row_number() OVER (ORDER BY weight_fp DESC, doc_id ASC) AS INT)
         AS sel_rank
FROM sel
QUALIFY sel_rank <= {_DSIR_K}
"""
)
query("dsir_select", _dsir_select, _DSIR_SELECT_SQL)


def _stream_dsir_screen(spark, sf):
    """Landing-time DSIR screen: the frozen importance model — the
    128-row lambda table trained in BATCH on the same corpus — scores
    a bounded streaming replay of the documents table as a fully
    ROW-LOCAL expression: per doc, the gram array folds through
    element_at(lambda_literal, bucket(gram)) so the stream needs no
    shuffle, no state store, no watermark (the frozen-quantizer
    discipline of stream_ann_incremental, applied to data
    selection). Output rows equal batch ``dsir_weights`` exactly;
    the oracle is the batch weights SQL."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    tagged = d.withColumn("_is_target", F.col("source") == "src0")
    ff = hashed_ngram_counts(
        tagged, "doc_id", "text", _DSIR_BUCKETS, carry_cols=("_is_target",)
    ).localCheckpoint(eager=False)
    lam = dsir_lambda_map(ff, _DSIR_BUCKETS)  # bounded by contract
    lam_arr = F.lit([lam[b] for b in range(_DSIR_BUCKETS)]).cast(
        "array<bigint>"
    )

    stream_dir = tempfile.mkdtemp(prefix="stream_dsir_docs_")
    os.symlink(
        os.path.abspath(f"{sf}/documents.parquet"),
        os.path.join(stream_dir, "documents.parquet"),
    )
    stream = spark.readStream.schema(d.schema).parquet(stream_dir)
    toks = _words("text")
    bigrams = F.transform(
        _adjacent_pairs(toks), lambda s: F.concat_ws(" ", s["w1"], s["w2"])
    )
    grams = F.concat(toks, bigrams)

    def lam_of(g):
        return F.element_at(
            lam_arr,
            (F.pmod(portable_hash60(g), F.lit(_DSIR_BUCKETS)) + 1).cast(
                "int"
            ),
        )

    out = (
        stream.where(F.col("source") != "src0")
        .select(
            "doc_id",
            F.size(grams).cast("long").alias("n_grams"),
            F.aggregate(
                grams,
                F.lit(0).cast("long"),
                lambda acc, g: acc + lam_of(g),
            ).alias("weight_fp"),
        )
        .where(F.col("n_grams") > 0)
    )
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("stream_dsir_screen_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
    return spark.table("stream_dsir_screen_out")


_DSIR_WEIGHTS_SQL = (
    _dsir_base_sql() + "SELECT doc_id, n_grams, weight_fp FROM sel\n"
)
query("stream_dsir_screen", _stream_dsir_screen, _DSIR_WEIGHTS_SQL)


# --- Exact fixed-point k-means -------------------------------------------

_KMEANS_KW = dict(k=8, iters=2, scale=1000)
_KMEANS_SAMPLE = 20


def _kmeans_clusters(spark, sf):
    """Exact Lloyd k-means over the embeddings table
    (operators/kmeans.py): vectors quantized to integers once, k=8
    seeds = lowest vec_ids, 2 update rounds with floor(sum/count)
    centroids, then the per-cluster member count and integer inertia
    under the final assignment. Every arithmetic step is exact, so
    the DuckDB oracle replays the full clustering as chained
    MATERIALIZED CTEs (one per Lloyd round). Reference analog: none
    — embedding-curation surface."""
    e = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet"))
    return kmeans_clusters(e, **_KMEANS_KW)


def _kmeans_base_sql() -> str:
    k, iters, scale = (
        _KMEANS_KW["k"], _KMEANS_KW["iters"], _KMEANS_KW["scale"],
    )
    dist = (
        "list_sum(list_transform(list_zip(qv, cv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    blocks = [
        f"""q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iters + 1):
        blocks.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, any_value(qv) AS qv,
         min({{'d': {dist}, 'c': cid}}) AS b
  FROM q, c{i - 1} GROUP BY vec_id
),
s{i} AS MATERIALIZED (
  SELECT cid, i,
         CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM (SELECT b['c'] AS cid, unnest(qv) AS v,
               unnest(generate_series(1, len(qv))) AS i
        FROM a{i})
  GROUP BY cid, i
),
n{i} AS MATERIALIZED (SELECT cid, list(m ORDER BY i) AS cv FROM s{i}
                      GROUP BY cid),
c{i} AS MATERIALIZED (
  SELECT c{i - 1}.cid, coalesce(n{i}.cv, c{i - 1}.cv) AS cv
  FROM c{i - 1} LEFT JOIN n{i} USING (cid)
)"""
        )
    blocks.append(
        f"""af AS MATERIALIZED (
  SELECT vec_id, b['c'] AS cid, b['d'] AS dist FROM (
    SELECT vec_id, min({{'d': {dist}, 'c': cid}}) AS b
    FROM q, c{iters} GROUP BY vec_id
  )
)"""
    )
    return ",\n".join(blocks)


_KMEANS_CLUSTERS_SQL = (
    "WITH "
    + _kmeans_base_sql()
    + """
SELECT CAST(cid AS INT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia_fp
FROM af GROUP BY cid
"""
)
query("kmeans_clusters", _kmeans_clusters, _KMEANS_CLUSTERS_SQL)


def _cluster_balanced_sample(spark, sf):
    """DataComp-style cluster-balanced subset: within each final
    k-means cluster rank members by the portable 60-bit id hash (a
    seedless uniform order both engines share) and keep the first 20
    — equal representation per cluster regardless of cluster mass."""
    e = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet"))
    return cluster_balanced_sample(e, per_cluster=_KMEANS_SAMPLE, **_KMEANS_KW)


_CLUSTER_BALANCED_SAMPLE_SQL = (
    "WITH "
    + _kmeans_base_sql()
    + f"""
SELECT vec_id, CAST(cid AS INT) AS cluster_id, samp_rank
FROM (
  SELECT vec_id, cid,
         CAST(row_number() OVER (
           PARTITION BY cid
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                      ::BIGINT ASC, vec_id ASC
         ) AS INT) AS samp_rank
  FROM af
)
WHERE samp_rank <= {_KMEANS_SAMPLE}
"""
)
query("cluster_balanced_sample", _cluster_balanced_sample, _CLUSTER_BALANCED_SAMPLE_SQL)


def _split_leakage(spark, sf):
    """Eval-contamination audit: hash-split the corpus 90/10, then
    surface every fingerprint-duplicate pair that straddles the split
    (operators/sampling.py split_leakage_audit). Uses the same
    20-char-prefix fingerprint as dedup_exact so the planted prefix
    collisions exercise the join."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return split_leakage_audit(d, F.md5(F.substring(F.col("text"), 1, 20)))


_SPLIT_LEAKAGE_SQL = """
WITH f AS (
  SELECT doc_id, md5(substr(text, 1, 20)) AS fp,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 10 = 0
           AS is_test
  FROM documents
),
-- replicate the operator's hot-group cap (max_group_size=1000)
ok AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 1000)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp
FROM f a JOIN f b ON a.fp = b.fp JOIN ok ON ok.fp = a.fp
WHERE a.doc_id < b.doc_id AND a.is_test <> b.is_test
"""
query("split_leakage_audit", _split_leakage, _SPLIT_LEAKAGE_SQL)


def _corpus_sample(spark, sf):
    """Deterministic hash sampling (operators/sampling.py): content-
    hash Bernoulli keep at 30% — stable across runs/partitionings/
    engines, unlike df.sample()."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return hash_sample(d, 0.3, ["doc_id"], seed=7).select("doc_id", "lang")


_CORPUS_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_KEYED_H_SQL.format(seed=7, key="doc_id")} % 1000000 < 300000
"""
query("corpus_sample", _corpus_sample, _CORPUS_SAMPLE_SQL)


def _corpus_mixture(spark, sf):
    """Corpus mixing: per-source keep rates in one pass (curated
    sources kept whole, crawl-ish sources downsampled)."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    mixed = mixture_sample(
        d, "source", {"src1": 1.0, "src2": 0.5, "src3": 0.1}, ["doc_id"], seed=3,
        default_rate=0.25,
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


_CORPUS_MIXTURE_SQL = f"""
SELECT source, COUNT(*) AS n_kept FROM documents
WHERE {_KEYED_H_SQL.format(seed=3, key="doc_id")} % 1000000 <
      CASE source WHEN 'src1' THEN 1000000 WHEN 'src2' THEN 500000
                  WHEN 'src3' THEN 100000 ELSE 250000 END
GROUP BY source
"""
query("corpus_mixture", _corpus_mixture, _CORPUS_MIXTURE_SQL)


def _stratified_sample(spark, sf):
    """Deterministic per-group reservoir: exactly min(k, group size)
    docs per language, chosen by hash order (rank-limited window —
    WindowGroupLimit cuts to k below the exchange)."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return stratified_sample_k(d, ["lang"], 5, ["doc_id"], seed=1).select(
        "lang", "doc_id"
    )


_STRATIFIED_SQL = f"""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_KEYED_H_SQL.format(seed=1, key="doc_id")}, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 5
"""
query("stratified_sample", _stratified_sample, _STRATIFIED_SQL)


def _doc_chunks(spark, sf):
    """Context-window sharding (operators/packing.py chunk_documents):
    180-char windows, 30-char overlap — a pure narrow map (sequence →
    explode → substring), no shuffle."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return chunk_documents(d, chunk_len=180, overlap=30)


_DOC_CHUNKS_SQL = """
SELECT doc_id, CAST((s - 1) // 150 AS INT) AS chunk_idx,
       substr(text, CAST(s AS INT), 180) AS chunk_text,
       CAST(length(substr(text, CAST(s AS INT), 180)) AS INT) AS chunk_n_chars
FROM (
  SELECT doc_id, text, UNNEST(generate_series(1, length(text), 150)) AS s
  FROM documents
)
"""
query("doc_chunks", _doc_chunks, _DOC_CHUNKS_SQL)


def _seq_packing(spark, sf):
    """Greedy sequence packing into 256-token bins within 8 hash
    groups (operators/packing.py pack_sequences) — the DuckDB oracle
    replays the same greedy recurrence per group in a recursive CTE."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    sized = d.select("doc_id", token_count("text").alias("n_tok"))
    return pack_sequences(sized, "n_tok", ["doc_id"], capacity=256, n_groups=8, seed=11)


_SEQ_PACKING_SQL = rf"""
WITH RECURSIVE
sz AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS BIGINT) AS size,
         {_KEYED_H_SQL.format(seed=11, key="doc_id")} AS h
  FROM documents
),
s AS (
  SELECT doc_id, size, CAST(h % 8 AS INT) AS group_id,
         ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
  FROM sz
),
p AS (
  SELECT group_id, rn, doc_id, size, CAST(0 AS BIGINT) AS pack_id,
         size AS fill, CAST(0 AS INT) AS pack_pos
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.group_id, s.rn, s.doc_id, s.size,
         CASE WHEN p.fill + s.size <= 256 THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + s.size <= 256 THEN p.fill + s.size ELSE s.size END,
         CASE WHEN p.fill + s.size <= 256 THEN p.pack_pos + 1 ELSE 0 END
  FROM p JOIN s ON s.group_id = p.group_id AND s.rn = p.rn + 1
)
SELECT group_id, doc_id, size, pack_id, pack_pos FROM p
"""
query("seq_packing", _seq_packing, _SEQ_PACKING_SQL)


def _seq_packing_global(spark, sf):
    """Two-level GLOBAL sequence packing (operators/packing.py
    pack_sequences_global): per-group greedy pack, then a second
    greedy pass over the level-1 fills that merges under-filled bins
    across groups — capacity invariant holds over FINAL bins. The
    oracle replays BOTH greedy recurrences in chained recursive CTEs."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    sized = d.select("doc_id", token_count("text").alias("n_tok"))
    return pack_sequences_global(
        sized, "n_tok", ["doc_id"], capacity=256, n_groups=8, n_groups_l2=1, seed=11
    )


_SEQ_PACKING_GLOBAL_SQL = rf"""
WITH RECURSIVE
sz AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS BIGINT) AS size,
         {_KEYED_H_SQL.format(seed=11, key="doc_id")} AS h
  FROM documents
),
s AS (
  SELECT doc_id, size, CAST(h % 8 AS INT) AS group_id,
         ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
  FROM sz
),
p AS (
  SELECT group_id, rn, doc_id, size, CAST(0 AS BIGINT) AS pack_id,
         size AS fill, CAST(0 AS INT) AS pack_pos
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.group_id, s.rn, s.doc_id, s.size,
         CASE WHEN p.fill + s.size <= 256 THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + s.size <= 256 THEN p.fill + s.size ELSE s.size END,
         CASE WHEN p.fill + s.size <= 256 THEN p.pack_pos + 1 ELSE 0 END
  FROM p JOIN s ON s.group_id = p.group_id AND s.rn = p.rn + 1
),
f AS (
  SELECT group_id AS l1_group, pack_id AS l1_pack,
         CAST(SUM(size) AS BIGINT) AS fill,
         ('0x' || substr(md5('s12:' || CAST(group_id AS VARCHAR) || ':'
                             || CAST(pack_id AS VARCHAR)), 1, 15))::BIGINT AS h2
  FROM p GROUP BY group_id, pack_id
),
s2 AS (
  SELECT l1_group, l1_pack, fill,
         ROW_NUMBER() OVER (ORDER BY h2, l1_group, l1_pack) AS rn
  FROM f
),
p2 AS (
  SELECT rn, l1_group, l1_pack, CAST(0 AS BIGINT) AS bin_pack,
         fill AS bfill, CAST(0 AS INT) AS l2_pos
  FROM s2 WHERE rn = 1
  UNION ALL
  SELECT s2.rn, s2.l1_group, s2.l1_pack,
         CASE WHEN p2.bfill + s2.fill <= 256 THEN p2.bin_pack ELSE p2.bin_pack + 1 END,
         CASE WHEN p2.bfill + s2.fill <= 256 THEN p2.bfill + s2.fill ELSE s2.fill END,
         CASE WHEN p2.bfill + s2.fill <= 256 THEN p2.l2_pos + 1 ELSE 0 END
  FROM p2 JOIN s2 ON s2.rn = p2.rn + 1
)
SELECT p.doc_id, p.size, p.group_id AS l1_group, p.pack_id AS l1_pack,
       CAST(0 AS INT) AS bin_group, p2.bin_pack,
       CAST(ROW_NUMBER() OVER (PARTITION BY p2.bin_pack
                               ORDER BY p2.l2_pos, p.pack_pos) - 1 AS INT) AS bin_pos
FROM p JOIN p2 ON p2.l1_group = p.group_id AND p2.l1_pack = p.pack_id
"""
query("seq_packing_global", _seq_packing_global, _SEQ_PACKING_GLOBAL_SQL)


def _corpus_curation(spark, sf):
    """Composed training-data curation pipeline in ONE query:
    quality gate (token count) → language ID → exact dedup (keep the
    min doc_id per content fingerprint) → per-language corpus stats.
    Exercises the full curation surface end-to-end; every stage is a
    codegen expression or a map-side-combinable aggregate — the
    whole thing is two shuffles (fp-grain, then lang-grain) at any
    corpus size."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    # prefix fingerprint (same grouping rule as dedup_exact): the
    # testdata's full texts are all unique, so full-content md5 would
    # leave the dedup stage with nothing to do
    enriched = d.select(
        "doc_id",
        text_token_count("text").alias("n_tokens"),
        language_id("text").alias("lang"),
        F.md5(F.substring(F.col("text"), 1, 20)).alias("fp"),
    )
    qual = enriched.where(F.col("n_tokens") >= 5)
    per_fp = qual.groupBy("lang", "fp").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),  # the kept doc's
    )
    return per_fp.groupBy("lang").agg(
        F.sum("n_copies").alias("n_quality_docs"),
        F.count(F.lit(1)).alias("n_unique_docs"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dupes_removed"),
        F.sum("n_tokens").alias("sum_tokens_kept"),
    )


def _corpus_curation_oracle_sql() -> str:
    structs = ",\n    ".join(
        "{'score': len(list_filter(toks, x -> list_contains("
        + repr(sw).replace('"', "'")
        + f", x))), 'lang': '{lang}'}}"
        for lang, sw in sorted(LANG_STOPWORDS.items())
    )
    return rf"""
WITH enriched AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         md5(substr(text, 1, 20)) AS fp,
         CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang
  FROM (
    SELECT doc_id, text, list_max([
      {structs}
    ]) AS best
    FROM (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents)
  )
),
qual AS (SELECT * FROM enriched WHERE n_tokens >= 5),
per_fp AS (
  SELECT lang, fp, COUNT(*) AS n_copies, arg_min(n_tokens, doc_id) AS n_tokens
  FROM qual GROUP BY lang, fp
)
SELECT lang,
       CAST(SUM(n_copies) AS BIGINT) AS n_quality_docs,
       COUNT(*) AS n_unique_docs,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dupes_removed,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens_kept
FROM per_fp GROUP BY lang
"""
query("corpus_curation", _corpus_curation, _corpus_curation_oracle_sql())
