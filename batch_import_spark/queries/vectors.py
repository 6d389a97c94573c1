"""Vector search: brute-force cosine top-k, hard negatives, LSH,
IVF and IVF-PQ (batch, incremental, streaming), PQ code dedup, recall
audit, embedding near-dups and semantic dedup."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from batch_import_spark.operators.semdedup import semantic_dedup
from batch_import_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    hard_negatives,
    hyperplane,
    ivf_ann_topk,
    ivf_pq_extend,
    ivf_pq_topk,
    ivf_seed_centroids,
    lsh_ann_topk,
    pq_codebook_from_corpus,
    pq_encode,
)
from batch_import_spark.queries.common import query
from batch_import_spark.session import fan_out
from batch_import_spark.streaming.ann_incremental import run_incremental_ann


def _ann_cosine_topk(spark, sf):
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, q, k=5).select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine"), 4).alias("cos4")
    )


_ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cosine
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, ROUND(cosine, 4) AS cos4 FROM ranked WHERE rank <= 5
"""
query("ann_cosine_topk", _ann_cosine_topk, _ANN_SQL)


def _hard_negatives(spark, sf):
    """Hard-negative mining for contrastive / retrieval training
    (similarity.py hard_negatives): per query vector, the exact
    top-5 most-similar vectors with a DIFFERENT label — the
    boundary-hugging negatives an embedding model actually learns
    from. Brute-force exact over a broadcast query set (the
    ann_cosine_topk plan); composes behind ivf_pq_topk candidate
    pruning at scale."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negatives(emb, q, k=5).select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine"), 4).alias("cos4")
    )


_HARD_NEGATIVES_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.label <> q.ql
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, ROUND(cosine, 4) AS cos4 FROM ranked WHERE rank <= 5
"""
query("hard_negatives", _hard_negatives, _HARD_NEGATIVES_SQL)


def _lsh_ann(spark, sf):
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(emb, q, dim=64, k=5, num_tables=6, num_planes=8).select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine"), 4).alias("cos4")
    )


def _lsh_ann_oracle_sql() -> str:
    """Replicates the deterministic hyperplane LSH in DuckDB: the same
    plane constants (similarity.hyperplane) are inlined as double
    literals, buckets are recomputed per (table, vector), and the
    candidate top-k is exactly re-ranked — bit-for-bit the Spark plan's
    semantics, independently evaluated."""
    dim, num_tables, num_planes = 64, 6, 8
    def bucket_expr(vcol: str, t: int) -> str:
        terms = []
        for p in range(num_planes):
            plane = hyperplane(dim, t, p)
            lit = "[" + ", ".join(repr(c) for c in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vcol}, {lit}) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(terms)

    cb_selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, {bucket_expr('v', t)} AS bucket FROM c"
        for t in range(num_tables)
    )
    return f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cb AS (
{cb_selects}
),
pairs AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM cb JOIN (SELECT vec_id AS query_id, tbl, bucket FROM cb WHERE vec_id < 5) qb
    ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
),
scored AS (
  SELECT p.query_id, p.vec_id,
         ROUND(CASE WHEN sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)) > 0
                    THEN list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                    ELSE 0.0 END, 6) AS cosine
  FROM pairs p
  JOIN c q ON p.query_id = q.vec_id
  JOIN c ON p.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, ROUND(cosine, 4) AS cos4 FROM ranked WHERE rank <= 5
"""
query("lsh_ann_topk", _lsh_ann, _lsh_ann_oracle_sql())


def _ivf_ann(spark, sf):
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(emb, q, n_cells=16, n_probe=4, k=5).select(
        "query_id", "vec_id", "rank", F.round(F.col("cosine"), 4).alias("cos4")
    )


def _ivf_ann_oracle_sql() -> str:
    """Replicates the IVF path in DuckDB: same deterministic seed
    centroids (unit vectors of the n_cells lowest ids), same
    argmax-dot assignment with the same tie-break (max dot, then min
    cell — assignment on RAW vectors against unit centroids, the
    scale-invariant form the Spark operator uses), same n_probe
    routing, same exact re-rank via dot(q,c)/(|q|·|c|)."""
    n_cells, n_probe, k = 16, 4, 5
    return f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         CASE WHEN sqrt(list_dot_product(e, e)) > 0
              THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
              ELSE e END AS v
  FROM c ORDER BY vec_id LIMIT {n_cells}
),
assign AS (
  SELECT vec_id, e, cell FROM (
    SELECT c.vec_id, c.e, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.e, cent.v) DESC, cent.cell ASC) AS rn
    FROM c CROSS JOIN cent
  ) WHERE rn = 1
),
probe AS (
  SELECT query_id, qe, cell FROM (
    SELECT q.vec_id AS query_id, q.e AS qe, cent.cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.e, cent.v) DESC, cent.cell ASC) AS rn
    FROM c q CROSS JOIN cent WHERE q.vec_id < 5
  ) WHERE rn <= {n_probe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         ROUND(CASE WHEN sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(a.e, a.e)) > 0
                    THEN list_dot_product(p.qe, a.e)
                         / (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(a.e, a.e)))
                    ELSE 0.0 END, 6) AS cosine
  FROM probe p JOIN assign a ON a.cell = p.cell
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, ROUND(cosine, 4) AS cos4 FROM ranked WHERE rank <= {k}
"""
query("ivf_ann_topk", _ivf_ann, _ivf_ann_oracle_sql())


def _pq_code_dedup(spark, sf):
    """Quantization-grain near-duplicate sets: vectors whose frozen
    IVF-PQ encodings agree EXACTLY (same cell, same 8 sub-codes) are
    duplicates at the index's own resolution — dedup with NO pair
    join, no threshold, no LSH banding: one groupBy on the
    (cell, code) fingerprint, the cheapest possible near-dup pass at
    100 TB (the fingerprint is 4 bytes/vector and the groupBy is
    map-side combinable). The corpus is planted with exact copies
    (every 50th vector re-ingested under id+10^6 — the synthetic
    embeddings have no natural code collisions, so the planted twins
    make the dup groups real and closed-form); quantizers are frozen
    on the ORIGINAL corpus (high-id copies cannot disturb the
    lowest-id seed windows, which is what lets both engines share
    the proven ivf_pq codes replay)."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    centroids = ivf_seed_centroids(emb, 16)
    book = pq_codebook_from_corpus(emb, centroids, 8, 16, skip=16)
    enc = pq_encode(corpus, centroids, book, 8)
    fp = enc.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("code_key"),
    )
    return (
        fp.groupBy("cell", "code_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("vec_id").cast("long").alias("keeper_id"),
        )
        .where(F.col("n_members") >= 2)
    )


def _pq_codes_base_sql(
    dim: int = 64,
    n_cells: int = 16,
    m_sub: int = 8,
    k_codes: int = 16,
    scale: int = 1000,
    plant_copies: bool = False,
) -> str:
    """CTE chain through the per-vector PQ codes (c → cent → qcent →
    assign → rq → book → sub → codes) — shared by the ANN oracle and
    the code-grain dedup oracle. ``plant_copies`` re-ingests every
    50th vector under id+10^6 (the dedup entry's planted twins);
    the high ids stay outside the lowest-id seed/codebook windows,
    so the trained quantizers are identical either way."""
    ds = dim // m_sub
    plant = (
        """
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
  FROM embeddings WHERE vec_id % 50 = 0"""
        if plant_copies
        else ""
    )
    return f"""
WITH c AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings{plant}
),
cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         CASE WHEN sqrt(list_dot_product(e, e)) > 0
              THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
              ELSE e END AS v
  FROM c ORDER BY vec_id LIMIT {n_cells}
),
qcent AS MATERIALIZED (
  SELECT cell, list_transform(v, x -> CAST(floor(x * {scale}) AS BIGINT)) AS qc
  FROM cent
),
assign AS MATERIALIZED (
  SELECT vec_id, e, cell FROM (
    SELECT c.vec_id, c.e, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.e, cent.v) DESC, cent.cell ASC) AS rn
    FROM c CROSS JOIN cent
  ) WHERE rn = 1
),
rq AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
         [CAST(floor(a.e[i] * {scale}) AS BIGINT) - q.qc[i]
          for i in generate_series(1, {dim})] AS r
  FROM assign a JOIN qcent q ON q.cell = a.cell
),
book AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, r
  FROM (SELECT vec_id, r FROM rq ORDER BY vec_id
        LIMIT {k_codes} OFFSET {n_cells})
),
sub AS (SELECT unnest(generate_series(0, {m_sub} - 1)) AS m),
codes AS MATERIALIZED (
  SELECT vec_id, m, j FROM (
    SELECT r.vec_id, s.m, b.j,
           row_number() OVER (PARTITION BY r.vec_id, s.m ORDER BY
             list_sum([ (r.r[s.m * {ds} + i] - b.r[s.m * {ds} + i])
                        * (r.r[s.m * {ds} + i] - b.r[s.m * {ds} + i])
                        for i in generate_series(1, {ds})]) ASC,
             b.j ASC) AS rn
    FROM rq r CROSS JOIN sub s CROSS JOIN book b
  ) WHERE rn = 1
)"""


_PQ_CODE_DEDUP_SQL = _pq_codes_base_sql(plant_copies=True) + """,
fp AS (
  SELECT co.vec_id, a.cell,
         string_agg(CAST(co.j AS VARCHAR), ',' ORDER BY co.m) AS code_key
  FROM codes co JOIN assign a USING (vec_id)
  GROUP BY co.vec_id, a.cell
)
SELECT CAST(cell AS INT) AS cell, code_key,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(vec_id) AS BIGINT) AS keeper_id
FROM fp GROUP BY cell, code_key
HAVING COUNT(*) >= 2
"""
query("pq_code_dedup", _pq_code_dedup, _PQ_CODE_DEDUP_SQL)


def _ivf_pq(spark, sf):
    """IVF-PQ residual quantization ANN (similarity.py ivf_pq_topk):
    coarse cells + 8x4-bit integer PQ codes per vector (4 B vs 3 KB),
    ADC scoring in exact BIGINTs. Codebook = quantized residuals of
    the 16 ids after the centroid seeds (data-seeded, closed-form);
    the oracle replays cells, residuals, codes, and ADC bit-for-bit.
    Approximate by construction — recall vs exact top-k is pinned in
    tests/test_similarity_pq.py."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_pq_topk(
        emb, q, n_cells=16, n_probe=4, m_sub=8, k_codes=16, k=5,
    ).select("query_id", "vec_id", "rank", "adc_dist")


def _ivf_pq_oracle_sql() -> str:
    """DuckDB replay of the full IVF-PQ path: same float centroid
    seeds + argmax-dot cells (the proven IVF oracle), then integer
    residuals (floor(x*scale) - floor(c*scale)), data-seeded codebook
    (residuals of the k_codes ids after the centroid seeds), argmin-L2
    codes with lowest-code tie-break, and BIGINT ADC — register-exact
    end to end."""
    dim, n_cells, n_probe, m_sub, k_codes, k, scale = 64, 16, 4, 8, 16, 5, 1000
    ds = dim // m_sub
    return _pq_codes_base_sql(dim, n_cells, m_sub, k_codes, scale) + f""",
probe AS MATERIALIZED (
  SELECT query_id, qe, cell FROM (
    SELECT q.vec_id AS query_id, q.e AS qe, cent.cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.e, cent.v) DESC, cent.cell ASC) AS rn
    FROM c q CROSS JOIN cent WHERE q.vec_id < 5
  ) WHERE rn <= {n_probe}
),
qrq AS MATERIALIZED (
  SELECT p.query_id, p.cell,
         [CAST(floor(p.qe[i] * {scale}) AS BIGINT) - q.qc[i]
          for i in generate_series(1, {dim})] AS r
  FROM probe p JOIN qcent q USING (cell)
),
qd AS MATERIALIZED (
  SELECT q.query_id, q.cell, s.m, b.j,
         CAST(list_sum([ (q.r[s.m * {ds} + i] - b.r[s.m * {ds} + i])
                         * (q.r[s.m * {ds} + i] - b.r[s.m * {ds} + i])
                         for i in generate_series(1, {ds})]) AS BIGINT) AS d
  FROM qrq q CROSS JOIN sub s CROSS JOIN book b
),
adc AS (
  SELECT p.query_id, a.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
  FROM probe p
  JOIN assign a ON a.cell = p.cell
  JOIN codes co ON co.vec_id = a.vec_id
  JOIN qd ON qd.query_id = p.query_id AND qd.cell = p.cell
         AND qd.m = co.m AND qd.j = co.j
  GROUP BY 1, 2
)
SELECT query_id, vec_id, rank, adc_dist FROM (
  SELECT query_id, vec_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
"""
query("ivf_pq_topk", _ivf_pq, _ivf_pq_oracle_sql())


def _ann_standing_quantizers(spark, sf):
    """Frozen quantizers trained on the STANDING 80% split (vec_id %
    10 < 8) only — shared by the batch and streaming incremental-ANN
    entries so both replay the same index."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    standing = emb.where(F.col("vec_id") % 10 < 8)
    landing = emb.where(F.col("vec_id") % 10 >= 8)
    centroids = ivf_seed_centroids(standing, 16)
    book = pq_codebook_from_corpus(standing, centroids, 8, 16, skip=16)
    return emb, standing, landing, centroids, book


def _ivf_pq_incremental(spark, sf):
    """Incremental ANN-index maintenance (similarity.py
    ivf_pq_extend) — the similarity twin of kg_incremental: quantizers
    (IVF centroids + PQ codebook) are trained on the standing 80% of
    the corpus and FROZEN; the landing 20% batch is encoded against
    them and unioned into the standing postings — the standing corpus
    is never re-quantized. Because encoding is row-local given frozen
    quantizers, index(standing) + encode(batch) == encode(all): the
    oracle replays ONE full-corpus encode with standing-trained
    quantizers, so row equality IS the replay invariant. Output is
    the postings long form (vec_id, cell, m, code)."""
    _, standing, landing, centroids, book = _ann_standing_quantizers(spark, sf)
    index = pq_encode(standing, centroids, book)
    full = ivf_pq_extend(index, landing, centroids, book)
    return full.select(
        "vec_id",
        "cell",
        F.posexplode("codes").alias("m", "code"),
    )


def _stream_ann_incremental(spark, sf):
    """The same incremental fold AT LANDING TIME: the landing 20%
    arrives as a real two-micro-batch stream (file parity +
    maxFilesPerTrigger=1) and streaming/ann_incremental.py encodes
    each batch against the frozen quantizers via foreachBatch,
    appending to the standing postings. Final state must equal the
    one-shot full encode — the oracle is the SAME full-corpus SQL as
    ivf_pq_incremental."""
    _, standing, landing, centroids, book = _ann_standing_quantizers(spark, sf)
    index = pq_encode(standing, centroids, book)

    stream_dir = tempfile.mkdtemp(prefix="stream_ann_incr_")

    tbl = pq.read_table(f"{sf}/embeddings.parquet")
    land = tbl.filter(pa.array(tbl["vec_id"].to_numpy() % 10 >= 8))
    parity = pc.bit_wise_and(land["vec_id"], 1)
    pq.write_table(
        land.filter(pc.equal(parity, 0)), os.path.join(stream_dir, "b0.parquet")
    )
    pq.write_table(
        land.filter(pc.equal(parity, 1)), os.path.join(stream_dir, "b1.parquet")
    )
    stream_vecs = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    final, n_batches = run_incremental_ann(
        stream_vecs, centroids, book, index=index
    )
    assert n_batches == 2, f"expected 2 micro-batches, got {n_batches}"
    return final.select(
        "vec_id", "cell", F.posexplode("codes").alias("m", "code")
    )


def _ivf_pq_incremental_sql() -> str:
    """One full-corpus encode with quantizers trained on the standing
    split only (vec_id % 10 < 8) — equality with Spark's
    index(standing) + encode(landing) union is exactly the
    incremental-maintenance replay invariant."""
    dim, n_cells, m_sub, k_codes, scale = 64, 16, 8, 16, 1000
    ds = dim // m_sub
    return f"""
WITH c AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         CASE WHEN sqrt(list_dot_product(e, e)) > 0
              THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
              ELSE e END AS v
  FROM c WHERE vec_id % 10 < 8 ORDER BY vec_id LIMIT {n_cells}
),
qcent AS MATERIALIZED (
  SELECT cell, list_transform(v, x -> CAST(floor(x * {scale}) AS BIGINT)) AS qc
  FROM cent
),
assign AS MATERIALIZED (
  SELECT vec_id, e, cell FROM (
    SELECT c.vec_id, c.e, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.e, cent.v) DESC, cent.cell ASC) AS rn
    FROM c CROSS JOIN cent
  ) WHERE rn = 1
),
rq AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
         [CAST(floor(a.e[i] * {scale}) AS BIGINT) - q.qc[i]
          for i in generate_series(1, {dim})] AS r
  FROM assign a JOIN qcent q ON q.cell = a.cell
),
book AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, r
  FROM (SELECT vec_id, r FROM rq WHERE vec_id % 10 < 8 ORDER BY vec_id
        LIMIT {k_codes} OFFSET {n_cells})
),
sub AS (SELECT unnest(generate_series(0, {m_sub} - 1)) AS m)
SELECT vec_id, cell, CAST(m AS INT) AS m, CAST(j AS INT) AS code FROM (
  SELECT r.vec_id, r.cell, s.m, b.j,
         row_number() OVER (PARTITION BY r.vec_id, s.m ORDER BY
           list_sum([ (r.r[s.m * {ds} + i] - b.r[s.m * {ds} + i])
                      * (r.r[s.m * {ds} + i] - b.r[s.m * {ds} + i])
                      for i in generate_series(1, {ds})]) ASC,
           b.j ASC) AS rn
  FROM rq r CROSS JOIN sub s CROSS JOIN book b
) WHERE rn = 1
"""
query("ivf_pq_incremental", _ivf_pq_incremental, _ivf_pq_incremental_sql())
query("stream_ann_incremental", _stream_ann_incremental, _ivf_pq_incremental_sql())


def _planted_embed_corpus(spark, sf):
    """The shared planted-duplicate embedding corpus: raw vectors
    (max pairwise cosine ~0.51) plus, for ids < 15, a x2-scaled copy
    (cosine exactly 1) and an index-perturbed copy (~0.9985). The
    duplicate-pair graph at threshold 0.95 is exactly the 15 planted
    TRIANGLES {b, b+10000, b+20000} — closed form for the oracles."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.where(F.col("vec_id") < 15)
    scaled = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2.0).alias("embedding"),
    )
    perturbed = base.select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x, i: x * (F.lit(1.0) + F.lit(0.05) * (i % 3))
        ).alias("embedding"),
    )
    return emb.unionAll(scaled).unionAll(perturbed)


def _semantic_dedup(spark, sf):
    """SemDeDup semantic dedup (operators/semdedup.py): IVF-cell
    clustering + greedy keep-first eviction of cosine-near-identical
    vectors inside each cell, over the shared planted-duplicate
    corpus. The oracle replays cells + brute-force pairs; the greedy
    verdict is closed-form because the planted pair graph is a union
    of cliques (diameter <= 2 — pinned by pytest), where greedy ==
    'keep the id with no smaller neighbor, dup_of = smallest
    level-1-keeper neighbor'."""
    return semantic_dedup(_planted_embed_corpus(spark, sf), n_cells=64)


_SEMDEDUP_SQL = """
WITH raw AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
c AS MATERIALIZED (
  SELECT vec_id, e FROM raw
  UNION ALL
  SELECT vec_id + 10000, list_transform(e, x -> x * 2.0) FROM raw WHERE vec_id < 15
  UNION ALL
  SELECT vec_id + 20000,
         [e[i] * (1.0 + 0.05 * ((i - 1) % 3)) for i in generate_series(1, len(e))]
  FROM raw WHERE vec_id < 15
),
cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         CASE WHEN sqrt(list_dot_product(e, e)) > 0
              THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
              ELSE e END AS v
  FROM c ORDER BY vec_id LIMIT 64
),
assign AS MATERIALIZED (
  SELECT vec_id, e, cell FROM (
    SELECT c.vec_id, c.e, cent.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.e, cent.v) DESC, cent.cell ASC) AS rn
    FROM c CROSS JOIN cent
  ) WHERE rn = 1
),
pairs AS MATERIALIZED (
  SELECT a.cell, a.vec_id AS ia, b.vec_id AS ib
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(CASE WHEN sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e)) > 0
                   THEN list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e)))
                   ELSE 0.0 END, 6) >= 0.95
),
-- greedy keep-first closed form (valid for clique components):
-- level-1 keeper = no smaller-id neighbor; dropped = has a keeper
-- neighbor below it, witness = the smallest such keeper
lvl1 AS (
  SELECT vec_id FROM assign a
  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.ib = a.vec_id)
),
drops AS (
  SELECT p.ib AS vec_id, CAST(MIN(p.ia) AS BIGINT) AS dup_of
  FROM pairs p JOIN lvl1 k ON k.vec_id = p.ia
  GROUP BY p.ib
)
SELECT a.vec_id, a.cell,
       d.dup_of IS NULL AS keep,
       d.dup_of
FROM assign a LEFT JOIN drops d ON d.vec_id = a.vec_id
"""
query("semantic_dedup", _semantic_dedup, _SEMDEDUP_SQL)


def _pq_recall_audit(spark, sf):
    """Approximation-quality audit as a first-class query: IVF-PQ's
    top-5 against the exact cosine top-5, per query — n_hits and
    recall_ppm. Run alongside the ANN itself so a pipeline SEES its
    approximation error instead of assuming it (uniform random
    embeddings are PQ's worst case; recall here is the honest floor,
    not the clustered-corpus number the pytest also pins)."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id")
    pq = ivf_pq_topk(
        emb, q, n_cells=16, n_probe=4, m_sub=8, k_codes=16, k=5,
    ).select("query_id", "vec_id")
    hits = (
        pq.join(exact, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .join(hits, ["query_id"], "left")
        .na.fill(0, ["n_hits"])
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("(n_hits * 1000000L) div n_exact").alias("recall_ppm"),
        )
    )


_PQ_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, vec_id FROM ({_ANN_SQL.strip()})
),
pq AS (
  SELECT query_id, vec_id FROM ({_ivf_pq_oracle_sql().strip()})
),
hits AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exact e JOIN pq ON pq.query_id = e.query_id AND pq.vec_id = e.vec_id
  GROUP BY 1
)
SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
       CAST((COALESCE(MAX(h.n_hits), 0) * 1000000) // COUNT(*) AS BIGINT)
         AS recall_ppm
FROM exact e LEFT JOIN hits h ON h.query_id = e.query_id
GROUP BY e.query_id
"""
query("pq_recall_audit", _pq_recall_audit, _PQ_RECALL_SQL)


def _embed_near_dups(spark, sf):
    """Embedding-cosine near-dup detection over a corpus with planted
    duplicates (the raw table's max pairwise cosine is ~0.51, so
    variants are planted deterministically: a ×2-scaled copy — cosine
    exactly 1 — and an index-perturbed copy at ~0.9985)."""
    emb = fan_out(spark.read.parquet(f"{sf}/embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.where(F.col("vec_id") < 15)
    scaled = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2.0).alias("embedding"),
    )
    perturbed = base.select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x, i: x * (F.lit(1.0) + F.lit(0.05) * (i % 3))
        ).alias("embedding"),
    )
    corpus = emb.unionAll(scaled).unionAll(perturbed)
    pairs = embedding_near_duplicates(
        corpus, dim=64, threshold=0.95, num_tables=4, num_planes=10
    )
    return pairs.select("id_a", "id_b", F.round(F.col("cosine"), 4).alias("cos4"))


def _embed_near_dups_oracle_sql() -> str:
    """Replicates the planted corpus AND the LSH bucketing in DuckDB
    (same inline hyperplane constants as similarity.hyperplane), so
    the bucketed self-join's output is closed-form — recall losses,
    if any, match by construction."""
    dim, num_tables, num_planes, threshold = 64, 4, 10, 0.95
    def bucket_expr(vcol: str, t: int) -> str:
        terms = []
        for p in range(num_planes):
            plane = hyperplane(dim, t, p)
            lit = "[" + ", ".join(repr(c) for c in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vcol}, {lit}) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    cb_selects = "\nUNION ALL\n".join(
        f"SELECT id, {t} AS tbl, {bucket_expr('v', t)} AS bucket FROM c"
        for t in range(num_tables)
    )
    return f"""
WITH raw AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
  FROM embeddings WHERE vec_id < 15
  UNION ALL
  SELECT vec_id + 20000,
         [CAST(embedding AS DOUBLE[])[i + 1] * (1.0 + 0.05 * (i % 3))
          FOR i IN generate_series(0, len(embedding) - 1)]
  FROM embeddings WHERE vec_id < 15
),
c AS (
  SELECT id, e AS v FROM raw
),
cb AS (
{cb_selects}
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM cb a JOIN cb b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
),
scored AS (
  SELECT p.id_a, p.id_b,
         ROUND(CASE WHEN sqrt(list_dot_product(ca.v, ca.v)) * sqrt(list_dot_product(cb2.v, cb2.v)) > 0
                    THEN list_dot_product(ca.v, cb2.v)
                         / (sqrt(list_dot_product(ca.v, ca.v)) * sqrt(list_dot_product(cb2.v, cb2.v)))
                    ELSE 0.0 END, 6) AS cosine
  FROM pairs p JOIN c ca ON p.id_a = ca.id JOIN c cb2 ON p.id_b = cb2.id
)
SELECT id_a, id_b, ROUND(cosine, 4) AS cos4 FROM scored WHERE cosine >= {threshold}
"""
query("embed_near_dups", _embed_near_dups, _embed_near_dups_oracle_sql())
