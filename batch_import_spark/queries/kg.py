"""The KG pipeline over planted transcripts: the flagship query,
the full pipeline, the graph analytics on its edges, and the batch and
streaming incremental builds. The planting derives every choice from
a hash DuckDB computes identically, so each oracle is closed-form."""

from __future__ import annotations

import os
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.operators.evaluate import evaluate_triples
from batch_import_spark.operators.graph_stats import (
    bfs_distances,
    kcore,
    label_propagation,
    link_prediction_scores,
    louvain_refine,
    pagerank,
)
from batch_import_spark.operators.sketches import portable_hash60
from batch_import_spark.pipeline.kg import (
    merge_kg_edges,
    prepare_link_dict,
    run_kg_pipeline,
)
from batch_import_spark.queries.common import _H60_SQL, _h60, query
from batch_import_spark.session import fan_out, local_frame
from batch_import_spark.sources.transcripts import alias_dict_df
from batch_import_spark.streaming.incremental import run_incremental_kg
from batch_import_spark.streaming.stream_kg import streaming_triples


# --- flagship ---------------------------------------------------------------


def _planted_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a transcripts table from documents.parquet with planted
    entity sentences (alias surfaces on odd doc_ids so the
    canonicalization merge is exercised)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("Person"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(" uses Tool"),
            (F.col("doc_id") % 8).cast("string"),
            F.lit(". "),
            F.col("text"),
        ),
    ).otherwise(
        F.concat(
            F.lit("P"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(" works at O"),
            (F.col("doc_id") % 12).cast("string"),
            F.lit(". "),
            F.col("text"),
        )
    )
    return docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        planted.alias("text"),
    )


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract → link → canonicalize over planted transcripts; the
    flagship end-to-end query (oracle-checkable: planted sentences
    have a closed-form canonical triple set)."""
    t = _planted_transcripts(spark, sf_dir)
    res = run_kg_pipeline(t, alias_dict_df(spark))
    return res.edges.select(
        "subj", "pred", "obj", F.col("n_occurrences").cast("long").alias("n")
    )


_KG_SQL = """
SELECT subj, pred, obj, COUNT(*) AS n FROM (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'P' || CAST(doc_id % 40 AS VARCHAR)
              ELSE 'P' || CAST(doc_id % 40 AS VARCHAR) END AS subj,
         CASE WHEN doc_id % 2 = 0 THEN 'uses' ELSE 'works_at' END AS pred,
         CASE WHEN doc_id % 2 = 0 THEN 'Tool' || CAST(doc_id % 8 AS VARCHAR)
              ELSE 'O' || CAST(doc_id % 12 AS VARCHAR) END AS obj
  FROM documents
) GROUP BY subj, pred, obj
"""
query("kg_extract_canonicalize", _kg_triples, _KG_SQL)


# --- full KG pipeline over SQL-reproducible planted transcripts --------------
#
# The planting derives every choice from a 60-bit md5 hash of doc_id —
# computable identically in DuckDB — so the ORACLE can reconstruct the
# closed-form canonical triple set while the Spark side runs the REAL
# pipeline: pandas extraction kernel, broadcast link join with
# skip-unresolved (Ghost*) and ambiguity (Amb) handling, CC
# canonicalization merging alias surfaces (Person<k> ≡ P<k>, Org<k> ≡
# O<k>; canonical = lexicographic min = P<k>/O<k>).

_PHRASES = ["works at", "manages", "uses", "reports to", "located in"]
_PREDS = ["works_at", "manages", "uses", "reports_to", "located_in"]


def _planted_transcripts_full(spark, sf_dir: str) -> DataFrame:
    """documents → transcripts with planted, SQL-reproducible structure:
    always one known-entity sentence; ~20% an unresolvable Ghost
    sentence; ~20% an ambiguous-surface sentence; plus lowercase filler
    (never matches the extraction grammar's [A-Z] anchor)."""
    return _plant_from_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# closed-form mention reconstruction shared by the batch + streaming oracles;
# Ghost/Amb sentences are skipped by linking and thus absent here
_PLANT_SQL = f"""
  SELECT doc_id,
         'P' || CAST(doc_id % 40 AS VARCHAR) AS subj,
         {_PREDS!r}[(h % 5) + 1] AS pred,
         CASE (h >> 3) % 3
           WHEN 0 THEN 'P' || CAST((h >> 8) % 40 AS VARCHAR)
           WHEN 1 THEN 'O' || CAST((h >> 8) % 12 AS VARCHAR)
           ELSE 'Tool' || CAST((h >> 8) % 8 AS VARCHAR)
         END AS obj
  FROM (SELECT doc_id, {_H60_SQL} AS h FROM documents)
"""


def _kg_pipeline_full(spark, sf):
    t = _planted_transcripts_full(spark, sf)
    res = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark))
    return res.edges.select(
        "subj", "pred", "obj", F.col("n_occurrences").cast("long").alias("n")
    )


def _kg_incremental(spark, sf):
    """Continuous-ingest KG maintenance: the corpus lands in two
    batches (doc_id parity), each runs the REAL pipeline on its own
    rows sharing the prepared link dictionary, and merge_kg_edges
    folds the delta into the standing edge table. The oracle is the
    FULL-corpus closed-form triple set — incremental == full rebuild,
    exactly (the edge table is a mergeable aggregate)."""
    docs = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    ld = prepare_link_dict(alias_dict_df(spark))
    e1 = run_kg_pipeline(
        _plant_from_docs(docs.where("doc_id % 2 = 0")).drop("ts"),
        alias_dict_df(spark),
        link_dict=ld,
    ).edges
    e2 = run_kg_pipeline(
        _plant_from_docs(docs.where("doc_id % 2 = 1")).drop("ts"),
        alias_dict_df(spark),
        link_dict=ld,
    ).edges
    merged = merge_kg_edges(e1, e2)
    return merged.select(
        "subj", "pred", "obj", F.col("n_occurrences").cast("long").alias("n")
    )


def _stream_kg_incremental(spark, sf):
    """Continuous-ingest KG over a real multi-batch stream: the corpus
    lands as two parquet files (doc parity), maxFilesPerTrigger=1
    forces two micro-batches, and foreachBatch folds each batch's
    edges into the standing state (streaming/incremental.py). Final
    state must equal the one-shot full build — the oracle is the same
    closed-form full-corpus triple set as kg_pipeline_full."""
    stream_dir = tempfile.mkdtemp(prefix="stream_kg_incr_")
    tbl = pq.read_table(f"{sf}/documents.parquet")
    parity = pc.bit_wise_and(tbl["doc_id"], 1)
    pq.write_table(tbl.filter(pc.equal(parity, 0)), os.path.join(stream_dir, "b0.parquet"))
    pq.write_table(tbl.filter(pc.equal(parity, 1)), os.path.join(stream_dir, "b1.parquet"))

    docs_schema = fan_out(spark.read.parquet(f"{sf}/documents.parquet")).schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    t = _plant_from_docs(stream_docs).drop("ts")
    ld = prepare_link_dict(alias_dict_df(spark))
    edges, n_batches = run_incremental_kg(t, alias_dict_df(spark), link_dict=ld)
    assert n_batches == 2, f"expected 2 micro-batches, got {n_batches}"
    return edges.select(
        "subj", "pred", "obj", F.col("n_occurrences").cast("long").alias("n")
    )


_KG_FULL_SQL = f"""
SELECT subj, pred, obj, COUNT(*) AS n FROM ({_PLANT_SQL})
GROUP BY subj, pred, obj
"""
query("kg_pipeline_full", _kg_pipeline_full, _KG_FULL_SQL)
query("kg_incremental", _kg_incremental, _KG_FULL_SQL)
query("stream_kg_incremental", _stream_kg_incremental, _KG_FULL_SQL)


def _kg_precision_recall(spark, sf):
    """The north rule's acceptance metric as a query: run the
    FULL pipeline (extract → link → canonicalize) over the planted
    transcripts and score its triple set against the closed-form gold
    derived directly from doc_id arithmetic. Any pipeline regression
    shows up as P/R < 1 here (the oracle computes the same math over
    two copies of the closed-form set, i.e. the expected perfect
    score)."""
    t = _planted_transcripts_full(spark, sf)
    predicted = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges

    docs = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    h = _h60("doc_id")
    gold = docs.select(
        F.concat(F.lit("P"), (F.col("doc_id") % 40).cast("string")).alias("subj"),
        F.element_at(
            F.array(*[F.lit(p) for p in _PREDS]), (h % 5 + 1).cast("int")
        ).alias("pred"),
        F.when(
            F.shiftright(h, 3) % 3 == 0,
            F.concat(F.lit("P"), (F.shiftright(h, 8) % 40).cast("string")),
        )
        .when(
            F.shiftright(h, 3) % 3 == 1,
            F.concat(F.lit("O"), (F.shiftright(h, 8) % 12).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("Tool"), (F.shiftright(h, 8) % 8).cast("string"))
        )
        .alias("obj"),
    )
    return evaluate_triples(predicted, gold)


_KG_PR_SQL = f"""
WITH p AS (SELECT DISTINCT subj, pred, obj, 1 AS _p FROM ({_PLANT_SQL})),
g AS (SELECT DISTINCT subj, pred, obj, 1 AS _g FROM ({_PLANT_SQL})),
j AS (
  SELECT p._p, g._g FROM p FULL OUTER JOIN g
    ON p.subj = g.subj AND p.pred = g.pred AND p.obj = g.obj
),
a AS (
  SELECT CAST(SUM(_p) AS BIGINT) AS n_pred,
         CAST(SUM(_g) AS BIGINT) AS n_gold,
         CAST(SUM(_p * _g) AS BIGINT) AS n_correct
  FROM j
)
SELECT n_pred, n_gold, n_correct,
       CASE WHEN n_pred > 0 THEN FLOOR(CAST(n_correct AS DOUBLE) / n_pred * 1e6) / 1e6 ELSE 0.0 END AS precision,
       CASE WHEN n_gold > 0 THEN FLOOR(CAST(n_correct AS DOUBLE) / n_gold * 1e6) / 1e6 ELSE 0.0 END AS recall,
       CASE WHEN n_pred + n_gold > 0 THEN FLOOR(CAST(2 * n_correct AS DOUBLE) / (n_pred + n_gold) * 1e6) / 1e6 ELSE 0.0 END AS f1
FROM a
"""
query("kg_precision_recall", _kg_precision_recall, _KG_PR_SQL)


def _kg_degree_stats(spark, sf):
    """Graph QA over the pipeline's output: total-degree histogram of
    the canonical graph (distinct-triple grain). Runs the REAL
    pipeline; the oracle derives the same histogram from the
    closed-form planted triple set, so any canonicalization drift
    changes the histogram and fails the hash."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    outd = edges.groupBy(F.col("subj").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ind = edges.groupBy(F.col("obj").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    deg = (
        outd.join(ind, "node", "full")
        .fillna(0, ["out_deg", "in_deg"])
        .select("node", (F.col("out_deg") + F.col("in_deg")).alias("total_deg"))
    )
    return deg.groupBy("total_deg").agg(F.count(F.lit(1)).alias("n_nodes"))


_KG_DEGREE_SQL = f"""
WITH triples AS (SELECT DISTINCT subj, pred, obj FROM ({_PLANT_SQL})),
outd AS (SELECT subj AS node, COUNT(*) AS out_deg FROM triples GROUP BY subj),
ind AS (SELECT obj AS node, COUNT(*) AS in_deg FROM triples GROUP BY obj),
deg AS (
  SELECT COALESCE(o.node, i.node) AS node,
         COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0) AS total_deg
  FROM outd o FULL OUTER JOIN ind i ON o.node = i.node
)
SELECT total_deg, COUNT(*) AS n_nodes FROM deg GROUP BY total_deg
"""
query("kg_degree_stats", _kg_degree_stats, _KG_DEGREE_SQL)


def _kg_pagerank(spark, sf):
    """Personalized PageRank over the ACTUAL canonicalized KG output —
    the graph suite running on the flagship pipeline's materialized
    entity graph, not a synthetic one. The REAL pipeline (pandas
    extraction kernel, broadcast link join with Ghost/Amb handling,
    CC canonicalization) produces the canonical edge list; the seeds
    {P0, P1} get all teleport mass, so ranks are integer-exact
    proximity to those entities (the KG relatedness / expansion
    scorer). The oracle reconstructs the identical canonical graph
    closed-form from the planting arithmetic and replays the same
    BIGINT recurrence — any drift in extraction, linking, or
    canonicalization changes the edge set and fails the hash."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    # one eager checkpoint cuts the pipeline lineage so pagerank's own
    # node/edge materializations don't re-run extract+link+canonicalize
    g = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    return pagerank(g, iterations=6, reset_nodes=["P0", "P1"])


_KG_PAGERANK_SQL = f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM ({_PLANT_SQL})
      WHERE subj <> obj),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
ea AS (
  SELECT e.src, e.dst, CAST(1 AS BIGINT) AS w, o.d FROM e JOIN outd o USING (src)
  UNION ALL
  SELECT node, node, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM nodes
),
pr AS (
  SELECT 0 AS iter, node,
         CASE WHEN node IN ('P0', 'P1') THEN 1000000000000 // 2 ELSE 0 END AS rank
  FROM nodes
  UNION ALL
  SELECT p.iter + 1, ea.dst,
         CASE WHEN ea.dst IN ('P0', 'P1')
              THEN (15 * 1000000000000) // (100 * 2) ELSE 0 END
         + CAST(SUM((85 * p.rank * ea.w) // (100 * ea.d)) AS BIGINT)
  FROM pr p JOIN ea ON ea.src = p.node
  WHERE p.iter < 6
  GROUP BY 1, 2
)
SELECT node, CAST(rank AS BIGINT) AS pagerank_scaled FROM pr WHERE iter = 6
"""
query("kg_pagerank", _kg_pagerank, _KG_PAGERANK_SQL)


def _kg_bfs_hops(spark, sf):
    """Frontier BFS over the ACTUAL canonicalized KG output: hop
    distances from entity P0 along directed canonical edges — the
    'entity neighborhood' traversal every KG serving layer runs.
    Same joined-halves discipline as kg_pagerank: the REAL pipeline
    builds the graph, the oracle replays the closed-form planted edge
    set through a recursive CTE."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    g = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    sources = local_frame(g.sparkSession, [("P0",)], "node string")
    return bfs_distances(g, sources, max_hops=10)


_KG_BFS_SQL = f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM ({_PLANT_SQL})
      WHERE subj <> obj),
d AS (
  SELECT 'P0' AS node, 0 AS dist
  UNION
  SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node WHERE d.dist < 10
)
SELECT node, CAST(MIN(dist) AS INT) AS dist FROM d GROUP BY node
"""
query("kg_bfs_hops", _kg_bfs_hops, _KG_BFS_SQL)


def _kg_kcore(spark, sf):
    """2-core of the ACTUAL canonicalized KG output (undirected):
    strips the pendant entities (mentioned with a single neighbor)
    from the entity graph — the densification step KG curation runs
    before serving. Same joined-halves discipline as kg_pagerank: the
    REAL pipeline materializes the graph, the oracle peels the
    closed-form planted edge set in a recursive CTE."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    g = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    return kcore(g, 2)


_KG_KCORE_SQL = f"""
WITH RECURSIVE
raw AS (SELECT DISTINCT subj AS a, obj AS b FROM ({_PLANT_SQL}) WHERE subj <> obj),
e0 AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw),
b2 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
peel AS (
  SELECT 0 AS iter, u, v FROM b2
  UNION ALL
  SELECT iter, u, v FROM (
    SELECT p.iter + 1 AS iter, p.u, p.v,
           COUNT(*) OVER (PARTITION BY p.u) AS du,
           COUNT(*) OVER (PARTITION BY p.v) AS dv
    FROM peel p WHERE p.iter < 30
  ) WHERE du >= 2 AND dv >= 2
)
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM peel WHERE iter = 30 GROUP BY u
"""
query("kg_kcore", _kg_kcore, _KG_KCORE_SQL)


def _kg_edge_provenance(spark, sf):
    """Verifies the edge table's PROVENANCE metadata — the
    first_seen/last_seen (conv, turn) structs the pipeline aggregates
    per canonical triple (the lineage a serving layer shows as 'where
    did this fact come from'). The oracle recomputes the min/max
    struct over the closed-form planted occurrences."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    return edges.select(
        "subj",
        "pred",
        "obj",
        F.col("n_occurrences").cast("long").alias("n"),
        F.col("first_seen.conv_id").alias("first_conv"),
        F.col("first_seen.turn_idx").cast("long").alias("first_turn"),
        F.col("last_seen.conv_id").alias("last_conv"),
        F.col("last_seen.turn_idx").cast("long").alias("last_turn"),
    )


_KG_PROVENANCE_SQL = f"""
WITH p AS (SELECT doc_id, subj, pred, obj FROM ({_PLANT_SQL})),
j AS (
  SELECT p.subj, p.pred, p.obj, d.source AS conv, CAST(p.doc_id AS INT) AS turn
  FROM p JOIN documents d USING (doc_id)
)
SELECT subj, pred, obj, CAST(COUNT(*) AS BIGINT) AS n,
       (min({{'c': conv, 't': turn}})).c AS first_conv,
       CAST((min({{'c': conv, 't': turn}})).t AS BIGINT) AS first_turn,
       (max({{'c': conv, 't': turn}})).c AS last_conv,
       CAST((max({{'c': conv, 't': turn}})).t AS BIGINT) AS last_turn
FROM j GROUP BY subj, pred, obj
"""
query("kg_edge_provenance", _kg_edge_provenance, _KG_PROVENANCE_SQL)


def _kg_temporal_activity(spark, sf):
    """Entity activity timeline over the ACTUAL KG output: for every
    canonical entity in either role (subject or object), the number
    of facts it participates in, total mention occurrences, and the
    first/last turn + active span — read straight off the provenance
    structs (first_seen/last_seen) the pipeline aggregates per
    triple, i.e. the 'when was this entity alive' view a temporal KG
    serves. The oracle recomputes everything from the closed-form
    planted occurrence set."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges

    def role(col):
        return edges.select(
            F.col(col).alias("entity"),
            F.col("n_occurrences").cast("long").alias("n"),
            F.col("first_seen.turn_idx").cast("long").alias("ft"),
            F.col("last_seen.turn_idx").cast("long").alias("lt"),
        )

    return (
        role("subj")
        .unionAll(role("obj"))
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.sum("n").cast("long").alias("n_occ"),
            F.min("ft").cast("long").alias("first_turn"),
            F.max("lt").cast("long").alias("last_turn"),
            (F.max("lt") - F.min("ft")).cast("long").alias("active_span"),
        )
    )


_KG_TEMPORAL_SQL = f"""
WITH p AS (SELECT doc_id, subj, pred, obj FROM ({_PLANT_SQL})),
tri AS (
  SELECT subj, pred, obj, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(doc_id) AS BIGINT) AS ft, CAST(MAX(doc_id) AS BIGINT) AS lt
  FROM p GROUP BY 1, 2, 3
),
u AS (SELECT subj AS entity, n, ft, lt FROM tri
      UNION ALL SELECT obj, n, ft, lt FROM tri)
SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(SUM(n) AS BIGINT) AS n_occ,
       CAST(MIN(ft) AS BIGINT) AS first_turn,
       CAST(MAX(lt) AS BIGINT) AS last_turn,
       CAST(MAX(lt) - MIN(ft) AS BIGINT) AS active_span
FROM u GROUP BY entity
"""
query("kg_temporal_activity", _kg_temporal_activity, _KG_TEMPORAL_SQL)


def _kg_communities_louvain(spark, sf):
    """One-level Louvain refinement of the label-propagation
    communities over the ACTUAL canonicalized KG output
    (graph_stats.py louvain_refine): synchronous greedy modularity-
    gain moves in exact scaled integers, graded by modularity_scaled
    in pytest (refined >= LP baseline — round-4 VERDICT item 7). The
    oracle replays LP (4 rounds) plus the identical one-sweep gain
    arithmetic over the closed-form planted edge set."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    g = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    lp = label_propagation(g, iterations=4)
    return louvain_refine(g, lp, sweeps=1)


def _louvain_sql() -> str:
    """DuckDB replay of louvain_refine's hash-colored sub-sweeps over
    the planted KG edge set: LP (4 rounds) seeds assign, then one
    chained CTE block per color class applies that class's strictly-
    positive best moves (gains recomputed between blocks), exactly
    the engine's arithmetic."""
    n_colors = 4
    blocks, prev = [], "assign"
    for i in range(n_colors):
        blocks.append(f"""
tot{i} AS MATERIALIZED (SELECT a.c, CAST(SUM(d.d) AS BIGINT) AS tot
           FROM {prev} a JOIN deg d ON d.n = a.node GROUP BY 1),
kuc{i} AS MATERIALIZED (SELECT b2.u, a.c AS vc, CAST(COUNT(*) AS BIGINT) AS k
           FROM b2 JOIN {prev} a ON a.node = b2.v GROUP BY 1, 2),
cur{i} AS MATERIALIZED (
  SELECT a.node AS u, a.c AS cu, d.d AS ku, t.tot AS tot_cu,
         COALESCE(ko.k, 0) AS k_own
  FROM {prev} a
  JOIN deg d ON d.n = a.node
  JOIN tot{i} t ON t.c = a.c
  LEFT JOIN kuc{i} ko ON ko.u = a.node AND ko.vc = a.c),
cand{i} AS (
  SELECT cur{i}.u, kuc{i}.vc,
         2 * mm.m * (kuc{i}.k - cur{i}.k_own)
           - cur{i}.ku * (tot{i}.tot - (cur{i}.tot_cu - cur{i}.ku)) AS gain
  FROM cur{i}
  JOIN kuc{i} ON kuc{i}.u = cur{i}.u AND kuc{i}.vc <> cur{i}.cu
  JOIN tot{i} ON tot{i}.c = kuc{i}.vc
  CROSS JOIN mm
  WHERE ('0x' || substr(md5(CAST(cur{i}.u AS VARCHAR)), 1, 15))::BIGINT
        % {n_colors} = {i}),
best{i} AS (
  SELECT u, min({{'negg': -gain, 'vc': vc}}) AS b
  FROM cand{i} WHERE gain > 0 GROUP BY u),
assign{i} AS MATERIALIZED (
  SELECT cur{i}.u AS node, COALESCE(best{i}.b.vc, cur{i}.cu) AS c
  FROM cur{i} LEFT JOIN best{i} ON best{i}.u = cur{i}.u)""")
        prev = f"assign{i}"
    return f"""
WITH RECURSIVE
raw AS MATERIALIZED (SELECT DISTINCT subj AS a, obj AS b
                     FROM ({_PLANT_SQL}) WHERE subj <> obj),
e0 AS MATERIALIZED (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
                    FROM raw),
b2 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
lp AS (
  SELECT 0 AS iter, u AS node, u AS label FROM (SELECT DISTINCT u FROM b2)
  UNION ALL
  SELECT iter, node, label FROM (
    SELECT c.iter, c.node, c.label,
           ROW_NUMBER() OVER (PARTITION BY c.iter, c.node
                              ORDER BY c.cnt DESC, c.label ASC) AS rn
    FROM (
      SELECT p.iter + 1 AS iter, b2.v AS node, p.label, COUNT(*) AS cnt
      FROM lp p JOIN b2 ON b2.u = p.node
      WHERE p.iter < 4
      GROUP BY 1, 2, 3
    ) c
  ) WHERE rn = 1
),
assign AS MATERIALIZED (SELECT node, label AS c FROM lp WHERE iter = 4),
deg AS MATERIALIZED (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM b2 GROUP BY 1),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
{",".join(blocks)}
SELECT node, c AS community FROM {prev}
"""


_KG_LOUVAIN_SQL = _louvain_sql()
query("kg_communities_louvain", _kg_communities_louvain, _KG_LOUVAIN_SQL)


def _kg_link_prediction(spark, sf):
    """KG completion over the ACTUAL canonicalized output: resource-
    allocation link-prediction scores for non-adjacent entity pairs
    sharing neighbors (graph_stats.py link_prediction_scores) — the
    'which edges are missing' query every KG serving layer runs.
    Integer ppm arithmetic; the oracle replays the wedge join over
    the closed-form planted edge set."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    g = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    return link_prediction_scores(g)


_KG_LINKPRED_SQL = f"""
WITH raw AS (SELECT DISTINCT subj AS a, obj AS b FROM ({_PLANT_SQL})
             WHERE subj <> obj),
e AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM raw),
b2 AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM b2 GROUP BY u),
w AS (
  SELECT za.v AS a, zb.v AS b, za.u AS z
  FROM b2 za JOIN b2 zb ON za.u = zb.u
  WHERE za.v < zb.v
),
s AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(1000000 // d) AS BIGINT) AS ra_ppm
  FROM w JOIN deg ON w.z = deg.u
  GROUP BY a, b
)
SELECT s.a AS u, s.b AS v, s.n_common, s.ra_ppm
FROM s LEFT JOIN e ON s.a = e.u AND s.b = e.v
WHERE e.u IS NULL
"""
query("kg_link_prediction", _kg_link_prediction, _KG_LINKPRED_SQL)


def _kg_negative_samples(spark, sf):
    """Training-data prep for KG-embedding models (TransE-family):
    K=2 deterministic corrupt-object negatives per canonical triple,
    under the FILTERED protocol (a corruption that happens to be a
    true triple is dropped, including the identity corruption). The
    corrupted object is picked by portable hash into the dense
    entity index, so the sample is reproducible in any engine and
    stable under repartitioning — no rand() anywhere. Entity pool is
    vocabulary-bounded: the index window and the broadcast join are
    the same discipline as the link dictionary."""
    t = _planted_transcripts_full(spark, sf)
    edges = run_kg_pipeline(t.drop("ts"), alias_dict_df(spark)).edges
    triples = edges.select("subj", "pred", "obj").distinct().localCheckpoint()
    ents = (
        triples.select(F.col("subj").alias("ent"))
        .union(triples.select(F.col("obj").alias("ent")))
        .distinct()
    )
    n_ents = ents.count()  # canonical vocabulary — bounded by contract
    ents_idx = ents.withColumn(
        "idx", F.row_number().over(Window.orderBy("ent")) - 1
    )
    cand = triples.withColumn("k", F.explode(F.array(F.lit(0), F.lit(1))))
    cand = cand.withColumn(
        "idx",
        F.pmod(
            portable_hash60(F.concat_ws("|", "subj", "pred", "obj", "k")),
            F.lit(n_ents),
        ),
    )
    neg = cand.join(F.broadcast(ents_idx), "idx").select(
        "subj", "pred", F.col("ent").alias("neg_obj"), "k"
    )
    return neg.join(
        triples.select("subj", "pred", F.col("obj").alias("neg_obj")),
        ["subj", "pred", "neg_obj"],
        "left_anti",
    )


_KG_NEG_SQL = f"""
WITH triples AS (SELECT DISTINCT subj, pred, obj FROM ({_PLANT_SQL})),
ents AS (SELECT DISTINCT ent FROM
         (SELECT subj AS ent FROM triples UNION ALL SELECT obj FROM triples)),
ei AS (SELECT ent, ROW_NUMBER() OVER (ORDER BY ent) - 1 AS idx FROM ents),
n AS (SELECT COUNT(*) AS c FROM ents),
cand AS (
  SELECT t.subj, t.pred, t.obj, ks.k,
         (('0x' || substr(md5(t.subj || '|' || t.pred || '|' || t.obj || '|'
                              || CAST(ks.k AS VARCHAR)), 1, 15))::BIGINT) % n.c
           AS idx
  FROM triples t, (SELECT unnest([0, 1]) AS k) ks, n
),
neg AS (
  SELECT c.subj, c.pred, e.ent AS neg_obj, CAST(c.k AS INT) AS k
  FROM cand c JOIN ei e USING (idx)
)
SELECT g.subj, g.pred, g.neg_obj, g.k
FROM neg g
LEFT JOIN triples t
  ON g.subj = t.subj AND g.pred = t.pred AND g.neg_obj = t.obj
WHERE t.subj IS NULL
"""
query("kg_negative_samples", _kg_negative_samples, _KG_NEG_SQL)


def _stream_kg_windowed(spark, sf):
    """Structured-Streaming KG over a bounded replay of the planted
    transcripts: readStream(parquet) → pandas extraction → broadcast
    link join → event-time-windowed triple counts → memory sink
    (complete mode, availableNow). Stream == batch on bounded input,
    so the DuckDB oracle is the closed-form windowed triple set."""
    docs_schema = fan_out(spark.read.parquet(f"{sf}/documents.parquet")).schema
    # the file-stream source watches a DIRECTORY; expose the single
    # parquet file through a temp dir of symlinks (at production scale
    # the source is a real landing directory / Iceberg table)
    stream_dir = tempfile.mkdtemp(prefix="stream_kg_docs_")
    os.symlink(
        os.path.abspath(f"{sf}/documents.parquet"),
        os.path.join(stream_dir, "documents.parquet"),
    )
    stream_docs = spark.readStream.schema(docs_schema).parquet(stream_dir)
    # same planting as _planted_transcripts_full, applied to the stream
    t = _plant_from_docs(stream_docs)
    link_dict = prepare_link_dict(alias_dict_df(spark))
    triples = streaming_triples(t, link_dict)
    q = (
        triples.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_kg_windowed_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("stream_kg_windowed_out")
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "subj",
        "pred",
        "obj",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


def _plant_from_docs(docs: DataFrame, include_doc_text: bool = True) -> DataFrame:
    """The _planted_transcripts_full transform factored over an
    arbitrary documents DataFrame (batch or streaming).
    ``include_doc_text=False`` keeps only the planted sentences, so
    per-turn mention counts are closed-form integers (1 + ghost + amb)
    with no regex over arbitrary corpus text — what the sessionization
    oracle needs."""
    h = _h60("doc_id")
    k = (F.col("doc_id") % 40).cast("string")
    subj = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("Person"), k)
    ).otherwise(F.concat(F.lit("P"), k))
    phrase = F.element_at(F.array(*[F.lit(p) for p in _PHRASES]), (h % 5 + 1).cast("int"))
    obj_kind = F.shiftright(h, 3) % 3
    obj_alias = F.shiftright(h, 6) % 2
    obj = (
        F.when(
            obj_kind == 0,
            F.concat(
                F.when(obj_alias == 0, F.lit("Person")).otherwise(F.lit("P")),
                (F.shiftright(h, 8) % 40).cast("string"),
            ),
        )
        .when(
            obj_kind == 1,
            F.concat(
                F.when(obj_alias == 0, F.lit("Org")).otherwise(F.lit("O")),
                (F.shiftright(h, 8) % 12).cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("Tool"), (F.shiftright(h, 8) % 8).cast("string")))
    )
    s1 = F.concat(subj, F.lit(" "), phrase, F.lit(" "), obj, F.lit(". "))
    s2 = F.when(
        F.shiftright(h, 14) % 10 < 2,
        F.concat(
            F.lit("Ghost"),
            (F.shiftright(h, 18) % 6).cast("string"),
            F.lit(" uses Tool"),
            (F.col("doc_id") % 8).cast("string"),
            F.lit(". "),
        ),
    ).otherwise(F.lit(""))
    s3 = F.when(F.shiftright(h, 22) % 10 < 2, F.lit("Amb manages Org3. ")).otherwise(
        F.lit("")
    )
    body = F.concat(s1, s2, s3, F.col("text")) if include_doc_text else F.concat(s1, s2, s3)
    return docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        body.alias("text"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 60).alias("ts"),
    )


_STREAM_KG_SQL = f"""
SELECT CAST(make_timestamp((ts_sec - (ts_sec % 600)) * 1000000) AS VARCHAR) AS window_start,
       subj, pred, obj, COUNT(*) AS n_occurrences
FROM (
  SELECT p.*, 1735689600 + p.doc_id * 60 AS ts_sec FROM ({_PLANT_SQL}) p
)
GROUP BY 1, 2, 3, 4
"""
query("stream_kg_windowed", _stream_kg_windowed, _STREAM_KG_SQL)
