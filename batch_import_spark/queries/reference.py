"""Reference operator families: typed casts, label splits, index
lookups, the unique-key rule, dense ids, index explodes, edge
normalization, connected components and the fulltext index."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.canonicalize import connected_components
from batch_import_spark.operators.fulltext import (
    build_fulltext_postings,
    fulltext_lookup,
)
from batch_import_spark.operators.graph_import import import_relationships
from batch_import_spark.operators.ids import with_dense_id
from batch_import_spark.queries.common import _U4_SQL, _u4, query
from batch_import_spark.schema import parse_header
from batch_import_spark.session import fan_out
from batch_import_spark.sources.csv_source import ReferenceCsv


def _j1_index_lookup(spark, sf):
    """Broadcast dict left-join + skip counting (J1/P7 semantics)."""
    # plain reads: one broadcast lookup + one combinable aggregate —
    # the fan-out shuffle costs more than the scan work (round 7)
    o = spark.read.parquet(f"{sf}/orders.parquet")
    dict_df = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .where(F.col("c_acctbal") > 500)
        .select("c_custkey")
    )
    joined = o.join(F.broadcast(dict_df), o.o_custkey == dict_df.c_custkey, "left")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count("c_custkey").alias("n_resolved"),
        (F.count(F.lit(1)) - F.count("c_custkey")).alias("n_skipped"),
    )


_J1_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_input,
       COUNT(d.c_custkey) AS n_resolved,
       COUNT(*) - COUNT(d.c_custkey) AS n_skipped
FROM orders LEFT JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 500) d
  ON o_custkey = d.c_custkey
GROUP BY o_orderpriority
"""
query("j1_index_lookup", _j1_index_lookup, _J1_SQL)


def _j1_unique_key_rule(spark, sf):
    """getSingle semantics: only keys with exactly one id resolve."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    uniq = (
        c.groupBy("c_nationkey")
        .agg(F.count_distinct("c_custkey").alias("n"), F.min("c_custkey").alias("c_custkey"))
        .where(F.col("n") == 1)
        .drop("n")
    )
    return (
        s.join(F.broadcast(uniq), s.s_nationkey == uniq.c_nationkey, "left")
        .select("s_suppkey", "c_custkey")
    )


_J1U_SQL = """
SELECT s_suppkey, d.c_custkey
FROM supplier LEFT JOIN (
  SELECT c_nationkey, MIN(c_custkey) AS c_custkey
  FROM customer GROUP BY c_nationkey HAVING COUNT(DISTINCT c_custkey) = 1
) d ON s_nationkey = d.c_nationkey
"""
query("j1_unique_key_rule", _j1_unique_key_rule, _J1U_SQL)


def _o2_edge_normalize(spark, sf):
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    return (
        li.where(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.least("l_partkey", "l_suppkey").alias("edge_min"),
            F.greatest("l_partkey", "l_suppkey").alias("edge_max"),
        )
    )


_O2_SQL = """
SELECT l_orderkey, l_linenumber,
       LEAST(l_partkey, l_suppkey) AS edge_min,
       GREATEST(l_partkey, l_suppkey) AS edge_max
FROM lineitem WHERE l_orderkey < 100
"""
query("o2_edge_normalize", _o2_edge_normalize, _O2_SQL)


def _a2_dense_ids(spark, sf):
    n = spark.read.parquet(f"{sf}/nation.parquet")
    return with_dense_id(n, ["n_nationkey"], id_col="node_id").select(
        "node_id", "n_name"
    )


_A2_SQL = """
SELECT ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS node_id, n_name FROM nation
"""
query("a2_dense_ids", _a2_dense_ids, _A2_SQL)


def _a4_index_explode(spark, sf):
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    name_e = c.select(
        F.lit("customers").alias("index_name"),
        F.lit("c_name").alias("key_prop"),
        F.col("c_name").alias("key_value"),
        F.col("c_custkey").alias("node_id"),
    )
    seg_e = c.select(
        F.lit("customers").alias("index_name"),
        F.lit("c_mktsegment").alias("key_prop"),
        F.col("c_mktsegment").alias("key_value"),
        F.col("c_custkey").alias("node_id"),
    )
    return name_e.unionByName(seg_e)


_A4_SQL = """
SELECT 'customers' AS index_name, 'c_name' AS key_prop, c_name AS key_value, c_custkey AS node_id FROM customer
UNION ALL
SELECT 'customers', 'c_mktsegment', c_mktsegment, c_custkey FROM customer
"""
query("a4_index_explode", _a4_index_explode, _A4_SQL)


def _a4_rel_index_explode(spark, sf):
    """Relationship-side inline index population (Importer.java:154-157)
    through the REAL import_relationships operator: a rel table derived
    from lineitem (start = literal id, end resolved through an exact
    index that deliberately omits every p_partkey % 7 == 0, so those
    rels skip and consume no rel id), returning the emitted
    relationship-index entries keyed by the dense creation-order rel id."""
    # plain read ON PURPOSE: dense rel-id assignment is stable in the
    # INPUT's partition layout (ids.py O4), so a round-robin fan-out
    # would re-deal rows and shift the creation-order ids (caught by
    # the round-7 oracle gate)
    li = spark.read.parquet(f"{sf}/lineitem.parquet").where(F.col("l_orderkey") < 200)
    rel_df = li.select(
        F.col("l_orderkey").cast("string").alias("src"),
        F.col("l_partkey").cast("string").alias("end"),
        F.col("l_returnflag").alias("type"),
        F.col("l_linestatus").alias("since"),
        F.lit(0).alias("file_seq"),
        # unique, deterministic input-line order (l_linenumber is 1..7)
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("line_no"),
    )
    header = parse_header(["src", "end:string:parts", "type", "since:string:shipidx"])
    p = spark.read.parquet(f"{sf}/part.parquet").where(F.col("p_partkey") % 7 != 0)
    index_entries = p.select(
        F.lit("parts").alias("index_name"),
        F.lit("end").alias("key_prop"),
        F.col("p_partkey").cast("string").alias("key_value"),
        F.col("p_partkey").cast("long").alias("node_id"),
    )
    rels = import_relationships(ReferenceCsv(df=rel_df, header=header), index_entries)
    return rels.index_entries


_A4_REL_SQL = """
WITH r AS (
  SELECT l_partkey AS dst, l_linestatus AS since,
         l_orderkey * 10 + l_linenumber AS line_no
  FROM lineitem WHERE l_orderkey < 200
),
kept AS (
  SELECT since, ROW_NUMBER() OVER (ORDER BY line_no) - 1 AS rel_id
  FROM r WHERE dst % 7 <> 0
)
SELECT 'shipidx' AS index_name, 'since' AS key_prop, since AS key_value, rel_id
FROM kept WHERE since IS NOT NULL
"""
query("a4_rel_index", _a4_rel_index_explode, _A4_REL_SQL)


def _p1_typed_cast(spark, sf):
    li = fan_out(spark.read.parquet(f"{sf}/lineitem.parquet"))
    return li.where(F.col("l_orderkey") < 50).select(
        F.col("l_orderkey").cast("string").alias("order_str"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
        (F.col("l_returnflag") == "R").alias("returned"),
        F.col("l_linenumber").cast("long").alias("line_long"),
    )


_P1_SQL = """
SELECT CAST(l_orderkey AS VARCHAR) AS order_str,
       CAST(l_quantity AS INTEGER) AS qty_int,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day,
       l_returnflag = 'R' AS returned,
       CAST(l_linenumber AS BIGINT) AS line_long
FROM lineitem WHERE l_orderkey < 50
"""
query("p1_typed_cast", _p1_typed_cast, _P1_SQL)


def _p2_null_projection(spark, sf):
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.nullif(F.col("source"), F.lit("src3"))).alias("n_not_src3"),
    )


_P2_SQL = """
SELECT lang, COUNT(*) AS n_docs, COUNT(NULLIF(source, 'src3')) AS n_not_src3
FROM documents GROUP BY lang
"""
query("p2_null_projection", _p2_null_projection, _P2_SQL)


def _p4_label_split(spark, sf):
    p = spark.read.parquet(f"{sf}/part.parquet")
    return (
        p.select(F.explode(F.split(F.col("p_type"), " ")).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_P4_SQL = """
SELECT label, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(p_type, ' ')) AS label FROM part)
GROUP BY label
"""
query("p4_label_split", _p4_label_split, _P4_SQL)


def _g1_counts(spark, sf):
    e = fan_out(spark.read.parquet(f"{sf}/events.parquet"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_u4("value")).alias("total_value_u4"),
    )


_G1_SQL = f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM({_U4_SQL.format(c="value")}) AS BIGINT) AS total_value_u4
FROM events GROUP BY event_type
"""
query("g1_counts", _g1_counts, _G1_SQL)


def _cc_components(spark, sf):
    """Connected components over the nation–region star graph."""
    n = spark.read.parquet(f"{sf}/nation.parquet")
    edges = n.select(
        (F.col("n_nationkey") + 100).cast("long").alias("u"),
        F.col("n_regionkey").cast("long").alias("v"),
    )
    return connected_components(edges).select("node_id", "component_id")


_CC_SQL = """
SELECT CAST(n_nationkey + 100 AS BIGINT) AS node_id, CAST(n_regionkey AS BIGINT) AS component_id FROM nation
UNION
SELECT DISTINCT CAST(n_regionkey AS BIGINT), CAST(n_regionkey AS BIGINT) FROM nation
"""
query("cc_components", _cc_components, _CC_SQL)


def _fulltext_lookup(spark, sf):
    """A8 fulltext analog: tokenized postings + scored top-k lookup."""
    c = fan_out(spark.read.parquet(f"{sf}/customer.parquet"))
    entries = c.select(
        F.lit("customers").alias("index_name"),
        F.lit("c_name").alias("key_prop"),
        F.col("c_name").alias("key_value"),
        F.col("c_custkey").alias("node_id"),
    )
    postings = build_fulltext_postings(entries)
    queries_df = c.where(F.col("c_custkey") < 5).select(
        F.col("c_custkey").alias("query_id"), F.col("c_name").alias("query")
    )
    return fulltext_lookup(queries_df, postings, top_k=3).select(
        "query_id", "node_id", "n_matched", "score", "rank"
    )


_FULLTEXT_SQL = """
WITH postings AS (
  SELECT DISTINCT tok AS token, c_custkey AS node_id
  FROM (SELECT UNNEST(regexp_split_to_array(lower(c_name), '[^\\w]+')) AS tok, c_custkey FROM customer)
  WHERE tok <> ''
),
q AS (
  SELECT c_custkey AS query_id, tok AS token,
         len(list_filter(regexp_split_to_array(lower(c_name), '[^\\w]+'), x -> x <> '')) AS n_query_tokens
  FROM (SELECT c_custkey, c_name, UNNEST(list_filter(regexp_split_to_array(lower(c_name), '[^\\w]+'), x -> x <> '')) AS tok
        FROM customer WHERE c_custkey < 5)
),
matched AS (
  SELECT q.query_id, q.n_query_tokens, p.node_id, COUNT(*) AS n_matched
  FROM q JOIN postings p ON q.token = p.token
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT query_id, node_id, n_matched,
         ROUND(CAST(n_matched AS DOUBLE) / n_query_tokens, 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY CAST(n_matched AS DOUBLE) / n_query_tokens DESC, node_id ASC) AS rank
  FROM matched
)
SELECT query_id, node_id, n_matched, score, rank FROM ranked WHERE rank <= 3
"""
query("fulltext_lookup", _fulltext_lookup, _FULLTEXT_SQL)
