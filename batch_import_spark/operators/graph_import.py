"""Node / relationship / index import semantics (Importer.java on Spark).

Reproduces the reference's import pipeline stages (SURVEY.md §3.1) on
DataFrames produced by ``read_reference_csv``:

- ``import_nodes`` — Importer.importNodes (Importer.java:92-117):
  node id = explicit ``i:id`` column (Importer.java:99-101) else dense
  0-based row number across files in declared order (readme.md:38);
  labels from the ``:label`` column; every non-id/non-label column is
  a property; indexed columns additionally emit (index_name, key_prop,
  key_value, node_id) rows — the inline index population
  (Importer.java:105-110) that becomes our alias dictionary.

- ``import_relationships`` — Importer.importRelationships
  (Importer.java:138-163): columns 0,1,2 = start, end, type (offset=3,
  Importer.java:139); rel type from a ``:label``-typed column when
  declared (AbstractLineData.java:117-120); endpoints resolve by
  explicit id (``id`` type) or by unique index lookup
  (Importer.java:177-184); edges with any unresolved endpoint are
  skipped AND counted (Importer.java:149-152).

- ``import_index`` — Importer.importIndex (Importer.java:186-196):
  standalone index file, column 0 = entity id, remaining indexed
  columns add entries.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from batch_import_spark.operators.ids import with_dense_id
from batch_import_spark.operators.linking import build_unique_alias_dict
from batch_import_spark.sources.csv_source import ReferenceCsv

INDEX_SCHEMA = "index_name string, key_prop string, key_value string, node_id long"
REL_INDEX_SCHEMA = "index_name string, key_prop string, key_value string, rel_id long"


@dataclass
class ImportedNodes:
    nodes: DataFrame  # node_id, labels, <property columns>, file_seq, line_no
    index_entries: DataFrame  # INDEX_SCHEMA


@dataclass
class ImportedRelationships:
    edges: DataFrame  # rel_id, src_id, dst_id, rel_type, <property columns>, line_no
    index_entries: DataFrame  # REL_INDEX_SCHEMA (inline relationship-index rows)
    observation: Observation  # n_input / n_resolved / n_skipped


def import_nodes(ref: ReferenceCsv, id_offset: int = 0) -> ImportedNodes:
    df = ref.df
    id_fields = [h for h in ref.header if h.is_id]
    label_fields = [h for h in ref.header if h.is_label]
    prop_fields = [h for h in ref.header if h.is_property]

    if id_fields:
        df = df.withColumn("node_id", F.col(id_fields[0].col_name))
    else:
        # dense insertion-order id across files in sequence: the scan's
        # own row number (read_reference_csv)
        df = df.withColumn("node_id", F.col("row_no") + F.lit(id_offset))

    labels = (
        F.col(label_fields[0].col_name) if label_fields else F.lit(None).cast("array<string>")
    )
    nodes = df.select(
        "node_id",
        labels.alias("labels"),
        *[F.col(h.col_name) for h in prop_fields],
        "file_seq",
        "line_no",
    )
    idx = _index_entries(
        df, [h for h in ref.header if h.is_indexed and h.is_property], F.col("node_id"), INDEX_SCHEMA
    )
    return ImportedNodes(nodes=nodes, index_entries=idx)


def _index_entries(df: DataFrame, fields, entity_id: Column, schema: str) -> DataFrame:
    """(index_name, key_prop, key_value, <entity id>) rows, one per
    non-null cell of each indexed field — index.add skips null values
    (AbstractLineData.java:92-107)."""
    parts = [
        df.where(F.col(h.col_name).isNotNull()).select(
            F.lit(h.index_name).alias("index_name"),
            F.lit(h.name).alias("key_prop"),
            F.col(h.col_name).cast("string").alias("key_value"),
            entity_id,
        )
        for h in fields
    ]
    if not parts:
        return df.sparkSession.createDataFrame([], schema)
    return reduce(DataFrame.unionByName, parts)


def _resolve_endpoint(
    df: DataFrame, field, index_entries: DataFrame, out_col: str
) -> DataFrame:
    """Resolve one endpoint column to a node id (or null)."""
    if field.is_id or not field.is_indexed:
        # the cell IS the node id: Long.parseLong. Reference precedence
        # (Importer.java:177-184 → id() at :212-214): the literal parse
        # wins whenever indexName==null OR type==ID — an 'a:id:myindex'
        # endpoint parses as a long, it does NOT go through the index.
        return df.withColumn(out_col, F.col(field.col_name).cast("long"))
    # unique-key lookup: getSingle semantics — ambiguous keys yield null
    lut = build_unique_alias_dict(
        index_entries.where(
            (F.col("index_name") == field.index_name)
            & (F.col("key_prop") == field.name)
        ),
        key_col="key_value",
        id_col="node_id",
    ).select(
        F.col("key_value").alias(f"_k_{out_col}"),
        F.col("node_id").alias(out_col),
    )
    return df.join(
        F.broadcast(lut),
        F.col(field.col_name).cast("string") == F.col(f"_k_{out_col}"),
        "left",
    ).drop(f"_k_{out_col}")


def import_relationships(
    ref: ReferenceCsv, index_entries: DataFrame
) -> ImportedRelationships:
    hdr = ref.header
    if len(hdr) < 3:
        raise ValueError("relationship file needs at least start, end, type columns")
    start_f, end_f = hdr[0], hdr[1]
    label_fields = [h for h in hdr if h.is_label]
    type_col = label_fields[0].col_name if label_fields else hdr[2].col_name
    type_is_array = bool(label_fields)  # :label columns split to arrays
    # properties: beyond the fixed offset of 3 (Importer.java:139-140)
    prop_fields = [h for h in hdr if h.column >= 3 and h.is_property and h.col_name != type_col]

    df = ref.df
    df = _resolve_endpoint(df, start_f, index_entries, "src_id")
    df = _resolve_endpoint(df, end_f, index_entries, "dst_id")

    rel_type = (
        F.element_at(F.col(type_col), 1) if type_is_array else F.col(type_col).cast("string")
    )

    obs = Observation("rel_import")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum((F.col("src_id").isNotNull() & F.col("dst_id").isNotNull()).cast("long")).alias(
            "n_resolved"
        ),
        F.sum((F.col("src_id").isNull() | F.col("dst_id").isNull()).cast("long")).alias(
            "n_skipped"
        ),
    )
    kept = observed.where(
        F.col("src_id").isNotNull() & F.col("dst_id").isNotNull()
    ).select(
        "src_id",
        "dst_id",
        rel_type.alias("rel_type"),
        *[F.col(h.col_name) for h in prop_fields],
        "file_seq",
        "line_no",
    )
    # Rel ids: db.createRelationship returns the next sequential rel id
    # (Importer.java:154) — 0-based creation order over the SURVIVING
    # rows only (skipped rels never reach createRelationship, so they
    # consume no id). Materialize once before the dense-id range
    # shuffle: the range partitioner's sampling pass re-executes its
    # child, which would double-count the Observation above.
    kept = kept.localCheckpoint(eager=True)
    edges = with_dense_id(kept, ["file_seq", "line_no"], id_col="rel_id").select(
        "rel_id",
        *[c for c in kept.columns if c != "file_seq"],
    )

    # Inline relationship-index population (Importer.java:155-157 via
    # AbstractLineData.getIndexData:92-106): every indexed property
    # column at offset>=3 with a non-null value adds
    # (index_name, key_prop, key_value) under the new rel id.
    rel_idx = _index_entries(
        edges, [h for h in prop_fields if h.is_indexed], F.col("rel_id"), REL_INDEX_SCHEMA
    )
    return ImportedRelationships(edges=edges, index_entries=rel_idx, observation=obs)


def import_index(ref: ReferenceCsv) -> DataFrame:
    """Standalone index file → index entries (Importer.java:186-196)."""
    hdr = ref.header
    id_field = hdr[0]  # column 0 is the entity id (offset=1)
    return _index_entries(
        ref.df,
        [h for h in hdr[1:] if h.is_indexed],
        F.col(id_field.col_name).cast("long").alias("node_id"),
        INDEX_SCHEMA,
    )
