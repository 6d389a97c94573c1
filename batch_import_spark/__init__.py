"""batch_import_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of jexp/batch-import
(reference: /root/reference, a single-threaded Java CSV→Neo4j bulk
loader) as an idiomatic, horizontally-scalable Spark pipeline:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
        → extract   (vectorized pandas/Arrow UDF triple extraction)
        → link      (broadcast alias-dictionary equi-join, unique-key rule)
        → canonicalize (canonical surface = per-entity min surface)
        → materialize  (nodes/edges tables through one GraphSink writer, AQE)

plus the reference's CSV node/relationship-file semantics (typed
headers, label columns, index lookups, skip-unresolved-edge counting)
re-built on DataFrames, and the large-scale training-data operators a
100 TB pipeline needs (dedup, similarity search, text analysis,
multimodal plumbing).

Everything here is public-API Spark: DataFrame/SQL + Catalyst + AQE;
pandas UDFs only where built-ins cannot express the semantics.
"""

__version__ = "0.1.0"
