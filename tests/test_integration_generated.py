"""Port of ImporterIntegrationTest.java:23-49.

Reference flow: TestDataGenerator → full import → Neo4j
ConsistencyCheckTool. Our consistency oracle: structural invariants on
the emitted node/edge tables (every edge endpoint exists, counts match
the generator's bookkeeping, properties typed correctly).
"""

from pyspark.sql import functions as F

from batch_import_spark.operators.graph_import import import_nodes, import_relationships
from batch_import_spark.sources.csv_source import read_reference_csv
from batch_import_spark.sources.testdata_gen import generate_reference_csv


def test_generated_import_consistency(spark, tmp_path):
    nodes_path, rels_path = generate_reference_csv(
        str(tmp_path), n_nodes=500, rels_per_node=6
    )
    expected_rels = sum(1 for _ in open(rels_path)) - 1

    nodes = import_nodes(read_reference_csv(spark, nodes_path))
    rels = import_relationships(read_reference_csv(spark, rels_path), nodes.index_entries)

    ndf = nodes.nodes
    assert ndf.count() == 500
    # dense 0-based ids; typed int property
    stats = ndf.agg(
        F.min("node_id"), F.max("node_id"), F.count_distinct("node_id"), F.max("Counter")
    ).collect()[0]
    assert tuple(stats) == (0, 499, 500, 499)
    assert dict(ndf.dtypes)["Counter"] == "int"
    assert set(ndf.select(F.explode("labels")).distinct().toPandas().iloc[:, 0]) <= {
        "Male", "Female", "Both", "None"
    }

    edf = rels.edges
    assert edf.count() == expected_rels
    m = rels.observation.get
    assert m["n_input"] == expected_rels and m["n_skipped"] == 0

    # consistency: every endpoint resolves to an existing node
    # (ConsistencyCheckTool analog)
    node_ids = ndf.select(F.col("node_id").alias("id"))
    dangling = (
        edf.select(F.col("src_id").alias("id"))
        .union(edf.select(F.col("dst_id").alias("id")))
        .distinct()
        .join(node_ids, "id", "left_anti")
    )
    assert dangling.count() == 0
    assert dict(edf.dtypes)["Counter"] == "bigint"
    assert set(
        r["rel_type"] for r in edf.select("rel_type").distinct().collect()
    ) <= {"ONE", "TWO", "THREE"}


def test_generated_sorted_mode(spark, tmp_path):
    nodes_path, rels_path = generate_reference_csv(
        str(tmp_path / "s"), n_nodes=200, rels_per_node=4, sorted_mode=True
    )
    nodes = import_nodes(read_reference_csv(spark, nodes_path))
    rels = import_relationships(read_reference_csv(spark, rels_path), nodes.index_entries)
    # sorted mode: target ≥ source (forward edges)
    assert rels.edges.where(F.col("dst_id") < F.col("src_id")).count() == 0
