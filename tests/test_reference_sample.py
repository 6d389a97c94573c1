"""End-to-end import of an equivalent of the reference repo's sample/ files.

The closest thing to the reference's integration test
(ImporterIntegrationTest.java:23-49 runs generator → import →
ConsistencyCheckTool); here the oracle is the known content of the
reference's sample data (readme.md:56-76), kept in-repo under
tests/fixtures/reference_sample/: four users across two node files and
five index-resolved relationships whose header names
``name:string:users`` twice. It also pins the cross-file dense ids of
read_reference_csv's single numbering of the unioned scans.
"""

from pathlib import Path

from batch_import_spark.operators.graph_import import import_nodes, import_relationships
from batch_import_spark.sources.csv_source import read_reference_csv

SAMPLE = Path(__file__).parent / "fixtures" / "reference_sample"


def test_reference_sample_end_to_end(spark):
    nodes = import_nodes(
        read_reference_csv(spark, f"{SAMPLE}/nodes.csv,{SAMPLE}/nodes2.csv")
    )
    got = {r["name"]: r["node_id"] for r in nodes.nodes.collect()}
    # dense ids across both files in declared order (readme.md:38)
    assert got == {"Michael": 0, "Selina": 1, "Rana": 2, "Selma": 3}

    # duplicate header names (name:string:users twice) are legal:
    # the reference is positional (sample/rels.csv)
    rels = import_relationships(
        read_reference_csv(spark, f"{SAMPLE}/rels.csv"), nodes.index_entries
    )
    edges = {(r["src_id"], r["dst_id"]) for r in rels.edges.collect()}
    assert edges == {(0, 1), (0, 2), (0, 3), (2, 3), (1, 2)}
    m = rels.observation.get
    assert (m["n_input"], m["n_resolved"], m["n_skipped"]) == (5, 5, 0)
