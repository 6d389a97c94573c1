"""Fulltext-index analog (A8) + reference config parsing (G3)."""

from pathlib import Path

from batch_import_spark.config import load_config
from batch_import_spark.operators.fulltext import build_fulltext_postings, fulltext_lookup


def test_fulltext_candidate_generation(spark):
    entries = spark.createDataFrame(
        [
            ("users", "name", "Mr Michael Hunger", 0),
            ("users", "name", "Michael Jackson", 1),
            ("users", "name", "Selina Kyle", 2),
        ],
        "index_name string, key_prop string, key_value string, node_id long",
    )
    postings = build_fulltext_postings(entries)
    got = {(r["token"], r["node_id"]) for r in postings.collect()}
    assert ("michael", 0) in got and ("michael", 1) in got and ("kyle", 2) in got

    queries = spark.createDataFrame(
        [(10, "michael hunger"), (11, "selina")], "query_id long, query string"
    )
    hits = fulltext_lookup(queries, postings, top_k=2)
    by_q = {}
    for r in hits.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    # full match ranks above partial
    q10 = sorted(by_q[10], key=lambda r: r["rank"])
    assert q10[0]["node_id"] == 0 and q10[0]["score"] == 1.0
    assert q10[1]["node_id"] == 1 and q10[1]["score"] == 0.5
    assert by_q[11][0]["node_id"] == 2


def test_tfidf_top_terms_hand_computed(spark):
    """N=3 docs: 'rare' (df=1) must outscore 'shared' (df=3) at equal
    tf; tf breaks the tie upward; ties at equal score order by token."""
    from batch_import_spark.operators.fulltext import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "shared rare shared"),
            (1, "shared solo solo"),
            (2, "shared"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], -r["score_u"], r["token"])):
        by_doc.setdefault(r["doc_id"], []).append((r["token"], r["tf"], r["df"]))
    # doc 0: rare (tf1, df1, 3e6) > shared (tf2, df3, 2e6)
    assert by_doc[0] == [("rare", 1, 1), ("shared", 2, 3)]
    # doc 1: solo (tf2, df1, 6e6) > shared (tf1, df3, 1e6)
    assert by_doc[1] == [("solo", 2, 1), ("shared", 1, 3)]
    assert by_doc[2] == [("shared", 1, 3)]


def test_index_value_keeps_uri_files():
    """Documented divergence from IndexInfo.fromConfigEntry: the
    reference's split(":")[1] would truncate 'exact:hdfs://h/p' to
    'hdfs' — we keep the full file name after the first colon."""
    cfg = load_config("batch_import.node_index.articles=exact:hdfs://host/path\n")
    info = cfg.indexes["articles"]
    assert info.index_type == "exact"
    assert info.file == "hdfs://host/path"


def test_config_parses_reference_sample(spark):
    """ConfigTest.java:53-120 semantics on an in-repo equivalent of
    the reference's sample/batch.properties."""
    text = (Path(__file__).parent / "fixtures" / "reference_sample" / "batch.properties").read_text()
    cfg = load_config(
        text,
        nodes_files="sample/nodes.csv,sample/nodes2.csv",
        rels_files="sample/rels.csv",
    )
    assert cfg.nodes_files == ["sample/nodes.csv", "sample/nodes2.csv"]
    assert cfg.rels_files == ["sample/rels.csv"]
    assert cfg.delim == "\t" and cfg.quotes is True
    assert cfg.indexes["users"].index_type == "exact"
    assert cfg.indexes["users"].element_type == "node-index"
    # mmap tuning keys accepted + ignored
    assert "neostore.nodestore.db.mapped_memory" in cfg.raw


def test_config_index_quadruples():
    cfg = load_config(
        "", index_args=["node-index", "articles", "fulltext", "idx.csv"]
    )
    ii = cfg.indexes["articles"]
    assert (ii.element_type, ii.index_type, ii.file) == (
        "node-index",
        "fulltext",
        "idx.csv",
    )


# --- IndexInfo parity (IndexInfoTest.java) -----------------------------------


def test_index_value_with_file_suffix():
    """fromConfigEntry splits 'exact:file' (IndexInfoTest.java:25-31)."""
    cfg = load_config("batch_import.node_index.foo=exact:file")
    ii = cfg.indexes["foo"]
    assert (ii.element_type, ii.name, ii.index_type, ii.file) == (
        "node-index", "foo", "exact", "file"
    )


def test_index_invalid_type_aborts():
    """IndexInfoTest.java:52-54: bad index type → IllegalArgumentException."""
    import pytest

    from batch_import_spark.config import IndexInfo

    with pytest.raises(ValueError, match="IndexType"):
        IndexInfo("node_index", "foo", "bar", None)


def test_index_invalid_element_type_aborts():
    """IndexInfoTest.java:56-58: bad element type aborts."""
    import pytest

    from batch_import_spark.config import IndexInfo

    with pytest.raises(ValueError, match="ElementType"):
        IndexInfo("foo", "exact", "exact", None)


def test_index_should_import_file(tmp_path):
    """IndexInfoTest.java:61-70: only an existing, readable, non-dir
    file triggers the standalone index import."""
    from batch_import_spark.config import IndexInfo

    assert not IndexInfo("node_index", "name", "exact", None).should_import_file()
    assert not IndexInfo("node_index", "name", "exact", str(tmp_path)).should_import_file()
    missing = str(tmp_path / "node_index.csv")
    assert not IndexInfo("node_index", "name", "exact", missing).should_import_file()
    (tmp_path / "node_index.csv").write_bytes(b"\0")
    assert IndexInfo("node_index", "name", "exact", missing).should_import_file()
