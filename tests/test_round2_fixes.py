"""Round-2 fixes: scale ceilings, zip input, endpoint precedence,
sinks, expression SimHash, band math (VERDICT.md r1 items 3-8, ADVICE).
"""

from __future__ import annotations

import os
import re
import zipfile

import pytest
from pyspark.sql import functions as F


# --- VERDICT #4: no Python round-trips in the package hot paths ---------------


def test_no_rdd_usage_in_package():
    pkg = os.path.join(os.path.dirname(__file__), "..", "batch_import_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                src = open(os.path.join(root, fn)).read()
                # .rdd / zipWithIndex round-trips deserialize every row
                # into Python — banned from the non-test package.
                # `session.fan_out`'s `.rdd.getNumPartitions()` is the
                # one exemption: it reads plan metadata only (no row
                # ever crosses the boundary).
                if fn == "session.py":
                    src = src.replace(".rdd.getNumPartitions()", "")
                if re.search(r"\.rdd\b|zipWithIndex", src):
                    offenders.append(fn)
    assert offenders == [], offenders


def test_line_no_is_file_order(spark, tmp_path):
    p = tmp_path / "n.csv"
    p.write_text("name\tv:int\n" + "".join(f"row{i}\t{i}\n" for i in range(1000)))
    from batch_import_spark.sources.csv_source import read_reference_csv

    ref = read_reference_csv(spark, [str(p)])
    rows = ref.df.orderBy("line_no").collect()
    assert [r["line_no"] for r in rows] == list(range(1000))
    assert [r["v"] for r in rows] == list(range(1000))


# --- VERDICT #6: .zip input handled ------------------------------------------


def test_zip_source_reads_data(spark, tmp_path):
    zp = tmp_path / "nodes.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("nodes.csv", "name\tage:int\na\t1\nb\t2\n")
    from batch_import_spark.sources.csv_source import read_reference_csv

    ref = read_reference_csv(spark, [str(zp)])
    rows = ref.df.orderBy("line_no").collect()
    assert [(r["name"], r["age"]) for r in rows] == [("a", 1), ("b", 2)]


def test_multi_file_header_mismatch_fails_fast(spark, tmp_path):
    p1 = tmp_path / "a.csv"
    p1.write_text("name\tage:int\nx\t1\n")
    p2 = tmp_path / "b.csv"
    p2.write_text("other\tcols\ny\t2\n")
    from batch_import_spark.sources.csv_source import read_reference_csv

    with pytest.raises(ValueError, match="header"):
        read_reference_csv(spark, [str(p1), str(p2)])


# --- ADVICE low: endpoint precedence (type==id beats index lookup) ------------


def test_id_typed_endpoint_ignores_declared_index(spark, tmp_path):
    """Importer.java:180: indexName==null OR type==ID → literal parse.
    An 'a:id:someindex' endpoint must NOT go through the index."""
    nodes_csv = tmp_path / "nodes.csv"
    nodes_csv.write_text("name:string:people\nalice\nbob\n")
    rels_csv = tmp_path / "rels.csv"
    # endpoints are literal node ids despite the declared index name
    rels_csv.write_text("a:id:people\tb:id:people\ttype\n0\t1\tKNOWS\n")
    from batch_import_spark.operators.graph_import import import_nodes, import_relationships
    from batch_import_spark.sources.csv_source import read_reference_csv

    nodes = import_nodes(read_reference_csv(spark, [str(nodes_csv)]))
    rels = import_relationships(read_reference_csv(spark, [str(rels_csv)]), nodes.index_entries)
    rows = rels.edges.collect()
    assert len(rows) == 1
    assert (rows[0]["src_id"], rows[0]["dst_id"]) == (0, 1)


# --- schema char fail-fast -----------------------------------------------------


def test_char_of_empty_string_aborts(spark):
    from batch_import_spark.schema import convert_column

    df = spark.createDataFrame([("",), ("x",)], "c string")
    with pytest.raises(Exception):
        df.select(convert_column(F.col("c"), "char").alias("ch")).collect()
    ok = spark.createDataFrame([("xy",), (None,)], "c string").select(
        convert_column(F.col("c"), "char").alias("ch")
    ).collect()
    assert sorted([r["ch"] for r in ok], key=str) == [None, "x"]


# --- lsh_bands: non-divisible band math covers every hash ----------------------


def test_lsh_bands_cover_trailing_hashes(spark):
    from batch_import_spark.operators.dedup import lsh_bands

    # 10 hashes, 4 bands: sizes 3,3,2,2 — a difference ONLY in the last
    # hash must change at least one band hash (old code dropped it)
    a = list(range(10))
    b = list(range(9)) + [999]
    df = spark.createDataFrame([(a,), (b,)], "sig array<bigint>")
    rows = df.select(lsh_bands(F.col("sig"), 4).alias("bands")).collect()
    ba, bb = rows[0]["bands"], rows[1]["bands"]
    assert len(ba) == 4
    assert any(x["band_hash"] != y["band_hash"] for x, y in zip(ba, bb))


# --- expression SimHash ---------------------------------------------------------


def test_simhash_expr_near_dups_exact_pairs(spark):
    from batch_import_spark.operators.dedup import simhash_expr, simhash_near_duplicates

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "the quick brown fox jumps over the lazy dog near the river bend"),
            (2, "completely unrelated text about spark shuffles and partitions here"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash_expr(docs).collect()}
    assert sig[3] == 0
    pairs = simhash_near_duplicates(docs, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # brute-force ground truth from the signatures themselves
    expected = {
        (i, j)
        for i in sig
        for j in sig
        if i < j and bin(sig[i] ^ sig[j]).count("1") <= 3
    }
    assert got == expected
    assert (0, 1) in got  # one-word edit stays within hamming 3


def test_simhash_near_dups_exact_at_higher_hamming(spark):
    """The pigeonhole index auto-scales to max_hamming+1 blocks, so
    recall stays lossless at any threshold."""
    from batch_import_spark.operators.dedup import simhash_expr, simhash_near_duplicates

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "alpha beta gamma delta epsilon zeta mu iota",
        "one two three four five six seven eight",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sig = {r["doc_id"]: r["simhash"] for r in simhash_expr(docs).collect()}
    for k in (5, 9):
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_duplicates(docs, max_hamming=k).collect()
        }
        expected = {
            (i, j)
            for i in sig
            for j in sig
            if i < j and bin(sig[i] ^ sig[j]).count("1") <= k
        }
        assert got == expected, (k, got, expected)


# --- GraphSink (parquet fallback; Iceberg path needs the runtime jar) ---------


def test_graph_sink_parquet_roundtrip_and_partition_overwrite(spark, tmp_path):
    from batch_import_spark.sinks import GraphSink, iceberg_available

    sink = GraphSink(spark, str(tmp_path / "g"))
    assert not sink._use_iceberg()  # filesystem base → parquet
    nodes = spark.createDataFrame([(1, "a"), (2, "b")], "node_id long, name string")
    edges = spark.createDataFrame(
        [(0, 1, 2, "KNOWS"), (1, 1, 2, "KNOWS")], "bucket int, src long, dst long, t string"
    )
    sink.write(nodes, "nodes")
    sink.overwrite_partitions(edges, "edges")
    assert sink.read("nodes").count() == 2
    assert sink.read("edges").count() == 2

    # idempotent re-run of ONE bucket replaces exactly that partition
    redo = spark.createDataFrame([(0, 9, 9, "REDO")], "bucket int, src long, dst long, t string")
    sink.overwrite_partitions(redo, "edges")
    rows = sink.read("edges").orderBy("bucket").collect()
    assert [(r["bucket"], r["t"]) for r in rows] == [(0, "REDO"), (1, "KNOWS")]

    # keep_db append semantics (A7)
    sink.write(nodes, "nodes", mode="append")
    assert sink.read("nodes").count() == 4

    # honest skip: the Iceberg runtime is absent in this sandbox
    if not iceberg_available(spark):
        pytest.skip("iceberg runtime not on classpath (parquet fallback verified)")


# --- with_dense_id stays dense/unique across many partitions -------------------


def test_dense_ids_unique_and_dense_at_scale(spark):
    from batch_import_spark.operators.ids import with_dense_id

    df = spark.range(0, 25_000).select(
        (F.col("id") * 7919 % 25_000).alias("k")
    )  # shuffled order keys
    conf = {"spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = with_dense_id(df, ["k"], id_col="nid")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("nid").alias("d"),
        F.min("nid").alias("lo"),
        F.max("nid").alias("hi"),
    ).collect()[0]
    assert (agg["n"], agg["d"], agg["lo"], agg["hi"]) == (25_000, 25_000, 0, 24_999)
    # order parity: nid must follow k order
    sample = out.orderBy("k").limit(5).collect()
    assert [r["nid"] for r in sample] == [0, 1, 2, 3, 4]
