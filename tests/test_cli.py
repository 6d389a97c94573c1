"""spark-submit CLI (batch_import_spark.__main__) driven in-process."""

from __future__ import annotations

import json

from batch_import_spark.__main__ import main


def test_import_csv_cli(spark, tmp_path, capsys):
    nodes = tmp_path / "nodes.csv"
    nodes.write_text("name:string:users\tage:int\na\t1\nb\t2\n")
    rels = tmp_path / "rels.csv"
    rels.write_text("name:string:users\tname:string:users\ttype\na\tb\tKNOWS\n")
    out = tmp_path / "graph"
    rc = main(
        [
            "import-csv",
            "--nodes", str(nodes),
            "--rels", str(rels),
            "--out", str(out),
        ]
    )
    assert rc == 0
    n_nodes = spark.read.parquet(f"{out}/nodes").count()
    assert n_nodes == 2
    edges = spark.read.parquet(f"{out}/edges").collect()
    assert len(edges) == 1 and edges[0]["rel_type"] == "KNOWS"
    # one JSON record, like kg and resume, from the writes' own counters
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    record = json.loads(lines[0])
    assert record["job"] == "import-csv" and record["out"] == str(out)
    assert record["n_nodes"] == n_nodes
    assert (record["n_input"], record["n_resolved"], record["n_skipped"]) == (1, 1, 0)


def test_legacy_positional_cli(spark, tmp_path):
    """The reference's Importer.main positional form (Config.java:36-47
    + ConfigTest.java:61-105): out, nodes, rels, then index
    quadruples; a leading *.properties path is honored."""
    nodes = tmp_path / "nodes.csv"
    nodes.write_text("name:string:users\tage:int\na\t1\nb\t2\n")
    rels = tmp_path / "rels.csv"
    rels.write_text("name:string:users\tname:string:users\ttype\na\tb\tKNOWS\n")
    idx = tmp_path / "users_extra.csv"
    idx.write_text("id:id\tname:string:users\n0\talias_a\n")
    props = tmp_path / "batch.properties"
    props.write_text("batch_import.csv.quotes=true\n")
    out = tmp_path / "graph_legacy"
    rc = main(
        [
            "legacy", str(props), str(out), str(nodes), str(rels),
            "node_index", "users", "exact", str(idx),
        ]
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/nodes").count() == 2
    edges = spark.read.parquet(f"{out}/edges").collect()
    assert len(edges) == 1 and edges[0]["rel_type"] == "KNOWS"
    # the quadruple's standalone index file is imported (A5)
    entries = spark.read.parquet(f"{out}/index_entries")
    assert entries.where(entries.key_value == "alias_a").count() == 1


def test_kg_cli_roundtrip(spark, tmp_path):
    from batch_import_spark.sources.transcripts import generate_transcripts

    tdir = tmp_path / "transcripts"
    generate_transcripts(spark, n_convs=20, median_turns=6, hot_factor=3).write.parquet(
        str(tdir)
    )
    out = tmp_path / "kg"
    rc = main(
        ["kg", "--transcripts", str(tdir), "--out", str(out), "--extraction", "expr"]
    )
    assert rc == 0
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.count() > 0
    assert {"subj", "pred", "obj", "n_occurrences"} <= set(edges.columns)


def test_resume_cli(spark, tmp_path):
    from batch_import_spark.sources.transcripts import generate_transcripts

    tdir = tmp_path / "transcripts"
    generate_transcripts(spark, n_convs=12, median_turns=4, hot_factor=2).write.parquet(
        str(tdir)
    )
    base = tmp_path / "ckpt"
    rc = main(
        [
            "resume",
            "--transcripts", str(tdir),
            "--base-dir", str(base),
            "--n-buckets", "8",
            "--max-buckets", "3",
        ]
    )
    assert rc == 0
    rc = main(
        ["resume", "--transcripts", str(tdir), "--base-dir", str(base), "--n-buckets", "8"]
    )
    assert rc == 0
    manifest = spark.read.parquet(f"{base}/manifest")
    assert manifest.select("bucket").distinct().count() >= 3


def test_cli_jobs_print_their_run_record(spark, tmp_path, capsys):
    """``kg`` and ``resume`` each print one JSON record built from the
    run's own counters, with nothing read back: the printed ``n_linked``
    is the written edges' occurrences."""
    from pyspark.sql import functions as F

    from batch_import_spark.sources.transcripts import generate_transcripts

    tdir = tmp_path / "transcripts"
    generate_transcripts(spark, n_convs=12, median_turns=4, hot_factor=2).write.parquet(
        str(tdir)
    )
    capsys.readouterr()
    out = tmp_path / "kg"
    assert main(["kg", "--transcripts", str(tdir), "--out", str(out)]) == 0
    kg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_occ = spark.read.parquet(f"{out}/edges").agg(F.sum("n_occurrences")).first()[0]
    assert kg["n_linked"] == n_occ > 0
    assert kg["n_mentions"] == kg["n_linked"] + kg["n_skipped"]
    assert kg["link_dict"]["path"] == "driver"

    base = str(tmp_path / "ckpt")
    argv = ["resume", "--transcripts", str(tdir), "--base-dir", base, "--n-buckets", "8"]
    assert main([*argv, "--max-buckets", "3"]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (first["buckets_processed"], first["buckets_done"]) == (3, 3)
    assert second["buckets_done"] == 3 + second["buckets_processed"]
    assert first["n_linked"] + second["n_linked"] == n_occ
