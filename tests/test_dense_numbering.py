"""Equivalence pin: one numbering of the unioned scans vs the old path.

Before, ``read_reference_csv`` numbered each file with its own count
job, Window and broadcast (``_with_line_no``), ``import_nodes`` then
re-derived node ids with ``with_dense_id`` over (file_seq, line_no),
and ``with_dense_id`` numbered rows with a Window. Both formulations
are copied below word for word and compared with the current code on
the same inputs: node_id, file_seq, line_no and rel_id per row.
"""

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from batch_import_spark.operators import graph_import
from batch_import_spark.operators.graph_import import import_nodes, import_relationships
from batch_import_spark.operators.ids import with_dense_id
from batch_import_spark.schema import convert_column
from batch_import_spark.sources.csv_source import ReferenceCsv, read_reference_csv


# --- the replaced formulations, verbatim --------------------------------------


def _old_with_line_no(df: DataFrame) -> DataFrame:
    pdf = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    counts = pdf.groupBy("_pid").count().collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    spark = df.sparkSession
    odf = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy("_mid")
    return (
        pdf.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(odf), "_pid")
        .withColumn("line_no", (F.col("_offset") + F.col("_rn")).cast("long"))
        .drop("_pid", "_mid", "_rn", "_offset")
    )


def _old_with_dense_id(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "node_id",
    num_partitions: int | None = None,
) -> DataFrame:
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *order_cols)
    else:
        ranged = df.repartitionByRange(*order_cols)
    ranged = ranged.withColumn("_pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=True)

    counts = (
        ranged.groupBy("_pid").count().orderBy("_pid").collect()
    )
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    spark = df.sparkSession
    odf = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )

    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    out = (
        ranged.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(odf), "_pid")
        .withColumn(id_col, F.col("_offset") + F.col("_rn"))
        .drop("_pid", "_rn", "_offset")
    )
    return out


def _old_reference_csv(spark, paths, quotes, header) -> ReferenceCsv:
    """The old read_reference_csv scan: per-file ``_with_line_no``."""
    raw_schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(len(header))]
    )
    reader_opts = {
        "sep": "\t",
        "header": "true",
        "enforceSchema": "true",
        "mode": "PERMISSIVE",
        "encoding": "UTF-8",
    }
    if quotes:
        reader_opts.update({"quote": '"', "escape": "\\", "multiLine": "true"})
    else:
        reader_opts.update({"quote": "\u0000"})
    parts = []
    for seq, path in enumerate(paths):
        fdf = spark.read.options(**reader_opts).schema(raw_schema).csv(path)
        fdf = _old_with_line_no(fdf)
        parts.append(fdf.withColumn("file_seq", F.lit(seq)))
    raw = reduce(DataFrame.unionByName, parts)
    typed = raw.select(
        *[convert_column(F.col(f"_c{h.column}"), h.type_name, ",").alias(h.col_name) for h in header],
        "file_seq",
        "line_no",
    )
    return ReferenceCsv(df=typed, header=header)


def _old_import_nodes(ref: ReferenceCsv, id_offset: int) -> dict:
    df = _old_with_dense_id(ref.df, ["file_seq", "line_no"], id_col="node_id")
    df = df.withColumn("node_id", F.col("node_id") + F.lit(id_offset))
    return {r["name"]: (r["node_id"], r["file_seq"], r["line_no"]) for r in df.collect()}


# --- inputs -------------------------------------------------------------------


def _write_inputs(tmp_path, quotes: bool):
    """Three node files (one with blank lines), one header-only file,
    and two rel files whose endpoints partly miss the index."""
    node_files, rel_files = [], []
    sizes = [400, 0, 250, 330]  # file 1: header, no rows
    for f, n in enumerate(sizes):
        lines = ["name:string:users\tage:int\tnote"]
        for i in range(n):
            note = f'"q {i}\tin\ncell"' if quotes and i % 50 == 7 else f"note-{f}-{i}"
            lines.append(f"n{f}_{i}\t{i % 90}\t{note}")
            if f == 2 and i % 40 == 3:
                lines.append("")  # blank lines are skipped, not end-of-data
        p = tmp_path / f"nodes{f}.csv"
        p.write_text("\n".join(lines) + "\n")
        node_files.append(str(p))
    names = [f"n{f}_{i}" for f, n in enumerate(sizes) for i in range(n)]
    for f in range(2):
        lines = ["name:string:users\tname:string:users\ttype\trid"]
        for i in range(300):
            a = names[(i * 7 + f) % len(names)]
            b = names[(i * 13 + 5 * f) % len(names)] if i % 11 else "nobody"  # skipped
            lines.append(f"{a}\t{b}\tKNOWS\tr{f}_{i}")
        p = tmp_path / f"rels{f}.csv"
        p.write_text("\n".join(lines) + "\n")
        rel_files.append(str(p))
    return node_files, rel_files, len(names)


@pytest.mark.parametrize("quotes", [False, True])
def test_numbering_equals_old_window_path(spark, tmp_path, quotes, monkeypatch):
    node_files, rel_files, n_nodes = _write_inputs(tmp_path, quotes)
    conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
    # several partitions per file on the splittable (quotes=False) path
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        ref = read_reference_csv(spark, node_files, quotes=quotes)
        if not quotes:
            assert ref.df.rdd.getNumPartitions() >= 3 * len(node_files)
        new = import_nodes(ref, id_offset=100)
        got = {r["name"]: (r["node_id"], r["file_seq"], r["line_no"]) for r in new.nodes.collect()}
        old = _old_import_nodes(_old_reference_csv(spark, node_files, quotes, ref.header), 100)
        assert len(got) == n_nodes
        assert got == old
        assert sorted(v[0] for v in got.values()) == list(range(100, 100 + n_nodes))

        rref = read_reference_csv(spark, rel_files, quotes=quotes)
        new_rels = import_relationships(rref, new.index_entries)
        got_rels = {r["rid"]: (r["rel_id"], r["line_no"]) for r in new_rels.edges.collect()}
        monkeypatch.setattr(graph_import, "with_dense_id", _old_with_dense_id)
        old_rels = import_relationships(
            _old_reference_csv(spark, rel_files, quotes, rref.header), new.index_entries
        )
        want_rels = {r["rid"]: (r["rel_id"], r["line_no"]) for r in old_rels.edges.collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", conf)
    assert got_rels == want_rels
    assert sorted(v[0] for v in got_rels.values()) == list(range(len(got_rels)))
    m = new_rels.observation.get
    assert m["n_skipped"] > 0 and m["n_resolved"] == len(got_rels)


def test_with_dense_id_equals_old_window_path(spark):
    df = spark.range(0, 5000, numPartitions=7).select(
        ((F.col("id") * 7919) % 5003).alias("k"), F.col("id").alias("v")
    )
    new = {r["k"]: r["nid"] for r in with_dense_id(df, ["k"], id_col="nid", num_partitions=9).collect()}
    old = {r["k"]: r["nid"] for r in _old_with_dense_id(df, ["k"], id_col="nid", num_partitions=9).collect()}
    assert new == old
    assert sorted(new.values()) == list(range(5000))


def _executed_plan(df: DataFrame) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_import_plans_have_no_window(spark, tmp_path):
    node_files, rel_files, _ = _write_inputs(tmp_path, quotes=False)
    nodes = import_nodes(read_reference_csv(spark, node_files, quotes=False))
    node_plan = _executed_plan(nodes.nodes)
    assert "Window" not in node_plan
    assert "rangepartitioning" not in node_plan.lower()
    assert "Window" not in _executed_plan(nodes.index_entries)

    rels = import_relationships(read_reference_csv(spark, rel_files, quotes=False), nodes.index_entries)
    assert "Window" not in _executed_plan(rels.edges)
    assert "Window" not in _executed_plan(rels.index_entries)


def test_read_runs_one_count_job_for_any_file_count(spark, tmp_path):
    node_files, _, _ = _write_inputs(tmp_path, quotes=False)
    sc = spark.sparkContext

    def jobs(paths, group):
        sc.setJobGroup(group, group)
        try:
            read_reference_csv(spark, paths, quotes=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = jobs(node_files[:1], "numbering-one-file")
    assert one >= 1
    assert jobs(node_files, "numbering-four-files") == one
