"""Equivalence pins for the dense numbering of the CSV import.

The parent formulation read a file list as one scan per file, unioned,
and numbered per partition (``_number_pinned_rows``); it gave rel ids
with ``with_dense_id`` (range shuffle, two checkpoints) after resolving
each endpoint through its own unique-key table, built with a
count-distinct. It is copied below verbatim, only renamed with a
``_parent_`` prefix, and compared with the current code — one scan per
file list, ``number_runs`` over its (partition, file, block) runs, one
lookup table per index and rel ids numbered on one checkpoint — on the
same inputs: node_id, file_seq, line_no and rel_id per row. The parent
was itself pinned to the Window formulation, kept here for
``with_dense_id``.
"""

import math
import os
import random
from contextlib import contextmanager
from functools import reduce

import pytest
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from batch_import_spark.__main__ import main
from batch_import_spark.operators.graph_import import (
    REL_INDEX_SCHEMA,
    ImportedRelationships,
    _index_entries,
    import_nodes,
    import_relationships,
)
from batch_import_spark.operators.ids import number_runs, with_dense_id
from batch_import_spark.schema import assert_ansi, convert_column, parse_header
from batch_import_spark.session import local_frame
from batch_import_spark.sinks import GraphSink
from batch_import_spark.sources.csv_source import (
    ReferenceCsv,
    _maybe_extract_zip,
    _read_first_line,
    _split_header_line,
    read_reference_csv,
)


# --- the parent formulation, verbatim -----------------------------------------


def _parent_number_pinned_rows(
    df: DataFrame, id_col: str, group_col: str | None = None, group_id_col: str | None = None
) -> DataFrame:
    """Dense 0-based ``id_col`` in physical order over a pinned ``df``.

    With ``group_col`` — constant within each partition and contiguous
    in partition order, e.g. the file index of a union of per-file
    scans — ``group_id_col`` also numbers each group's rows from 0.

    Plan shape: one count-per-partition job, then a narrow projection
    — position in partition = ``monotonically_increasing_id() -
    (spark_partition_id() << 33)`` — plus a broadcast join of one
    offset row per partition. No Window, no shuffle of the rows. The
    offsets arrive as a LocalRelation (``session.local_frame``), so the
    broadcast starts no Python worker.
    """
    keyed = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_pos", F.monotonically_increasing_id() - F.shiftleft(F.col("_pid").cast("long"), 33)
    )
    group = [group_col] if group_col else []
    counts = keyed.groupBy("_pid", *group).count().collect()
    offsets, acc, group_start = [], 0, {}
    for row in sorted(counts, key=lambda r: r["_pid"]):
        start = group_start.setdefault(row[group_col], acc) if group_col else 0
        offsets.append((row["_pid"], acc, acc - start))
        acc += row["count"]
    odf = local_frame(
        df.sparkSession, offsets or [(0, 0, 0)], "_pid int, _offset long, _group_offset long"
    )
    out = keyed.join(F.broadcast(odf), "_pid").withColumn(
        id_col, F.col("_offset") + F.col("_pos")
    )
    if group_id_col:
        out = out.withColumn(group_id_col, F.col("_group_offset") + F.col("_pos"))
    return out.drop("_pid", "_pos", "_offset", "_group_offset")


def _parent_with_dense_id(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "node_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based IDs in ``order_cols`` order, scalably.

    Plan shape: range shuffle → sort within partitions → eager
    checkpoint, which pins the sampled range boundaries and the sorted
    order so the count job and the numbering read the same rows in the
    same places → ``_parent_number_pinned_rows``. No stage ever holds more than
    one partition's rows.
    """
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *order_cols)
    else:
        ranged = df.repartitionByRange(*order_cols)
    # repartitionByRange samples with a per-execution seed (and AQE may
    # re-coalesce), so the range shuffle must run exactly once.
    ranged = ranged.sortWithinPartitions(*order_cols).localCheckpoint(eager=True)
    return _parent_number_pinned_rows(ranged, id_col)


def _parent_build_unique_alias_dict(
    alias_df: DataFrame,
    key_col: str = "key_value",
    id_col: str = "entity_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Collapse an alias table to unique-key entries.

    A key mapping to >1 distinct entity id is AMBIGUOUS and removed —
    the reference's ``getSingle()`` yields null unless exactly one hit.
    Duplicate rows for the same (key, id) are fine (count distinct ids).
    """
    extra = extra_cols or []
    agg = [F.count_distinct(F.col(id_col)).alias("_n_ids"), F.min(id_col).alias(id_col)]
    agg += [F.min(c).alias(c) for c in extra]
    return (
        alias_df.groupBy(key_col)
        .agg(*agg)
        .where(F.col("_n_ids") == 1)
        .drop("_n_ids")
    )


def _parent_read_reference_csv(
    spark: SparkSession,
    paths: list[str] | str,
    delim: str = "\t",
    quotes: bool = True,
    array_separator: str = ",",
) -> ReferenceCsv:
    """Read reference-format CSV file(s) into one typed DataFrame.

    Columns are named per the header; extra trailing ``file_seq``,
    ``line_no`` and ``row_no`` columns give the file index in the
    declared list, the 0-based data row within the file, and the
    0-based data row across all files in (file_seq, line_no) order —
    the reference's row-number node ID (readme.md:38).
    """
    # fail-fast typed conversion needs ANSI casts on THIS path, not
    # just under pytest (readme.md:41-42: bad cells abort the import)
    assert_ansi(spark)
    if isinstance(paths, str):
        paths = [p for p in paths.split(",") if p]
    paths = _maybe_extract_zip(paths)
    first_lines = [_read_first_line(p) for p in paths]
    header = parse_header(_split_header_line(first_lines[0], delim, quotes))
    # the reference imports each file under its OWN header
    # (Importer.doImport per file); a list is only mergeable when the
    # headers agree — otherwise file 1's schema silently mislabels the
    # rest, so fail fast.
    for p, line in zip(paths[1:], first_lines[1:]):
        if _split_header_line(line, delim, quotes) != _split_header_line(
            first_lines[0], delim, quotes
        ):
            raise ValueError(
                f"header of {p!r} differs from {paths[0]!r}; import these "
                "files separately (per-file headers, Importer.doImport)"
            )

    raw_schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(len(header))]
    )
    reader_opts = {
        "sep": delim,
        "header": "true",  # skip the in-band schema row (schema enforced)
        "enforceSchema": "true",
        "mode": "PERMISSIVE",  # P6: pad short rows, drop extra columns
        "encoding": "UTF-8",
    }
    if quotes:
        reader_opts.update({"quote": '"', "escape": "\\", "multiLine": "true"})
    else:
        # raw tokenizer path (Chunker): no quote handling at all
        reader_opts.update({"quote": "\u0000"})

    scans = [
        spark.read.options(**reader_opts).schema(raw_schema).csv(p).withColumn("file_seq", F.lit(i))
        for i, p in enumerate(paths)
    ]
    raw = _parent_number_pinned_rows(
        reduce(DataFrame.unionByName, scans), "row_no", group_col="file_seq", group_id_col="line_no"
    )

    typed = raw.select(
        *[
            convert_column(F.col(f"_c{h.column}"), h.type_name, array_separator).alias(h.col_name)
            for h in header
        ],
        "file_seq",
        "line_no",
        "row_no",
    )
    return ReferenceCsv(df=typed, header=header)


def _parent_resolve_endpoint(
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
    lut = _parent_build_unique_alias_dict(
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


def _parent_import_relationships(
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
    df = _parent_resolve_endpoint(df, start_f, index_entries, "src_id")
    df = _parent_resolve_endpoint(df, end_f, index_entries, "dst_id")

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
    edges = _parent_with_dense_id(kept, ["file_seq", "line_no"], id_col="rel_id").select(
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


# --- the Window formulation of with_dense_id, verbatim ------------------------


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


# --- inputs and comparison ----------------------------------------------------

NODE_HEADER = "name:string:users\tage:int\tnote"
REL_HEADER = "name:string:users\tname:string:users\ttype\trid"


def _node_lines(f: int, n: int, quotes: bool, blank_every: int = 0) -> list[str]:
    lines = [NODE_HEADER]
    for i in range(n):
        note = f'"q {i}\tin\ncell"' if quotes and i % 50 == 7 else f"note-{f}-{i}"
        lines.append(f"n{f}_{i}\t{i % 90}\t{note}")
        if blank_every and i % blank_every == 3:
            lines.append("")  # blank lines are skipped, not end-of-data
    return lines


def _rel_lines(f: int, n: int, names: list[str]) -> list[str]:
    lines = [REL_HEADER]
    for i in range(n):
        a = names[(i * 7 + f) % len(names)]
        b = names[(i * 13 + 5 * f) % len(names)] if i % 11 else "nobody"  # skipped
        lines.append(f"{a}\t{b}\tKNOWS\tr{f}_{i}")
    return lines


def _write(path, lines: list[str]) -> str:
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def _write_inputs(tmp_path, quotes: bool, node_sizes=(400, 0, 250, 330), rel_sizes=(300, 300),
                  stem: str = ""):
    """Node files (``node_sizes`` rows each: 0 is header-only, file 2
    has blank lines) and rel files whose endpoints partly miss the
    index — every rel file skips some rels."""
    node_files = [
        _write(tmp_path / f"{stem}nodes{f}.csv", _node_lines(f, n, quotes, 40 if f == 2 else 0))
        for f, n in enumerate(node_sizes)
    ]
    names = [f"n{f}_{i}" for f, n in enumerate(node_sizes) for i in range(n)]
    rel_files = [
        _write(tmp_path / f"{stem}rels{f}.csv", _rel_lines(f, n, names))
        for f, n in enumerate(rel_sizes)
    ]
    return node_files, rel_files, len(names)


def _assert_equals_parent(spark, node_files, rel_files, quotes, n_nodes):
    """Nodes and rels imported by the current code and by the parent
    formulation agree row for row."""
    ref = read_reference_csv(spark, node_files, quotes=quotes)
    new = import_nodes(ref)
    got = {r["name"]: (r["node_id"], r["file_seq"], r["line_no"]) for r in new.nodes.collect()}
    old = import_nodes(_parent_read_reference_csv(spark, node_files, quotes=quotes))
    want = {r["name"]: (r["node_id"], r["file_seq"], r["line_no"]) for r in old.nodes.collect()}
    assert len(got) == n_nodes
    assert got == want
    assert sorted(v[0] for v in got.values()) == list(range(n_nodes))

    new_rels = import_relationships(read_reference_csv(spark, rel_files, quotes=quotes), new.index_entries)
    got_rels = {r["rid"]: (r["rel_id"], r["line_no"], r["src_id"], r["dst_id"]) for r in new_rels.edges.collect()}
    old_rels = _parent_import_relationships(
        _parent_read_reference_csv(spark, rel_files, quotes=quotes), old.index_entries
    )
    want_rels = {r["rid"]: (r["rel_id"], r["line_no"], r["src_id"], r["dst_id"]) for r in old_rels.edges.collect()}
    assert got_rels == want_rels
    assert sorted(v[0] for v in got_rels.values()) == list(range(len(got_rels)))
    m = new_rels.observation.get
    assert m == old_rels.observation.get
    assert m["n_resolved"] == len(got_rels)
    for f in range(len(rel_files)):  # every rel file imports some rels and skips some
        assert f"r{f}_0" not in got_rels and f"r{f}_1" in got_rels
    return new, new_rels


@contextmanager
def _conf(spark, **conf):
    """SQL confs set for the block, named with ``_`` for ``.``."""
    conf = {k.replace("_", "."): v for k, v in conf.items()}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# --- equivalence pins ---------------------------------------------------------


@pytest.mark.parametrize("quotes", [False, True])
def test_numbering_equals_old_window_path(spark, tmp_path, quotes):
    """Split files (several partitions per file on the splittable
    quotes=False path), a header-only file, blank lines, quotes on and
    off."""
    node_files, rel_files, n_nodes = _write_inputs(tmp_path, quotes)
    with _conf(spark, spark_sql_files_maxPartitionBytes="1024"):
        if not quotes:
            assert read_reference_csv(spark, node_files, quotes=quotes).df.rdd.getNumPartitions() >= 3 * len(node_files)
        _assert_equals_parent(spark, node_files, rel_files, quotes, n_nodes)


def _partition_file_seqs(ref: ReferenceCsv) -> dict[int, list[int]]:
    by_part: dict[int, list[int]] = {}
    for r in ref.df.select(F.spark_partition_id().alias("p"), "file_seq").collect():
        by_part.setdefault(r["p"], []).append(r["file_seq"])
    return by_part


@pytest.mark.parametrize("quotes", [False, True])
def test_packed_small_files_equal_parent(spark, tmp_path, quotes):
    """Files declared in ascending size: Spark packs splits by size,
    descending, so a later file opens a partition that an earlier one
    shares."""
    node_files, rel_files, n_nodes = _write_inputs(
        tmp_path, quotes, node_sizes=(20, 30, 40, 600), rel_sizes=(20, 30, 40, 500)
    )
    with _conf(spark, spark_sql_files_openCostInBytes="1"):
        for files in (node_files, rel_files):
            parts = _partition_file_seqs(read_reference_csv(spark, files, quotes=quotes))
            assert any(seqs != sorted(seqs) for seqs in parts.values()), parts
        _assert_equals_parent(spark, node_files, rel_files, quotes, n_nodes)


def test_space_in_file_name_equals_parent(spark, tmp_path):
    """``_metadata.file_path`` is URL-encoded: a space comes back as %20."""
    node_files, rel_files, n_nodes = _write_inputs(tmp_path, False, stem="my ")
    assert all(" " in p for p in node_files + rel_files)
    _assert_equals_parent(spark, node_files, rel_files, False, n_nodes)


def test_unsorted_parquet_rel_frame_equals_parent(spark, tmp_path):
    """An a4-style rel frame: not a CSV scan, rows stored out of line
    order, a synthetic line_no; two Parquet files with disjoint line
    ranges, the later range in the larger file so it is read first."""
    rng = random.Random(7)
    rows = [(k // 7, k % 7 + 1) for k in range(1400)]  # (orderkey, linenumber)
    parts = [rows[:500], rows[500:]]
    for i, part in enumerate(parts):
        rng.shuffle(part)
        local_frame(
            spark,
            [(str(o), str(o * 3 % 97), "T" if o % 2 else "F", f"s{o}", o * 10 + ln) for o, ln in part],
            "src string, end string, type string, since string, line_no long",
        ).coalesce(1).write.parquet(str(tmp_path / f"rels{i}.parquet"))
    rel_df = spark.read.parquet(*[str(tmp_path / f"rels{i}.parquet") for i in range(2)]).select(
        "src", "end", "type", "since", F.lit(0).alias("file_seq"), "line_no"
    )
    assert rel_df.rdd.getNumPartitions() == 2
    header = parse_header(["src", "end:string:parts", "type", "since:string:shipidx"])
    index_entries = local_frame(
        spark,
        [("parts", "end", str(k), k) for k in range(97) if k % 7],  # % 7 == 0 skips
        "index_name string, key_prop string, key_value string, node_id long",
    )
    new = import_relationships(ReferenceCsv(df=rel_df, header=header), index_entries)
    old = _parent_import_relationships(ReferenceCsv(df=rel_df, header=header), index_entries)
    got = sorted((r["line_no"], r["rel_id"]) for r in new.edges.collect())
    assert got == sorted((r["line_no"], r["rel_id"]) for r in old.edges.collect())
    assert [rid for _, rid in got] == list(range(len(got)))
    assert 0 < len(got) < len(rows)
    assert sorted(map(tuple, new.index_entries.collect())) == sorted(map(tuple, old.index_entries.collect()))


def test_with_dense_id_equals_old_window_path(spark):
    df = spark.range(0, 5000, numPartitions=7).select(
        ((F.col("id") * 7919) % 5003).alias("k"), F.col("id").alias("v")
    )
    with _conf(spark, spark_sql_shuffle_partitions="9",
               spark_sql_adaptive_coalescePartitions_enabled="false"):
        new = {r["k"]: r["nid"] for r in with_dense_id(df, ["k"], id_col="nid").collect()}
    old = {r["k"]: r["nid"] for r in _old_with_dense_id(df, ["k"], id_col="nid", num_partitions=9).collect()}
    assert new == old
    assert sorted(new.values()) == list(range(5000))


# --- input contracts ----------------------------------------------------------


def test_rel_numbering_rejects_overlapping_runs(spark, tmp_path):
    """Rel ids follow (file_seq, line_no) only if each partition holds
    one line range per file; a round-robin reshuffle breaks that and
    must fail, not number wrongly."""
    node_files, rel_files, _ = _write_inputs(tmp_path, False)
    nodes = import_nodes(read_reference_csv(spark, node_files, quotes=False))
    ref = read_reference_csv(spark, rel_files, quotes=False)
    with pytest.raises(ValueError, match="one contiguous line range per file"):
        import_relationships(ReferenceCsv(df=ref.df.repartition(3), header=ref.header), nodes.index_entries)
    # positive control: the same rows in the scan's own layout, several
    # partitions per file, numbered without a coalesce
    with _conf(spark, spark_sql_files_maxPartitionBytes="1024"):
        ref = read_reference_csv(spark, rel_files, quotes=False)
        assert ref.df.rdd.getNumPartitions() > len(rel_files)
        rels = import_relationships(ReferenceCsv(df=ref.df, header=ref.header), nodes.index_entries)
        ids = [r["rel_id"] for r in rels.edges.orderBy("rel_id").collect()]
    assert ids == list(range(len(ids))) and ids


def test_number_runs_rejects_a_run_that_is_not_contiguous(spark):
    df = spark.range(0, 12, numPartitions=1)
    with pytest.raises(ValueError, match="not contiguous"):
        number_runs(df.withColumn("k", F.col("id") % 2), "n", run_cols=("k",))
    # positive control: two contiguous runs, numbered in key order
    out, runs = number_runs(
        df.withColumn("k", (F.col("id") < 5).cast("int")), "n", run_cols=("k",),
        key=lambda run: (run["k"], run["_first"]),
    )
    assert [(r["count"], r["_last"] - r["_first"] + 1) for r in runs] == [(7, 7), (5, 5)]
    got = {r["id"]: r["n"] for r in out.collect()}
    assert got == {**{i: i - 5 for i in range(5, 12)}, **{i: i + 7 for i in range(5)}}


def test_scan_runs_are_contiguous(spark, tmp_path):
    """Every (partition, file, block) run of a packed, split scan sits
    contiguously in its partition: count = max(pos) - min(pos) + 1."""
    node_files, _, _ = _write_inputs(tmp_path, False, node_sizes=(50, 100, 200, 400))
    with _conf(spark, spark_sql_files_openCostInBytes="1", spark_sql_files_maxPartitionBytes="2048"):
        ref = read_reference_csv(spark, node_files, quotes=False)
        runs = (
            ref.df.withColumn("_pid", F.spark_partition_id())
            .withColumn("_pos", F.monotonically_increasing_id() - F.shiftleft(F.col("_pid").cast("long"), 33))
            .groupBy("_pid", "file_seq", (F.col("line_no") - F.col("_pos")).alias("_d"))
            .agg(F.count(F.lit(1)).alias("n"), F.min("_pos").alias("lo"), F.max("_pos").alias("hi"))
            .collect()
        )
    assert len({r["_pid"] for r in runs}) > 1 and len(runs) > len(node_files)
    assert all(r["n"] == r["hi"] - r["lo"] + 1 for r in runs)


def test_a_file_declared_twice_is_rejected(spark, tmp_path):
    node_files, _, _ = _write_inputs(tmp_path, False)
    with pytest.raises(ValueError, match="declared twice"):
        read_reference_csv(spark, [node_files[0], node_files[2], node_files[0]], quotes=False)


# --- plan and layout pins -----------------------------------------------------


def _group_plans(spark, group: str) -> list[str]:
    """Final physical plans of the SQL executions that ran in ``group``."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    return [
        e.physicalPlanDescription()
        for e in conv.asJava(store.executionsList())
        if {int(j) for j in conv.asJava(e.jobs()).keys()} & jobs
    ]


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


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


def test_rel_import_shares_one_lookup_broadcast(spark, tmp_path):
    """Both ``name:string:users`` endpoints probe one broadcast (the
    second is a ReusedExchange), and nothing range-partitions."""
    node_files, rel_files, _ = _write_inputs(tmp_path, quotes=False)
    sink = GraphSink(spark, str(tmp_path / "graph"))
    sink.write(import_nodes(read_reference_csv(spark, node_files, quotes=False)).index_entries, "index_entries")
    ref = read_reference_csv(spark, rel_files, quotes=False)
    rels = _in_group(spark, "rel-import-plan", lambda: import_relationships(ref, sink.read("index_entries")))
    _in_group(spark, "rel-import-plan", rels.edges.collect)
    plans = _group_plans(spark, "rel-import-plan")
    assert plans and not any("rangepartitioning" in p.lower() for p in plans)
    resolve = [p for p in plans if "LeftOuter" in p]
    assert len(resolve) == 1
    final = resolve[0].split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]
    lookups = [ln for ln in final.splitlines() if "BroadcastExchange" in ln or "ReusedExchange" in ln]
    # the scan's offset table, the lookup table, and its reuse
    assert sum("BroadcastExchange" in ln for ln in lookups) == 2, final
    assert sum("ReusedExchange" in ln for ln in lookups) == 1, final


def _part_files(path) -> int:
    return sum(1 for p in path.iterdir() if p.name.startswith("part-"))


def _import_csv(spark, out, node_files, rel_files, quotes=True) -> dict:
    """The import-csv job's steps, as kgbench's csv_import runs them."""
    sink = GraphSink(spark, str(out))
    nodes = import_nodes(read_reference_csv(spark, node_files, quotes=quotes))
    sink.write(nodes.nodes, "nodes")
    sink.write(nodes.index_entries, "index_entries")
    rels = import_relationships(read_reference_csv(spark, rel_files, quotes=quotes), sink.read("index_entries"))
    sink.write(rels.edges, "edges")
    sink.write(rels.index_entries, "rel_index_entries")
    return rels.observation.get


def test_import_csv_file_count_follows_input_bytes(spark, tmp_path):
    """import-csv writes ceil(input bytes / maxPartitionBytes) files per
    table: one on small inputs, several below the input size."""
    node_files, rel_files, _ = _write_inputs(tmp_path, False, node_sizes=(400, 300), rel_sizes=(300, 300))
    props = tmp_path / "batch.properties"
    props.write_text("batch_import.csv.quotes=false\n")
    small = tmp_path / "small"
    assert main([
        "import-csv", "--nodes", ",".join(node_files), "--rels", ",".join(rel_files),
        "--properties", str(props), "--out", str(small),
    ]) == 0
    for table in ("nodes", "index_entries", "edges", "rel_index_entries"):
        assert _part_files(small / table) == 1, table

    # the CLI's session factory resets maxPartitionBytes: run its steps
    split = tmp_path / "split"
    with _conf(spark, spark_sql_files_maxPartitionBytes="2048"):
        _import_csv(spark, split, node_files, rel_files, quotes=False)
    node_bytes = sum(os.path.getsize(p) for p in node_files)
    rel_bytes = sum(os.path.getsize(p) for p in rel_files)
    for table, size in (("nodes", node_bytes), ("index_entries", node_bytes), ("edges", rel_bytes)):
        assert 1 < _part_files(split / table) <= math.ceil(size / 2048), table
    assert spark.read.parquet(str(split / "edges")).count() == spark.read.parquet(str(small / "edges")).count()


def test_csv_import_run_starts_at_most_18_jobs(spark, tmp_path):
    """The import-csv job's steps on 2 node files and 4 rel files."""
    node_files, rel_files, _ = _write_inputs(
        tmp_path, True, node_sizes=(400, 330), rel_sizes=(300, 300, 200, 100)
    )
    obs = _in_group(spark, "csv-import-jobs", lambda: _import_csv(spark, tmp_path / "graph", node_files, rel_files))
    assert obs["n_skipped"] > 0
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("csv-import-jobs")) <= 18


def test_read_runs_one_count_job_for_any_file_count(spark, tmp_path):
    node_files, _, _ = _write_inputs(tmp_path, quotes=False)
    sc = spark.sparkContext

    def jobs(paths, group):
        _in_group(spark, group, lambda: read_reference_csv(spark, paths, quotes=False))
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = jobs(node_files[:1], "numbering-one-file")
    assert one >= 1
    assert jobs(node_files, "numbering-four-files") == one
