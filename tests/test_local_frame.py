"""``session.local_frame``: driver-built tables as Arrow LocalRelations.

``spark.createDataFrame(list)`` plans a pickled Python RDD, so every
job over it starts a Python worker. ``local_frame`` is the package's
one replacement. These tests pin it equal to the old call on every
schema the package builds tables with, check that no written table of
the ``kg`` and ``import-csv`` jobs scans a Python RDD, and keep any new
``createDataFrame`` call out of the package source.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from test_kg_pipeline import _plan_children

from batch_import_spark.__main__ import main
from batch_import_spark.functions.multimodal import MEDIA_SCHEMA, PNG_MEDIA_SCHEMA
from batch_import_spark.operators.graph_import import INDEX_SCHEMA, REL_INDEX_SCHEMA
from batch_import_spark.pipeline.checkpoint import MANIFEST_SCHEMA
from batch_import_spark.session import local_frame
from batch_import_spark.sinks import GraphSink

ROOT = pathlib.Path(__file__).resolve().parents[1]

# (schema, rows): one case per schema the package passes to local_frame,
# with NULL cells where the schema allows them and zero-row tables where
# a call site builds one
CASES = [
    (INDEX_SCHEMA, []),
    (REL_INDEX_SCHEMA, []),
    (INDEX_SCHEMA, [("users", "name", "a", 0), ("users", "name", None, 1)]),
    (MANIFEST_SCHEMA, []),
    (MANIFEST_SCHEMA, [(3, "run", 10, 7, 5, 2, 4)]),
    ("_pid int, _offset long, _group_offset long", [(0, 0, 0), (1, 5, 0), (2, 9, 4)]),
    ("bucket int, lp_fp long", [(0, -12345), (1, 0), (2, None)]),
    ("node_id long, canonical_id long", [(1, 1), (2, 1), (2**40, 2**40)]),
    ("node_id string, component_id string", [("a", "a"), ("b", None)]),
    (
        "query_id long, cell int, qdist array<array<long>>",
        [(0, 1, [[1, 2], [3]]), (1, 0, [[], None, [None, 4]]), (2, 2, None)],
    ),
    (
        "regs_a long, regs_b long, regs_union long, regs_inter long, "
        "est_a long, est_b long, est_union long, est_inter long",
        [(1, 2, 3, 0, 1 << 16, 2 << 16, 3 << 16, 0)],
    ),
    (
        "surface string, entity_id long, canonical_surface string",
        [("P0", 0, "P0"), ("Person0", 0, "P0"), ("Ünï", None, None)],
    ),
    (
        "index_name string, key_prop string, key_value string, score double, "
        "kind string, entity_id long",
        [("surfaces", "surface", "Org1", 1.0, "Org", 1001), ("s", "s", "x", None, None, None)],
    ),
    ("surfaces array<string>, n double", [(["a", None], 0.5), ([], -1e300), (None, None)]),
    (MEDIA_SCHEMA, [(0, "image", b"\x00\xff", ("image/png", 8, 10, None)), (1, "audio", None, None)]),
    (PNG_MEDIA_SCHEMA, [(0, bytearray(b"\x89PNG")), (1, b""), (2, None)]),
    ("rank: long, lhs: string, rhs: string, pair_count: long", [(1, "t", "h", 9), (2, "th", "e", 4)]),
    ("word string, n long, np int, cost long, path string", [("the", 3, 1, 120, "the")]),
    ("word string, np int, cost long, path string", []),
    ("suffix: string", [("site3.com",), ("cdn.site2.net",)]),
    ("node string", [("P0",)]),
]


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _plan_nodes(plan):
    """Every node of an executed plan, seeing through adaptive wrappers."""
    yield plan
    for child in _plan_children(plan):
        yield from _plan_nodes(child)


def _lineage(rdd):
    yield rdd.getClass().getSimpleName()
    deps = rdd.dependencies()
    for i in range(deps.size()):
        yield from _lineage(deps.apply(i).rdd())


def _rdd_leaves(df) -> list[list[str]]:
    """The RDD lineage (class names) of each RDD-backed leaf of ``df``'s
    executed plan."""
    plan = df._jdf.queryExecution().executedPlan()
    return [
        list(_lineage(n.rdd()))
        for n in _plan_nodes(plan)
        if not _plan_children(n) and "RDDScan" in n.getClass().getSimpleName()
    ]


def _python_rdd_leaves(df) -> list[list[str]]:
    return [chain for chain in _rdd_leaves(df) if "PythonRDD" in chain]


@pytest.mark.parametrize("schema,rows", CASES, ids=[f"{i}" for i in range(len(CASES))])
def test_local_frame_equals_create_dataframe(spark, schema, rows):
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert _plan_class(new) == "LocalRelation"
    assert not _python_rdd_leaves(new)


def test_local_frame_accepts_a_generator(spark):
    new = local_frame(spark, ((i, i + 1) for i in range(3)), "a long, b long")
    assert [tuple(r) for r in new.collect()] == [(0, 1), (1, 2), (2, 3)]


def test_old_path_is_a_python_rdd_and_the_guard_sees_it(spark):
    """The guard's positive control: ``createDataFrame(list)`` plans a
    scan whose lineage holds a PythonRDD."""
    old = spark.createDataFrame([(1, "x")], "a long, b string")
    old.collect()
    assert _plan_class(old) == "LogicalRDD"
    assert _python_rdd_leaves(old)


def test_above_the_local_relation_threshold_still_no_python_rdd(spark):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        df = local_frame(spark, [(i, str(i)) for i in range(100)], "a long, b string")
        assert _plan_class(df) == "LogicalRDD"
        assert df.count() == 100
        assert _rdd_leaves(df) and not _python_rdd_leaves(df)
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "rows,schema,error",
    [
        ([("x", "y")], "a long, b string", PySparkTypeError),
        ([(1.5, "y")], "a long, b string", PySparkTypeError),  # pyarrow would truncate
        ([(1, "y")], "a long, b double", PySparkTypeError),
        ([(1,)], "a long, b string", PySparkValueError),
        ([(None, "image", None, None)], MEDIA_SCHEMA, PySparkValueError),
    ],
)
def test_wrongly_typed_cells_raise_as_before(spark, rows, schema, error):
    with pytest.raises(error):
        spark.createDataFrame(rows, schema).collect()
    with pytest.raises(error):
        local_frame(spark, rows, schema)


def test_non_string_cell_in_a_string_column_raises(spark):
    """Stricter than before: ``createDataFrame`` stringified a non-str
    cell in a string column; the Arrow conversion refuses it."""
    import pyarrow as pa

    assert spark.createDataFrame([(1, 2)], "a long, b string").first()["b"] == "2"
    with pytest.raises(pa.ArrowTypeError):
        local_frame(spark, [(1, 2)], "a long, b string")


@pytest.fixture
def written_tables(monkeypatch):
    """Every frame a job hands to ``GraphSink.write``, by table name."""
    seen: dict = {}
    write = GraphSink.write

    def record(self, df, table, mode="overwrite"):
        seen[table] = df
        write(self, df, table, mode=mode)

    monkeypatch.setattr(GraphSink, "write", record)
    return seen


def test_kg_job_tables_scan_no_python_rdd(spark, tmp_path, written_tables):
    from batch_import_spark.sources.transcripts import generate_transcripts

    tdir = tmp_path / "transcripts"
    generate_transcripts(spark, n_convs=20, median_turns=6, hot_factor=3).write.parquet(
        str(tdir)
    )
    assert main(["kg", "--transcripts", str(tdir), "--out", str(tmp_path / "kg")]) == 0
    assert {"nodes", "edges"} <= set(written_tables)
    for table in ("nodes", "edges"):
        assert not _python_rdd_leaves(written_tables[table]), table


def test_import_csv_job_tables_scan_no_python_rdd(spark, tmp_path, written_tables):
    """Covers the numbering offsets of both node and rel ids, the empty
    index frames, and the eager ``localCheckpoint`` leaves of
    ``import_relationships``/``with_dense_id``, which must pass too."""
    fx = ROOT / "tests" / "fixtures" / "reference_sample"
    rc = main(
        [
            "import-csv",
            "--nodes", f"{fx / 'nodes.csv'},{fx / 'nodes2.csv'}",
            "--rels", str(fx / "rels.csv"),
            "--out", str(tmp_path / "graph"),
        ]
    )
    assert rc == 0
    tables = ("nodes", "index_entries", "edges", "rel_index_entries")
    assert set(tables) <= set(written_tables)
    for table in tables:
        assert not _python_rdd_leaves(written_tables[table]), table
    # the checkpoint leaves were walked, not skipped
    assert _rdd_leaves(written_tables["edges"])


def _create_dataframe_calls(path: pathlib.Path) -> list[int]:
    """Line numbers of ``createDataFrame(...)`` calls in ``path``
    outside ``session.local_frame``."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    allowed: set[int] = set()
    if path == ROOT / "batch_import_spark" / "session.py":
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed = {id(n) for n in ast.walk(node)}
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in allowed:
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "createDataFrame":
            lines.append(node.lineno)
    return lines


def test_no_create_dataframe_outside_local_frame(tmp_path):
    files = sorted((ROOT / "batch_import_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    assert len(files) > 20
    hits = [
        f"{p.relative_to(ROOT)}:{line}" for p in files for line in _create_dataframe_calls(p)
    ]
    assert not hits, f"build driver-side tables with session.local_frame: {hits}"
    # positive control: both call spellings are caught
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def f(spark, df):\n"
        "    a = spark.createDataFrame([], 'a long')\n"
        "    return df.sparkSession.createDataFrame(\n        [(1,)], 'a long'\n    )\n"
    )
    assert _create_dataframe_calls(probe) == [2, 3]
