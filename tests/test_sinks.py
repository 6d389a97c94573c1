"""GraphSink's Iceberg branch and option checks, without an Iceberg jar:
a fake DataFrameWriterV2 records what the sink calls."""

from __future__ import annotations

import pytest

from batch_import_spark.sinks import GraphSink


class _FakeWriter:
    def __init__(self, calls: list, fail: str | None):
        self.calls, self.fail = calls, fail

    def _call(self, name, *args):
        self.calls.append(name)
        if name == self.fail:
            raise RuntimeError(f"{name}: schema mismatch")
        return self

    def using(self, provider):
        return self._call("using")

    def partitionedBy(self, *cols):
        return self._call("partitionedBy")

    def append(self):
        self._call("append")

    def overwritePartitions(self):
        self._call("overwritePartitions")

    def create(self):
        self._call("create")

    def createOrReplace(self):
        self._call("createOrReplace")


@pytest.fixture
def fake_iceberg(spark, monkeypatch):
    """(frame, calls, set_state): every ``writeTo`` returns a fake
    writer; ``set_state(exists, fail)`` sets whether the table exists
    and which writer call raises."""
    df = spark.range(3)
    calls: list = []
    state = {"exists": True, "fail": None}
    monkeypatch.setattr(type(df), "writeTo", lambda self, ident: _FakeWriter(calls, state["fail"]))
    monkeypatch.setattr(type(spark.catalog), "tableExists", lambda self, ident, db=None: state["exists"])

    def set_state(exists: bool, fail: str | None = None) -> None:
        state.update(exists=exists, fail=fail)
        calls.clear()

    return df, calls, set_state


def test_iceberg_append_error_propagates(spark, fake_iceberg):
    """A failing append into an existing table surfaces its own error;
    it is not retried as a create (which would report "table already
    exists" instead)."""
    df, calls, set_state = fake_iceberg
    sink = GraphSink(spark, "cat.db", fmt="iceberg")
    set_state(exists=True, fail="append")
    with pytest.raises(RuntimeError, match="append: schema mismatch"):
        sink.write(df, "nodes", mode="append")
    assert "create" not in calls

    set_state(exists=True, fail="overwritePartitions")
    with pytest.raises(RuntimeError, match="overwritePartitions: schema mismatch"):
        sink.overwrite_partitions(df, "edges")
    assert "create" not in calls


def test_iceberg_missing_table_is_created(spark, fake_iceberg):
    df, calls, set_state = fake_iceberg
    sink = GraphSink(spark, "cat.db", fmt="iceberg")
    set_state(exists=False)
    sink.write(df, "nodes", mode="append")
    assert calls == ["using", "create"]

    set_state(exists=False)
    sink.overwrite_partitions(df, "edges")
    assert calls == ["using", "partitionedBy", "create"]

    set_state(exists=True)
    sink.write(df, "nodes", mode="append")
    sink.overwrite_partitions(df, "edges")
    sink.write(df, "nodes")
    assert calls == ["using", "append", "overwritePartitions", "using", "createOrReplace"]


def test_unknown_format_fails_before_any_job(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("sink-format", "sink-format")
    try:
        with pytest.raises(ValueError, match="fmt must be one of"):
            GraphSink(spark, str(tmp_path / "g"), fmt="Parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("sink-format") == []
