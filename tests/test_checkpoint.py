"""Checkpointed resume: partial run + resume == single full run."""

import pytest
from pyspark.sql import functions as F

from batch_import_spark.pipeline.checkpoint import KgCheckpointer
from batch_import_spark.pipeline.kg import run_kg_pipeline
from batch_import_spark.sinks import GraphSink
from batch_import_spark.sources.transcripts import alias_dict_df, generate_transcripts


def _triples(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_resume_is_idempotent_and_complete(spark, tmp_path):
    t = generate_transcripts(spark, n_convs=24, median_turns=6, hot_factor=5)
    t = t.localCheckpoint(eager=True)
    alias = alias_dict_df(spark)

    # ground truth: one-shot pipeline
    full = _triples(run_kg_pipeline(t, alias).triples)

    ck = KgCheckpointer(spark, str(tmp_path / "kg"), n_buckets=8)
    # partial run (simulates a crash after 3 buckets)
    r1 = ck.resume(t, alias, run_id="r1", max_buckets=3)
    assert r1["buckets_processed"] == 3
    assert len(ck.done_buckets()) == 3

    # resume picks up ONLY the remaining buckets
    r2 = ck.resume(t, alias, run_id="r2")
    assert r2["buckets_processed"] > 0
    assert len(ck.done_buckets()) <= 8

    # a third resume is a no-op (idempotent)
    r3 = ck.resume(t, alias, run_id="r3")
    assert r3["buckets_processed"] == 0

    assert _triples(ck.triples()) == full

    # manifest lineage: every bucket has counters, turns sum to input
    m = ck.manifest()
    total_turns = sum(r["n_turns"] for r in m.collect())
    assert total_turns == t.count()
    assert all(r["n_mentions"] >= r["n_linked"] for r in m.collect())


def test_resume_recovers_from_a_crash_before_the_manifest_append(
    spark, tmp_path, monkeypatch
):
    """A crash after a call's edges write and before its manifest
    append leaves edge partitions with no manifest row; the next resume
    re-runs those buckets and overwrites them, so the bucket union and
    the manifest match a clean run's."""
    t = generate_transcripts(spark, n_convs=24, median_turns=6, hot_factor=5)
    t = t.localCheckpoint(eager=True)
    alias = alias_dict_df(spark)
    clean = KgCheckpointer(spark, str(tmp_path / "clean"), n_buckets=8)
    clean.resume(t, alias, run_id="clean")

    ck = KgCheckpointer(spark, str(tmp_path / "crash"), n_buckets=8)
    ck.resume(t, alias, run_id="r1", max_buckets=3)
    write = GraphSink.write

    def crash_on_manifest(self, df, table, mode="overwrite"):
        if table == "manifest":
            raise RuntimeError("injected crash before the manifest append")
        write(self, df, table, mode=mode)

    monkeypatch.setattr(GraphSink, "write", crash_on_manifest)
    with pytest.raises(RuntimeError, match="injected crash"):
        ck.resume(t, alias, run_id="crashed")
    monkeypatch.undo()
    assert len(ck.done_buckets()) == 3
    n_buckets = len(clean.done_buckets())
    assert ck.edges().select("bucket").distinct().count() == n_buckets

    assert ck.resume(t, alias, run_id="r2")["buckets_processed"] == n_buckets - 3

    def bucket_union(c):
        return {
            tuple(r)
            for r in c.edges()
            .groupBy("subj", "pred", "obj")
            .agg(F.sum("n_occurrences"))
            .collect()
        }

    assert bucket_union(ck) == bucket_union(clean)
    per_bucket = ck.manifest().groupBy("bucket").count().collect()
    assert len(per_bucket) == n_buckets
    assert {r["count"] for r in per_bucket} == {1}
