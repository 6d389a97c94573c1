"""The ``resume`` job builds its buckets with ``run_kg_pipeline``.

Pins: bucket edges fold to the ``kg`` job's edges row for row over
random bucket splits and call orders; the manifest sums are the build's
Observations; the input contract fails before any Spark job; and each
call starts fewer jobs than the private pipeline it replaced, rebuilt
verbatim below as ``_parent_resume``.
"""

from __future__ import annotations

from functools import reduce

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from batch_import_spark.pipeline.checkpoint import KgCheckpointer
from batch_import_spark.pipeline.extract import extract_mentions
from batch_import_spark.pipeline.kg import (
    link_and_canonicalize,
    merge_kg_edges,
    nodes_from_dict,
    prepare_link_dict,
    run_kg_pipeline,
)
from batch_import_spark.sources.transcripts import alias_dict_df, generate_transcripts

EDGE_COLS = (
    "subj_id", "subj", "pred", "obj_id", "obj", "n_occurrences", "first_seen", "last_seen"
)


@pytest.fixture(scope="module")
def inputs(spark):
    t = generate_transcripts(spark, n_convs=24, median_turns=6, hot_factor=5)
    return t.localCheckpoint(eager=True), alias_dict_df(spark)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.select(*EDGE_COLS).collect())


def _fold(ck: KgCheckpointer):
    """``merge_kg_edges`` over the bucket partitions, bucket dropped."""
    parts = ck.edges()
    buckets = sorted(r["bucket"] for r in parts.select("bucket").distinct().collect())
    return reduce(
        merge_kg_edges, [parts.where(F.col("bucket") == b).drop("bucket") for b in buckets]
    )


@settings(
    max_examples=6,  # each example is 2-4 resume calls
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    n_buckets=st.integers(min_value=1, max_value=8),
    partial=st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=2),
)
def test_bucket_partitions_fold_to_the_kg_edges(
    spark, inputs, tmp_path_factory, n_buckets, partial
):
    t, alias = inputs
    ck = KgCheckpointer(spark, str(tmp_path_factory.mktemp("ck")), n_buckets=n_buckets)
    for i, max_buckets in enumerate(partial):
        ck.resume(t, alias, run_id=f"partial{i}", max_buckets=max_buckets)
    ck.resume(t, alias, run_id="finish")
    assert _rows(_fold(ck)) == _rows(run_kg_pipeline(t, alias).edges)


def test_manifest_sums_are_the_build_counters(spark, inputs, tmp_path):
    t, alias = inputs
    want = run_kg_pipeline(t, alias).metrics
    ck = KgCheckpointer(spark, str(tmp_path / "ck"), n_buckets=8)
    calls = [ck.resume(t, alias, run_id="partial", max_buckets=3), ck.resume(t, alias)]
    assert [c["buckets_processed"] for c in calls] == [3, calls[1]["buckets_done"] - 3]
    counters = ("n_turns", "n_mentions", "n_linked", "n_skipped")
    # per call: the build's Observations; together: the one-shot build's
    assert {k: sum(c[k] for c in calls) for k in counters} == want

    m = ck.manifest().collect()
    assert len(m) == len({r["bucket"] for r in m}) == calls[1]["buckets_done"]
    assert {k: sum(r[k] for r in m) for k in counters} == want
    edge_rows = dict(ck.edges().groupBy("bucket").count().collect())
    assert {r["bucket"]: r["n_triples"] for r in m} == {
        r["bucket"]: edge_rows.get(r["bucket"], 0) for r in m
    }


def test_bad_bucket_arguments_fail_before_any_job(spark, inputs, tmp_path):
    t, alias = inputs
    sc = spark.sparkContext
    sc.setJobGroup("resume-contract", "resume-contract")
    try:
        with pytest.raises(ValueError, match="n_buckets"):
            KgCheckpointer(spark, str(tmp_path / "zero"), n_buckets=0)
        ck = KgCheckpointer(spark, str(tmp_path / "ck"), n_buckets=8)
        with pytest.raises(ValueError, match="max_buckets"):
            ck.resume(t, alias, max_buckets=-1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("resume-contract") == []
    assert ck.resume(t, alias, max_buckets=0)["buckets_processed"] == 0


# -- the resume job before it built through run_kg_pipeline, verbatim --------


def _bucket(col: str = "conv_id", n_buckets: int = 64):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _parent_done_buckets(self) -> set[int]:
    return {r["bucket"] for r in self.manifest().select("bucket").distinct().collect()}


def _parent_resume(self, transcripts, alias_dict, run_id="run", max_buckets=None) -> dict:
    sink = self.sink
    done = _parent_done_buckets(self)
    pending_df = transcripts.select(
        _bucket("conv_id", self.n_buckets).alias("bucket")
    ).distinct()
    pending = sorted(
        r["bucket"] for r in pending_df.collect() if r["bucket"] not in done
    )
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return {"buckets_processed": 0}

    t = transcripts.withColumn("bucket", _bucket("conv_id", self.n_buckets)).where(
        F.col("bucket").isin([int(b) for b in pending])
    )

    turn_counts = t.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_turns"))

    mentions = (
        extract_mentions(t.select("conv_id", "turn_idx", "text"))
        .withColumn("bucket", _bucket("conv_id", self.n_buckets))
        .persist()
    )
    try:
        link_dict = prepare_link_dict(alias_dict)
        resolved, _obs = link_and_canonicalize(mentions, link_dict)

        edges = resolved.groupBy(
            "bucket", "subj_id", "subj", "pred", "obj_id", "obj"
        ).agg(F.count(F.lit(1)).alias("n_occurrences"))

        sink.overwrite_partitions(edges, "edges")
        sink.write(nodes_from_dict(link_dict), "nodes")

        mention_counts = mentions.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_mentions")
        )
        linked_counts = resolved.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_linked")
        )
        triple_counts = (
            sink.read("edges")
            .where(F.col("bucket").isin([int(b) for b in pending]))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_triples"))
        )
        manifest_rows = (
            turn_counts.join(mention_counts, "bucket", "left")
            .join(linked_counts, "bucket", "left")
            .join(triple_counts, "bucket", "left")
            .select(
                "bucket",
                F.lit(run_id).alias("run_id"),
                "n_turns",
                F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
                F.coalesce("n_linked", F.lit(0)).alias("n_linked"),
                (
                    F.coalesce("n_mentions", F.lit(0)) - F.coalesce("n_linked", F.lit(0))
                ).alias("n_skipped"),
                F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
            )
        )
        sink.write(manifest_rows, "manifest", mode="append")
    finally:
        mentions.unpersist()
    return {"buckets_processed": len(pending)}


def test_each_resume_call_starts_fewer_jobs_than_the_private_pipeline(
    spark, inputs, tmp_path
):
    t, alias = inputs
    sc = spark.sparkContext
    calls = [("partial", 4), ("finish", None), ("noop", None)]

    def jobs(tag, resume, ck) -> dict:
        out = {}
        for run_id, max_buckets in calls:
            group = f"resume-jobs-{tag}-{run_id}"
            sc.setJobGroup(group, group)
            try:
                resume(ck, t, alias, run_id=run_id, max_buckets=max_buckets)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            out[run_id] = len(sc.statusTracker().getJobIdsForGroup(group))
        return out

    old_ck = KgCheckpointer(spark, str(tmp_path / "old"), n_buckets=8)
    new_ck = KgCheckpointer(spark, str(tmp_path / "new"), n_buckets=8)
    old = jobs("old", _parent_resume, old_ck)
    new = jobs("new", KgCheckpointer.resume, new_ck)
    assert all(new[c] < old[c] for c, _ in calls), (old, new)

    # the two manifests agree on every counter
    def manifest(ck):
        return sorted(tuple(r) for r in ck.manifest().collect())

    assert manifest(new_ck) == manifest(old_ck)
