"""Checkpoint release: an operator leaves no persisted blocks behind
except its result's own checkpoint.

``DataFrame.unpersist()`` does not free a ``localCheckpoint`` (Spark
4.1), so every superseded checkpoint must go through
``session.checkpoint_rotate``/``unpersist_ids``. Each test compares the
session's persistent-RDD set before and after one call.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.session import persistent_rdd_ids


def _own_checkpoint_ids(df) -> set[int]:
    """Ids of the checkpointed RDDs ``df``'s logical plan reads."""
    ids: set[int] = set()

    def walk(plan) -> None:
        if plan.getClass().getSimpleName() == "LogicalRDD":
            ids.add(plan.rdd().id())
        children = plan.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().logical())
    return ids


def test_incremental_kg_keeps_only_the_final_state(spark, tmp_path):
    from batch_import_spark.pipeline.kg import prepare_link_dict
    from batch_import_spark.sources.transcripts import alias_dict_df, generate_transcripts
    from batch_import_spark.streaming.incremental import run_incremental_kg

    t = generate_transcripts(spark, n_convs=20, median_turns=6, hot_factor=3).select(
        "conv_id", "turn_idx", "text"
    )
    pdf = t.toPandas()
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    odd = pdf["turn_idx"] % 2 == 1
    pdf[~odd].to_parquet(stream_dir / "b0.parquet", index=False)
    pdf[odd].to_parquet(stream_dir / "b1.parquet", index=False)
    stream = (
        spark.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    aliases = alias_dict_df(spark)
    link_dict = prepare_link_dict(aliases)

    before = persistent_rdd_ids(spark)
    edges, n_batches = run_incremental_kg(stream, aliases, link_dict=link_dict)
    assert n_batches == 2
    own = _own_checkpoint_ids(edges)
    assert len(own) == 1
    assert persistent_rdd_ids(spark) == before | own
    assert edges.agg(F.sum("n_occurrences")).first()[0] > 0


def test_bpe_train_frees_its_checkpoints(spark, monkeypatch):
    from batch_import_spark.functions import bpe

    docs = spark.createDataFrame(
        [(f"lower newer wider {w} low{i % 5}",) for i, w in enumerate(["est", "er", "ing"] * 4)],
        "text string",
    )
    for distributed in (False, True):
        if distributed:
            monkeypatch.setattr(bpe, "DRIVER_VOCAB_THRESHOLD", 0)
            monkeypatch.setattr(bpe, "CHECKPOINT_EVERY", 2)
        before = persistent_rdd_ids(spark)
        merges = bpe.bpe_train(docs, "text", n_merges=5, min_pair_count=2)
        assert merges
        assert persistent_rdd_ids(spark) == before, distributed


def test_louvain_refine_keeps_only_the_result(spark):
    from batch_import_spark.operators.graph_stats import louvain_refine

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)],
        "src long, dst long",
    )
    assign = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 1), (5, 1)],
        "node long, community long",
    )
    before = persistent_rdd_ids(spark)
    refined = louvain_refine(edges, assign, sweeps=2)
    own = _own_checkpoint_ids(refined)
    assert len(own) == 1
    assert persistent_rdd_ids(spark) == before | own
    assert {r.node: r.community for r in refined.collect()}[2] == 0


def test_resume_frees_its_mention_cache(spark, tmp_path, monkeypatch):
    """A ``resume`` call persists its link-flagged mentions for the
    edges write and the counter aggregate, and frees them on return —
    also when the call dies before its manifest append."""
    import pytest

    from batch_import_spark.pipeline.checkpoint import KgCheckpointer
    from batch_import_spark.sinks import GraphSink
    from batch_import_spark.sources.transcripts import alias_dict_df, generate_transcripts

    t = generate_transcripts(spark, n_convs=16, median_turns=4, hot_factor=2)
    t = t.localCheckpoint(eager=True)
    aliases = alias_dict_df(spark)
    ck = KgCheckpointer(spark, str(tmp_path / "ck"), n_buckets=8)

    before = persistent_rdd_ids(spark)
    during = []
    overwrite, write = GraphSink.overwrite_partitions, GraphSink.write

    def record(self, df, table, **kw):
        overwrite(self, df, table, **kw)
        during.append(persistent_rdd_ids(spark))

    monkeypatch.setattr(GraphSink, "overwrite_partitions", record)
    assert ck.resume(t, aliases, max_buckets=3)["buckets_processed"] == 3
    # the cache was there while the call ran, and nothing it added stays
    # (a subset check: the context cleaner may free unrelated RDDs)
    assert during[-1] - before
    assert persistent_rdd_ids(spark) <= before

    def crash_on_manifest(self, df, table, mode="overwrite"):
        if table == "manifest":
            raise RuntimeError("injected crash before the manifest append")
        write(self, df, table, mode=mode)

    monkeypatch.setattr(GraphSink, "write", crash_on_manifest)
    with pytest.raises(RuntimeError, match="injected crash"):
        ck.resume(t, aliases)
    assert len(during) == 2 and during[-1] - before
    assert persistent_rdd_ids(spark) <= before
