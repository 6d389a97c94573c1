"""Continuous KG ingest: stream micro-batches folded into standing
edge state.

The batch pipeline's edge table is a mergeable aggregate
(pipeline/kg.py merge_kg_edges), so continuous ingest is foreachBatch:
each micro-batch runs extract → link → aggregate on its OWN rows only,
then one vocabulary-sized merge folds it into the standing graph —
nothing ever reprocesses the corpus. This is the streaming twin of the
`kg_incremental` driver entry and the production shape for a
10^12-turn transcript firehose: per-batch cost is proportional to the
batch, state is the (bounded) canonical edge table.

State here is materialized with localCheckpoint between batches; on a
cluster the same handle body is an Iceberg MERGE INTO (or a
partition-overwrite swap, pipeline/checkpoint.py) — foreachBatch is
exactly Structured Streaming's sanctioned sink for that.

Reference analog: none — the reference is a one-shot batch inserter
(Importer.java main loop); incremental maintenance is north-star
surface beyond parity.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame


def run_incremental_kg(
    transcript_stream: DataFrame,
    alias_dict: DataFrame,
    link_dict: DataFrame | None = None,
) -> tuple[DataFrame | None, int]:
    """Drain all available stream data through the incremental fold.

    Returns (final_edges, n_micro_batches). Edges schema is identical
    to the batch pipeline's; with the same input rows the final state
    equals a single full-batch run exactly (pinned by pytest and the
    `stream_kg_incremental` oracle).
    """
    from batch_import_spark.pipeline.kg import (
        merge_kg_edges,
        prepare_link_dict,
        run_kg_pipeline,
    )
    from batch_import_spark.session import checkpoint_rotate

    import shutil

    if link_dict is None:
        link_dict = prepare_link_dict(alias_dict)
    state: dict = {"edges": None, "ids": set(), "batches": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        res = run_kg_pipeline(batch_df, alias_dict, link_dict=link_dict)
        prev = state["edges"]
        merged = res.edges if prev is None else merge_kg_edges(prev, res.edges)
        # eager checkpoint = the per-batch state commit; truncates
        # lineage so batch N+1 never re-runs batch N's extraction.
        # The superseded checkpoint's blocks are released immediately
        # (session.checkpoint_rotate) — without it a long stream grows
        # storage memory linearly.
        state["edges"], state["ids"] = checkpoint_rotate(
            batch_df.sparkSession, merged, state["ids"]
        )
        state["batches"] += 1

    ckpt_dir = tempfile.mkdtemp(prefix="kg_incr_ckpt_")
    try:
        q = (
            transcript_stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the offset log is only needed while the drain runs; the
        # durable state is the returned edge table (production: the
        # Iceberg table this fold merges into)
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return state["edges"], state["batches"]
