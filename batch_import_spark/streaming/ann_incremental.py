"""Continuous ANN-index ingest: stream vector batches folded into a
standing IVF-PQ index.

The encoded postings table (operators/similarity.py pq_encode) is
row-local given frozen quantizers, so continuous maintenance is
foreachBatch: each micro-batch is encoded against the standing
centroids + codebook on its OWN rows only and appended — the
standing corpus is never re-quantized. This is the similarity twin
of streaming/incremental.py's KG edge fold and the production shape
for a landing embedding firehose: per-batch cost proportional to the
batch, state is the (append-only) postings table. Quantizer drift
under distribution shift is handled by periodic full rebuilds (the
standard IVF practice), not by this fold.

State is materialized with localCheckpoint between batches; on a
cluster the handle body is an Iceberg append (no MERGE even needed —
postings are append-only per vec_id).

Reference analog: none — incremental maintenance is north-star
surface beyond parity (the reference is a one-shot batch inserter,
Importer.java main loop).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame


def run_incremental_ann(
    vector_stream: DataFrame,
    centroids: list[list[float]],
    book: list[list[list[int]]],
    index: DataFrame | None = None,
) -> tuple[DataFrame | None, int]:
    """Drain all available stream data through the incremental encode.

    ``index`` is the standing (vec_id, cell, codes) postings table
    (None = empty index). Returns (final_index, n_micro_batches);
    with the same input rows the final index equals one full-batch
    pq_encode exactly (pinned by pytest and the
    `stream_ann_incremental` oracle).
    """
    from batch_import_spark.operators.similarity import ivf_pq_extend
    from batch_import_spark.session import checkpoint_rotate

    # `ids` are the blocks of the checkpoint this fold created last:
    # the caller-supplied initial index owns none of them, so it is
    # never freed here (it may be a persisted/checkpointed frame still
    # used elsewhere — dropping its cached blocks would be a hidden
    # side effect)
    state: dict = {"index": index, "ids": set(), "batches": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from batch_import_spark.operators.similarity import pq_encode

        if state["index"] is None:
            merged = pq_encode(batch_df, centroids, book, 8)
        else:
            merged = ivf_pq_extend(state["index"], batch_df, centroids, book, 8)
        # eager checkpoint = the per-batch state commit; truncates
        # lineage so batch N+1 never re-encodes batch N (rotation
        # discipline shared with streaming/incremental.py)
        state["index"], state["ids"] = checkpoint_rotate(
            batch_df.sparkSession, merged, state["ids"]
        )
        state["batches"] += 1

    ckpt_dir = tempfile.mkdtemp(prefix="ann_incr_ckpt_")
    try:
        q = (
            vector_stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt_dir, ignore_errors=True)
    return state["index"], state["batches"]
