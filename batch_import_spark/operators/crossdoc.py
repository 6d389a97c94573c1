"""Cross-document repeated-substring removal (exact-substring dedup).

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") showed that removing substrings shared verbatim across
documents — boilerplate footers, license headers, templated spans —
beats whole-document dedup. This pass implements that grain on top of
the repo's content-defined chunking (packing.py cdc_chunks: Rabin-
style cuts, so a shared span chunks identically in every document
that contains it regardless of position): count each chunk
fingerprint corpus-wide, flag chunks present in >= ``MIN_DOCS``
distinct documents, and emit every document with its flagged spans
cut out plus an exact integer removal metric.

Reference analog: none (the reference ingests rows as-is,
Importer.java:63-105) — brief-side training-data surface.

Scale shape:
- chunking is a zero-shuffle narrow map (expressions only);
- the corpus-wide count shuffles ONLY scalars (md5, doc_id) — never
  chunk text;
- flagging is a semi/anti equi-join on chunk_md5 (the flagged set is
  the over-represented tail, tiny relative to the corpus, so AQE
  broadcasts it);
- reconstruction concatenates the KEPT chunks per document — text
  moves through exactly one doc_id-keyed shuffle, the unavoidable
  one (the output IS re-written documents). No driver state, no
  iteration; skew is bounded by a single document's chunk count.

Removed spans are replaced by a single U+001F sentinel (collapsed and
edge-trimmed), not silently concatenated over. Two reasons: training
pipelines should not fabricate token adjacencies that never existed
in the source, and the sentinel makes the pass exactly IDEMPOTENT.
Plain concatenation mints brand-new cross-doc duplicates at the
seams (doc A's kept chunks k1,k2 merge into a string another doc
already contains whole — why Lee et al. iterate their pass), and
content-defined cuts near a seam can split kept chunks into small
fragments that collide across documents. Both escapes are closed by
one rule: chunks containing OR within ``GRAM`` chars of a sentinel
are exempt from flagging. Away from sentinels the text is unchanged
source content, so CDC boundaries are bit-stable and every flaggable
pass-2 chunk is a pass-1 chunk — which pass 1 already proved
document-unique; near sentinels the content was already processed.
Pinned by pytest (test_idempotent_on_cleaned_corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000
#: the CDC window and cut mask (packing.cdc_chunks' defaults)
GRAM, MASK = 8, 32
#: a chunk in at least this many documents is cut
MIN_DOCS = 2


def _chunks_with_text(df: DataFrame) -> DataFrame:
    """cdc_chunks (packing.py:237) with the chunk substring and the
    sentinel-proximity flag carried — same cut rule, same
    normalization (shared Arrow kernel, packing._cdc_rows), so
    fingerprints agree with the chunk-inventory queries. The
    sentinel-context margin is the chunk plus ``GRAM`` chars each
    side — cut positions depend on windows reaching up to GRAM-1
    chars ahead, so this margin is exactly what makes chunk
    boundaries bit-stable away from removal seams (idempotence
    argument in the module doc)."""
    from batch_import_spark.operators.packing import _cdc_rows

    return _cdc_rows(
        df, "doc_id", "text", GRAM, MASK, with_text=True, min_len=1
    ).withColumnRenamed("doc_id", "id")


def remove_repeated_substrings(df: DataFrame) -> DataFrame:
    """Cut every CDC chunk whose fingerprint occurs in >= ``MIN_DOCS``
    distinct documents (see module doc).

    Output per (non-empty) document: ``n_chunks``, ``n_removed``,
    ``removed_ppm`` (chars cut / chars total, floor ppm), ``cleaned``
    (the document with every flagged span replaced by one U+001F
    sentinel, collapsed and edge-trimmed — '' when everything was
    boilerplate).
    """
    # materialize the chunk table once: both the over-representation
    # count and the flag join consume it, and without materialization
    # each branch re-runs the whole CDC cut/fingerprint kernel
    ch = _chunks_with_text(df).localCheckpoint(eager=False)

    # corpus-wide over-representation — scalars only in this shuffle.
    # Chunks containing or adjacent to a removal sentinel are exempt
    # from flagging: that content sits at an earlier removal seam and
    # was already processed; exempting it is what makes the pass
    # exactly idempotent (module doc).
    rep = (
        ch.where(~F.col("near_sentinel"))
        .select("chunk_md5", "id")
        .groupBy("chunk_md5")
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= MIN_DOCS)
        .select("chunk_md5", F.lit(1).alias("_rep"))
    )

    flagged = ch.join(rep, ["chunk_md5"], "left")
    kept = F.col("_rep").isNull()
    masked = F.when(kept, F.col("chunk")).otherwise(F.lit("\x1f"))
    agg = flagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("_chars"),
        F.sum(F.when(kept, F.lit(0)).otherwise(F.lit(1)))
        .cast("long")
        .alias("n_removed"),
        F.sum(F.when(kept, F.col("chunk_len")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_kept_chars"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", masked.alias("m")))
                ),
                lambda s: s["m"],
            ),
            "",
        ).alias("_raw"),
    )
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("_raw"), "\x1f+", "\x1f"),
        "^\x1f|\x1f$",
        "",
    )
    return agg.select(
        F.col("id").alias("doc_id"),
        "n_chunks",
        "n_removed",
        F.expr(f"((_chars - _kept_chars) * {PPM}L) div _chars").alias(
            "removed_ppm"
        ),
        cleaned.alias("cleaned"),
    )
