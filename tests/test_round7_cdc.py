"""Round-7 pin: the Arrow CDC kernel (packing._cdc_rows) must be
bit-identical to the expression formulation it replaced — same cut
positions, same chunk fingerprints, same NULL/empty/short-doc flow."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.sketches import portable_hash60

EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, " "),
    (3, "short"),
    (4, "exactly8"),
    (5, "nine char"),
    (6, "a" * 40),
    (7, "the quick brown fox jumps over the lazy dog " * 8),
    (8, "  Tabs\tand\nnewlines   collapse  to one space  " * 5),
    (9, "unicode éü中文 mixed with ascii " * 6),
    (10, "x\x1fy with a sentinel already inside " * 4),
]


def _expr_cdc(df, gram=8, mask=32):
    """The pre-round-7 pure-expression formulation, verbatim."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    d = df.select(F.col("doc_id").alias("id"), norm.alias("_t"))
    n = F.length("_t")
    positions = F.when(
        n - (gram - 1) >= 2, F.sequence(F.lit(2), n - (gram - 1))
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.filter(
        positions,
        lambda i: F.pmod(
            portable_hash60(F.substring(F.col("_t"), i, gram)), F.lit(mask)
        )
        == 0,
    )
    d = d.select("id", "_t", F.concat(F.array(F.lit(1)), cuts).alias("_starts"))
    d = d.select(
        "id",
        "_t",
        "_starts",
        F.explode(F.sequence(F.lit(0), F.size("_starts") - 1)).alias("chunk_idx"),
    )
    start = F.get("_starts", F.col("chunk_idx"))
    nxt = F.coalesce(F.get("_starts", F.col("chunk_idx") + 1), F.length("_t") + 1)
    chunk = F.substring(F.col("_t"), start, nxt - start)
    ctx = F.col("_t").substr(
        F.greatest(start - gram, F.lit(1)), (nxt - start) + 2 * gram
    )
    return d.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        chunk.alias("chunk"),
        (nxt - start).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
        ctx.contains("\x1f").alias("near_sentinel"),
    )


def test_cdc_kernel_matches_expression_path(spark):
    from batch_import_spark.operators.packing import cdc_chunks

    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    got = sorted(
        cdc_chunks(df, "doc_id", "text", gram=8, mask=32).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    want = sorted(
        _expr_cdc(df)
        .select("doc_id", "chunk_idx", "chunk_len", "chunk_md5")
        .collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    assert got == want


def test_chunks_with_text_matches_expression_path(spark):
    from batch_import_spark.operators.crossdoc import _chunks_with_text

    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    got = sorted(
        _chunks_with_text(df).collect(),
        key=lambda r: (r.id, r.chunk_idx),
    )
    # expression path + crossdoc's length>0 doc filter: doc 0 (NULL)
    # and docs whose normalized text is empty are absent
    base = df.where(
        F.length(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
        > 0
    )
    want = sorted(
        _expr_cdc(base)
        .withColumnRenamed("doc_id", "id")
        .select("id", "chunk_idx", "chunk", "chunk_len", "chunk_md5", "near_sentinel")
        .collect(),
        key=lambda r: (r.id, r.chunk_idx),
    )
    assert got == want
