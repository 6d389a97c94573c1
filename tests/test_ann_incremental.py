"""Incremental IVF-PQ index maintenance (similarity.py pq_encode /
ivf_pq_extend + streaming/ann_incremental.py).

Reference analog: none — incremental maintenance is north-star
surface beyond parity. The invariant under test is the one that
makes the fold sound: encoding is row-local given frozen quantizers,
so index(A) + encode(B) == encode(A ∪ B) exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from batch_import_spark.operators.similarity import (
    ivf_pq_extend,
    ivf_seed_centroids,
    pq_codebook_from_corpus,
    pq_encode,
)


def _corpus(spark, n=80, dim=16):
    rows = [
        (i, [math.cos(0.37 * i + 0.91 * j) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _quantizers(corpus):
    cents = ivf_seed_centroids(corpus, 4)
    book = pq_codebook_from_corpus(corpus, cents, m_sub=4, k_codes=8, skip=4)
    return cents, book


def test_extend_equals_full_encode(spark):
    """index(standing) + encode(batch) == encode(all), frozen
    quantizers — for an arbitrary (non-prefix) split."""
    all_ = _corpus(spark)
    standing = all_.where(F.col("vec_id") % 3 != 0)
    batch = all_.where(F.col("vec_id") % 3 == 0)
    cents, book = _quantizers(standing)

    idx = pq_encode(standing, cents, book, m_sub=4)
    extended = ivf_pq_extend(idx, batch, cents, book, m_sub=4)
    full = pq_encode(all_, cents, book, m_sub=4)

    key = lambda r: (r.vec_id, r.cell, tuple(r.codes))
    assert sorted(map(key, extended.collect())) == sorted(
        map(key, full.collect())
    )


def test_extend_never_touches_standing_rows(spark):
    """The fold re-encodes ONLY the batch: standing postings pass
    through byte-identically even if handed a corrupted codes row
    (proof the standing corpus is not re-quantized)."""
    all_ = _corpus(spark, n=40)
    standing = all_.where(F.col("vec_id") < 30)
    batch = all_.where(F.col("vec_id") >= 30)
    cents, book = _quantizers(standing)
    idx = pq_encode(standing, cents, book, m_sub=4)
    # poison one standing row's codes; extend must preserve it as-is
    poisoned = idx.withColumn(
        "codes",
        F.when(
            F.col("vec_id") == 0,
            F.array(*[F.lit(99).cast("int")] * 4),
        ).otherwise(F.col("codes")),
    )
    out = {
        r.vec_id: list(r.codes)
        for r in ivf_pq_extend(poisoned, batch, cents, book, m_sub=4).collect()
    }
    assert out[0] == [99, 99, 99, 99]
    assert len(out) == 40


def test_streaming_fold_equals_batch(spark, tmp_path):
    """Two-micro-batch stream through run_incremental_ann == one-shot
    pq_encode over the same rows."""
    from batch_import_spark.streaming.ann_incremental import (
        run_incremental_ann,
    )

    all_ = _corpus(spark, n=60)
    standing = all_.where(F.col("vec_id") < 40)
    landing = all_.where(F.col("vec_id") >= 40)
    # the stream fold encodes with 8 sub-quantizers
    cents = ivf_seed_centroids(standing, 4)
    book = pq_codebook_from_corpus(standing, cents, m_sub=8, k_codes=8, skip=4)
    idx = pq_encode(standing, cents, book)

    d = str(tmp_path / "stream")
    landing.where(F.col("vec_id") % 2 == 0).write.parquet(d + "/b0")
    landing.where(F.col("vec_id") % 2 == 1).write.parquet(d + "/b1")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    final, n_batches = run_incremental_ann(stream, cents, book, index=idx)
    assert n_batches >= 2
    full = pq_encode(all_, cents, book)
    key = lambda r: (r.vec_id, r.cell, tuple(r.codes))
    assert sorted(map(key, final.collect())) == sorted(
        map(key, full.collect())
    )
