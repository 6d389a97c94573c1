"""Cross-doc repeated-substring removal (operators/crossdoc.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.crossdoc import (
    _chunks_with_text,
    remove_repeated_substrings,
)


def test_shared_span_removed_from_all_docs(spark):
    """Two docs sharing a boilerplate span lose exactly the shared
    chunks; a third unrelated doc is untouched."""
    boiler = "this footer is identical boilerplate text repeated verbatim " * 3
    df = spark.createDataFrame(
        [
            (0, "unique alpha content one. " + boiler),
            (1, boiler + " unique beta content two entirely different."),
            (2, "totally unrelated gamma document with its own words only."),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in remove_repeated_substrings(df).collect()}
    assert out[0].n_removed > 0 and out[1].n_removed > 0
    assert out[2].n_removed == 0 and out[2].removed_ppm == 0
    # the shared interior chunks are gone from both: the 3x-repeated
    # phrase drops to at most one surviving copy (the boundary chunk
    # that mixes unique+shared chars is kept — chunk-grain semantics)
    assert out[0].cleaned.count("identical boilerplate") <= 1
    assert out[1].cleaned.count("identical boilerplate") <= 1
    assert 0 < out[0].removed_ppm < 1_000_000
    assert 0 < out[1].removed_ppm < 1_000_000
    assert out[2].cleaned.startswith("totally unrelated gamma")


def test_identical_docs_fully_removed(spark):
    df = spark.createDataFrame(
        [(0, "same text here word word word"), (1, "same text here word word word")],
        "doc_id: long, text: string",
    )
    out = remove_repeated_substrings(df).collect()
    for r in out:
        assert r.n_removed == r.n_chunks
        assert r.removed_ppm == 1_000_000
        assert r.cleaned == ""


def test_idempotent_on_cleaned_corpus(spark):
    """Property (VERDICT r04 item 4): running the pass again on the
    cleaned fixture corpus removes nothing."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    first = remove_repeated_substrings(d)
    assert first.where(F.col("n_removed") > 0).count() > 0  # non-vacuous
    cleaned = first.where(F.length("cleaned") > 0).select(
        "doc_id", F.col("cleaned").alias("text")
    )
    second = remove_repeated_substrings(cleaned)
    assert second.where(F.col("n_removed") > 0).count() == 0


def test_chunks_agree_with_cdc_inventory(spark):
    """The text-carrying chunker reuses cdc_chunks' exact cut rule:
    same (id, idx, len, md5) inventory."""
    from batch_import_spark.operators.packing import cdc_chunks

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    a = {
        (r.id, r.chunk_idx, r.chunk_len, r.chunk_md5)
        for r in _chunks_with_text(d).collect()
    }
    b = {
        (r.doc_id, r.chunk_idx, r.chunk_len, r.chunk_md5)
        for r in cdc_chunks(d).collect()
    }
    assert a == b
