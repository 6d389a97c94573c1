"""Degenerate-bucket guard (operators/buckets.py).

The 100 TB dedup killer: boilerplate corpora put thousands of ids in
one LSH band/block/bucket and the self-join's ``id_a < id_b`` pair
explosion goes quadratic in that bucket. The cap drops such buckets
whole. Each operator test lowers the cap to 100 so the boilerplate
bucket is over it.
"""

import pytest
from pyspark.sql import functions as F

from batch_import_spark.operators import buckets
from batch_import_spark.operators.dedup import (
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from batch_import_spark.operators.similarity import embedding_near_duplicates


def _boilerplate_corpus(spark, n_dup=2000):
    """n_dup identical docs (one giant bucket in every scheme) plus a
    small planted near-dup pair that lives in its own buckets."""
    dup = spark.range(n_dup).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate header text repeated in every single document").alias(
            "text"
        ),
    )
    planted = spark.createDataFrame(
        [
            (100000, "completely unrelated planted sentence about graph engines on spark"),
            (100001, "completely unrelated planted sentence about graph engines on spark"),
        ],
        "doc_id long, text string",
    )
    return dup.unionByName(planted)


@pytest.fixture
def cap_100(monkeypatch):
    monkeypatch.setattr(buckets, "MAX_BUCKET_SIZE", 100)


def test_cap_hot_buckets_stats_and_filter(spark, monkeypatch):
    df = spark.range(100).select(
        (F.col("id") % 2).alias("bucket"),  # two buckets of 50
        F.col("id"),
    ).unionByName(
        spark.range(5).select((F.col("id") + 10).alias("bucket"), F.col("id"))
    )
    monkeypatch.setattr(buckets, "MAX_BUCKET_SIZE", 10)
    out = buckets.cap_hot_buckets(df, ["bucket"])
    # the drop count is the caller's: rows before minus rows after
    assert df.count() - out.count() == 100
    assert out.count() == 5  # only the five singleton buckets survive
    # nothing over the cap → frame unchanged
    monkeypatch.setattr(buckets, "MAX_BUCKET_SIZE", 1000)
    assert buckets.cap_hot_buckets(df, ["bucket"]).count() == 105


def test_minhash_cap_bounds_pathological_corpus(spark, cap_100):
    corpus = _boilerplate_corpus(spark)
    pairs = minhash_near_duplicates(corpus, num_hashes=16, num_bands=4).collect()
    # the 2000-doc boilerplate bucket is dropped (2M pairs never form);
    # the planted pair survives in its own small bucket
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100000, 100001)}


def test_simhash_cap_bounds_pathological_corpus(spark, cap_100):
    corpus = _boilerplate_corpus(spark)
    pairs = simhash_near_duplicates(corpus, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100000, 100001)}


def test_embedding_cap_bounds_pathological_corpus(spark, cap_100):
    # 1000 identical vectors → one bucket per table; a planted distinct
    # near-identical pair elsewhere in space
    dim = 8
    same = [(i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(1000)]
    planted = [
        (100000, [0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (100001, [0.0, 1.0, 1.0, 0.01, 0.0, 0.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        same + planted, "vec_id long, embedding array<double>"
    )
    pairs = embedding_near_duplicates(corpus, dim=dim, threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100000, 100001)}


def test_near_dup_resolution_merges_chains(spark):
    """CC policy: A~B and B~C cluster together even without an A~C
    pair (similarity is not transitive); keeper = cluster min."""
    from batch_import_spark.operators.dedup import near_dup_resolution

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {(r["doc_id"], r["keeper"], r["is_kept"]) for r in near_dup_resolution(pairs).collect()}
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (10, 10, True), (11, 10, False),
    }
