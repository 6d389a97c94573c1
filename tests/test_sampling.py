"""Deterministic sampling operators (operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F

from batch_import_spark.operators.sampling import (
    hash_sample,
    mixture_sample,
    stratified_sample_k,
)


@pytest.fixture()
def docs(spark):
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a").when(F.col("id") % 3 == 1, "b").otherwise("c").alias("grp"),
    )


def test_hash_sample_deterministic_and_nested(spark, docs):
    s20 = {r["doc_id"] for r in hash_sample(docs, 0.2, ["doc_id"], seed=5).collect()}
    s20_again = {r["doc_id"] for r in hash_sample(docs, 0.2, ["doc_id"], seed=5).collect()}
    s50 = {r["doc_id"] for r in hash_sample(docs, 0.5, ["doc_id"], seed=5).collect()}
    assert s20 == s20_again  # stable across runs
    assert s20 <= s50  # nested carve-outs: lower fraction ⊆ higher
    assert 0.1 < len(s20) / 2000 < 0.3 and 0.4 < len(s50) / 2000 < 0.6
    # a different seed draws a different sample
    s20_seed9 = {r["doc_id"] for r in hash_sample(docs, 0.2, ["doc_id"], seed=9).collect()}
    assert s20 != s20_seed9
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5, ["doc_id"])


def test_mixture_rates(spark, docs):
    kept = mixture_sample(
        docs, "grp", {"a": 1.0, "b": 0.0}, ["doc_id"], seed=1, default_rate=0.5
    )
    by = {r["grp"]: r["n"] for r in kept.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["a"] == docs.where("grp = 'a'").count()  # rate 1.0 keeps all
    assert "b" not in by  # rate 0.0 drops all
    assert 0.3 < by["c"] / docs.where("grp = 'c'").count() < 0.7  # default


def test_stratified_exact_k(spark, docs):
    out = stratified_sample_k(docs, ["grp"], 7, ["doc_id"], seed=2)
    sizes = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"a": 7, "b": 7, "c": 7}
    # small groups keep everything
    tiny = docs.where(F.col("doc_id") < 4)
    assert stratified_sample_k(tiny, ["grp"], 7, ["doc_id"]).count() == 4


def test_hash_split_and_leakage_audit(spark, monkeypatch):
    import hashlib

    from pyspark.sql import functions as F

    from batch_import_spark.operators import sampling
    from batch_import_spark.operators.sampling import split_leakage_audit

    df = spark.createDataFrame(
        [(i, ["aaa", "bbb", "ccc"][i % 3]) for i in range(60)],
        "doc_id: long, text: string",
    )
    # the audit's split, recomputed engine-free: test iff
    # md5-derived portable_hash60(doc_id) % 10 == 0
    s1 = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10 == 0
        for i in range(60)
    }
    assert 0 < sum(s1.values()) < 60

    pairs = split_leakage_audit(df, F.col("text")).collect()
    # brute force: same text, opposite split sides
    rows = df.collect()
    split = {r.doc_id: s1[r.doc_id] for r in rows}
    txt = {r.doc_id: r.text for r in rows}
    want = {
        (a, b)
        for a in txt
        for b in txt
        if a < b and txt[a] == txt[b] and split[a] != split[b]
    }
    assert {(r.doc_a, r.doc_b) for r in pairs} == want
    # deterministic and partition-stable
    again = split_leakage_audit(df.repartition(7), F.col("text")).collect()
    assert {(r.doc_a, r.doc_b) for r in again} == want
    # the hot-group cap drops everything when groups exceed it
    monkeypatch.setattr(sampling, "MAX_GROUP_SIZE", 2)
    assert split_leakage_audit(df, F.col("text")).count() == 0
