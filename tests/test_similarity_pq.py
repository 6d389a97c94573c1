"""IVF-PQ residual quantization (similarity.py ivf_pq_topk)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from batch_import_spark.operators.similarity import cosine_topk, ivf_pq_topk


def _recall(exact_rows, got_rows, k):
    ex, got = {}, {}
    for r in exact_rows:
        ex.setdefault(r.query_id, set()).add(r.vec_id)
    for r in got_rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recs = [len(ex[q] & got.get(q, set())) / k for q in ex]
    return sum(recs) / len(recs)


def _clustered_corpus(spark, n_clusters=20, per_cluster=10, dim=64):
    """Deterministic clustered vectors: cluster center c has
    components cos-based on (c, i); members are tiny deterministic
    perturbations — the structure PQ exploits in real embedding
    corpora. Ids are member-major (vec_id = p*n_clusters + c, so
    cluster(id) = id % n_clusters): the lowest ids then span DISTINCT
    clusters, giving the id-seeded coarse quantizer one centroid per
    cluster — seeding all 16 centroids from 2 near-identical clusters
    makes cell assignment a coin-flip over tiny perturbations and
    scatters cluster mates beyond the probe set."""
    rows = []
    for c in range(n_clusters):
        base = [math.cos(0.7 * c + 0.13 * i) for i in range(dim)]
        for p in range(per_cluster):
            v = [base[i] + 0.01 * math.cos(3.1 * p + i) for i in range(dim)]
            rows.append((p * n_clusters + c, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cluster_purity_on_clustered_data(spark):
    """On clustered data (the realistic regime) IVF-PQ never confuses
    clusters: every top-5 ADC hit comes from the query's own cluster.
    Within-cluster ORDER is intentionally lost — all mates quantize
    to the same code and tie (that coarseness IS the 100x
    compression), so set-recall@5 against the exact ranking sits near
    ~0.6 and the production pattern is ADC shortlist -> exact
    re-rank; the purity assertion is the property PQ guarantees."""
    corpus = _clustered_corpus(spark)
    q = corpus.where(F.col("vec_id").isin([5, 57, 103, 151, 199])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_pq_topk(
        corpus, q, n_cells=16, n_probe=4, m_sub=8, k_codes=16, k=5,
    ).collect()
    assert len(got) == 25
    for r in got:
        assert r.vec_id % 20 == r.query_id % 20, (r.query_id, r.vec_id)
    exact = cosine_topk(corpus, q, k=5).collect()
    assert _recall(exact, got, 5) >= 0.5


def test_recall_floor_on_random_fixture(spark):
    """Uniform random embeddings are PQ's worst case (no structure to
    quantize); still well above chance (5/500) and documented."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5).collect()
    got = ivf_pq_topk(
        emb, q, n_cells=16, n_probe=4, m_sub=8, k_codes=16, k=5,
    ).collect()
    assert _recall(exact, got, 5) >= 0.3


def test_adc_is_integer_and_deterministic(spark):
    """Register-exactness: two runs return identical (ids, codes →
    adc_dist) — the cross-engine-replay property the oracle relies
    on — and distances are BIGINT non-negative."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ivf_pq_topk(emb, q, n_cells=8, n_probe=3, m_sub=8, k_codes=8, k=5).collect()
    b = ivf_pq_topk(emb, q, n_cells=8, n_probe=3, m_sub=8, k_codes=8, k=5).collect()
    key = lambda rows: sorted(
        (r.query_id, r.vec_id, r.rank, r.adc_dist) for r in rows
    )
    assert key(a) == key(b)
    assert all(isinstance(r.adc_dist, int) and r.adc_dist >= 0 for r in a)


def test_codebook_raises_on_tiny_corpus(spark):
    """A corpus smaller than skip + k_codes can't seed a full
    codebook: a clear ValueError naming the minimum size, not a
    silent short book that IndexErrors downstream."""
    import pytest

    from batch_import_spark.operators.similarity import (
        ivf_seed_centroids,
        pq_codebook_from_corpus,
    )

    tiny = _clustered_corpus(spark, n_clusters=4, per_cluster=2, dim=16)
    cents = ivf_seed_centroids(tiny, 4)
    with pytest.raises(ValueError, match="skip \\+ k_codes"):
        pq_codebook_from_corpus(tiny, cents, m_sub=4, k_codes=16, skip=4)


def test_pq_recall_audit_consistent_with_direct_measurement(spark):
    """The audit query's recall agrees with measuring the two
    operators directly, and is non-vacuous in both directions (some
    hits, some misses on the random fixture)."""
    import __spark_entry__ as entry

    rows = entry.queries()["pq_recall_audit"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 5
    assert all(r.n_exact == 5 for r in rows)
    assert all(r.recall_ppm == (r.n_hits * 1_000_000) // 5 for r in rows)
    total_hits = sum(r.n_hits for r in rows)
    assert 0 < total_hits < 25  # neither perfect nor empty
