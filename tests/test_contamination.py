"""Benchmark-contamination screen (operators/contamination.py)."""

from batch_import_spark.operators.contamination import ngram_contamination


def test_contamination_counts_and_ppm(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # 9 toks
            (2, "completely unrelated text with no shared phrases here"),
            (3, "quick brown fox appears here too"),
            (4, "a b"),  # too short for n=3
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "I saw the quick brown fox jumps today")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_contamination(docs, probes, n=3).collect()}
    # doc 1: 7 distinct trigrams; hits: "the quick brown", "quick brown fox",
    # "brown fox jumps" = 3
    assert out[1]["n_hit"] == 3 and out[1]["n_total"] == 7
    assert out[1]["contam_ppm"] == 3 * 1_000_000 // 7
    # doc 3: 4 trigrams, hit only "quick brown fox"
    assert out[3]["n_hit"] == 1 and out[3]["n_total"] == 4
    # doc 2 (no overlap) and doc 4 (too short) are absent
    assert set(out) == {1, 3}


def test_contamination_duplicate_doc_fully_flagged(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    probes = spark.createDataFrame([(2, text)], "doc_id long, text string")
    row = ngram_contamination(docs, probes, n=8).collect()[0]
    assert row["n_hit"] == row["n_total"] == 1
    assert row["contam_ppm"] == 1_000_000


def test_contamination_case_and_whitespace_normalized(spark):
    docs = spark.createDataFrame([(1, "  The QUICK   brown fox ")], "doc_id long, text string")
    probes = spark.createDataFrame([(2, "the quick brown")], "doc_id long, text string")
    rows = ngram_contamination(docs, probes, n=3).collect()
    assert rows and rows[0]["n_hit"] == 1


def test_containment_pairs_detects_quote(spark):
    from batch_import_spark.operators.contamination import containment_pairs

    quote = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, quote),  # fully contained in 10
            (2, "alpha beta gamma zeta eta"),  # partial overlap
            (3, "totally different words here friend"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(10, f"intro words {quote} outro words"), (11, "nothing shared at all")],
        "doc_id long, text string",
    )
    out = {
        (r["lid"], r["rid"]): r["containment_ppm"]
        for r in containment_pairs(docs, corpus, n=3, min_ppm=500_000).collect()
    }
    # doc 1: 3 trigrams, all present in 10 → 100%
    assert out[(1, 10)] == 1_000_000
    # doc 2 shares only 'alpha beta gamma' (1 of 3) → 33% < 50% cut
    assert (2, 10) not in out and (3, 10) not in out and (1, 11) not in out


def test_containment_hot_ngram_cap(spark, monkeypatch):
    from batch_import_spark.operators import contamination
    from batch_import_spark.operators.contamination import containment_pairs

    # the same trigram appears in many right docs: with the cap at 2
    # it is dropped as boilerplate, so no pair reaches min_ppm
    docs = spark.createDataFrame([(1, "common boiler plate")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(i, "common boiler plate") for i in range(10, 15)],
        "doc_id long, text string",
    )
    assert containment_pairs(docs, corpus, n=3, min_ppm=1).count() == 5
    monkeypatch.setattr(contamination, "MAX_NGRAM_DF", 2)
    assert containment_pairs(docs, corpus, n=3, min_ppm=1).count() == 0
