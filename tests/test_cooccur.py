"""Co-occurrence lift (operators/cooccur.py) — hand-checked counts."""

from batch_import_spark.operators.cooccur import cooccurrence_lift


def test_cooccurrence_counts_and_lift(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana"),
            (2, "apple banana cherry"),
            (3, "apple cherry"),
            (4, "banana banana apple"),  # duplicate token counted once
        ],
        "doc_id long, text string",
    )
    out = {
        (r["term_a"], r["term_b"]): r
        for r in cooccurrence_lift(docs, min_count=2).collect()
    }
    ab = out[("apple", "banana")]
    # apple in 4 docs, banana in 3, together in 3, N=4
    assert (ab["n_ab"], ab["n_a"], ab["n_b"]) == (3, 4, 3)
    assert ab["lift_ppm"] == 3 * 4 * 1_000_000 // (4 * 3)  # = 1.0 → random
    ac = out[("apple", "cherry")]
    assert (ac["n_ab"], ac["n_a"], ac["n_b"]) == (2, 4, 2)
    assert ac["lift_ppm"] == 2 * 4 * 1_000_000 // (4 * 2)
    # banana+cherry co-occur once only -> filtered by min_count=2
    assert ("banana", "cherry") not in out


def test_cooccurrence_doc_guard_drops_degenerate(spark):
    big = " ".join(f"w{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, big)], "doc_id long, text string"
    )
    out = cooccurrence_lift(docs, min_count=2).collect()
    # the 300-term doc is excluded from pairs AND from N
    assert {(r["term_a"], r["term_b"]) for r in out} == {("a", "b")}
    row = out[0]
    assert row["lift_ppm"] == 2 * 2 * 1_000_000 // (2 * 2)  # N=2, not 3
