"""Round-6 operators: UniMax budget allocation + tokenizer fertility."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.sampling import unimax_budget


def _sources(spark, sizes: dict[str, int]):
    rows = []
    i = 0
    for src, n_tok in sizes.items():
        rows.append((i, " ".join(["w"] * n_tok), src))
        i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _toks():
    return F.size(
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"),
            lambda w: w != F.lit(""),
        )
    ).cast("long")


def test_unimax_water_filling_mixed_branches(spark):
    # caps (E=2): a=20, b=40, c=200. budget 100:
    # i=1: level=floor(100/3)=33 > cap 20 -> a capped at 20
    # i=2: level=floor(80/2)=40 >= ... cap_b=40 >= 40 -> L*=40
    # quotas: a=20, b=40, c=min(200, 40)=40; sum=100 (exact here)
    df = _sources(spark, {"a": 10, "b": 20, "c": 100})
    out = {
        r.source: r
        for r in unimax_budget(
            df, "source", _toks(), F.min(F.lit(100)), max_epochs=2
        ).collect()
    }
    assert out["a"].cap_tokens == 20 and out["a"].quota_tokens == 20
    assert out["b"].quota_tokens == 40
    assert out["c"].quota_tokens == 40
    assert out["a"].epochs_ppm == 2_000_000  # fully repeated twice
    assert out["c"].epochs_ppm == 400_000  # 40/100 of one epoch


def test_unimax_budget_exceeds_all_caps(spark):
    df = _sources(spark, {"a": 5, "b": 7})
    out = {
        r.source: r
        for r in unimax_budget(
            df, "source", _toks(), F.min(F.lit(10_000)), max_epochs=3
        ).collect()
    }
    # no rank qualifies -> every source fully capped
    assert out["a"].quota_tokens == 15 and out["b"].quota_tokens == 21
    assert out["a"].epochs_ppm == 3_000_000


def test_unimax_even_split_uncapped(spark):
    df = _sources(spark, {"a": 100, "b": 100, "c": 100})
    out = {
        r.source: r.quota_tokens
        for r in unimax_budget(
            df, "source", _toks(), F.min(F.lit(90)), max_epochs=2
        ).collect()
    }
    assert out == {"a": 30, "b": 30, "c": 30}


def test_unimax_zero_budget(spark):
    df = _sources(spark, {"a": 4, "b": 9})
    out = {
        r.source: r.quota_tokens
        for r in unimax_budget(
            df, "source", _toks(), F.min(F.lit(0)), max_epochs=2
        ).collect()
    }
    assert out == {"a": 0, "b": 0}


def test_tokenizer_fertility_entry(spark):
    from batch_import_spark.queries import tokenizers as E

    rows = {
        r.family: r
        for r in E._tokenizer_fertility(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(rows) == {"bpe", "wordpiece", "unigram"}
    for fam, r in rows.items():
        # every tokenizer emits at least one token per word
        assert r.fertility_ppm >= 1_000_000, fam
        assert r.total_tokens >= r.total_words > 0
    # the unigram corpus is the planted one (one extra compound word
    # per eligible doc) so its word total exceeds the raw corpus
    assert rows["unigram"].total_words > rows["bpe"].total_words


def test_stream_dsir_equals_batch_weights(spark):
    """Frozen-model streaming screen == batch dsir_weights, row for
    row (the stream_quality_screen parity discipline)."""
    from batch_import_spark.queries import curation as E
    from batch_import_spark.operators.dsir import dsir_weights

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_grams, r.weight_fp)
        for r in E._stream_dsir_screen(spark, sf).collect()
    }
    d = spark.read.parquet(f"{sf}/documents.parquet")
    want = {
        r.doc_id: (r.n_grams, r.weight_fp)
        for r in dsir_weights(
            d, F.col("source") == "src0", n_buckets=E._DSIR_BUCKETS
        ).collect()
    }
    assert got == want and len(got) > 0


def test_kg_temporal_activity_invariants(spark):
    from batch_import_spark.queries import kg as E

    rows = E._kg_temporal_activity(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.first_turn <= r.last_turn
        assert r.active_span == r.last_turn - r.first_turn
        assert r.n_occ >= r.n_facts >= 1
    # every canonical entity is a P/O/Tool surface
    assert all(
        r.entity.startswith(("P", "O", "Tool")) for r in rows
    )


def test_hard_negatives_cross_label_only(spark):
    from batch_import_spark.operators.similarity import hard_negatives

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.14], 1),   # nearest to 0, other label
            (2, [0.9, 0.44], 0),    # nearer than 3 but SAME label
            (3, [0.0, 1.0], 1),
            (4, [-1.0, 0.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    rows = sorted(
        hard_negatives(vecs, q, k=3).collect(), key=lambda r: r.rank
    )
    # only labels != 0 are eligible: {1, 3, 4}, ranked by cosine
    assert [r.vec_id for r in rows] == [1, 3, 4]
    assert rows[0].cosine > rows[1].cosine > rows[2].cosine


def test_curriculum_order_stages_and_permutation(spark):
    from batch_import_spark.queries import curation as E

    rows = E._curriculum_order(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert sorted(r.curriculum_rank for r in rows) == list(range(1, n + 1))
    # stage blocks are contiguous: every stage-s rank < every (s+1) rank
    by_stage: dict[int, list[int]] = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r.curriculum_rank)
    stages = sorted(by_stage)
    for a, b in zip(stages, stages[1:]):
        assert max(by_stage[a]) < min(by_stage[b])


def test_pq_code_dedup_planted_twins(spark):
    from batch_import_spark.queries import vectors as E

    groups = E._pq_code_dedup(spark, "/root/testdata/sf0.001").collect()
    assert groups  # planted copies guarantee non-vacuity
    for g in groups:
        assert g.n_members >= 2
    # every planted twin (id, id+1e6) must share a group: keeper is
    # the original id and the group holds its copy
    keepers = {g.keeper_id for g in groups}
    emb_n = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).count()
    planted = {i for i in range(0, emb_n, 50)}
    assert planted <= keepers


def test_zorder_key_interleave_and_quadrant_locality(spark):
    from batch_import_spark.operators.layout import zorder_key

    # hand-check: x=0b11 (bits 0,1 -> even positions 0,2),
    # y=0b10 (bit 1 -> odd position 3): key = 1 + 4 + 8 = 13
    df = spark.createDataFrame([(3, 2)], "x long, y long")
    k = df.select(zorder_key(F.col("x"), F.col("y"), 4).alias("k")).collect()
    assert k[0].k == 13
    # entry-level property: a 6-bit z-prefix fixes the top 3 bits of
    # BOTH dimensions, so every bucket spans < 2^13 in x AND y
    from batch_import_spark.queries import curation as E

    rows = E._zorder_layout(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.x_max - r.x_min < 8192
        assert r.y_max - r.y_min < 8192
