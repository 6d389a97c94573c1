"""SemDeDup semantic dedup (operators/semdedup.py) + round-5 wave-2
composition queries (temperature mixture, quality gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_import_spark.operators.semdedup import semantic_dedup


def _vec(seed, dim=16):
    import math

    return [math.cos(0.9 * seed + 0.17 * i) for i in range(dim)]


def test_keep_first_greedy_semantics(spark):
    """Duplicate clique {0, 7, 9}: keep 0, drop 7 and 9 with
    dup_of=0; unrelated vectors keep."""
    rows = [
        (0, _vec(1)),
        (3, _vec(2)),
        (7, [2.0 * x for x in _vec(1)]),       # cos(0,7) == 1
        (9, [1.000001 * x for x in _vec(1)]),  # cos(0,9) ~ 1
        (12, _vec(5)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.keep, r.dup_of) for r in
           semantic_dedup(df, n_cells=2).collect()}
    assert got[0] == (True, None)
    assert got[7] == (False, 0)
    assert got[9] == (False, 0)
    assert got[3][0] is True and got[12][0] is True


def test_chain_greedy_order(spark):
    """3-chain a-b-c (a~b, b~c, a!~c): greedy drops b (witness a),
    then KEEPS c because its only witness b was itself dropped —
    the sequential rule the closed-form oracle must respect."""
    import math

    base = _vec(3)
    n = math.sqrt(sum(x * x for x in base))
    u = [x / n for x in base]
    # construct b between a and c with cos(a,b)=cos(b,c)~0.96, cos(a,c)~0.86
    import numpy as np

    rng = [math.cos(1.7 + 0.31 * i) for i in range(16)]
    v = np.array(rng) - np.dot(rng, u) * np.array(u)
    v = v / np.linalg.norm(v)
    a = np.array(u)
    theta = 0.28
    b = math.cos(theta) * a + math.sin(theta) * v
    c = math.cos(2 * theta) * a + math.sin(2 * theta) * v
    df = spark.createDataFrame(
        [(1, a.tolist()), (2, b.tolist()), (3, c.tolist())],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.keep, r.dup_of) for r in
           semantic_dedup(df, n_cells=1).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, 1)
    assert got[3] == (True, None)


def test_pathological_mass_duplicate_cell(spark):
    """The SemDeDup raison d'être case: one cell full of near-identical
    vectors (mass-duplicated boilerplate embeddings). 2000 scaled
    copies of one vector form a 2e6-edge clique; the level-wise fixed
    point must decide it in ~2 rounds — keep exactly the lowest id,
    every other row dropped with dup_of = that id — without ever
    gathering the pair list into one row."""
    base = _vec(4)
    # ids 0, 2..2000: colinear clique (2000 members); id 1: a distinct
    # direction so the two id-seeded centroids are not colinear (the
    # cell assignment would otherwise split the clique on float noise)
    rows = [(0, base), (1, _vec(9))]
    rows += [
        (i, [(1.0 + 0.0001 * (i % 7)) * x for x in base])
        for i in range(2, 2001)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_cells=2).collect()
    assert len(out) == 2001
    got = {r.vec_id: (r.keep, r.dup_of) for r in out}
    assert got[0] == (True, None)
    assert got[1][0] is True
    for i in range(2, 2001):
        assert got[i] == (False, 0), i


def test_long_chain_converges_beyond_two_levels(spark):
    """A 5-deep id-monotone similarity chain v1~v2~...~v5 (no skip
    edges): greedy alternates keep/drop — the fixed point needs >2
    rounds and must still match the sequential rule exactly."""
    import math

    import numpy as np

    base = _vec(3)
    n = math.sqrt(sum(x * x for x in base))
    u = np.array([x / n for x in base])
    rng = [math.cos(1.7 + 0.31 * i) for i in range(16)]
    v = np.array(rng) - np.dot(rng, u) * u
    v = v / np.linalg.norm(v)
    theta = 0.28  # cos(theta)~0.961 >= t, cos(2*theta)~0.847 < t
    vecs = [
        (math.cos(k * theta) * u + math.sin(k * theta) * v).tolist()
        for k in range(5)
    ]
    df = spark.createDataFrame(
        [(i + 1, vecs[i]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.keep, r.dup_of) for r in
           semantic_dedup(df, n_cells=1).collect()}
    # greedy: 1 kept, 2 dropped(1), 3 kept (witness 2 was dropped),
    # 4 dropped(3), 5 kept
    assert got[1] == (True, None)
    assert got[2] == (False, 1)
    assert got[3] == (True, None)
    assert got[4] == (False, 3)
    assert got[5] == (True, None)


def test_planted_corpus_components_are_cliques(spark):
    """The closed-form oracle for `semantic_dedup` assumes the planted
    duplicate-pair graph is a union of cliques (diameter <= 2): every
    planted triple {b, b+10000, b+20000} must be fully connected at
    the threshold and no cross-group pair may exist."""
    from batch_import_spark.queries import vectors as entry
    from batch_import_spark.operators.similarity import cosine

    corpus = entry._planted_embed_corpus(spark, "/root/testdata/sf0.001")
    a = corpus.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = corpus.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.95)
        .select("ia", "ib")
        .collect()
    )
    got = {(r.ia, r.ib) for r in pairs}
    expected = set()
    for base in range(15):
        expected |= {
            (base, base + 10000),
            (base, base + 20000),
            (base + 10000, base + 20000),
        }
    assert got == expected


def test_semantic_dedup_entry_non_vacuous(spark):
    import __spark_entry__ as entry

    rows = entry.queries()["semantic_dedup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    dropped = [r for r in rows if not r.keep]
    assert len(dropped) == 30  # 2 per planted triple x 15
    assert all(r.dup_of is not None and r.dup_of < 15 for r in dropped)


def test_temperature_mixture_math(spark):
    from batch_import_spark.operators.sampling import temperature_mixture

    df = spark.createDataFrame(
        [("a",)] * 100 + [("b",)] * 400, "source string"
    )
    got = {r.source: r for r in
           temperature_mixture(df, "source", token_budget=1000).collect()}
    # w = floor(sqrt(n)*1e6): a=10e6, b=20e6 -> shares 1/3, 2/3
    assert got["a"].w_scaled == 10_000_000
    assert got["b"].w_scaled == 20_000_000
    assert got["a"].share_ppm == 333_333
    assert got["b"].share_ppm == 666_666
    assert got["a"].alloc_docs == 333
    # epochs: a repeats 3.33x, b undersampled at 1.665x-of... 666/400
    assert got["a"].epochs_ppm == 3_330_000
    assert got["b"].epochs_ppm == 1_665_000


def test_quality_gate_reasons_non_vacuous(spark):
    """Every reason fires on some rows and every rule also passes on
    some rows (the round-4 vacuity lesson, applied to each predicate
    of the composite)."""
    import __spark_entry__ as entry

    rows = entry.queries()["quality_gate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    all_reasons = [set(r.reasons.split(",")) - {""} for r in rows]
    for reason in ("pii_heavy", "repetitive", "too_short"):
        assert any(reason in s for s in all_reasons), reason
        assert any(reason not in s for s in all_reasons), reason
    assert any(r.keep for r in rows) and any(not r.keep for r in rows)


def test_stream_quality_screen_equals_batch_gate(spark):
    """The landing-time streaming screen is bit-identical to the
    batch quality_gate (the stateless row-local twin contract)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    batch = {
        r.doc_id: (r.n_tokens, r.n_pii, r.top2_gram_ppm, r.reasons, r.keep)
        for r in entry.queries()["quality_gate"](spark, sf).collect()
    }
    stream = {
        r.doc_id: (r.n_tokens, r.n_pii, r.top2_gram_ppm, r.reasons, r.keep)
        for r in entry.queries()["stream_quality_screen"](spark, sf).collect()
    }
    assert stream == batch
