"""Dedup / similarity / text-analysis / multimodal operator tests.

Oracles: small synthetic inputs with hand-computable answers, plus
numpy recomputation for vector math, plus the driver-provided
sf0.001 parquet for realistic shapes.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from batch_import_spark.functions.multimodal import (
    extract_features,
    synthesize_media,
)
from batch_import_spark.functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    token_count,
)
from batch_import_spark.operators.dedup import (
    duplicate_groups,
    exact_dedup,
    jaccard,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    _shingles_from_tokens,
    simhash_near_duplicates,
)
from batch_import_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_ann_topk,
)

SF = "/root/testdata/sf0.001"


# --- dedup -------------------------------------------------------------------


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "The quick  brown fox jumps over the lazy dog"),  # ws/case variant
            (4, "the quick brown fox jumps over the lazy cat"),  # near dup
            (5, "completely different text about spark engines"),
            (6, "completely different text about spark engines here"),  # near of 5
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark)
    kept = exact_dedup(df, doc_fingerprint("text"))
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 1,2,3 collapse (fingerprint normalizes case+ws); keeper = 1
    assert ids == [1, 4, 5, 6]
    groups = {r["keeper_id"]: r["n_dups"] for r in duplicate_groups(df, doc_fingerprint("text")).collect()}
    assert groups == {1: 3}


def test_minhash_near_duplicates_finds_planted_pair(spark):
    pairs = minhash_near_duplicates(
        _docs(spark), num_hashes=32, num_bands=16, threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got  # exact dups always survive
    assert (1, 4) in got or (2, 4) in got  # planted near-dup
    assert all(a != 5 or b == 6 for a, b in got)


def test_jaccard_expression_matches_python(spark):
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
    df = _docs(spark).select("doc_id", toks.alias("tk")).select(
        "doc_id", _shingles_from_tokens(F.col("tk"), 2).alias("sh")
    )
    a = df.where(F.col("doc_id") == 1).select(F.col("sh").alias("a"))
    b = df.where(F.col("doc_id") == 4).select(F.col("sh").alias("b"))
    got = a.crossJoin(b).select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    sa, sb = shingles("the quick brown fox jumps over the lazy dog"), shingles(
        "the quick brown fox jumps over the lazy cat"
    )
    assert got == pytest.approx(len(sa & sb) / len(sa | sb))


def test_simhash_near_duplicates(spark):
    pairs = simhash_near_duplicates(_docs(spark), max_hamming=12)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical text → hamming 0
    assert all({a, b} != {1, 5} and {a, b} != {2, 5} for a, b in got)


def test_ngram_jaccard_pairs(spark):
    # docs 1-4 are 43-44 chars long: one 32-char length block
    pairs = ngram_jaccard_pairs(_docs(spark), ngram_chars=4, threshold=0.6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 4) in got


# --- similarity --------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(eager=True)


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb, queries, k=5)
    out = {}
    for r in got.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    for qid in (0, 1, 2):
        q = vecs[qid]
        sims = {
            vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            for vid, v in vecs.items()
        }
        expect = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        got_q = sorted(out[qid])
        assert [vid for _, vid, _ in got_q] == [vid for vid, _ in expect]
        for (_, _, c), (_, s) in zip(got_q, expect):
            assert c == pytest.approx(s, abs=1e-4)


def test_lsh_ann_recalls_self(spark, emb):
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_ann_topk(emb, queries, dim=64, k=3, num_tables=6, num_planes=8)
    top1 = {r["query_id"]: r["vec_id"] for r in got.collect() if r["rank"] == 1}
    # a vector's own bucket always collides → rank-1 must be itself
    assert top1 == {i: i for i in range(5)}


def test_ivf_full_probe_equals_bruteforce(spark, emb):
    """With n_probe == n_cells every cell is scanned, so IVF must
    reproduce the exact brute-force top-k (same ranks, same cosines)."""
    from batch_import_spark.operators.similarity import ivf_ann_topk

    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine"], 6))
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine"], 6))
        for r in ivf_ann_topk(emb, queries, n_cells=8, n_probe=8, k=5).collect()
    }
    assert ivf == exact


def test_ivf_recall_and_self_hit(spark, emb):
    from batch_import_spark.operators.similarity import ivf_ann_topk

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_ann_topk(emb, queries, n_cells=16, n_probe=4, k=5)
    rows = got.collect()
    # each query's own vector sits in its nearest cell → rank-1 = self
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {i: i for i in range(5)}
    # k results per query, ranks dense 1..5
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_embedding_near_duplicates_planted(spark):
    base = np.arange(8, dtype=np.float32)
    rows = [
        (0, (base / np.linalg.norm(base)).tolist()),
        (1, (base * 2.0 / np.linalg.norm(base * 2)).tolist()),  # cosine 1.0 with 0
        (2, np.eye(8, dtype=np.float32)[0].tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(df, dim=8, threshold=0.99).collect()}
    assert got == {(0, 1)}


# --- text --------------------------------------------------------------------


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "hello world foo"), (2, ""), (3, "a b!! c?? d")],
        "doc_id long, text string",
    )
    got = df.select(bpe_ish_token_count("text").alias("n")).collect()
    assert all(r["n"] >= 0 for r in got)


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is happy"),
            (2, "der hund ist nicht mit der katze und das ist gut"),
            (3, "le chat est dans la maison pour le moment"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", language_id("text").alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(doc_fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


# --- as-of join ---------------------------------------------------------------


def test_asof_join_backward_semantics(spark):
    """Hand-computed backward as-of: inclusive at equal ts, NULL when
    no prior right row, tie among equal-ts right rows broken by
    right_order (highest wins), keys don't leak across groups."""
    from datetime import datetime

    from batch_import_spark.operators.asof import asof_join

    t = lambda s: datetime(2025, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("u1", t(10), "L1"), ("u1", t(5), "L2"), ("u2", t(10), "L3"), ("u3", t(1), "L4")],
        "user string, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            ("u1", t(5), 100),   # equal ts as L2 → inclusive match
            ("u1", t(7), 101),
            ("u2", t(10), 200),  # tie pair at same ts:
            ("u2", t(10), 201),  # highest right_order (201) wins
        ],
        "user string, ts timestamp, rid int",
    )
    out = asof_join(
        left, right, by=["user"], ts="ts", value_cols=["rid"], right_order="rid"
    )
    got = {r["lbl"]: r["rid"] for r in out.collect()}
    assert got == {"L1": 101, "L2": 100, "L3": 201, "L4": None}
    assert out.count() == 4  # LEFT semantics: no row lost


def test_asof_join_string_tiebreak_and_name_clash(spark):
    """Round-2 advice: a string right_order must work under ANSI (no
    long cast), and a payload column present on BOTH sides must raise
    a clear error instead of an AnalysisException downstream."""
    from datetime import datetime

    import pytest as _pytest

    from batch_import_spark.operators.asof import asof_join

    t = lambda s: datetime(2025, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("u1", t(10), "L1")], "user string, ts timestamp, lbl string"
    )
    right = spark.createDataFrame(
        [("u1", t(5), "alpha"), ("u1", t(5), "beta")],
        "user string, ts timestamp, tag string",
    )
    out = asof_join(
        left, right, by=["user"], ts="ts", value_cols=["tag"], right_order="tag"
    )
    assert out.collect()[0]["tag"] == "beta"  # highest string wins the tie

    right_clash = right.withColumnRenamed("tag", "lbl")
    with _pytest.raises(ValueError, match="both sides"):
        asof_join(left, right_clash, by=["user"], value_cols=["lbl"], right_order="lbl")


# --- triple-set P/R -------------------------------------------------------------


def test_evaluate_triples_prf(spark):
    """Hand-computed P/R/F1: 3 predicted (1 wrong), 4 gold →
    P=2/3, R=2/4, F1=2*2/7; duplicate rows must not inflate counts."""
    from batch_import_spark.operators.evaluate import evaluate_triples

    pred = spark.createDataFrame(
        [("a", "uses", "x"), ("a", "uses", "x"), ("b", "uses", "y"), ("c", "uses", "z")],
        "subj string, pred string, obj string",
    )
    gold = spark.createDataFrame(
        [("a", "uses", "x"), ("b", "uses", "y"), ("d", "uses", "w"), ("e", "uses", "v")],
        "subj string, pred string, obj string",
    )
    row = evaluate_triples(pred, gold).collect()[0]
    assert (row["n_pred"], row["n_gold"], row["n_correct"]) == (3, 4, 2)
    assert row["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert row["recall"] == 0.5
    assert row["f1"] == pytest.approx(4 / 7, abs=1e-6)


# --- sketches -----------------------------------------------------------------


def test_kmv_small_group_is_exact_and_large_is_close(spark):
    """KMV: groups with < k distinct values report the exact count;
    larger groups estimate within the expected ~1/sqrt(k) error."""
    from batch_import_spark.operators.sketches import kmv_distinct

    rows = [("small", f"u{i}") for i in range(10)] * 3  # 10 distinct, repeated
    rows += [("big", f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, u string")
    got = {r["g"]: r for r in kmv_distinct(df, ["g"], "u", k=64).collect()}
    assert got["small"]["kmv_estimate"] == 10 and got["small"]["n_kept"] == 10
    est = got["big"]["kmv_estimate"]
    assert got["big"]["n_kept"] == 64
    assert abs(est - 2000) / 2000 < 0.5  # 1/sqrt(64)=12.5% expected; generous bound


# --- range join ---------------------------------------------------------------


def test_range_join_semantics(spark):
    """Inclusive at both ends, intervals spanning many bins still
    match, overlapping intervals each match, extra_keys isolate
    groups, non-covered points drop (inner)."""
    from datetime import datetime

    from batch_import_spark.operators.ranges import range_join

    t = lambda h, m=0: datetime(2025, 1, 1, h, m)  # noqa: E731
    pts = spark.createDataFrame(
        [("a", t(1), "P1"), ("a", t(5), "P2"), ("a", t(23), "P3"), ("b", t(1), "P4")],
        "k string, ts timestamp, p string",
    )
    ivs = spark.createDataFrame(
        [
            ("a", t(1), t(6), "I1"),    # spans 6 hourly bins; catches P1 (start==ts), P2, P4
            ("a", t(4), t(5), "I2"),    # overlaps I1; catches P2 (end==ts)
            ("b", t(0), t(2), "I3"),    # catches P1 and P4
        ],
        "k string, start_ts timestamp, end_ts timestamp, i string",
    )
    got = {
        (r["p"], r["i"])
        for r in range_join(pts, ivs.drop("k"), bin_seconds=3600).collect()
    }
    assert got == {
        ("P1", "I1"), ("P2", "I1"), ("P2", "I2"), ("P4", "I1"), ("P1", "I3"), ("P4", "I3")
    }


# --- multimodal --------------------------------------------------------------


def test_multimodal_features_deterministic(spark):
    media = synthesize_media(spark, n=12)
    f1 = {r["media_id"]: (r["sha256"], tuple(r["feature"])) for r in extract_features(media).collect()}
    f2 = {r["media_id"]: (r["sha256"], tuple(r["feature"])) for r in extract_features(media.repartition(5)).collect()}
    assert f1 == f2
    assert all(len(v[1]) == 16 for v in f1.values())


def _py_hll(values, groups=None):
    """Pure-python replay of the integer HLL recurrence."""
    import hashlib

    REST_BITS, CAP, M = 54, 35, 64
    regs = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        bucket, rest = h >> REST_BITS, h % (1 << REST_BITS)
        rho = REST_BITS + 1 if rest == 0 else REST_BITS - rest.bit_length() + 1
        regs[bucket] = max(regs.get(bucket, 0), min(rho, CAP))
    s = sum(1 << (CAP - r) for r in regs.values()) + (M - len(regs)) * (1 << CAP)
    est = (709 * M * M * (1 << CAP)) // (1000 * s)
    return est, len(regs), sum(regs.values())


def test_hll_sketch_matches_python_replay(spark):
    from batch_import_spark.operators.sketches import hll_sketch

    rows = [("a", f"user{i % 40}") for i in range(200)] + [
        ("b", f"u{i}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r["g"]: r for r in hll_sketch(df, ["g"], "v").collect()}
    for g, vals in [("a", [f"user{i % 40}" for i in range(200)]),
                    ("b", [f"u{i}" for i in range(500)])]:
        est, n_reg, reg_sum = _py_hll(vals)
        assert got[g]["hll_estimate"] == est
        assert got[g]["n_registers"] == n_reg
        assert got[g]["register_sum"] == reg_sum


def test_hll_sketch_estimate_in_expected_error_band(spark):
    from batch_import_spark.operators.sketches import hll_sketch

    n = 5000
    df = spark.createDataFrame([("g", f"id-{i}") for i in range(n)], "g string, v string")
    est = hll_sketch(df, ["g"], "v").collect()[0]["hll_estimate"]
    # raw HLL with m=64: sigma ~ 13%; allow 4 sigma
    assert abs(est - n) / n < 0.52


def test_hll_sketch_insensitive_to_duplicates_and_partitioning(spark):
    from batch_import_spark.operators.sketches import hll_sketch

    base = [("g", f"x{i}") for i in range(300)]
    a = hll_sketch(spark.createDataFrame(base, "g string, v string"), ["g"], "v").collect()
    b = hll_sketch(
        spark.createDataFrame(base * 3, "g string, v string").repartition(13),
        ["g"],
        "v",
    ).collect()
    assert a[0].asDict() == b[0].asDict()


def test_bloom_no_false_negatives_and_mergeable(spark):
    from pyspark.sql import functions as F

    from batch_import_spark.operators.sketches import bloom_build, bloom_probe

    keys = spark.range(0, 400).select(F.col("id").alias("k"))
    regs = bloom_build(keys, "k", m_bits=4096, k_hashes=4)
    # membership is exact for inserted keys (no false negatives)
    res = bloom_probe(regs, keys, "k", m_bits=4096, k_hashes=4)
    assert res.where(~F.col("is_member")).count() == 0
    # non-members mostly rejected (false positives exist but bounded)
    outside = spark.range(1000, 1400).select(F.col("id").alias("k"))
    fp = bloom_probe(regs, outside, "k", m_bits=4096, k_hashes=4)
    n_fp = fp.where(F.col("is_member")).count()
    assert n_fp < 40  # fill ~0.32, expected fp rate ~1%, generous cap
    # mergeability: bit_or of two half-filters == the full filter
    h1 = bloom_build(keys.where("k < 200"), "k", m_bits=4096, k_hashes=4)
    h2 = bloom_build(keys.where("k >= 200"), "k", m_bits=4096, k_hashes=4)
    merged = (
        h1.unionAll(h2)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    assert merged.exceptAll(regs).count() == 0 and regs.exceptAll(merged).count() == 0


def test_cms_overcounts_only_and_merges(spark):
    from pyspark.sql import functions as F

    from batch_import_spark.operators.sketches import cms_build, cms_estimate

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    regs = cms_build(ev, "user_id", width=64, depth=4)  # tight → collisions
    probes = ev.select("user_id").distinct()
    est = cms_estimate(regs, probes, "user_id", width=64, depth=4)
    true = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    j = est.join(true, "key")
    assert j.where(F.col("cms_est") < F.col("n_true")).count() == 0
    # mergeability: register-exact fold of two halves == full build
    h1 = cms_build(ev.where("event_id % 2 = 0"), "user_id", 64, 4)
    h2 = cms_build(ev.where("event_id % 2 = 1"), "user_id", 64, 4)
    merged = (
        h1.unionAll(h2).groupBy("seed", "pos").agg(F.sum("cnt").alias("cnt"))
    )
    assert merged.exceptAll(regs).count() == 0 and regs.exceptAll(merged).count() == 0


def test_rolling_fingerprint_reference_and_extension(spark):
    from pyspark.sql import functions as F

    from batch_import_spark.functions.text import ROLL_B, ROLL_P, rolling_fingerprint

    texts = ["Hello  World", "", "a", "x" * 200]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {r.doc_id: r.h for r in df.select(
        "doc_id", rolling_fingerprint("text").alias("h")).collect()}

    def ref(t):
        norm = " ".join(t.lower().strip().split())
        h = 0
        for c in norm:
            h = (h * ROLL_B + ord(c)) % ROLL_P
        return h

    for i, t in enumerate(texts):
        assert got[i] == ref(t)
    # the defining rolling property: hash(s + c) = (hash(s)*B + c) mod P
    assert ref("abc") == (ref("ab") * ROLL_B + ord("c")) % ROLL_P


def test_theta_sketch_merge_and_estimates(spark, monkeypatch):
    """Theta registers: sketch(A ∪ B) == sketch(A) ∪ sketch(B)
    exactly (fixed theta ⇒ plain set algebra), estimates track the
    true distinct counts within sampling error, and small
    THETA_FRAC_BITS keeps everything (exact mode)."""
    from batch_import_spark.operators import sketches
    from batch_import_spark.operators.sketches import theta_set_ops, theta_sketch

    a = spark.createDataFrame(
        [(i,) for i in range(3000)], "user_id long"
    )
    b = spark.createDataFrame(
        [(i,) for i in range(1500, 4500)], "user_id long"
    )
    sa, sb = theta_sketch(a, "user_id"), theta_sketch(b, "user_id")
    su = theta_sketch(a.union(b), "user_id")
    merged = {r.h for r in sa.collect()} | {r.h for r in sb.collect()}
    assert merged == {r.h for r in su.collect()}

    r = theta_set_ops(sa, sb).collect()[0]
    assert r.est_a == r.regs_a * 16 and r.est_inter == r.regs_inter * 16
    # truth: |A|=3000, |B|=3000, |A∪B|=4500, |A∩B|=1500; ~3 sigma
    assert abs(r.est_union - 4500) < 4500 * 0.55
    assert r.regs_union == r.regs_a + r.regs_b - r.regs_inter

    # THETA_FRAC_BITS=0 keeps every distinct hash: estimates become exact
    monkeypatch.setattr(sketches, "THETA_FRAC_BITS", 0)
    ea = theta_sketch(a, "user_id")
    eb = theta_sketch(b, "user_id")
    ex = theta_set_ops(ea, eb).collect()[0]
    assert (ex.est_a, ex.est_b, ex.est_union, ex.est_inter) == (
        3000, 3000, 4500, 1500,
    )
