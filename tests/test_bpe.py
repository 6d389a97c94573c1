"""BPE tokenizer: training argmax/tie-break, greedy merge semantics,
expression path == Arrow kernel path (bpe_doc_stats), delimiter-ambiguity
safety.

Reference analog: none — the reference's only scalar functions are its
CSV type casts (Type.java:5-182); BPE is a training-data-pipeline
operator required by the brief beyond reference parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_import_spark.functions import bpe
from batch_import_spark.functions.bpe import (
    _encode_word,
    apply_merges,
    bpe_doc_stats,
    bpe_train,
    encode_text,
    merge_expr,
    segment_expr,
    token_count_expr,
    wrap_chars,
)
from batch_import_spark.operators.sketches import portable_hash60


def _reference_train(word_counts: dict[str, int], n_merges: int, min_count: int = 2):
    """Independent pure-Python BPE trainer (all-adjacent-pair counting,
    cnt DESC / l ASC / r ASC tie-break, greedy fold application)."""
    table = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in table.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        if cnt < min_count:
            break
        merges.append((left, right, cnt))
        table = {w: _encode_word_from(syms, left, right) for w, syms in table.items()}
    return merges


def _encode_word_from(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_train_matches_reference_trainer(spark):
    corpus = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text: string")
    got = bpe_train(df, "text", n_merges=8, min_pair_count=2)

    wc: dict[str, int] = {}
    for t in corpus:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _reference_train(wc, 8, 2)
    assert got == want
    # spot-check the classic outcome: 'e'+'s' or 'n'+'e' family merges appear
    assert all(cnt >= 2 for _, _, cnt in got)
    assert len(got) == 8


def test_train_early_stop_when_no_pair_reaches_min_count(spark):
    df = spark.createDataFrame([("ab cd ef",)], "text: string")
    got = bpe_train(df, "text", n_merges=5, min_pair_count=2)
    assert got == []  # every pair occurs once


def test_driver_path_equals_distributed_path(spark, monkeypatch):
    """The threshold-gated driver trainer and the distributed loop
    must emit byte-identical merge tables (overlapping pair counts,
    greedy non-overlapping apply, cnt DESC / l / r tie-break)."""
    corpus = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest aaa aaaa",
        "wider wider new new aaa",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text: string")
    driver_runs = []
    train_driver = bpe._bpe_train_driver
    monkeypatch.setattr(
        bpe, "_bpe_train_driver", lambda *a: driver_runs.append(1) or train_driver(*a)
    )
    via_driver = bpe_train(df, "text", n_merges=10, min_pair_count=2)
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_THRESHOLD", 0)
    via_cluster = bpe_train(df, "text", n_merges=10, min_pair_count=2)
    assert driver_runs == [1]
    assert via_driver == via_cluster and len(via_driver) == 10


def test_greedy_fold_semantics(spark):
    # "aaaa" -> [aa, aa]; "aaa" -> [aa, a] (left-to-right non-overlap)
    df = spark.createDataFrame([("aaaa",), ("aaa",)], "text: string")
    from batch_import_spark.functions.bpe import SEP

    enc = apply_merges(wrap_chars(F.col("text")), [("a", "a")])
    rows = df.select(segment_expr(enc).alias("seg")).collect()
    assert [r.seg for r in rows] == [f"aa{SEP}aa", f"aa{SEP}a"]


def test_prefix_ambiguity_is_safe(spark):
    # symbols [a, ab] must NOT match merge (a, a) even though the raw
    # chars 'a','a' are adjacent across the symbol boundary
    df = spark.createDataFrame([("aab",)], "text: string")
    enc = wrap_chars(F.col("text"))
    enc = merge_expr(enc, "a", "b")  # -> [a, ab]
    enc = merge_expr(enc, "a", "a")  # must be a no-op now
    from batch_import_spark.functions.bpe import SEP

    row = df.select(
        segment_expr(enc).alias("seg"), token_count_expr(enc).alias("n")
    ).collect()[0]
    assert row.seg == f"a{SEP}ab" and row.n == 2


def test_merges_never_cross_word_boundary(spark):
    df = spark.createDataFrame([("a b",)], "text: string")
    enc = encode_text("text", [("a", "b")])
    row = df.select(segment_expr(enc).alias("seg")).collect()[0]
    assert row.seg == "a b"


def test_expr_path_equals_kernel_path(spark):
    corpus = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "aaa aab abab bbbb the the the",
        "",
        None,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "id: long, text: string")
    merges_full = bpe_train(df, "text", n_merges=10, min_pair_count=2)
    merges = [(l, r) for l, r, _ in merges_full]

    enc = encode_text("text", merges)
    seg = segment_expr(enc)
    expr_rows = {
        r.id: (r.seg, r.n, r.h)
        for r in df.select(
            "id",
            seg.alias("seg"),
            token_count_expr(enc).alias("n"),
            portable_hash60(seg).alias("h"),
        ).collect()
    }
    kern_rows = {
        r.id: (r.n_bpe_tokens, r.seg_hash)
        for r in bpe_doc_stats(df, "text", merges, id_col="id").collect()
    }
    assert {i: (n, h) for i, (_, n, h) in expr_rows.items()} == kern_rows
    assert expr_rows[0][1] > 0 and expr_rows[4][:2] == ("", 0)
    assert expr_rows[5] == (None, None, None)  # NULL text: both paths NULL


def test_encode_word_python_twin():
    assert _encode_word("aaa", [("a", "a")]) == ["aa", "a"]
    assert _encode_word("banana", [("a", "n"), ("b", "an")]) == ["ban", "an", "a"]
    assert _encode_word("", []) == []


def test_train_is_vocab_sized_not_corpus_sized(spark):
    """The per-step job runs on the word-frequency table: duplicating
    the corpus 10x must not change the learned merges (weights scale
    uniformly; argmax invariant)."""
    base = ["spark spark table", "table spark row row"]
    df1 = spark.createDataFrame([(t,) for t in base], "text: string")
    df10 = spark.createDataFrame([(t,) for t in base * 10], "text: string")
    m1 = [(l, r) for l, r, _ in bpe_train(df1, "text", 4, 2)]
    m10 = [(l, r) for l, r, _ in bpe_train(df10, "text", 4, 2)]
    assert m1 == m10


def test_merge_table_round_trip_and_lossless_decode(spark, tmp_path):
    from pyspark.sql import functions as F

    from batch_import_spark.functions.bpe import (
        bpe_train,
        decode_segments,
        encode_text,
        merges_to_df,
        segment_expr,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    merges = bpe_train(docs, "text", n_merges=6)
    # artifact round-trip through parquet preserves apply order
    path = str(tmp_path / "merges.parquet")
    merges_to_df(spark, merges).write.parquet(path)
    back = spark.read.parquet(path).orderBy("rank").collect()
    assert [(r.lhs, r.rhs, r.pair_count) for r in back] == merges

    # lossless decode: strip separators == normalized input — also for
    # text containing literal '|' (the separator-collision regression)
    rules = [(l, r) for l, r, _ in merges]
    piped = spark.createDataFrame(
        [(10_000, "a|b  with | pipes || everywhere",)], "doc_id: long, text: string"
    )
    out = docs.select("text").union(piped.select("text")).select(
        decode_segments(segment_expr(encode_text("text", rules))).alias("dec"),
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ").alias("norm"),
    )
    assert out.where("dec <> norm").count() == 0
