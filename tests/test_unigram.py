"""Unigram-LM tokenizer (functions/unigram.py).

Pins the determinism contract: the fixed-point integer log agrees
between its Python and Spark-expression replays (the DuckDB unroll is
covered by the oracle gate), Viterbi picks the minimum-cost
segmentation with the documented (cost, np, path) tie-break, and the
distributed vocab twin (`unigram_vocab`) produces the same costs as
the driver-side trainer (`train_unigram`).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from batch_import_spark.functions.unigram import (
    SEP,
    ilog2_fp,
    ilog2_fp_col,
    piece_costs,
    train_unigram,
    unigram_tokenize,
    unigram_vocab,
    viterbi_segment_expr,
    words_with_counts,
)


def test_ilog2_python_props():
    # exact at powers of two; monotone; quantized-log accuracy
    assert ilog2_fp(1) == 0
    assert ilog2_fp(2) == 1 << 16
    assert ilog2_fp(1 << 40) == 40 << 16
    prev = -1
    for n in list(range(1, 300)) + [10**6, 10**12, (1 << 52) - 1]:
        v = ilog2_fp(n)
        assert v >= prev  # monotone (non-strict across dense range)
        assert abs(v / 65536.0 - math.log2(n)) < 1e-4
        prev = ilog2_fp(n)
    with pytest.raises(ValueError):
        ilog2_fp(0)


def test_ilog2_spark_twin_matches_python(spark):
    ns = [1, 2, 3, 5, 7, 100, 1023, 1024, 1025, 10**6, 10**9,
          (1 << 52) - 1, 1 << 52]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {r.n: r.v for r in
           df.select("n", ilog2_fp_col(F.col("n")).alias("v")).collect()}
    for n in ns:
        assert got[n] == ilog2_fp(n), n


def test_viterbi_min_cost_and_tiebreak(spark):
    # costs chosen so 'ab'+'c' (3+1=4) beats 'a'+'b'+'c' (2+2+1=5)
    # and 'abc' (alone, 6)
    costs = {"a": 2, "b": 2, "c": 1, "ab": 3, "abc": 6}
    df = spark.createDataFrame([("abc",), ("cab",)], "word string")
    got = {
        r.word: r.s
        for r in df.select(
            "word",
            viterbi_segment_expr(F.col("word"), costs, 3, 16).alias("s"),
        ).collect()
    }
    assert (got["abc"].path, got["abc"].np, got["abc"].cost) == (
        f"ab{SEP}c", 2, 4)
    # 'cab': c(1)+ab(3)=4 vs c+a+b=5
    assert got["cab"].path == f"c{SEP}ab" and got["cab"].cost == 4
    # tie-break: equal cost -> fewer pieces, then smaller path string
    tie = {"x": 2, "y": 2, "xy": 4}
    r = (
        spark.createDataFrame([("xy",)], "word string")
        .select(viterbi_segment_expr(F.col("word"), tie, 2, 16).alias("s"))
        .collect()[0]
        .s
    )
    assert r.cost == 4 and r.np == 1 and r.path == "xy"


def test_viterbi_unk_branches(spark):
    costs = {"a": 1}
    df = spark.createDataFrame(
        [("aaa",), ("ab",), ("a" * 17,)], "word string"
    )
    got = {
        r.word: r.s
        for r in df.select(
            "word",
            viterbi_segment_expr(F.col("word"), costs, 2, 16).alias("s"),
        ).collect()
    }
    assert got["aaa"].np == 3 and got["aaa"].cost == 3
    # 'b' not in vocab -> whole word UNK, np=1, cost=0
    assert got["ab"].path == "[UNK]" and got["ab"].np == 1
    # over max_word_len -> UNK even though segmentable
    assert got["a" * 17].path == "[UNK]"


def _fixture(spark):
    return spark.createDataFrame(
        [
            (0, "hello hello world"),
            (1, "hell on a hill"),
            (2, "hello hill"),
            (3, "   "),
            (4, None),
        ],
        "doc_id long, text string",
    )


def test_train_and_vocab_agree(spark):
    docs = _fixture(spark)
    kw = dict(max_piece_len=4, n_multi=8, n_final=5, max_word_len=16)
    seed_counts, usages, final_costs = train_unigram(docs, **kw)
    # every single char of the corpus is a seed candidate + kept
    for ch in "helowordnai":
        assert ch in seed_counts and ch in usages
    # distributed twin: identical pieces and identical fixed-point costs
    rows = {r.piece: r for r in unigram_vocab(docs, **kw).collect()}
    assert set(rows) == set(final_costs)
    for p, c in final_costs.items():
        assert rows[p].cost_fp == c, p
        assert rows[p].is_char == (len(p) == 1)
    # add-one smoothing keeps zero-usage coverage chars finite
    zero_use = [p for p in final_costs if len(p) == 1 and usages[p] == 0]
    for p in zero_use:
        assert final_costs[p] > 0
    # recompute costs from usages by hand
    kept = set(rows)
    hand = piece_costs({p: usages[p] for p in kept}, smooth=1)
    assert hand == final_costs


def test_tokenize_rollup_blank_parity_and_reconstruction(spark):
    docs = _fixture(spark)
    kw = dict(max_piece_len=4, n_multi=8, n_final=5, max_word_len=16)
    _, _, final_costs = train_unigram(docs, **kw)
    out = {r.doc_id: r for r in unigram_tokenize(
        docs, final_costs, max_piece_len=4, max_word_len=16).collect()}
    # blank/NULL docs dropped (oracle word-join parity)
    assert set(out) == {0, 1, 2}
    for r in out.values():
        assert r.n_unigram_tokens >= 1 and r.ll_cost_fp >= 0
    # per-word reconstruction: stripping SEP recovers the word
    words = words_with_counts(docs)
    segd = words.select(
        "word",
        viterbi_segment_expr(F.col("word"), final_costs, 4, 16).alias("s"),
    )
    bad = segd.where(
        (F.col("s.path") != "[UNK]")
        & (F.replace(F.col("s.path"), F.lit(SEP), F.lit(""))
           != F.col("word"))
    )
    assert bad.count() == 0
    # full char coverage on the training corpus: no UNK
    assert segd.where(F.col("s.path") == "[UNK]").count() == 0


def test_entry_planted_compound_segments_multipiece(spark):
    """The planted compound word in the registry corpus actually
    exercises multi-piece Viterbi (the reason _unigram_docs plants
    it)."""
    from batch_import_spark.queries import tokenizers

    sf = "/root/testdata/sf0.001"
    seg = tokenizers._unigram_tokenize(spark, sf)
    assert seg.count() > 0
    costs = tokenizers._unigram_costs_for(spark, sf)
    multi = [p for p in costs if len(p) > 1]
    assert multi, "pruned vocab has no multi-char pieces"


def test_viterbi_py_twin_matches_expr(spark):
    """Driver-gated segmentation must be byte-identical to the
    expression fold — same DP, same DEAD sentinel, same
    (cost, np, path) tie-break, same [UNK] rules."""
    from batch_import_spark.functions.unigram import viterbi_segment_py

    costs = {"a": 2, "b": 2, "c": 1, "ab": 3, "abc": 6, "x": 2, "y": 2,
             "xy": 4}
    words = ["abc", "cab", "xy", "aaa", "azb", "a" * 17, "b", "ab"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    via_expr = {
        r.word: (r.s.cost, r.s.np, r.s.path)
        for r in df.select(
            "word", viterbi_segment_expr(F.col("word"), costs, 3, 16).alias("s")
        ).collect()
    }
    for w in words:
        assert viterbi_segment_py(w, costs, 3, 16) == via_expr[w], w


def test_segment_words_driver_equals_expr_path(spark, monkeypatch):
    from batch_import_spark.functions import unigram

    costs = {"h": 3, "e": 3, "l": 2, "o": 4, "he": 5, "ll": 3, "hell": 9}
    words = spark.createDataFrame(
        [("hello", 3), ("hell", 2), ("he", 1)], "word string, n long"
    )
    driver_words = []
    viterbi_py = unigram.viterbi_segment_py
    monkeypatch.setattr(
        unigram, "viterbi_segment_py", lambda w, *a: driver_words.append(w) or viterbi_py(w, *a)
    )
    a = sorted(map(tuple, unigram.segment_words(words, costs, 4, 16).collect()))
    assert sorted(driver_words) == ["he", "hell", "hello"]
    monkeypatch.setattr(unigram, "DRIVER_SEGMENT_THRESHOLD", 0)
    b = sorted(map(tuple, unigram.segment_words(words, costs, 4, 16).collect()))
    assert len(driver_words) == 3
    assert a == b and len(a) == 3
