"""Bigram LM scoring: hand-computed fixture + invariants.

Reference analog: none (reference has no scoring functions) — CCNet-
style quality filtering from the brief's training-data operator set.
"""

from __future__ import annotations

from batch_import_spark.operators.lm import PPM, bigram_model, score_documents


def test_hand_computed_scores(spark):
    # corpus: "a b a b" and "a b", vocab = {a, b} (V=2)
    # unigrams: a=3, b=3; bigrams: (a,b)=3, (b,a)=1
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "x")], "doc_id: long, text: string"
    )
    # V = 3 (a, b, x)
    out = {r.doc_id: r for r in score_documents(df).collect()}

    # p(b|a) = (3+1)*1e6 // (3+3) = 666666 ; p(a|b) = (1+1)*1e6 // (3+3) = 333333
    d0 = out[0]  # transitions: ab, ba, ab
    assert d0.n_trans == 3
    assert d0.min_prob_ppm == 333333
    assert d0.avg_prob_ppm == (666666 + 333333 + 666666) // 3
    d1 = out[1]
    assert (d1.n_trans, d1.avg_prob_ppm, d1.min_prob_ppm) == (1, 666666, 666666)
    # single-token doc: present, nothing to judge
    d2 = out[2]
    assert (d2.n_trans, d2.avg_prob_ppm, d2.min_prob_ppm) == (0, None, None)


def test_model_tables(spark):
    df = spark.createDataFrame([(0, "a b a")], "doc_id: long, text: string")
    uni, bi, v = bigram_model(df)
    assert v == 2
    assert {(r.w, r.c1) for r in uni.collect()} == {("a", 2), ("b", 1)}
    assert {(r.w1, r.w2, r.c2) for r in bi.collect()} == {
        ("a", "b", 1),
        ("b", "a", 1),
    }


def test_probabilities_bounded(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = score_documents(docs)
    bad = out.where(
        (out.avg_prob_ppm < 0)
        | (out.avg_prob_ppm > PPM)
        | (out.min_prob_ppm > out.avg_prob_ppm)
    ).count()
    assert bad == 0


def test_blank_and_null_docs_do_not_abort(spark):
    """ADVICE r04: an empty/whitespace-only doc has size(toks)=0, and
    the unguarded `size-1` slice length (-1) aborted the whole job
    under ANSI (INVALID_PARAMETER_VALUE.LENGTH). Blank/NULL docs must
    instead score n_trans = 0 like the docstring says."""
    df = spark.createDataFrame(
        [(0, "a b"), (1, ""), (2, "   "), (3, None)],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in score_documents(df).collect()}
    assert len(out) == 4
    assert out[0].n_trans == 1
    for d in (1, 2, 3):
        assert (out[d].n_trans, out[d].avg_prob_ppm, out[d].min_prob_ppm) == (
            0,
            None,
            None,
        )
