"""WordPiece-style tokenizer: frequency-ranked subword vocabulary +
greedy longest-match segmentation.

The second real tokenizer family next to functions/bpe.py (BPE =
merge-rule apply; WordPiece = vocabulary + MaxMatch inference, the
BERT scheme). Reference analog: none (the reference has no text
functions) — training-data surface the brief requires.

Determinism contract (both engines replay it bit-for-bit):
- Vocabulary: every substring of every corpus word up to
  ``MAX_PIECE_LEN`` chars is a candidate, typed 'init' (starts at
  the word's first char) or 'cont' (anywhere else — rendered with
  the '##' prefix); weight = Σ word-count over every occurrence.
  The kept vocab is ALL single-char pieces (coverage: any corpus
  word can always be segmented char-by-char) plus the top
  ``n_multi`` multi-char pieces by (weight DESC, kind ASC,
  piece ASC).
- Segmentation: classic greedy longest-match — at each position take
  the LONGEST vocab piece of the positional kind; single-char
  coverage guarantees progress on corpus text. On unseen text a
  position with no match maps the whole word to '[UNK]'
  (engine-side pytest; cannot fire on the training corpus, so the
  oracle omits the branch).

Scale shape — the word-table trick (same as BPE training): both
vocabulary counting and segmentation run over the DISTINCT word
table (vocabulary-bounded), never the corpus; documents then join
the word→segmentation map back (broadcast — the map is
vocab-sized) and aggregate per doc. Candidate counting is one
explode + one map-side-combinable groupBy; segmentation is a
per-word expression fold over a one-call literal vocabulary array
(the literal is V-bounded by contract, same as the BPE merge list;
built with a single F.lit — element-wise literal construction costs
2 py4j round-trips per element, see similarity._long_lit_2d).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEP = "\x1e"  # piece separator inside a word's segmentation (chr 30)
MAX_PIECE_LEN = 8


def _words_with_counts(docs: DataFrame) -> DataFrame:
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def wordpiece_vocab(docs: DataFrame, n_multi: int = 200) -> DataFrame:
    """Learn the vocabulary (see module doc).

    Output: (kind, piece, weight, is_char, kept_rank) — kept_rank is
    the multi-char selection rank (NULL for the always-kept chars).
    """
    w = _words_with_counts(docs)
    grid = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(MAX_PIECE_LEN), F.length("word") - i + 1
                    ),
                ),
                lambda l: F.struct(
                    F.when(i == 1, F.lit("init"))
                    .otherwise(F.lit("cont"))
                    .alias("kind"),
                    F.col("word").substr(i, l).alias("piece"),
                ),
            ),
        )
    )
    cand = (
        w.select(F.explode(grid).alias("p"), "n")
        .groupBy(F.col("p.kind").alias("kind"), F.col("p.piece").alias("piece"))
        .agg(F.sum("n").cast("long").alias("weight"))
    )
    chars = cand.where(F.length("piece") == 1).select(
        "kind",
        "piece",
        "weight",
        F.lit(True).alias("is_char"),
        F.lit(None).cast("int").alias("kept_rank"),
    )
    from pyspark.sql.window import Window

    multi = (
        cand.where(F.length("piece") > 1)
        .withColumn(
            "kept_rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("weight").desc(),
                    F.col("kind").asc(),
                    F.col("piece").asc(),
                )
            )
            .cast("int"),
        )
        .where(F.col("kept_rank") <= n_multi)
        .select(
            "kind", "piece", "weight", F.lit(False).alias("is_char"), "kept_rank"
        )
    )
    return chars.unionAll(multi)


def collect_vocab(vocab: DataFrame) -> tuple[list[str], list[str]]:
    """(init_pieces, cont_pieces), sorted — bounded driver traffic by
    the vocab-size contract."""
    rows = vocab.select("kind", "piece").collect()
    init = sorted(r.piece for r in rows if r.kind == "init")
    cont = sorted(r.piece for r in rows if r.kind == "cont")
    return init, cont


def segment_word_expr(word: Column, init: list[str], cont: list[str]) -> Column:
    """struct(seg string, np int): greedy longest-match segmentation
    of one word as a pure expression fold (no UDF). ``seg`` joins
    pieces with SEP, continuations '##'-prefixed; unknown positions
    collapse the word to ('[UNK]', 1)."""
    init_lit = F.lit(sorted(init))
    cont_lit = F.lit(sorted(cont))

    def step(acc: Column, _i: Column) -> Column:
        pos = acc["pos"]
        active = (pos <= F.length(word)) & ~acc["unk"]
        vocab_lit = F.when(pos == 1, init_lit).otherwise(cont_lit)
        lens = F.filter(
            F.sequence(F.lit(1), F.lit(MAX_PIECE_LEN)),
            lambda l: (pos + l - 1 <= F.length(word))
            & F.array_contains(vocab_lit, word.substr(pos, l)),
        )
        l_best = F.array_max(lens)
        piece = F.concat(
            F.when(pos == 1, F.lit("")).otherwise(F.lit("##")),
            word.substr(pos, F.coalesce(l_best, F.lit(1))),
        )
        matched = F.struct(
            (pos + l_best).alias("pos"),
            F.concat(
                acc["seg"],
                F.when(acc["np"] > 0, F.lit(SEP)).otherwise(F.lit("")),
                piece,
            ).alias("seg"),
            (acc["np"] + 1).alias("np"),
            F.lit(False).alias("unk"),
        )
        unk = F.struct(
            (F.length(word) + 1).alias("pos"),
            F.lit("[UNK]").alias("seg"),
            F.lit(1).alias("np"),
            F.lit(True).alias("unk"),
        )
        return (
            F.when(~active, acc)
            .when(l_best.isNull(), unk)
            .otherwise(matched)
        )

    init_acc = F.struct(
        F.lit(1).alias("pos"),
        F.lit("").alias("seg"),
        F.lit(0).alias("np"),
        F.lit(False).alias("unk"),
    )
    folded = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))),
        init_acc,
        step,
    )
    return F.struct(folded["seg"].alias("seg"), folded["np"].alias("np"))


def wordpiece_tokenize(docs: DataFrame, init: list[str], cont: list[str]) -> DataFrame:
    """Per-doc WordPiece token count + 60-bit segmentation hash
    (mirror of bpe_tokenize's output shape). Docs with no words are
    dropped (oracle row-set parity — the blank-doc lesson).

    Plan: distinct words → expression-fold segmentation (word-table
    sized) → broadcast join back to the exploded docs → one per-doc
    aggregate.
    """
    from batch_import_spark.operators.sketches import portable_hash60

    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    docw = docs.select("doc_id", F.posexplode(toks).alias("pos", "word"))
    segmap = (
        docw.select("word")
        .distinct()
        .withColumn(
            "s", segment_word_expr(F.col("word"), init, cont)
        )
        .select("word", F.col("s.seg").alias("seg"), F.col("s.np").alias("np"))
    )
    joined = docw.join(F.broadcast(segmap), "word")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("np").cast("long").alias("n_wp_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("_segdoc"),
        )
        .select(
            "doc_id",
            "n_wp_tokens",
            portable_hash60(F.col("_segdoc")).alias("seg_hash"),
        )
    )
