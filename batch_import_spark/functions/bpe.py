"""Byte-pair-encoding tokenizer: distributed training + vectorized apply.

The reference has no tokenizer (its only scalar functions are the
CSV type casts, Type.java:5-182); BPE train/apply is a training-data
pipeline operator the brief requires beyond reference parity. It
replaces the `bpe_ish_token_count` regex heuristic (text.py:35) with a
real learned subword vocabulary.

Design — everything runs on a *delimited-string* symbol encoding
instead of array<string> folds:

    word "tab"  ->  US t US US a US US b US          (US = chr(31))

* A merge (l, r) is then ONE literal `replace(s, USlUSUSrUS, USlrUS)`.
  SQL `replace` scans left-to-right and continues after each
  replacement, which is exactly the greedy non-overlapping BPE merge
  fold ("aaa" + (a,a) -> [aa, a]).  Because every symbol carries its
  own delimiters, a pattern can never match a symbol prefix/suffix
  (syms [a, ab] do NOT match merge (a,a)) and never crosses a word
  boundary (spaces are not wrapped).
* The same expression runs JVM-side in whole-stage codegen (no HOFs,
  no Python) and verbatim in any SQL engine — DuckDB oracles replay
  both training and apply with identical string ops.

Training is iterative DataFrame aggregation over the *word-frequency*
table — O(vocab) rows, not O(corpus):

    corpus -> (word, n)                    one shuffle, map-side combine
    per merge step (vocab-sized, tiny):
      adjacent symbol pairs, weighted by n -> groupBy(l, r) sum
      global argmax (cnt DESC, l ASC, r ASC) -> collect ONE row
      apply merge to the word table        narrow map (one replace())

The only driver traffic is one row per merge step; `localCheckpoint`
rotation truncates lineage so the replace chain never exceeds
`CHECKPOINT_EVERY` nested calls in a plan.  At 100 TB the corpus pass
is one shuffle and every subsequent step touches only the vocabulary
(~10^7 rows at web scale); production runs with thousands of merges
would batch top-k non-conflicting pairs per round — kept sequential
here so oracles can replay training exactly.

Apply semantics (documented, deterministic): merges are applied IN
RANK ORDER, each exhaustively left-to-right.  This is the same order
training itself maintains the word table in, so train->apply
round-trips bit-exactly; it can differ from priority-queue BPE on
adversarial hand-written merge lists, but every oracle/test uses this
one definition on both sides.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_import_spark.session import checkpoint_rotate, local_frame, unpersist_ids

#: symbol delimiter — 0x1f "unit separator", never present in text
#: corpora this engine targets (control chars are stripped upstream).
US = "\x1f"

#: the merge loop runs driver-side on a distinct-word table of at most
#: this many rows (read at call time)
DRIVER_VOCAB_THRESHOLD = 65536
#: merge steps between two lineage-truncating checkpoints
CHECKPOINT_EVERY = 8
_US2 = US + US

#: rendering separator between subwords in a segmentation string —
#: 0x1e "record separator", excluded from target corpora under the
#: same contract as US. (An earlier draft used '|', which collides
#: with literal pipes in real text — markdown tables — and broke the
#: lossless-decode invariant.)
SEP = "\x1e"


def wrap_chars(col: Column | str) -> Column:
    """Wrap every non-space char in US delimiters (initial symbols).

    Spaces stay bare, so merge patterns (which always contain US on
    both flanks of each symbol) can never cross a word boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(\S)", US + "$1" + US)


def merge_expr(col: Column, left: str, right: str) -> Column:
    """Apply one merge (left, right) -> left+right: a single literal
    replace on the delimited encoding (greedy left-to-right)."""
    return F.replace(
        col,
        F.lit(f"{US}{left}{US}{US}{right}{US}"),
        F.lit(f"{US}{left}{right}{US}"),
    )


def apply_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Chain all merges in rank order. Pure string expressions —
    whole-stage codegen, zero shuffle, no Python."""
    for left, right in merges:
        col = merge_expr(col, left, right)
    return col


def symbols(col: Column) -> Column:
    """Delimited string -> array of symbols."""
    return F.split(F.btrim(col, F.lit(US)), _US2)


def token_count_expr(encoded: Column) -> Column:
    """Number of symbols in a delimited string: each symbol carries
    exactly two US chars."""
    n_us = F.length(encoded) - F.length(F.replace(encoded, F.lit(US), F.lit("")))
    return (n_us / F.lit(2)).cast("long")


def segment_expr(encoded: Column) -> Column:
    """Hash-friendly rendering: SEP (chr 30) between symbols inside a
    word, original single spaces between words. SEP cannot occur in
    the text itself (corpus contract), so the rendering is injective
    and decode_segments inverts it exactly."""
    return F.replace(
        F.replace(encoded, F.lit(_US2), F.lit(SEP)), F.lit(US), F.lit("")
    )


def encode_text(col: Column | str, merges: list[tuple[str, str]]) -> Column:
    """Normalize (lower, trim, collapse whitespace) and fully encode a
    text column: returns the delimited-symbol string."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return apply_merges(wrap_chars(normalized), merges)


def bpe_doc_stats(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bpe_tokens, seg_hash) per document — bit-identical to
    ``token_count_expr(encode_text(..))`` +
    ``portable_hash60(segment_expr(encode_text(..)))`` (pinned by
    tests/test_round7_bpe.py), via one Arrow kernel that encodes each
    DISTINCT word once per task (merges are word-local, so a
    dict-cached ``_encode_word`` — the pytest-pinned Python twin of
    the replace chain — replaces re-scanning every document through
    the whole merge chain). Normalization stays in the JVM (Java
    regex semantics); the kernel only splits on the single spaces the
    normalization guarantees, joins subwords with SEP, and md5-hashes
    the segmentation exactly like portable_hash60."""
    import hashlib

    from pyspark.sql import types as T

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(F.col(id_col).alias("_id"), norm.alias("_t"))
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_bpe_tokens", T.LongType()),
            T.StructField("seg_hash", T.LongType()),
        ]
    )

    def kernel(batches):
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = _encode_word(w, merges)
                cache[w] = got
            return got

        for pdf in batches:
            ids, counts, hashes = [], [], []
            for _id, t in zip(pdf["_id"], pdf["_t"]):
                ids.append(_id)
                if t is None:
                    # NULL text flows NULL through the expression path
                    counts.append(None)
                    hashes.append(None)
                    continue
                total = 0
                segs = []
                for w in t.split(" "):
                    syms = enc(w)
                    total += len(syms)
                    segs.append(SEP.join(syms))
                seg_str = " ".join(segs)
                counts.append(total)
                hashes.append(
                    int(
                        hashlib.md5(seg_str.encode("utf-8")).hexdigest()[:15],
                        16,
                    )
                )
            # nullable Int64 arrays: a plain list with a None would
            # coerce to float64 and silently round 60-bit hashes
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bpe_tokens": pd.array(counts, dtype="Int64"),
                    "seg_hash": pd.array(hashes, dtype="Int64"),
                }
            )

    return base.mapInPandas(kernel, schema)


def _merge_greedy(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of one (l, r) pair —
    the exact semantics of ``merge_expr``'s literal replace()."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_train_driver(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[str, str, int]]:
    """Pure-Python twin of the distributed training loop, used when
    the vocabulary fits under the driver threshold. Byte-identical
    merges: pair counts are OVERLAPPING (adjacent zip, matching the
    distributed explode) while each applied merge is greedy
    non-overlapping (matching merge_expr's replace); argmax tie-break
    is (cnt DESC, l ASC, r ASC) like the distributed orderBy."""
    items: list[tuple[list[str], int]] = [
        (list(w), n) for w, n in word_counts
    ]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        cnt: dict[tuple[str, str], int] = {}
        for syms, n in items:
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] = cnt.get((a, b), 0) + n
        if not cnt:
            break
        (left, right), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_pair_count:
            break
        merges.append((left, right, c))
        items = [
            (_merge_greedy(syms, left, right), n) for syms, n in items
        ]
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 32,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from a document corpus.

    Returns [(left, right, pair_count), ...] in rank order. Stops
    early when the best remaining pair occurs < `min_pair_count`
    times. Driver traffic is one 3-field row per merge step (bounded
    by contract, same discipline as canonicalize.py's convergence
    signature); all counting is distributed and map-side combinable.

    When the distinct-word table fits under
    ``DRIVER_VOCAB_THRESHOLD`` rows, the merge loop runs driver-side
    on the collected (word, n) table instead — the threshold-gated
    pattern of canonicalize.py's union-find. The distributed loop
    pays ~n_merges sequential Spark jobs of pure scheduling latency
    to aggregate a vocabulary-sized table; under the threshold the
    collect is bounded by contract and the Python twin
    (`_bpe_train_driver`, equality pytest-pinned) produces identical
    merges in milliseconds. Beyond the threshold (web-scale vocab)
    the distributed loop runs unchanged.
    """
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    spark = docs.sparkSession
    wt, wt_ids = checkpoint_rotate(
        spark, words.select("word", "n", wrap_chars(F.col("word")).alias("s")), set()
    )

    if wt.count() <= DRIVER_VOCAB_THRESHOLD:
        rows = wt.select("word", "n").collect()
        unpersist_ids(spark, wt_ids)
        return _bpe_train_driver(
            [(r.word, int(r.n)) for r in rows], n_merges, min_pair_count
        )

    merges: list[tuple[str, str, int]] = []
    for step in range(n_merges):
        syms = symbols(F.col("s"))
        pairs = F.zip_with(
            F.slice(syms, 1, F.size(syms) - 1),
            F.slice(syms, 2, F.size(syms) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        best = (
            wt.select("n", F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or int(best[0]["cnt"]) < min_pair_count:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((left, right, cnt))
        wt = wt.withColumn("s", merge_expr(F.col("s"), left, right))
        if (step + 1) % CHECKPOINT_EVERY == 0:
            wt, wt_ids = checkpoint_rotate(spark, wt, wt_ids)
    unpersist_ids(spark, wt_ids)
    return merges


def _encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python twin of the expression path (for the Arrow
    kernel): same rank-order, greedy left-to-right semantics."""
    syms = list(word)
    for left, right in merges:
        lr = left + right
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(lr)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def merges_to_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Tokenizer artifact: the learned merge table as a DataFrame
    (persist with .write.parquet — the artifact a training pipeline
    ships alongside its data)."""
    return local_frame(
        spark,
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank: long, lhs: string, rhs: string, pair_count: long",
    )


def decode_segments(seg: Column | str) -> Column:
    """Invert the segmentation rendering: drop the SEP subword
    separators, keep word spaces. BPE merges only ever concatenate
    characters and SEP never occurs in text, so
    decode(segment(encode(text))) == normalized text exactly — the
    lossless-tokenization invariant (pinned by pytest, including for
    text containing literal '|')."""
    c = F.col(seg) if isinstance(seg, str) else seg
    return F.replace(c, F.lit(SEP), F.lit(""))
