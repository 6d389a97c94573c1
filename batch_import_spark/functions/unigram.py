"""Unigram-LM (SentencePiece-style) tokenizer: substring-seeded
vocabulary, one integer-EM refinement round, Viterbi segmentation.

The third real tokenizer family next to functions/bpe.py (merge-rule
apply) and functions/wordpiece.py (greedy MaxMatch): Kudo 2018's
unigram language model, where the vocabulary carries a probability
per piece and segmentation maximizes the product of piece
probabilities (Viterbi DP). Reference analog: none (the reference
has no text functions) — training-data surface the brief requires.

Determinism contract (both engines replay it bit-for-bit):

- **Fixed-point integer log2, no libm.** The repo-wide rule is no
  transcendental functions in cross-engine contracts (operators/
  lm.py: engines differ in the last ulp). Log-likelihoods here are
  ``ilog2_fp``: the classic shift-and-square binary-digit algorithm
  over BIGINTs — b = floor(log2(n)) by binary search on shifts, a
  30-bit mantissa, then ``FRAC_BITS`` squaring steps, each exact in
  int64 (mantissa < 2^31 so the square < 2^62). Any engine that
  replays the same integer ops gets the same number; the DuckDB
  oracle unrolls the identical steps as lateral column aliases.
  A piece's COST is ilog2_fp(total) - ilog2_fp(count) ≥ 0; Viterbi
  minimizes total cost = maximizes quantized Σ log2 p.
- **Seeding** (the SentencePiece heuristic): every substring (≤
  ``max_piece_len`` chars) of every distinct corpus word (≤
  ``max_word_len`` chars) is a candidate with weight = Σ word-count
  over occurrences; kept = ALL single chars (coverage) + the top
  ``n_multi`` multi-char pieces by (weight·len DESC, piece ASC).
- **One EM round**: E-step = Viterbi-segment the distinct word table
  under the seed costs and count piece usages (Σ word-count per used
  piece per occurrence); M-step = add-one-smoothed usage costs
  (usage + 1, the lm.py discipline — zero-usage coverage chars keep
  a finite cost) over kept = chars + top ``n_final`` multis by
  (raw usage DESC, piece ASC) among usage > 0.
- **Viterbi tie-break**: lexicographic struct-min on (cost, n_pieces,
  path) — fewest pieces then smallest SEP-joined path string on
  equal cost, identical in both engines.
- Words longer than ``max_word_len`` and words hitting a char absent
  from the vocabulary segment to '[UNK]' (np=1, cost 0) — engine-side
  pytest; cannot fire on the training corpus, so the oracle omits
  the branch (the wordpiece convention).

Scale shape — the word-table trick (same as BPE/WordPiece): seeding
is one explode + one map-side-combinable groupBy; EM and
segmentation run over the DISTINCT word table only
(vocabulary-bounded), with the piece-cost table shipped as a literal
map (V-bounded by contract); documents join the word→segmentation
map back (broadcast) and aggregate per doc. Driver traffic per EM
round is one vocab-sized collect — the functions/bpe.py training
loop discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_import_spark.session import local_frame

SEP = "\x1e"  # piece separator inside a word's segmentation (chr 30)
FRAC_BITS = 16
MAX_WORD_LEN = 16


def ilog2_fp(n: int) -> int:
    """Fixed-point floor(2^FRAC_BITS · log2(n))-style integer log —
    the exact shift-and-square digit algorithm (see module doc).
    Deterministic and monotone in n; requires n ≥ 1."""
    if n < 1:
        raise ValueError(f"ilog2_fp: n must be >= 1, got {n}")
    b = n.bit_length() - 1
    m = n << (30 - b) if b <= 30 else n >> (b - 30)
    frac = 0
    for _ in range(FRAC_BITS):
        m = (m * m) >> 30
        if m >= 1 << 31:
            frac = frac * 2 + 1
            m >>= 1
        else:
            frac = frac * 2
    return (b << FRAC_BITS) | frac


def ilog2_fp_col(n: Column) -> Column:
    """Column twin of ``ilog2_fp`` — the same integer steps as Spark
    expressions (shifts with literal amounts; the variable-amount
    mantissa scaling uses exact power-of-two double scaling, which is
    lossless for BIGINT inputs < 2^53). Pinned equal to the Python
    and DuckDB replays in tests/test_unigram.py."""
    # both loops run as F.aggregate folds: unrolling them as plain
    # column expressions duplicates the running subtree at every step
    # (m appears twice in m*m, three more times downstream) — an
    # O(3^steps) expression tree that OOMs the driver during analysis
    n = n.cast("long")
    # the double-based mantissa scaling below is exact only for
    # inputs < 2^53; the Python/DuckDB twins use integer shifts, so
    # larger inputs would silently diverge cross-engine — fail fast
    # instead (raise_error keeps this a pure column expression)
    n = F.when(
        n >= F.lit(1 << 53),
        F.raise_error(
            F.lit("ilog2_fp_col: input >= 2^53 exceeds exact double range")
        ).cast("long"),
    ).otherwise(n)
    # 6-step binary search for b = floor(log2(n)): unrolled is fine
    # at this depth (the subtree triples per step — 3^6, not 3^16)
    v = n
    b = F.lit(0)
    for k in (32, 16, 8, 4, 2, 1):
        hi = v >= F.lit(1 << k).cast("long")
        v = F.when(hi, F.floor(v / F.pow(F.lit(2.0), F.lit(float(k)))).cast("long")).otherwise(v)
        b = b + F.when(hi, F.lit(k)).otherwise(F.lit(0))
    # mantissa scaled to [2^30, 2^31); power-of-two double scaling is
    # exact for BIGINT inputs < 2^53
    m = F.when(
        b <= 30, n * F.pow(F.lit(2.0), (F.lit(30) - b).cast("double")).cast("long")
    ).otherwise(
        F.floor(n / F.pow(F.lit(2.0), (b - F.lit(30)).cast("double"))).cast(
            "long"
        )
    )
    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(FRAC_BITS)),
        F.struct(m.alias("m"), F.lit(0).cast("long").alias("f")),
        lambda acc, _: F.struct(
            F.when(
                F.shiftright(acc["m"] * acc["m"], 30)
                >= F.lit(1 << 31).cast("long"),
                F.shiftright(F.shiftright(acc["m"] * acc["m"], 30), 1),
            )
            .otherwise(F.shiftright(acc["m"] * acc["m"], 30))
            .alias("m"),
            (
                acc["f"] * 2
                + F.when(
                    F.shiftright(acc["m"] * acc["m"], 30)
                    >= F.lit(1 << 31).cast("long"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("f"),
        ),
    )
    return (
        b.cast("long") * F.lit(1 << FRAC_BITS).cast("long") + folded["f"]
    ).cast("long")


def piece_costs(counts: dict[str, int], smooth: int = 0) -> dict[str, int]:
    """cost(piece) = ilog2_fp(total) - ilog2_fp(count + smooth), with
    total = Σ (count + smooth) — all exact integers."""
    total = sum(c + smooth for c in counts.values())
    it = ilog2_fp(total)
    return {p: it - ilog2_fp(c + smooth) for p, c in counts.items()}


def words_with_counts(
    docs: DataFrame, text_col: str = "text", max_word_len: int = MAX_WORD_LEN
) -> DataFrame:
    """(word, n) over the corpus, words longer than max_word_len
    excluded (they tokenize to [UNK], see module doc)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .where(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def seed_candidates(
    words: DataFrame, max_piece_len: int = 8
) -> DataFrame:
    """(piece, weight): every substring of every word, weight =
    Σ word-count over occurrences (multiple occurrences inside one
    word each count — the plain substring-frequency seed)."""
    grid = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length("word") - i + 1),
                ),
                lambda l: F.col("word").substr(i, l),
            ),
        )
    )
    return (
        words.select(F.explode(grid).alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("weight"))
    )


def viterbi_segment_expr(
    word: Column,
    costs: dict[str, int],
    max_piece_len: int = 8,
    max_word_len: int = MAX_WORD_LEN,
) -> Column:
    """struct(cost long, np int, path string): minimum-cost
    segmentation of one word under the piece-cost map, as a pure
    expression fold (no UDF). DP over positions: the accumulator is
    the growing array of per-position best structs; position i's best
    extends the best at i-l with any vocab piece of length l. Ties →
    (cost, np, path) lexicographic struct-min. Unknown chars / over-
    long words → ('[UNK]', np=1, cost=0)."""
    keys = sorted(costs)
    cmap = F.map_from_arrays(
        F.lit(keys),
        F.lit([int(costs[k]) for k in keys]).cast("array<bigint>"),
    )
    # dead positions carry a sentinel cost instead of a null struct
    # (null struct elements inside an aggregate fold trip a codegen
    # NPE); 2^60 dominates any real path (≤ max_word_len pieces of
    # cost ≤ 53·2^16 each) and stays overflow-safe under the ≤
    # max_word_len further additions a dead chain can take.
    DEAD = 1 << 60
    dead = F.struct(
        F.lit(DEAD).cast("long").alias("cost"),
        F.lit(0).alias("np"),
        F.lit("").alias("path"),
    )

    def step(acc: Column, i: Column) -> Column:
        cands = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_piece_len), i)),
                lambda l: F.struct(
                    (
                        F.element_at(acc, i - l + 1)["cost"]
                        + F.element_at(cmap, word.substr(i - l + 1, l))
                    ).alias("cost"),
                    (F.element_at(acc, i - l + 1)["np"] + 1).alias("np"),
                    F.concat(
                        F.element_at(acc, i - l + 1)["path"],
                        F.when(
                            F.element_at(acc, i - l + 1)["np"] > 0,
                            F.lit(SEP),
                        ).otherwise(F.lit("")),
                        word.substr(i - l + 1, l),
                    ).alias("path"),
                ),
            ),
            lambda s: s["cost"].isNotNull(),
        )
        return F.concat(acc, F.array(F.coalesce(F.array_min(cands), dead)))

    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("cost"),
            F.lit(0).alias("np"),
            F.lit("").alias("path"),
        )
    )
    folded = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))), init, step
    )
    best = F.element_at(folded, F.length(word) + 1)
    unk = F.struct(
        F.lit(0).cast("long").alias("cost"),
        F.lit(1).alias("np"),
        F.lit("[UNK]").alias("path"),
    )
    return F.when(
        (F.length(word) > max_word_len)
        | best.isNull()
        | (best["cost"] >= F.lit(DEAD)),
        unk,
    ).otherwise(best)


def viterbi_segment_py(
    word: str,
    costs: dict[str, int],
    max_piece_len: int = 8,
    max_word_len: int = MAX_WORD_LEN,
) -> tuple[int, int, str]:
    """Pure-Python twin of ``viterbi_segment_expr`` — the identical
    DP (same DEAD sentinel, same (cost, np, path) tuple-min
    tie-break, same [UNK] rules), byte-for-byte (equality
    pytest-pinned). Used by the driver-gated segmentation path."""
    if len(word) > max_word_len:
        return (0, 1, "[UNK]")
    DEAD = 1 << 60
    arr: list[tuple[int, int, str]] = [(0, 0, "")]
    for i in range(1, len(word) + 1):
        cands = []
        for l in range(1, min(max_piece_len, i) + 1):
            c0, np0, p0 = arr[i - l]
            piece = word[i - l : i]
            pc = costs.get(piece)
            if pc is None:
                continue
            cands.append(
                (c0 + pc, np0 + 1, p0 + (SEP if np0 > 0 else "") + piece)
            )
        arr.append(min(cands) if cands else (DEAD, 0, ""))
    cost, np, path = arr[len(word)]
    if cost >= DEAD:
        return (0, 1, "[UNK]")
    return (cost, np, path)


#: distinct-word tables under this size segment driver-side — the
#: Viterbi expression fold costs seconds of analysis/codegen per
#: query at ANY data size (the functions/bpe.py threshold-gate
#: rationale); beyond it the expression fold runs distributed. Read
#: at call time.
DRIVER_SEGMENT_THRESHOLD = 65536


def segment_words(
    words: DataFrame,
    costs: dict[str, int],
    max_piece_len: int = 8,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """(word, np, cost, path): Viterbi-segment every row of a
    distinct-word table. Under ``DRIVER_SEGMENT_THRESHOLD`` rows the DP runs
    driver-side on the collected words (``viterbi_segment_py``,
    byte-identical, vocab-bounded traffic — the bpe_train gate
    pattern); above it, as the expression fold."""
    spark = words.sparkSession
    carry_n = "n" in words.columns
    # ONE pass decides the gate and fetches the data: limit(T+1)
    # returns the whole table iff it has <= T rows (a separate
    # count() + collect() would run the upstream distinct twice)
    head = words.limit(DRIVER_SEGMENT_THRESHOLD + 1).collect()
    if len(head) <= DRIVER_SEGMENT_THRESHOLD:
        rows = []
        for r in head:
            cost, np, path = viterbi_segment_py(
                r.word, costs, max_piece_len, max_word_len
            )
            rows.append(
                (r.word, int(r.n), np, cost, path)
                if carry_n
                else (r.word, np, cost, path)
            )
        schema = (
            "word string, n long, np int, cost long, path string"
            if carry_n
            else "word string, np int, cost long, path string"
        )
        return local_frame(spark, rows, schema)
    seg = words.withColumn(
        "s",
        viterbi_segment_expr(F.col("word"), costs, max_piece_len, max_word_len),
    )
    return seg.select(
        "word",
        *(["n"] if carry_n else []),
        F.col("s.np").alias("np"),
        F.col("s.cost").alias("cost"),
        F.col("s.path").alias("path"),
    )


def _seed_and_usage(
    docs: DataFrame,
    text_col: str,
    max_piece_len: int,
    n_multi: int,
    max_word_len: int,
) -> tuple[DataFrame, dict[str, int], DataFrame]:
    """Shared front half of training: (seed_df(piece, weight),
    seed_counts dict, usage_df(piece, usage)) — the E-step Viterbi
    runs over the distinct word table under the seed costs."""
    from pyspark.sql.window import Window

    words = words_with_counts(docs, text_col, max_word_len)
    words = words.localCheckpoint(eager=False)
    cand = seed_candidates(words, max_piece_len)
    chars = cand.where(F.length("piece") == 1)
    multi = (
        cand.where(F.length("piece") > 1)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(
                    (F.col("weight") * F.length("piece")).desc(),
                    F.col("piece").asc(),
                )
            ),
        )
        .where(F.col("rk") <= n_multi)
        .drop("rk")
    )
    seed = chars.unionAll(multi).localCheckpoint(eager=False)
    seed_counts = {r.piece: int(r.weight) for r in seed.collect()}
    seed_costs = piece_costs(seed_counts)
    seg = segment_words(words, seed_costs, max_piece_len, max_word_len)
    usage_df = (
        seg.select("n", F.explode(F.split("path", SEP)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("usage"))
    )
    return seed, seed_counts, usage_df


def unigram_vocab(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 8,
    n_multi: int = 120,
    n_final: int = 60,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Learn the pruned unigram vocabulary; fully distributed output
    (piece, seed_weight, usage, cost_fp, is_char, kept_rank) — the
    M-step cost column is the Spark-expression ilog2 twin, the only
    driver traffic is the vocab-sized seed collect the E-step fold
    literal needs (BPE training-loop discipline)."""
    seed, _, usage_df = _seed_and_usage(
        docs, text_col, max_piece_len, n_multi, max_word_len
    )
    from pyspark.sql.window import Window

    j = seed.join(usage_df, "piece", "left").select(
        "piece",
        F.col("weight").alias("seed_weight"),
        F.coalesce("usage", F.lit(0)).cast("long").alias("usage"),
        (F.length("piece") == 1).alias("is_char"),
    )
    kept = j.where(F.col("is_char")).withColumn(
        "kept_rank", F.lit(None).cast("int")
    ).unionAll(
        j.where(~F.col("is_char") & (F.col("usage") > 0))
        .withColumn(
            "kept_rank",
            F.row_number()
            .over(
                Window.orderBy(F.col("usage").desc(), F.col("piece").asc())
            )
            .cast("int"),
        )
        .where(F.col("kept_rank") <= n_final)
    )
    total = kept.agg(
        F.sum(F.col("usage") + 1).cast("long").alias("_t")
    )
    return kept.crossJoin(F.broadcast(total)).select(
        "piece",
        "seed_weight",
        "usage",
        (ilog2_fp_col(F.col("_t")) - ilog2_fp_col(F.col("usage") + 1)).alias(
            "cost_fp"
        ),
        "is_char",
        "kept_rank",
    )


def train_unigram(
    docs: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 8,
    n_multi: int = 120,
    n_final: int = 60,
    max_word_len: int = MAX_WORD_LEN,
) -> tuple[dict[str, int], dict[str, int], dict[str, int]]:
    """Run seeding + one EM round; returns (seed_counts, usages,
    final_costs) as Python dicts (each vocab-bounded driver traffic).
    ``usages`` covers the kept seed vocab (0 for unused); the final
    cost map is over the pruned vocabulary. Produces the same numbers
    as ``unigram_vocab`` (ilog2_fp == ilog2_fp_col, pytest-pinned)."""
    _, seed_counts, usage_df = _seed_and_usage(
        docs, text_col, max_piece_len, n_multi, max_word_len
    )
    usages = {p: 0 for p in seed_counts}
    for r in usage_df.collect():
        if r.piece in usages:
            usages[r.piece] = int(r.usage)
    # prune: all chars + top n_final used multis by (usage DESC, piece ASC)
    multis_used = sorted(
        (p for p in usages if len(p) > 1 and usages[p] > 0),
        key=lambda p: (-usages[p], p),
    )[:n_final]
    kept = {p for p in usages if len(p) == 1} | set(multis_used)
    final_costs = piece_costs({p: usages[p] for p in kept}, smooth=1)
    return seed_counts, usages, final_costs


def unigram_tokenize(
    docs: DataFrame,
    final_costs: dict[str, int],
    max_piece_len: int = 8,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Per-doc Viterbi tokenization under a trained cost map:
    (doc_id, n_unigram_tokens, ll_cost_fp, seg_hash) — token count,
    total fixed-point segmentation cost (the quantized negative
    log-likelihood), and the 60-bit hash of the space-joined
    segmentation in word order (bpe_tokenize's output shape). Docs
    with no words are dropped (oracle row-set parity)."""
    from batch_import_spark.operators.sketches import portable_hash60

    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    docw = docs.select("doc_id", F.posexplode(toks).alias("pos", "word"))
    segmap = segment_words(
        docw.select("word").distinct(), final_costs, max_piece_len,
        max_word_len,
    ).select(
        "word",
        "np",
        "cost",
        F.translate(F.col("path"), SEP, " ").alias("seg"),
    )
    joined = docw.join(F.broadcast(segmap), "word")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("np").cast("long").alias("n_unigram_tokens"),
            F.sum("cost").cast("long").alias("ll_cost_fp"),
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
            "n_unigram_tokens",
            "ll_cost_fp",
            portable_hash60(F.col("_segdoc")).alias("seg_hash"),
        )
    )
