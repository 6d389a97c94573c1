"""Tokenizers: BPE train/apply/vocab/packing, WordPiece, the
Unigram LM, cross-family fertility, UniMax budgets and vocabulary
growth. Each oracle replays the training in SQL."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_import_spark.functions.bpe import (
    bpe_doc_stats,
    bpe_train,
    encode_text,
    merges_to_df,
    segment_expr,
    token_count_expr,
)
from batch_import_spark.functions.unigram import (
    train_unigram,
    unigram_tokenize,
    unigram_vocab,
)
from batch_import_spark.functions.wordpiece import (
    collect_vocab,
    wordpiece_tokenize,
    wordpiece_vocab,
)
from batch_import_spark.operators.packing import pack_sequences
from batch_import_spark.operators.sampling import unimax_budget
from batch_import_spark.queries.common import _KEYED_H_SQL, _ilog2_ctes, query
from batch_import_spark.session import fan_out


def _vocab_growth(spark, sf):
    """Heaps-law type-token growth curve: distinct vocabulary after
    each corpus decile (doc_id order), at the word-BIGRAM grain —
    the fixture's unigram vocabulary saturates in the first decile,
    so bigrams are the grain where the curve (and the new-types
    column) is non-trivial. The curve is what corpus collectors
    watch to decide whether more crawl still adds novelty.

    Shape: one explode + min-groupBy for first occurrence (map-side
    combinable), then a 10-row broadcast decile grid — the cross
    joins are the sanctioned broadcast-tiny/scalar kind."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != F.lit("")
    )
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fd = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    dec = d.sparkSession.range(1, 11).select(
        F.col("id").cast("int").alias("decile")
    )
    hits = (
        fd.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(dec))
        .where(F.expr("fdoc < (nd * decile) div 10"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    # left-join the full decile grid so a decile with zero cumulative
    # vocab still emits a row (vocab_size 0) — keeps the row set
    # fixed at 10 even on degenerate corpora
    counts = (
        dec.crossJoin(F.broadcast(nd))
        .join(hits, "decile", "left")
        .select(
            "decile",
            "nd",
            F.coalesce("vocab_size", F.lit(0).cast("long")).alias(
                "vocab_size"
            ),
        )
    )
    w = Window.orderBy("decile")
    return counts.select(
        "decile",
        F.expr("(nd * decile) div 10").alias("n_docs"),
        "vocab_size",
        (F.col("vocab_size") - F.coalesce(F.lag("vocab_size").over(w), F.lit(0)))
        .cast("long")
        .alias("new_types"),
    )


_VOCAB_GROWTH_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gg
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1, 1)) AS i
        FROM tk WHERE len(t) >= 2)
),
fd AS (SELECT gg, MIN(doc_id) AS fdoc FROM g GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
hits AS (
  SELECT d.d AS decile, CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM fd CROSS JOIN n CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS d) d
  WHERE fdoc < (n.nd * d.d) // 10
  GROUP BY 1
),
-- full decile grid LEFT JOIN: always 10 rows, matching the Spark side
c AS (
  SELECT d.d AS decile, n.nd, COALESCE(hits.vocab_size, 0) AS vocab_size
  FROM (SELECT unnest(generate_series(1, 10)) AS d) d
  CROSS JOIN n
  LEFT JOIN hits ON hits.decile = d.d
)
SELECT CAST(decile AS INT) AS decile,
       CAST((nd * decile) // 10 AS BIGINT) AS n_docs,
       vocab_size,
       CAST(vocab_size - COALESCE(LAG(vocab_size) OVER (ORDER BY decile), 0)
            AS BIGINT) AS new_types
FROM c
"""
query("vocab_growth", _vocab_growth, _VOCAB_GROWTH_SQL)


_BPE_N_MERGES = 16
_BPE_MERGE_CACHE: dict[str, list] = {}


def _bpe_merges_for(spark, sf):
    """Train once per sf dir per process: training is deterministic
    (argmax tie-break cnt DESC, l ASC, r ASC), so `bpe_train` and
    `bpe_tokenize` share the learned merges instead of re-running the
    16 tiny vocab-table jobs."""
    merges = _BPE_MERGE_CACHE.get(sf)
    if merges is None:
        d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
        merges = bpe_train(
            d, "text", n_merges=_BPE_N_MERGES, min_pair_count=2
        )
        _BPE_MERGE_CACHE[sf] = merges
    return merges


_WP_VOCAB_CACHE: dict[str, tuple[list, list]] = {}


def _wp_vocab_for(spark, sf):
    """Learn once per sf dir per process (deterministic)."""
    got = _WP_VOCAB_CACHE.get(sf)
    if got is None:
        d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
        got = collect_vocab(wordpiece_vocab(d, n_multi=200))
        _WP_VOCAB_CACHE[sf] = got
    return got


def _wordpiece_vocab(spark, sf):
    """WordPiece vocabulary learning (functions/wordpiece.py): all
    single-char pieces plus the top-200 substring pieces by weight,
    typed init/cont — the BERT-style MaxMatch vocabulary, second
    tokenizer family next to BPE. One explode + one map-side
    combinable groupBy over the DISTINCT word table."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return wordpiece_vocab(d, n_multi=200)


_WP_CAND_SQL = r"""
w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY 1
),
cand AS MATERIALIZED (
  SELECT kind, piece, CAST(SUM(n) AS BIGINT) AS weight FROM (
    SELECT CASE WHEN i = 1 THEN 'init' ELSE 'cont' END AS kind,
           substr(word, i, l) AS piece, n
    FROM (SELECT word, n, unnest(generate_series(1, length(word))) AS i
          FROM w),
         unnest(generate_series(1, least(8, length(word) - i + 1))) AS u(l)
  ) GROUP BY 1, 2
),
chars AS (SELECT kind, piece, weight, TRUE AS is_char,
                 CAST(NULL AS INT) AS kept_rank
          FROM cand WHERE length(piece) = 1),
multi AS (
  SELECT kind, piece, weight, FALSE AS is_char, kept_rank FROM (
    SELECT kind, piece, weight,
           CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, kind ASC, piece ASC)
                AS INT) AS kept_rank
    FROM cand WHERE length(piece) > 1
  ) WHERE kept_rank <= 200
)"""

_WP_VOCAB_SQL = (
    "WITH "
    + _WP_CAND_SQL
    + """
SELECT * FROM chars UNION ALL SELECT * FROM multi
"""
)
query("wordpiece_vocab", _wordpiece_vocab, _WP_VOCAB_SQL)


def _wordpiece_tokenize(spark, sf):
    """WordPiece greedy longest-match tokenization over every doc
    (functions/wordpiece.py): pure expression fold over the distinct
    word table + broadcast join back — no UDF, no corpus-sized
    shuffle beyond the per-doc aggregate. Output mirrors
    bpe_tokenize (token count + 60-bit segmentation hash); the
    oracle replays the greedy scan as a recursive CTE with a
    longest-piece window."""
    init, cont = _wp_vocab_for(spark, sf)
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return wordpiece_tokenize(d, init, cont)


_WP_TOKENIZE_SQL = (
    "WITH RECURSIVE "
    + _WP_CAND_SQL
    + r""",
vocab AS MATERIALIZED (
  SELECT kind, piece FROM chars UNION ALL SELECT kind, piece FROM multi
),
seg AS (
  SELECT word, 1 AS pos, CAST('' AS VARCHAR) AS seg, 0 AS np FROM w
  UNION ALL
  SELECT word, pos + l,
         seg || CASE WHEN np = 0 THEN '' ELSE chr(30) END
             || CASE WHEN pos = 1 THEN '' ELSE '##' END || piece,
         np + 1
  FROM (
    SELECT s.word, s.pos, s.seg, s.np, v.piece, length(v.piece) AS l,
           ROW_NUMBER() OVER (PARTITION BY s.word, s.pos
                              ORDER BY length(v.piece) DESC) AS rn
    FROM seg s JOIN vocab v
      ON v.kind = CASE WHEN s.pos = 1 THEN 'init' ELSE 'cont' END
     AND v.piece = substr(s.word, s.pos, length(v.piece))
    WHERE s.pos <= length(s.word)
  ) WHERE rn = 1
),
fin AS MATERIALIZED (
  SELECT word, seg, np FROM seg WHERE pos = length(word) + 1
),
docw AS (
  SELECT doc_id, unnest(arr) AS word,
         unnest(generate_series(1, len(arr))) AS pos
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x <> '') AS arr
        FROM documents)
)
SELECT doc_id, CAST(SUM(f.np) AS BIGINT) AS n_wp_tokens,
       ('0x' || substr(md5(string_agg(f.seg, ' ' ORDER BY d.pos)), 1, 15))::BIGINT
         AS seg_hash
FROM docw d JOIN fin f ON f.word = d.word
GROUP BY doc_id
"""
)
query("wordpiece_tokenize", _wordpiece_tokenize, _WP_TOKENIZE_SQL)


# --- Unigram-LM (SentencePiece-style) tokenizer --------------------------

_UNIGRAM_KW = dict(max_piece_len=8, n_multi=120, n_final=60, max_word_len=16)


def _unigram_docs(spark, sf):
    """Corpus for the unigram entries: every 3rd doc (with >= 2
    tokens) appends a COMPOUND word — its first two tokens
    concatenated without a space — so multi-piece Viterbi
    segmentation fires on real rows (the raw corpus words are short
    enough that single pieces often win)."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    toks = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda w: w != F.lit("")
    )
    compound = F.concat(F.element_at(toks, 1), F.element_at(toks, 2))
    return d.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 3 == 0) & (F.size(toks) >= 2),
            F.concat(F.col("text"), F.lit(" "), compound),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


_UNIGRAM_COST_CACHE: dict[str, dict] = {}


def _unigram_costs_for(spark, sf):
    """Train once per sf dir per process (deterministic)."""
    got = _UNIGRAM_COST_CACHE.get(sf)
    if got is None:
        _, _, got = train_unigram(_unigram_docs(spark, sf), **_UNIGRAM_KW)
        _UNIGRAM_COST_CACHE[sf] = got
    return got


def _unigram_vocab(spark, sf):
    """Unigram-LM vocabulary learning (functions/unigram.py): the
    SentencePiece scheme — substring-frequency seeding (top-120 by
    weight*len), ONE integer-EM round (E-step = Viterbi over the
    distinct word table under fixed-point integer log2 costs; M-step
    = add-one usage costs over the pruned top-60 + coverage chars).
    No libm anywhere: the log is the exact shift-and-square integer
    algorithm, replayed as unrolled lateral-alias arithmetic by the
    oracle, as a column expression by Spark, and in Python for the
    fold literal — all three pinned equal in tests/test_unigram.py."""
    return unigram_vocab(_unigram_docs(spark, sf), **_UNIGRAM_KW)


def _viterbi_dp_sql(prefix: str, cost_cte: str, maxlen: int, mpl: int) -> str:
    """Chained per-position DP CTEs (Viterbi over the word table):
    {prefix}{i} holds the best (cost, np, path) for every word prefix
    up to position i; ties resolve by the (cost, np, path) struct-min
    — byte-identical to the Spark fold's array_min."""
    blocks = [
        f"{prefix}0 AS MATERIALIZED (\n"
        f"  SELECT word, n, 0 AS pos, CAST(0 AS BIGINT) AS cost,\n"
        f"         0 AS np, CAST('' AS VARCHAR) AS path FROM w\n)"
    ]
    for i in range(1, maxlen + 1):
        blocks.append(
            f"""{prefix}{i} AS MATERIALIZED (
  SELECT * FROM {prefix}{i - 1}
  UNION ALL
  SELECT word, n, {i} AS pos, b['cost'] AS cost,
         b['np'] AS np, b['path'] AS path FROM (
    SELECT d.word, max(d.n) AS n,
           min({{'cost': d.cost + v.cost, 'np': d.np + 1,
                'path': d.path || CASE WHEN d.np > 0 THEN chr(30)
                                       ELSE '' END || v.piece}}) AS b
    FROM {prefix}{i - 1} d
    JOIN {cost_cte} v
      ON v.piece = substr(d.word, d.pos + 1, {i} - d.pos)
    WHERE length(d.word) >= {i}
      AND d.pos >= {i} - {mpl} AND d.pos < {i}
    GROUP BY d.word
  )
)"""
        )
    return ",\n".join(blocks)


def _unigram_base_sql() -> str:
    """Shared CTE chain: planted corpus -> word table -> seed vocab ->
    integer-log seed costs -> round-1 Viterbi -> usages -> pruned
    vocab -> final add-one costs."""
    kw = _UNIGRAM_KW
    mpl, maxlen = kw["max_piece_len"], kw["max_word_len"]
    seed_il, seed_fin = _ilog2_ctes("seed", "weight", "w_il",
                                    "piece, weight", "_a")
    tot0_il, tot0_fin = _ilog2_ctes("tot0v", "t", "t_il", "1 AS one", "_b")
    kept_il, kept_fin = _ilog2_ctes(
        "kept", "usage + 1", "u_il",
        "piece, weight, usage, is_char, kept_rank", "_c")
    tot1_il, tot1_fin = _ilog2_ctes("tot1v", "t", "t_il", "1 AS one", "_d")
    return f"""planted AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 AND len(t0) >= 2
              THEN text || ' ' || (t0[1] || t0[2])
              ELSE text END AS text
  FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS t0
        FROM documents)
),
w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(list_filter(
          regexp_split_to_array(lower(trim(text)), '\\s+'),
          x -> x <> '')) AS word
        FROM planted)
  WHERE length(word) <= {maxlen} GROUP BY 1
),
cand AS MATERIALIZED (
  SELECT piece, CAST(SUM(n) AS BIGINT) AS weight FROM (
    SELECT substr(word, i, l) AS piece, n
    FROM (SELECT word, n, unnest(generate_series(1, length(word))) AS i
          FROM w),
         unnest(generate_series(1, least({mpl}, length(word) - i + 1))) AS u(l)
  ) GROUP BY 1
),
seed AS MATERIALIZED (
  SELECT piece, weight FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, weight FROM (
    SELECT piece, weight,
           row_number() OVER (ORDER BY weight * length(piece) DESC,
                              piece ASC) AS rk
    FROM cand WHERE length(piece) > 1
  ) WHERE rk <= {kw["n_multi"]}
),
tot0v AS (SELECT CAST(SUM(weight) AS BIGINT) AS t FROM seed),
{tot0_il},
{seed_il},
cost0 AS MATERIALIZED (
  SELECT piece, (SELECT t_il FROM {tot0_fin}) - w_il AS cost FROM {seed_fin}
),
{_viterbi_dp_sql("dp", "cost0", maxlen, mpl)},
seg1 AS MATERIALIZED (
  SELECT word, n, np, cost, path FROM dp{maxlen} WHERE pos = length(word)
),
usage0 AS MATERIALIZED (
  SELECT piece, CAST(SUM(n) AS BIGINT) AS u FROM (
    SELECT unnest(string_split(path, chr(30))) AS piece, n FROM seg1
  ) GROUP BY 1
),
useed AS MATERIALIZED (
  SELECT s.piece, s.weight, CAST(coalesce(u.u, 0) AS BIGINT) AS usage,
         length(s.piece) = 1 AS is_char
  FROM seed s LEFT JOIN usage0 u USING (piece)
),
kept AS MATERIALIZED (
  SELECT piece, weight, usage, is_char, CAST(NULL AS INT) AS kept_rank
  FROM useed WHERE is_char
  UNION ALL
  SELECT piece, weight, usage, is_char, kept_rank FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY usage DESC, piece ASC)
                   AS INT) AS kept_rank
    FROM useed WHERE NOT is_char AND usage > 0
  ) WHERE kept_rank <= {kw["n_final"]}
),
tot1v AS (SELECT CAST(SUM(usage + 1) AS BIGINT) AS t FROM kept),
{tot1_il},
{kept_il},
cost1 AS MATERIALIZED (
  SELECT piece, weight, usage, is_char, kept_rank,
         (SELECT t_il FROM {tot1_fin}) - u_il AS cost
  FROM {kept_fin}
)"""


_UNIGRAM_VOCAB_SQL = (
    "WITH "
    + _unigram_base_sql()
    + """
SELECT piece, weight AS seed_weight, usage, cost AS cost_fp,
       is_char, kept_rank
FROM cost1
"""
)
query("unigram_vocab", _unigram_vocab, _UNIGRAM_VOCAB_SQL)


def _unigram_tokenize(spark, sf):
    """Viterbi tokenization under the trained unigram model: per doc
    the token count, total fixed-point segmentation cost (quantized
    negative log-likelihood), and the 60-bit portable hash of the
    segmentation — minimum-cost DP as a pure expression fold over the
    distinct word table + broadcast join back (the
    wordpiece_tokenize plan shape); the oracle replays the DP as
    chained per-position CTEs with the identical (cost, np, path)
    struct-min tie-break."""
    return unigram_tokenize(
        _unigram_docs(spark, sf),
        _unigram_costs_for(spark, sf),
        max_piece_len=_UNIGRAM_KW["max_piece_len"],
        max_word_len=_UNIGRAM_KW["max_word_len"],
    )


_UNIGRAM_TOKENIZE_SQL = (
    "WITH "
    + _unigram_base_sql()
    + ",\n"
    + _viterbi_dp_sql(
        "ep", "cost1", _UNIGRAM_KW["max_word_len"],
        _UNIGRAM_KW["max_piece_len"],
    )
    + f""",
seg2 AS MATERIALIZED (
  SELECT word, np, cost, path FROM ep{_UNIGRAM_KW["max_word_len"]}
  WHERE pos = length(word)
),
docw AS (
  SELECT doc_id, unnest(arr) AS word,
         unnest(generate_series(1, len(arr))) AS pos
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS arr
        FROM planted)
)
SELECT doc_id, CAST(SUM(f.np) AS BIGINT) AS n_unigram_tokens,
       CAST(SUM(f.cost) AS BIGINT) AS ll_cost_fp,
       ('0x' || substr(md5(string_agg(replace(f.path, chr(30), ' '), ' '
                                      ORDER BY d.pos)), 1, 15))::BIGINT
         AS seg_hash
FROM docw d JOIN seg2 f USING (word)
GROUP BY doc_id
"""
)
query("unigram_tokenize", _unigram_tokenize, _UNIGRAM_TOKENIZE_SQL)


def _bpe_train(spark, sf):
    """Learn BPE merges on the document corpus (distributed pair-count
    argmax per rank; functions/bpe.py). Output = the merge table
    itself — rank order, pair, and the weighted count that won."""
    merges = _bpe_merges_for(spark, sf)
    return merges_to_df(spark, merges).select(
        "rank", "lhs", "rhs", F.concat("lhs", "rhs").alias("merged"), "pair_count"
    )


def _bpe_step_cte() -> str:
    """Recursive-CTE replay of BPE training over the word-frequency
    table. One reference to `step` per recursive term: pairs are
    exploded via parallel unnest, counted with a window SUM, and the
    argmax is a window MIN over {'negc': -cnt, l, r} structs (struct
    comparison = cnt DESC, l ASC, r ASC — Spark's exact tie-break);
    GROUP BY ALL collapses the pair rows back to one row per word."""
    n_merges, min_pair_count = _BPE_N_MERGES, 2
    return rf"""
wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        FROM documents)
  WHERE word <> ''
  GROUP BY word
),
step AS (
  SELECT 0 AS it, word, n,
         regexp_replace(word, '(.)', chr(31) || '\1' || chr(31), 'g') AS s,
         CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br,
         CAST(0 AS BIGINT) AS bc
  FROM wc
  UNION ALL
  SELECT it + 1, word, n,
         CASE WHEN ml IS NULL THEN s
              ELSE replace(s, chr(31) || ml || chr(31) || chr(31) || mr || chr(31),
                              chr(31) || ml || mr || chr(31)) END AS s,
         ml AS bl, mr AS br, mc AS bc
  FROM (
    SELECT it, word, n, s,
           best.l AS ml, best.r AS mr, CAST(-best.negc AS BIGINT) AS mc
    FROM (
      SELECT it, word, n, s,
             min(CASE WHEN l IS NULL OR cnt < {min_pair_count} THEN NULL
                      ELSE {{'negc': -cnt, 'l': l, 'r': r}} END) OVER () AS best
      FROM (
        SELECT it, word, n, s, l, r,
               CAST(sum(CASE WHEN l IS NULL THEN 0 ELSE n END)
                    OVER (PARTITION BY l, r) AS BIGINT) AS cnt
        FROM (
          SELECT it, word, n, s,
                 unnest(CASE WHEN len(syms) < 2 THEN [CAST(NULL AS VARCHAR)]
                             ELSE syms[1:len(syms)-1] END) AS l,
                 unnest(CASE WHEN len(syms) < 2 THEN [CAST(NULL AS VARCHAR)]
                             ELSE syms[2:len(syms)] END) AS r
          FROM (SELECT it, word, n, s,
                       string_split(trim(s, chr(31)), chr(31) || chr(31)) AS syms
                FROM step)
        )
      )
    )
    GROUP BY ALL
  )
  WHERE it < {n_merges}
)"""


_BPE_TRAIN_SQL = (
    "WITH RECURSIVE"
    + _bpe_step_cte()
    + """
SELECT DISTINCT it AS rank, bl AS lhs, br AS rhs, bl || br AS merged,
       bc AS pair_count
FROM step
WHERE it >= 1 AND bl IS NOT NULL
"""
)
query("bpe_train", _bpe_train, _BPE_TRAIN_SQL)


def _bpe_tokenize(spark, sf):
    """Apply the learned merges to every document — one Arrow kernel
    with a per-task distinct-word encode cache (functions/bpe.py
    bpe_doc_stats, bit-identical to the replace-chain expression
    path, pytest-pinned). Output: per-doc BPE token count + portable
    60-bit hash of the full segmentation (chr(30) between
    subwords)."""
    merges = [(l, r) for (l, r, _) in _bpe_merges_for(spark, sf)]
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    return bpe_doc_stats(d, "text", merges, id_col="doc_id").where(
        # the oracle's word-level join drops docs with zero words
        # (empty/whitespace-only/NULL text); match that row set here —
        # a doc WITH words always has >= 1 subword token (ADVICE r04)
        F.col("n_bpe_tokens") > 0
    )


_BPE_TOKENIZE_SQL = (
    "WITH RECURSIVE"
    + _bpe_step_cte()
    + """,
fin AS (SELECT word, s FROM step WHERE it = (SELECT max(it) FROM step)),
docw AS (
  SELECT doc_id, unnest(arr) AS word,
         unnest(generate_series(1, len(arr))) AS pos
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
        FROM documents)
),
segw AS (
  SELECT d.doc_id, d.pos,
         replace(replace(f.s, chr(31) || chr(31), chr(30)), chr(31), '') AS w_seg,
         CAST((length(f.s) - length(replace(f.s, chr(31), ''))) / 2 AS BIGINT)
           AS w_ntok
  FROM docw d JOIN fin f ON d.word = f.word
  WHERE d.word <> ''
)
SELECT doc_id,
       CAST(SUM(w_ntok) AS BIGINT) AS n_bpe_tokens,
       ('0x' || substr(md5(string_agg(w_seg, ' ' ORDER BY pos)), 1, 15))::BIGINT
         AS seg_hash
FROM segw
GROUP BY doc_id
"""
)
query("bpe_tokenize", _bpe_tokenize, _BPE_TOKENIZE_SQL)


def _bpe_vocab(spark, sf):
    """Materialize the learned subword vocabulary: every symbol the
    tokenizer emits over the corpus with its occurrence count — the
    vocab table a training pipeline ships with its tokenizer. Pure
    codegen: encode (replace chain), explode symbols, one groupBy."""
    merges = [(l, r) for (l, r, _) in _bpe_merges_for(spark, sf)]
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    seg = segment_expr(encode_text("text", merges))
    sym = F.explode(F.split(F.replace(seg, F.lit(" "), F.lit("\x1e")), "\x1e"))
    return (
        d.select(sym.alias("symbol"))
        .filter(F.col("symbol") != "")
        .groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )


_BPE_VOCAB_SQL = (
    "WITH RECURSIVE"
    + _bpe_step_cte()
    + """,
fin AS (SELECT word, s FROM step WHERE it = (SELECT max(it) FROM step)),
docw AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
  FROM documents
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_occ
FROM (
  SELECT unnest(string_split(replace(replace(f.s, chr(31) || chr(31), chr(30)),
                                     chr(31), ''), chr(30))) AS symbol
  FROM docw d JOIN fin f ON d.word = f.word
  WHERE d.word <> ''
)
WHERE symbol <> ''
GROUP BY symbol
"""
)
query("bpe_vocab", _bpe_vocab, _BPE_VOCAB_SQL)


# --- Cross-family tokenizer fertility audit ------------------------------

_WORDS_SZ_SQL = (
    "len(list_filter(regexp_split_to_array(lower(trim({t})), '\\s+'), "
    "x -> x <> ''))"
)


def _tokenizer_fertility(spark, sf):
    """Cross-family tokenizer audit: total subword tokens, total
    whitespace words, and fertility (tokens per word, ppm) for all
    three learned tokenizer families over their own training corpora
    (BPE and WordPiece on the raw documents, unigram on its planted
    compound corpus). Fertility is THE comparison number tokenizer
    papers report; here it is an oracle-backed query so regressions
    in any family's training/segmentation show up as a value change.
    One aggregate per family over already-registered entries — blank
    docs contribute zero words and zero tokens on both engines."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    toks_sz = F.size(
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"),
            lambda w: w != F.lit(""),
        )
    )
    base_words = d.agg(F.sum(toks_sz).cast("long").alias("total_words"))
    planted_words = _unigram_docs(spark, sf).agg(
        F.sum(toks_sz).cast("long").alias("total_words")
    )

    def fam(tokdf, col, words_df, name):
        t = tokdf.agg(F.sum(col).cast("long").alias("total_tokens"))
        return t.crossJoin(F.broadcast(words_df)).select(
            F.lit(name).alias("family"),
            "total_tokens",
            "total_words",
            F.expr("(total_tokens * 1000000L) div total_words").alias(
                "fertility_ppm"
            ),
        )

    return (
        fam(_bpe_tokenize(spark, sf), "n_bpe_tokens", base_words, "bpe")
        .unionAll(
            fam(
                _wordpiece_tokenize(spark, sf),
                "n_wp_tokens",
                base_words,
                "wordpiece",
            )
        )
        .unionAll(
            fam(
                _unigram_tokenize(spark, sf),
                "n_unigram_tokens",
                planted_words,
                "unigram",
            )
        )
    )


def _tokenizer_fertility_sql() -> str:
    base_words = (
        "(SELECT CAST(SUM("
        + _WORDS_SZ_SQL.format(t="text")
        + ") AS BIGINT) FROM documents)"
    )
    planted_words = (
        "(SELECT CAST(SUM("
        + _WORDS_SZ_SQL.format(t="ptext")
        + """) AS BIGINT) FROM (
      SELECT CASE WHEN doc_id % 3 = 0 AND len(t0) >= 2
                  THEN text || ' ' || (t0[1] || t0[2])
                  ELSE text END AS ptext
      FROM (SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(trim(text)),
                                                     '\\s+'),
                               x -> x <> '') AS t0
            FROM documents)))"""
    )
    return f"""SELECT family, total_tokens, total_words,
       CAST((total_tokens * 1000000) // total_words AS BIGINT)
         AS fertility_ppm
FROM (
  SELECT 'bpe' AS family,
         (SELECT CAST(SUM(n_bpe_tokens) AS BIGINT)
          FROM ({_BPE_TOKENIZE_SQL}) x) AS total_tokens,
         {base_words} AS total_words
  UNION ALL
  SELECT 'wordpiece' AS family,
         (SELECT CAST(SUM(n_wp_tokens) AS BIGINT)
          FROM ({_WP_TOKENIZE_SQL}) x) AS total_tokens,
         {base_words} AS total_words
  UNION ALL
  SELECT 'unigram' AS family,
         (SELECT CAST(SUM(n_unigram_tokens) AS BIGINT)
          FROM ({_UNIGRAM_TOKENIZE_SQL}) x) AS total_tokens,
         {planted_words} AS total_words
)
"""


_TOKENIZER_FERTILITY_SQL = _tokenizer_fertility_sql()
query("tokenizer_fertility", _tokenizer_fertility, _TOKENIZER_FERTILITY_SQL)


# --- UniMax budget allocation --------------------------------------------


def _unimax_budget(spark, sf):
    """UniMax per-source token-budget allocation (operators/
    sampling.py unimax_budget): closed-form water-filling of a budget
    of 1.5x the corpus tokens across the 20 sources with a 2-epoch
    repeat cap — the published alternative to temperature sampling
    that never over-repeats small domains. Both engines replay the
    exact same sort + prefix-sum + floor arithmetic."""
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    toks_sz = F.size(
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"),
            lambda w: w != F.lit(""),
        )
    )
    return unimax_budget(
        d,
        "source",
        toks_sz.cast("long"),
        F.expr("(sum(n_tokens) * 3L) div 2"),
        max_epochs=2,
    )


_UNIMAX_BUDGET_SQL = f"""WITH tok AS MATERIALIZED (
  SELECT source,
         CAST(SUM({_WORDS_SZ_SQL.format(t="text")}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
caps AS MATERIALIZED (
  SELECT source, n_tokens, CAST(2 * n_tokens AS BIGINT) AS cap_tokens
  FROM tok
),
b AS (SELECT CAST((SUM(n_tokens) * 3) // 2 AS BIGINT) AS budget,
             COUNT(*) AS n
      FROM caps),
rk AS MATERIALIZED (
  SELECT source, n_tokens, cap_tokens,
         row_number() OVER (ORDER BY cap_tokens, source) AS i,
         CAST(coalesce(SUM(cap_tokens) OVER (
           ORDER BY cap_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS pprev
  FROM caps
),
lvl AS MATERIALIZED (
  SELECT *, CAST(floor(CAST((SELECT budget FROM b) - pprev AS DOUBLE)
                       / ((SELECT n FROM b) - i + 1)) AS BIGINT) AS level
  FROM rk
),
ls AS (SELECT min({{'i': i, 'lv': level}})['lv'] AS lstar
       FROM lvl WHERE cap_tokens >= level),
q AS (
  SELECT source, n_tokens, cap_tokens,
         CAST(CASE WHEN (SELECT lstar FROM ls) IS NULL THEN cap_tokens
              ELSE least(cap_tokens, (SELECT lstar FROM ls)) END AS BIGINT)
           AS quota_tokens
  FROM lvl
)
SELECT source, n_tokens, cap_tokens, quota_tokens,
       CAST((quota_tokens * 1000000) // n_tokens AS BIGINT) AS epochs_ppm
FROM q
"""
query("unimax_budget", _unimax_budget, _UNIMAX_BUDGET_SQL)


def _bpe_packed_batches(spark, sf):
    """End-to-end training-batch prep: tokenize every doc with the
    LEARNED BPE merges (zero-shuffle replace chain), then greedily
    pack docs into 512-token bins within 8 hash groups — the
    tokenize→pack composition a pretraining dataloader materializes.
    The oracle chains the BPE training-replay CTE into the greedy
    packing recurrence."""
    merges = [(l, r) for (l, r, _) in _bpe_merges_for(spark, sf)]
    d = fan_out(spark.read.parquet(f"{sf}/documents.parquet"))
    sized = d.select(
        "doc_id", token_count_expr(encode_text("text", merges)).alias("n_tok")
    )
    return pack_sequences(
        sized, "n_tok", ["doc_id"], capacity=512, n_groups=8, seed=11
    )


def _bpe_packed_sql() -> str:
    return (
        "WITH RECURSIVE"
        + _bpe_step_cte()
        + rf""",
fin AS (SELECT word, s FROM step WHERE it = (SELECT max(it) FROM step)),
docw AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents
),
sz AS (
  SELECT d.doc_id,
         CAST(SUM((length(f.s) - length(replace(f.s, chr(31), ''))) / 2) AS BIGINT)
           AS size,
         {_KEYED_H_SQL.format(seed=11, key="d.doc_id")} AS h
  FROM docw d JOIN fin f ON d.word = f.word
  WHERE d.word <> ''
  GROUP BY d.doc_id
),
s AS (
  SELECT doc_id, size, CAST(h % 8 AS INT) AS group_id,
         ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
  FROM sz
),
p AS (
  SELECT group_id, rn, doc_id, size, CAST(0 AS BIGINT) AS pack_id,
         size AS fill, CAST(0 AS INT) AS pack_pos
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.group_id, s.rn, s.doc_id, s.size,
         CASE WHEN p.fill + s.size <= 512 THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + s.size <= 512 THEN p.fill + s.size ELSE s.size END,
         CASE WHEN p.fill + s.size <= 512 THEN p.pack_pos + 1 ELSE 0 END
  FROM p JOIN s ON s.group_id = p.group_id AND s.rn = p.rn + 1
)
SELECT group_id, doc_id, size, pack_id, pack_pos FROM p
"""
    )
query("bpe_packed_batches", _bpe_packed_batches, _bpe_packed_sql())
