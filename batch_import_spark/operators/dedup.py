"""Deduplication operators for web-scale corpora.

Five strategies, cheapest-first; all are pure column expressions (JVM
codegen, no Python):

- exact:     hash-groupBy on a normalized fingerprint;
- minhash:   word-shingle MinHash signatures + LSH banding →
             candidate pairs → exact Jaccard verification;
- simhash:   60-bit near-dup bit signature (md5 token hashes, 60
             per-bit weighted sums in one groupBy);
- ngram_jaccard: exact n-gram Jaccard on candidate pairs;
- embedding near-dup: cosine ≥ τ pairs via bucketed join
             (similarity.py provides the kernels).

Scale notes: the LSH self-join shuffles on (band_idx, band_hash) — at
100 TB this is THE shuffle to watch; band count × signature length
trade recall vs shuffle width. Dedup keeps the min-id doc per group
(deterministic winner election = the reference's min-id convention,
FileIterator.java:88-98 made value-level).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_import_spark.operators.buckets import cap_hot_buckets


# --- exact dedup -------------------------------------------------------------


def exact_dedup(df: DataFrame, fingerprint: Column) -> DataFrame:
    """Keep the min-id row per fingerprint group.

    Uses a groupBy-min semi-join (map-side combinable) rather than a
    global window — no single-partition stage at scale.
    """
    fp = df.withColumn("_fp", fingerprint)
    winners = fp.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    return fp.join(winners, ["_fp", "doc_id"], "left_semi").drop("_fp")


def duplicate_groups(df: DataFrame, fingerprint: Column) -> DataFrame:
    """(fingerprint, n_dups, keeper_id) for groups with >1 member."""
    return (
        df.select(fingerprint.alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_id"))
        .where(F.col("n_dups") > 1)
    )


# --- shingles / jaccard ------------------------------------------------------


def _shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a TOKEN-ARRAY column.

    Built from ``arrays_zip`` over shifted slices — each zipped element
    is O(1) to read. (A per-index ``element_at`` formulation is O(len)
    per access ⇒ O(len²) per document: measured 10+ s on 500 long docs
    vs ~1 s for this one.) ``toks`` must be a plain column reference:
    this expression reads it n + 3 times, and an inlined tokenization
    would re-split the text per reference (round 7)."""
    k = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, j + 1, k) for j in range(n)]
    zipped = F.arrays_zip(*shifted)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(
        F.when(k > 0, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Distinct char n-grams (expression; arrays_zip over shifted char
    slices — per-index substring would be O(len) each on UTF8)."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    chars = F.filter(F.split(norm, ""), lambda x: x != "")
    k = F.size(chars) - (n - 1)
    shifted = [F.slice(chars, j + 1, k) for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted), lambda s: F.concat(*[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(F.when(k > 0, grams).otherwise(F.array(norm)))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (expression)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# --- MinHash + LSH -----------------------------------------------------------


def lsh_bands(signature: Column, num_bands: int = 16) -> Column:
    """Split a signature into bands → array of (band_idx, band_hash).

    When ``size % num_bands != 0`` the remainder is distributed over
    the first bands (band sizes differ by at most 1) — no trailing
    hashes are silently dropped.
    """
    size = F.size(signature)
    base = (size / num_bands).cast("int")  # floor
    rem = size % num_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band_idx"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            signature,
                            (b * base + F.least(b, rem) + 1).cast("int"),
                            (base + F.when(b < rem, 1).otherwise(0)).cast("int"),
                        ),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("band_hash"),
        ),
    )


def minhash_near_duplicates(
    df: DataFrame,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """(id_a, id_b, jaccard) pairs with exact Jaccard ≥ threshold.

    Pipeline: shingle → minhash → band → per-band sorted member list
    (bounded by the bucket cap) → positional pair explode → distinct
    candidate pairs → exact verification. The band aggregation and
    the pair explode move only scalar ids; per-band state is at most
    ``buckets.MAX_BUCKET_SIZE`` longs because over-cap bands are dropped by a
    broadcast anti-join BEFORE members are gathered — the giant-row /
    unbounded collect_set memory profile that kills 100 TB runs never
    forms. (This replaced the round-6 band self-join: the join's two
    sides each re-evaluated the whole signature aggregation —
    plan-audited 2x — for the identical pair set.)
    Results are exact w.r.t. the threshold (LSH affects recall only
    through banding parameters). ``threshold`` must be > 0 (the
    verify join drops zero-intersection candidates by construction).
    Bands are capped by the degenerate-bucket guard
    (operators.buckets.cap_hot_buckets): bands with more members are
    dropped lazily in-plan before the quadratic pair explode, so a
    naive caller is quadratic-safe.
    """
    # round-7 shape: the shingle-ARRAY table is staged (tokenization
    # as its own projection — the inlined form re-tokenizes per
    # reference) and materialized once; it feeds the signature
    # explode AND the verify joins, which previously re-ran the whole
    # shingling 4x. Verification is row-local array_intersect on the
    # (distinct) shingle arrays of each candidate pair — two id-keyed
    # joins against the 1-row-per-doc table instead of two
    # 1-row-per-shingle joins plus a pair aggregation.
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    arr = (
        df.select(F.col("doc_id").alias("id"), toks.alias("_tk"))
        .select("id", _shingles_from_tokens(F.col("_tk"), 3).alias("sh"))
        .localCheckpoint(eager=False)
    )
    # explode + groupBy-min formulation: one flat codegen stage with
    # map-side partial mins, instead of num_hashes nested array lambdas
    # in a single expression (whose generated method can blow past JIT
    # limits and fall back to interpretation — observed 5-60s swings).
    # explode_outer: shingle arrays are non-empty by construction, and
    # plain explode makes the optimizer infer a size>0 filter that
    # re-evaluates the generator input per predicate.
    exploded = arr.select("id", F.explode_outer("sh").alias("shingle"))
    sigs = exploded.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(7 + i))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )
    base = sigs.select(
        "id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig")
    )
    # band join on (band, id) ONLY — exploding the shingle arrays
    # num_bands× through the self-join multiplies shuffle volume by
    # the band count
    banded = base.select("id", F.explode(lsh_bands(F.col("sig"), num_bands)).alias("band"))
    # materialize the banded table once (id, band — O(corpus x bands)
    # scalar rows): the bucket-cap count branch and the pair generator
    # below otherwise each re-run the whole shingle-explode +
    # num_hashes-min signature aggregation (plan-audited: the sig
    # subtree appeared 4x in the round-6 self-join formulation).
    banded = cap_hot_buckets(banded.localCheckpoint(eager=False), ["band"])
    # pair generation WITHOUT a band self-join: group the (post-cap)
    # bucket members into one sorted list per band and emit each
    # unordered pair once by position (j > i ⇒ id_a ≤ id_b after
    # sort_array). A repeated doc_id still sits once per band, since
    # signatures are grouped by id; the id_a != id_b filter keeps the
    # strict id_a < id_b contract from depending on that (an (x, x)
    # pair would verify at 1.0). Bucket state is bounded by
    # MAX_BUCKET_SIZE, so the collect_list row is ≤ cap longs — the
    # degenerate-bucket guard above still drops over-cap buckets before
    # anything is gathered. Same pair set as the former join, one
    # aggregation instead of two join-side re-evaluations.
    ids = F.sort_array(F.collect_list("id")).alias("ids")
    grouped = banded.groupBy("band").agg(ids).where(F.size("ids") > 1)
    cand = (
        grouped.select(F.posexplode("ids").alias("_i", "id_a"), "ids")
        .select("id_a", F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))).alias("id_b"))
        .where(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verify: arrays are distinct per doc (_shingles_from_tokens), so
    # |A∩B| = size(array_intersect) and |A∪B| = n_a + n_b - |A∩B|
    # merge-hint the corpus-side shingle table: the checkpointed RDD
    # scan has no honest size estimate, and Catalyst was choosing it as
    # the BROADCAST build side of both verify joins — two ~corpus-sized
    # broadcast builds per run locally, an OOM at 100 TB. SMJ is the
    # scale-correct strategy for a corpus-grain table (measured 3.2 ->
    # 1.8 s at sf1.0, round 7).
    verified = (
        cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")).hint("merge"),
            "id_a",
        )
        .join(
            arr.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")).hint("merge"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return verified.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    ngram_chars: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact char-n-gram Jaccard over blocked candidate pairs.

    The block (a 32-char length bucket) bounds the quadratic join —
    the scale-path is minhash_near_duplicates; this is the exact
    verifier for modest blocks.
    """
    base = df.select(
        F.col("doc_id").alias("id"),
        (F.length("text") / 32).cast("int").alias("blk"),
        char_ngrams("text", ngram_chars).alias("ng"),
    )
    left = base.select(F.col("blk"), F.col("id").alias("id_a"), F.col("ng").alias("ng_a"))
    right = base.select(F.col("blk"), F.col("id").alias("id_b"), F.col("ng").alias("ng_b"))
    return (
        left.join(right, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard(F.col("ng_a"), F.col("ng_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --- SimHash (JVM codegen, oracle-reproducible) ------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def md5_token_hash(tok: Column) -> Column:
    """60-bit token hash = first 15 hex chars of md5, as a long.

    md5 (not xxhash64) on purpose: every SQL engine can reproduce it,
    so SimHash signatures are verifiable against an independent oracle
    (DuckDB: ``('0x' || substr(md5(tok), 1, 15))::BIGINT``).
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash_expr(df: DataFrame) -> DataFrame:
    """60-bit SimHash over word tokens — pure JVM expressions.

    Shape: explode tokens → one groupBy with 60 per-bit weighted sums
    (map-side combinable; shuffle = 60 longs per doc) → signature
    assembly. The flat explode+groupBy formulation deliberately avoids
    60 nested array-lambda aggregates in one expression (JIT method-
    limit blowups; see minhash note above). Tokenization: lowercase,
    whitespace split, empties dropped; docs with no tokens get
    signature 0.
    """
    # explode the raw split array and drop empties with a codegen'd
    # row Filter instead of an interpreted array-lambda filter (same
    # token multiset; higher-order lambdas are CodegenFallback and
    # cost ~35x a codegen'd row predicate — measured round 7)
    exploded = (
        df.select(
            F.col("doc_id").alias("_sid"),
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("_tok"),
        )
        .where(F.col("_tok") != "")
    )
    # dedupe per (doc, token) FIRST: md5+conv and the 60 per-bit sum
    # updates then run once per DISTINCT doc-token pair, weighted by
    # the count — w_b = Σ_tokens(bit ? 1 : -1) ≡ Σ_distinct cnt·(bit ?
    # 1 : -1), exact integers. On Zipf text the distinct pairs are a
    # small fraction of the token stream; measured 3.8 → 2.5 s at
    # sf1.0 and 10.5 → 5.7 s at the sf3 replica (round 7). The hash
    # stays in its own projection: referencing md5+conv inside all 60
    # aggregates would evaluate it 60x per row.
    cnts = exploded.groupBy("_sid", "_tok").agg(F.count(F.lit(1)).alias("_c"))
    hashed = cnts.select("_sid", "_c", md5_token_hash(F.col("_tok")).alias("_th"))
    h = F.col("_th")
    sums = hashed.groupBy("_sid").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, F.col("_c")
                ).otherwise(-F.col("_c"))
            ).alias(f"_w{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = sums.select(
        "_sid",
        sum(
            [
                F.when(F.col(f"_w{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return (
        df.select(F.col("doc_id"))
        .join(sig, F.col("doc_id") == F.col("_sid"), "left")
        .select("doc_id", F.coalesce(F.col("simhash"), F.lit(0)).cast("long").alias("simhash"))
    )


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation: ``max_hamming + 1`` block keys (pigeonhole:
    a pair within Hamming ≤ k differs in at most k blocks, so at least
    one of k+1 blocks is identical) — the standard scalable SimHash
    index; verification via bit_count(xor). The output is therefore the
    EXACT pair set (candidate generation is lossless), which is what
    the DuckDB oracle checks. Larger ``max_hamming`` ⇒ more, shorter
    blocks ⇒ bigger buckets and more shuffle — the scale knob.
    Signatures are the 60-bit md5-based JVM expressions of
    :func:`simhash_expr` (oracle-reproducible). Blocks are capped by
    the degenerate-bucket guard (operators.buckets.cap_hot_buckets) —
    e.g. all empty docs share signature 0 and land in every block
    bucket together; over-cap blocks are dropped lazily in-plan before
    the self-join, at the documented cost of recall for their
    members.
    """
    sh = simhash_expr(df).select(F.col("doc_id").alias("id"), "simhash")
    # materialize the signature table once: the block index feeds the
    # bucket-cap stats, the join's left side AND its right side —
    # without this each branch re-runs the full explode + 60-sum
    # signature aggregation (plan-audited 4x in round 7). The table is
    # (id, long) — O(corpus doc count), trivially materializable.
    sh = sh.localCheckpoint(eager=False)
    n_blocks = max_hamming + 1
    if n_blocks > SIMHASH_BITS:
        raise ValueError(f"max_hamming {max_hamming} too large for {SIMHASH_BITS}-bit signature")
    base, rem = divmod(SIMHASH_BITS, n_blocks)
    starts, s = [], 0
    for i in range(n_blocks):
        size = base + (1 if i < rem else 0)
        starts.append((s, size))
        s += size
    blocks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("simhash"), start)
                        .bitwiseAND(F.lit((1 << size) - 1))
                        .alias("block_val"),
                    )
                    for i, (start, size) in enumerate(starts)
                ]
            )
        ).alias("blk"),
    )
    blocks = cap_hot_buckets(blocks, ["blk"])
    left = blocks.select("blk", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    right = blocks.select("blk", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    # verify BEFORE deduplicating: hamming is a pure function of the
    # pair, so the filter commutes with the distinct — applying it
    # first keeps the bit_count test inside the join's codegen stage
    # and shrinks the dropDuplicates input from the full candidate
    # volume (10^7-scale) to the true near-dup pair set (41.8 s -> ~0
    # at sf1.0, round-7 measurement)
    return (
        left.join(right, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def near_dup_resolution(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup PAIRS into per-document keep/drop decisions.

    Near-dup similarity is not transitive (A~B, B~C does not imply
    A~C), so the standard curation policy clusters pairs by connected
    components and keeps ONE representative per cluster — here the
    minimum doc id (deterministic; swap in a quality-ranked min_by for
    quality-keeper policies). Returns (doc_id, keeper, is_kept) for
    every document that appears in at least one pair; documents in no
    pair are implicitly kept and absent.

    Scale shape: the pair graph is far smaller than the corpus (only
    near-dup members appear), and connected_components is the same
    checkpointed small-star/large-star loop the KG canonicalizer uses.
    """
    from batch_import_spark.operators.canonicalize import connected_components

    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.select(
        F.col("node_id").alias("doc_id"),
        F.col("component_id").alias("keeper"),
        (F.col("node_id") == F.col("component_id")).alias("is_kept"),
    )


def winnowing_sketch(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local-similarity sketch): hash every char
    k-gram of the normalized text, then from every window of `window`
    consecutive k-gram hashes keep the minimum (ties to the rightmost
    position); the distinct kept hashes are the document's sketch.
    Guarantees any shared substring of length >= k + window - 1 shares
    a fingerprint — the positional dup-detection primitive exact/
    MinHash fingerprints can't provide.

    All engine-portable integer ops: portable 60-bit k-gram hashes, a
    RANGE-frame window min of (hash, -pos) structs, distinct. Output:
    (id, n_grams, n_selected, sketch_xor) where sketch_xor is the
    bit-XOR register of the sketch (order-free, mergeable, BIGINT).
    Per-row fan-out is ~len(text) k-gram rows — a narrow explode +
    one partition-local window per doc, no shuffle across docs.
    """
    from batch_import_spark.operators.sketches import portable_hash60

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    n_pos = F.length(norm) - (k - 1)
    # guarded sequence: sequence(1, 0) infers a NEGATIVE step
    grams = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    g = df.select(
        F.col(id_col).alias("id"),
        norm.alias("_norm"),
        F.explode(grams).alias("pos"),
    ).select(
        "id",
        "pos",
        portable_hash60(F.substring(F.col("_norm"), F.col("pos"), k)).alias("h"),
    )
    from pyspark.sql.window import Window as W

    fr = W.partitionBy("id").orderBy("pos").rangeBetween(-(window - 1), 0)
    winner = g.select(
        "id",
        "pos",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(fr).alias("w"),
    ).where(F.col("pos") >= window)
    sel = winner.select("id", F.col("w.h").alias("h")).distinct()
    # anchor on the INPUT ids, not the gram rows — a doc shorter than
    # k has zero grams but must still get an (id, 0, 0, 0) row
    base = df.select(F.col(id_col).alias("id")).distinct()
    counts = g.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    sk = sel.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.expr("bit_xor(h)").cast("long").alias("sketch_xor"),
    )
    return (
        base.join(counts, "id", "left")
        .join(sk, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("sketch_xor", F.lit(0)).cast("long").alias("sketch_xor"),
        )
    )
