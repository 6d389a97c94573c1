"""Document chunking and sequence packing for training-data prep.

Two shapes every LLM-corpus pipeline needs between curation and the
trainer:

- ``chunk_documents``: split long documents into fixed-length windows
  with overlap (context-window sharding). Pure per-row expressions —
  a narrow map, no shuffle, streams through 100 TB at scan speed.
- ``pack_sequences``: greedy first-fit packing of documents into
  fixed-capacity bins (sequence packing — filling each training
  context window instead of padding). Greedy packing is inherently
  sequential, which cannot be a single distributed scan; the scalable
  formulation packs WITHIN deterministic hash groups: each group
  packs independently in one Arrow batch (applyInPandas), so
  parallelism = n_groups and no global order is needed. Group
  assignment + intra-group order are portable-hash-derived
  (operators.sampling), so the packing is bit-stable across runs,
  partitionings, and engines — the DuckDB oracle replays the same
  greedy recurrence in a recursive CTE.

At 10^12-turn scale, pick ``n_groups`` ≈ corpus_tokens / (executor
memory budget): each group must fit one pandas batch. Packing quality
loss vs global greedy is negligible for n_groups ≪ n_docs (each group
is still a large random sample of the size distribution).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_import_spark.operators.sampling import _keyed_hash
from batch_import_spark.session import fan_out


def token_count(text_col: Column | str) -> Column:
    """Whitespace token count, identical to the tf-idf tokenizer's
    grain (empty/blank text → 0)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != ""))


def chunk_documents(
    df: DataFrame,
    chunk_len: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Fixed-length character windows with ``overlap`` chars shared
    between consecutive chunks. Returns
    (doc_id, chunk_idx int, chunk_text, chunk_n_chars int).

    Chunk i starts at 1 + i·(chunk_len − overlap) (1-based substring,
    the portable convention); every start position ≤ len(text) emits a
    chunk, so trailing chunks may be shorter (and, when the tail is
    shorter than ``overlap``, fully contained in the previous chunk —
    kept deliberately: dropping them would make chunk counts depend on
    doc length modulo stride, and downstream dedup handles containment).
    Empty documents emit no chunks.

    Pure narrow map (sequence → explode → substring): no shuffle, and
    the scan only reads (id, text) after column pruning.
    """
    if overlap >= chunk_len:
        raise ValueError(f"overlap ({overlap}) must be < chunk_len ({chunk_len})")
    stride = chunk_len - overlap
    n = F.length(F.col("text"))
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    ex = df.select(
        "doc_id",
        F.col("text").alias("_t"),
        F.explode(starts).alias("_s"),
    )
    return ex.select(
        "doc_id",
        ((F.col("_s") - 1) / stride).cast("int").alias("chunk_idx"),
        F.expr(f"substring(_t, _s, {chunk_len})").alias("chunk_text"),
        F.length(F.expr(f"substring(_t, _s, {chunk_len})")).alias("chunk_n_chars"),
    )


def pack_sequences(
    df: DataFrame,
    size_col: str,
    id_cols: list[str],
    capacity: int,
    n_groups: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Greedy first-fit-in-order sequence packing within deterministic
    hash groups. Returns the input's ``id_cols`` + ``size_col`` plus
    (group_id int, pack_id bigint, pack_pos int):

    - group_id: portable-hash(id) % n_groups (even, content-stable)
    - within a group, items are taken in (hash, id) order; an item
      joins the current pack if fill + size ≤ capacity, else opens the
      next pack (items larger than ``capacity`` get a pack of their
      own — flagged by pack_pos 0 and size > capacity, not dropped)
    - pack_id is group-local; (group_id, pack_id) is the global key

    One shuffle (groupBy on group_id), then one Arrow batch per group;
    the sequential greedy loop touches each row once.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    h = _keyed_hash(id_cols, seed)
    tagged = df.select(
        *id_cols,
        F.col(size_col).cast("long").alias("_size"),
        (h % n_groups).cast("int").alias("group_id"),
        h.alias("_h"),
    )
    id_fields = [tagged.schema[c] for c in id_cols]
    out_schema = T.StructType(
        [
            T.StructField("group_id", T.IntegerType()),
            *id_fields,
            T.StructField("size", T.LongType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_pos", T.IntegerType()),
        ]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", *id_cols], kind="mergesort").reset_index(
            drop=True
        )
        pack_ids, positions = [], []
        pack, fill, pos = 0, 0, 0
        for size in pdf["_size"]:
            if pack_ids and fill + size > capacity:
                pack, fill, pos = pack + 1, 0, 0
            pack_ids.append(pack)
            positions.append(pos)
            fill += size
            pos += 1
        out = pdf[["group_id", *id_cols]].copy()
        out["size"] = pdf["_size"]
        out["pack_id"] = pd.Series(pack_ids, dtype="int64")
        out["pack_pos"] = pd.Series(positions, dtype="int32")
        return out

    return tagged.groupBy("group_id").applyInPandas(_pack, out_schema)


def pack_sequences_global(
    df: DataFrame,
    size_col: str,
    id_cols: list[str],
    capacity: int,
    n_groups: int = 64,
    n_groups_l2: int = 1,
    seed: int = 0,
) -> DataFrame:
    """Two-level GLOBAL sequence packing: per-group greedy pack, then a
    second greedy pass over the level-1 bins' fill totals that merges
    under-filled bins ACROSS groups (the cross-group waste
    pack_sequences alone leaves on the table).

    Returns id_cols + (size, l1_group, l1_pack, bin_group, bin_pack,
    bin_pos): the final bin key is (bin_group, bin_pack), bin_pos is
    the item's rank inside its final bin, and the capacity invariant
    holds GLOBALLY — a final bin's total size never exceeds
    ``capacity`` (level-1 fills are ≤ capacity except oversize
    singleton items, which level-2's own oversize rule keeps alone;
    such bins are exactly the level-1 oversize bins).

    Scale shape: level 2 runs on the level-1 bin SUMMARY table —
    smaller than the corpus by ~capacity/mean_size — so
    ``n_groups_l2`` can be far smaller than ``n_groups`` (1 = truly
    global while summaries fit one Arrow batch; at 10^12 turns use
    more and the residual cross-group under-fill is bounded by
    ~n_groups_l2 partially-filled bins). Measure with packing_waste.
    """
    l1 = pack_sequences(df, size_col, id_cols, capacity, n_groups, seed)
    fills = (
        l1.groupBy("group_id", "pack_id")
        .agg(F.sum("size").alias("fill"))
        .select(
            F.col("group_id").alias("l1_group"),
            F.col("pack_id").alias("l1_pack"),
            "fill",
        )
    )
    l2 = pack_sequences(
        fills, "fill", ["l1_group", "l1_pack"], capacity,
        n_groups=n_groups_l2, seed=seed + 1,
    ).select(
        "l1_group",
        "l1_pack",
        F.col("group_id").alias("bin_group"),
        F.col("pack_id").alias("bin_pack"),
        F.col("pack_pos").alias("_l2_pos"),
    )
    joined = l1.select(
        *id_cols,
        "size",
        F.col("group_id").alias("l1_group"),
        F.col("pack_id").alias("l1_pack"),
        F.col("pack_pos").alias("_l1_pos"),
    ).join(l2, ["l1_group", "l1_pack"])
    from pyspark.sql.window import Window

    w = Window.partitionBy("bin_group", "bin_pack").orderBy("_l2_pos", "_l1_pos")
    return joined.withColumn(
        "bin_pos", (F.row_number().over(w) - 1).cast("int")
    ).drop("_l1_pos", "_l2_pos")


def packing_waste(
    packed: DataFrame, capacity: int, bin_cols: list[str]
) -> DataFrame:
    """One-row waste report for a packing: n_bins, total_size,
    waste = n_bins·capacity − total_size (counting oversize items as
    zero-waste bins of their own size), and waste_ppm — the metric
    that makes level-1 vs two-level packing comparable."""
    per_bin = packed.groupBy(*bin_cols).agg(F.sum("size").alias("fill"))
    return per_bin.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("fill").alias("total_size"),
        F.sum(
            F.when(F.col("fill") < capacity, F.lit(capacity) - F.col("fill"))
            .otherwise(F.lit(0))
        ).alias("waste"),
    ).select(
        "n_bins",
        "total_size",
        "waste",
        F.expr(f"waste * 1000000L div (n_bins * {capacity}L)").alias("waste_ppm"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = 8,
    mask: int = 32,
) -> DataFrame:
    """Content-defined chunking (Rabin-style CDC): cut the normalized
    text wherever the local `gram`-char hash lands on the mask
    (h % mask == 0, expected chunk length ≈ mask chars). Unlike the
    fixed windows of `chunk_documents`, boundaries move WITH the
    content, so an insertion early in a document changes only the
    chunks it touches — the chunk-level dedup/delta primitive
    (backup dedup, LLM near-dup at sub-document grain).

    JVM-side normalization + one Arrow-batched cut/fingerprint kernel
    (_cdc_rows): still a narrow map with zero shuffle, engine-portable
    (the oracle replays the identical cut rule; hashlib.md5 is
    bit-identical to the expression path — pinned by
    tests/test_round7_cdc.py). Output:
    (id, chunk_idx, chunk_len, chunk_md5).
    """
    rows = _cdc_rows(df, id_col, text_col, gram, mask, with_text=False)
    return rows.select(id_col, "chunk_idx", "chunk_len", "chunk_md5")


def _cdc_cut_starts(s: str, gram: int, mask: int) -> list[int]:
    """1-based chunk start positions of the normalized text ``s`` —
    position 1 plus every i in 2..len-gram+1 whose gram-char window
    hashes onto the mask. The hash is the first 60 bits of md5
    (sketches.portable_hash60), taken mod ``mask`` — hashlib replays
    it bit-for-bit (Python slicing counts code points exactly like
    Spark's substring, and md5 runs over the same UTF-8 bytes)."""
    import hashlib

    starts = [1]
    # substring(s, i, gram) == s[i-1 : i-1+gram] (1-based -> 0-based)
    for i in range(2, len(s) - (gram - 1) + 1):
        h = hashlib.md5(s[i - 1 : i - 1 + gram].encode("utf-8")).hexdigest()
        if int(h[:15], 16) % mask == 0:
            starts.append(i)
    return starts


def _cdc_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int,
    mask: int,
    with_text: bool,
    min_len: int = 0,
) -> DataFrame:
    """CDC chunk rows via ONE Arrow-batched kernel.

    The cut rule is a per-position md5 over a gram-char window; as a
    higher-order array filter that is interpreted expression eval per
    position (~35 us/element measured round 7 — 30+ s at sf1.0), while
    hashlib.md5 over the same bytes is native code (~1 us). The text
    is normalized IN THE JVM first (regexp_replace/lower/trim), so
    Java regex semantics are preserved and the kernel only slices and
    hashes. ``with_text`` additionally carries the chunk substring and
    the sentinel-proximity flag crossdoc needs; ``min_len`` drops
    normalized texts shorter than it (crossdoc's length > 0 filter).
    """
    import hashlib

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    d = df.select(F.col(id_col).alias("_id"), norm.alias("_t"))
    if min_len > 0:
        d = d.where(F.length("_t") >= min_len)
    # the normalized-doc table is narrow; fan it out so the kernel uses
    # every core when the source is a few scan partitions
    d = fan_out(d)

    id_field = df.schema[id_col].dataType
    fields = [
        T.StructField(id_col, id_field),
        T.StructField("chunk_idx", T.IntegerType()),
    ]
    if with_text:
        fields.append(T.StructField("chunk", T.StringType()))
    fields += [
        T.StructField("chunk_len", T.LongType()),
        T.StructField("chunk_md5", T.StringType()),
    ]
    if with_text:
        fields.append(T.StructField("near_sentinel", T.BooleanType()))
    schema = T.StructType(fields)

    def kernel(batches):
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in schema.fields}
            for did, s in zip(pdf["_id"], pdf["_t"]):
                if s is None:
                    # NULL text: the expression path emits one row with
                    # NULL chunk/len/md5 (CASE/size/coalesce null flow)
                    out[id_col].append(did)
                    out["chunk_idx"].append(0)
                    out["chunk_len"].append(None)
                    out["chunk_md5"].append(None)
                    if with_text:
                        out["chunk"].append(None)
                        out["near_sentinel"].append(None)
                    continue
                starts = _cdc_cut_starts(s, gram, mask)
                n = len(s)
                for k, st in enumerate(starts):
                    nxt = starts[k + 1] if k + 1 < len(starts) else n + 1
                    chunk = s[st - 1 : nxt - 1]
                    out[id_col].append(did)
                    out["chunk_idx"].append(k)
                    out["chunk_len"].append(nxt - st)
                    out["chunk_md5"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    if with_text:
                        out["chunk"].append(chunk)
                        # context: substr(max(st-gram,1), (nxt-st)+2*gram)
                        # (crossdoc.py sentinel-stability margin)
                        p = max(st - gram, 1)
                        ctx = s[p - 1 : p - 1 + (nxt - st) + 2 * gram]
                        out["near_sentinel"].append("\x1f" in ctx)
            yield pd.DataFrame(out)

    return d.mapInPandas(kernel, schema)
