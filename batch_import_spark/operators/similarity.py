"""Similarity search over embedding columns (array<float>).

Three paths:
- ``cosine_topk``   — exact brute force: broadcast the query set,
  dot products via zip_with/aggregate expressions (JVM codegen),
  per-query top-k via window. The correctness baseline.
- ``lsh_ann_topk``  — random-hyperplane LSH: deterministic
  hash-derived hyperplanes (no RNG state), sign-bit bucket key,
  multi-probe via several independent tables; candidates re-ranked
  exactly. The scale path: the join keys on (table, bucket) so only
  colliding vectors are compared.
- ``ivf_ann_topk``  — inverted-file (IVF) coarse quantization:
  deterministic seed centroids, argmax-dot cell assignment in
  codegen, n_probe cell routing per query, exact re-rank. The other
  scale path: candidate count is ~N·n_probe/n_cells, and the
  inverted lists partition cleanly by cell for storage-side pruning.

Scale notes: brute force is O(N·Q) — fine when Q is small and
broadcast; LSH turns it into a bucket join whose cost tracks bucket
occupancy. Embedding near-dup detection reuses the same kernels with
query set = corpus (self-join on buckets).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from batch_import_spark.operators.buckets import cap_hot_buckets
from batch_import_spark.session import fan_out, local_frame


def _seq_dot_matrix(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """All pairwise dots of the rows of V (n x d) against the rows of
    C (k x d) with the accumulation running over dimensions in
    ascending order — each (i, j) entry performs EXACTLY the IEEE-754
    step sequence of the JVM fold ``aggregate(zip_with(v, c, *),
    0.0, +)``, so results are bit-identical to the expression path
    (a plain matmul uses pairwise/blocked summation and is not)."""
    out = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(V.shape[1]):
        out += np.outer(V[:, d], C[:, d])
    return out


def _assign_cells_arrow(
    base: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """(id, v, cell, nrm) via one Arrow kernel — bit-identical to the
    argmax-dot expression path ``withColumn("cell", _nearest_cell(...))
    .withColumn("nrm", sqrt(dot(v, v)))`` that
    tests/test_round7_pq.py::_nearest_cell rebuilds (pinned by
    tests/test_round7_semdedup.py):

    - per-cell scores accumulate over dimensions in ascending order
      (same IEEE sequence as the zip_with fold);
    - argmax ties break to the lowest cell (np.argmax returns the
      first maximum, matching the (score, -cell) struct max), and a
      NaN score wins every comparison in both engines;
    - malformed rows (length != centroid dim, or a NULL element)
      make every cell score NULL in the expression path, whose
      struct-max then lands on cell 0 with a NULL norm — replayed
      verbatim here.
    """
    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    id_type = base.schema["id"].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("v", base.schema["v"].dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("nrm", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            # wrong-length vectors: the zip_with null-padding makes
            # every CELL SCORE null, whose struct-max is cell 0 — but
            # the self-norm zips the vector against itself (no
            # padding) and stays real. Element NULLs arrive as NaN
            # through Arrow and follow the NaN path (all-NaN scores
            # -> cell 0; NaN norm), same as the JVM's NaN-is-greatest
            # ordering. NULL vectors keep NULL norm.
            cells = np.zeros(n, dtype=np.int32)
            nrm_out: list = [None] * n
            by_len: dict[int, list[int]] = {}
            for i, v in enumerate(pdf["v"]):
                if v is not None:
                    by_len.setdefault(len(v), []).append(i)
            for ln, idxs in by_len.items():
                V = np.stack(
                    [np.asarray(pdf["v"].iloc[i], dtype=np.float64) for i in idxs]
                )
                NB = np.zeros(len(idxs), dtype=np.float64)
                for d in range(ln):
                    NB += V[:, d] * V[:, d]
                nv = np.sqrt(NB)
                am = (
                    np.argmax(_seq_dot_matrix(V, C), axis=1).astype(np.int32)
                    if ln == dim
                    else np.zeros(len(idxs), dtype=np.int32)
                )
                for j, i in enumerate(idxs):
                    cells[i] = am[j]
                    nrm_out[i] = float(nv[j])
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "v": pdf["v"],
                    "cell": cells,
                    "nrm": nrm_out,
                }
            )

    return base.mapInPandas(kernel, schema)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force).

    ``queries(query_id, embedding)`` is broadcast; the corpus is
    scanned once. Returns (query_id, vec_id, cosine, rank).
    """
    q = F.broadcast(
        queries.select(
            "query_id", F.col("embedding").alias("q_vec")
        )
    )
    c = corpus.select("vec_id", F.col("embedding").alias("c_vec"))
    scored = c.crossJoin(q).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


_PLANE_SEED = 11


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane.

    Components derive from a splitmix-style integer hash of
    (seed, table, plane, i) mapped to (-1, 1) — reproducible anywhere,
    no RNG state, no numpy dependency at plan-build time.
    """
    comps = []
    for i in range(dim):
        x = (_PLANE_SEED * 0x9E3779B97F4A7C15 + table * 0xBF58476D1CE4E5B9 + plane * 0x94D049BB133111EB + i) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        comps.append((x / 2**63) - 1.0)  # uniform-ish in [-1, 1)
    n = math.sqrt(sum(c * c for c in comps)) or 1.0
    return [c / n for c in comps]


def lsh_bucket(vec: Column, dim: int, table: int, num_planes: int = 12) -> Column:
    """Sign-bit bucket id of ``vec`` for one hash table (expression).

    Plane components stay full-precision doubles so the bucket id is
    reproducible by any engine evaluating the same dot product (the
    DuckDB oracle inlines these constants; a float32 truncation here
    would diverge at sign boundaries).

    The plane matrix is ONE Literal node (array<array<double>>) and
    the bucket is a single HOF aggregate — num_planes separate
    expression trees cost the analyzer/optimizer seconds of driver
    time per query (same pathology as the IVF centroid constants).
    """
    planes = F.lit([_hyperplane(dim, table, p) for p in range(num_planes)])
    return F.aggregate(
        F.transform(
            planes,
            lambda pl, i: F.when(dot(vec, pl) >= 0, F.pow(F.lit(2.0), i).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# public alias: oracle-SQL generators need the same plane constants
hyperplane = _hyperplane


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_tables: int = 4,
    num_planes: int = 12,
) -> DataFrame:
    """Approximate top-k: union of exact re-ranked bucket collisions
    over ``num_tables`` independent hyperplane tables. Buckets hash
    RAW vectors (the sign test is scale-invariant); re-rank uses
    cosine = dot/(|q|·|c|)."""
    c = corpus.select("vec_id", F.col("embedding").alias("c_vec"))
    q = queries.select(
        "query_id", F.col("embedding").alias("q_vec")
    )
    c_buckets = c.select(
        "vec_id",
        "c_vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket(F.col("c_vec"), dim, t, num_planes).alias("bucket"),
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("tb"),
    )
    q_buckets = q.select(
        "query_id",
        "q_vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket(F.col("q_vec"), dim, t, num_planes).alias("bucket"),
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("tb"),
    )
    cand = (
        c_buckets.join(F.broadcast(q_buckets), "tb")
        .dropDuplicates(["query_id", "vec_id"])
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _cents_lit(centroids: list[list[float]]) -> Column:
    """The centroid matrix as ONE Literal node (array<array<double>>).

    A single plan constant: the 1000+ doubles are DATA — one AST
    node for the analyzer/optimizer/AQE to walk, one constant object
    in codegen. (The earlier variants — n_cells separate expression
    trees, or a parsed SQL literal of 1000+ nodes — cost seconds of
    DRIVER time per run just re-walking the tree.)
    """
    return F.lit([[float(x) for x in cent] for cent in centroids])


def _cell_scores(vec_col: str, centroids: list[list[float]]) -> Column:
    """array<double> of dot(vec, centroid_i) per cell — one HOF pass."""
    vec = F.col(vec_col)
    return F.transform(
        _cents_lit(centroids),
        lambda cv: F.aggregate(
            F.zip_with(vec, cv, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
        ),
    )


def ivf_seed_centroids(
    corpus: DataFrame, n_cells: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic coarse-quantizer seeds: the unit-normalized
    vectors of the ``n_cells`` lowest ids (k-means-style init without
    RNG state, so any engine can reproduce the cells). Raw vectors
    are collected and normalized driver-side — Python's sequential
    ``sum`` is the same left-to-right IEEE accumulation as the
    engines' dot products, so the centroids are bit-identical."""
    import math as _math

    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(n_cells)
        .collect()
    )
    out = []
    for r in rows:
        v = [float(x) for x in r.v]
        n = _math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / n for x in v])
    return out


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    ``n_cells`` inverted lists, route each query to its ``n_probe``
    nearest cells, re-rank candidates exactly.

    The scale path for large corpora: assignment is one codegen scan
    (centroids are broadcast literals), the candidate join touches
    ~N·n_probe/n_cells vectors per query instead of N, and the
    inverted lists can be written out partitioned by ``cell`` so
    repeated query batches prune partitions at the parquet scan.

    Vectors stay RAW end-to-end: centroids are unit, so argmax-dot
    assignment and probe routing are invariant to each row's positive
    norm, and the exact re-rank computes cosine as
    dot(q, c) / (|q|·|c|). Normalizing the corpus column instead
    looks harmless but the optimizer inlines the per-element
    norm recomputation into every HOF lambda reference — a measured
    14× row-cost blowup.
    """
    centroids = ivf_seed_centroids(corpus, n_cells, "vec_id", "embedding")
    # corpus assignment via the Arrow kernel (bit-identical to the
    # argmax-dot expression path; the kernel's per-row norm is the same
    # sqrt(sequential sum of squares) l2_norm computes, so the
    # re-rank below reuses it instead of re-folding the corpus vector
    # twice per candidate pair)
    assigned = _assign_cells_arrow(
        corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
        centroids,
    ).select(
        F.col("id").alias("vec_id"),
        F.col("v").alias("c_vec"),
        "cell",
        F.col("nrm").alias("c_nrm"),
    )
    q = queries.select(
        "query_id", F.col("embedding").alias("q_vec")
    )
    probes = (
        q.select(
            "query_id",
            "q_vec",
            F.posexplode(_cell_scores("q_vec", centroids)).alias("cell", "score"),
        )
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("score").desc(), F.col("cell").asc()
                )
            ),
        )
        .where(F.col("prank") <= n_probe)
        .drop("score", "prank")
        # probes are tiny by contract (Q × n_probe rows — the side that
        # gets broadcast anyway); materializing them keeps the centroid
        # constant out of the broadcast subplan that AQE re-optimizes
        .localCheckpoint(eager=True)
    )
    # cells are disjoint and probes are distinct per query → no dedup
    # needed. Cosine denominator from per-ROW norms (q_nrm computed
    # once per probe row, c_nrm from the assignment kernel): the same
    # sqrt(sequential-sum-of-squares) value l2_norm yields, evaluated
    # once per side instead of twice per candidate pair.
    probes = probes.withColumn("q_nrm", l2_norm(F.col("q_vec")))
    denom = F.col("q_nrm") * F.col("c_nrm")
    cos = F.when(
        denom > 0, dot(F.col("q_vec"), F.col("c_vec")) / denom
    ).otherwise(F.lit(0.0))
    cand = assigned.join(F.broadcast(probes), "cell").select(
        "query_id",
        "vec_id",
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


#: Fixed-point scale for PQ integer quantization: floor(x * PQ_SCALE)
#: is exact in IEEE double for |x| < 2^43, so the quantized vectors,
#: residuals, codes, and ADC distances are BIGINTs any engine
#: reproduces bit-for-bit (the "register-exact" sketch discipline).
PQ_SCALE = 1000


def _q_int(vec: Column, scale: int = PQ_SCALE) -> Column:
    return F.transform(vec, lambda x: F.floor(x * scale).cast("long"))


def pq_codebook_from_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
    m_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = PQ_SCALE,
    skip: int = 0,
) -> list[list[list[int]]]:
    """Deterministic data-seeded integer PQ codebook: codeword j of
    subspace m is the quantized IVF residual sub-vector of the
    (skip + j)-th lowest-id corpus vector (k-means-style init without
    RNG, same closed-form-replay discipline as ivf_seed_centroids,
    and data-adaptive — codewords live in the residual distribution,
    so recall beats hash-uniform codewords). ``skip`` MUST jump past
    the IVF centroid seeds: those vectors ARE the (normalized)
    centroids, so their residuals are ~zero and seeding from them
    degenerates the whole codebook to zero codewords (observed:
    recall collapses to ~0.2). Only skip + k_codes vectors reach the
    driver. Python's sequential loops use the same left-to-right IEEE
    accumulation as the engines' dot products, so the cell
    assignment — the one float step — matches both engines; all later
    arithmetic is BIGINT."""
    import math as _math

    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(skip + k_codes)
        .collect()
    )[skip:]
    if len(rows) != k_codes:
        raise ValueError(
            f"pq_codebook_from_corpus: corpus has fewer than "
            f"skip + k_codes = {skip} + {k_codes} rows "
            f"(got {len(rows)} after the skip slice); a full codebook "
            f"needs at least {skip + k_codes} vectors"
        )
    dim = len(centroids[0])
    ds = dim // m_sub
    qcents = [[_math.floor(x * scale) for x in cv] for cv in centroids]
    book: list[list[list[int]]] = [[] for _ in range(m_sub)]
    for r in rows:
        v = [float(x) for x in r.v]
        best_d, best_c = None, 0
        for ci, cv in enumerate(centroids):
            d = 0.0
            for a, b in zip(v, cv):
                d += a * b
            if best_d is None or d > best_d:
                best_d, best_c = d, ci
        qv = [_math.floor(x * scale) for x in v]
        rq = [qv[i] - qcents[best_c][i] for i in range(dim)]
        for m in range(m_sub):
            book[m].append(rq[m * ds : (m + 1) * ds])
    return book


def _long_lit_2d(arr: list[list[int]]) -> Column:
    # ONE nested-list literal + one cast: building this element-wise
    # (F.lit + .cast per element) costs two py4j round-trips per
    # element — measured ~2.5 s of pure driver latency per 1000-value
    # constant, which dominated the whole query at bench scale
    return F.lit([[int(x) for x in row] for row in arr]).cast(
        "array<array<bigint>>"
    )


def _long_lit_3d(arr: list[list[list[int]]]) -> Column:
    return F.lit(
        [[[int(x) for x in cw] for cw in sub] for sub in arr]
    ).cast("array<array<array<bigint>>>")


def _pq_residuals(
    corpus: DataFrame,
    centroids: list[list[float]],
    scale: int = PQ_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, rq): IVF cell + quantized integer residual per
    vector — the encode front half, shared by full and incremental
    index builds. Materialized (localCheckpoint) BEFORE the
    code-assignment projection: CollapseProject would otherwise
    inline the argmax-dot cell scan and the residual zip_with into
    every one of the m_sub x k_codes codebook lambda references — a
    measured ~14x blowup (12 s -> ~1 s at sf0.1). At production scale
    this table is persisted storage anyway (the codes ARE the
    compressed index)."""
    C = np.asarray(centroids, dtype=np.float64)
    qcents = np.asarray(
        [[math.floor(x * scale) for x in cv] for cv in centroids],
        dtype=np.int64,
    )
    id_type = corpus.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("cell", T.IntegerType()),
            T.StructField("rq", T.ArrayType(T.LongType())),
        ]
    )
    base = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    )

    def kernel(batches):
        for pdf in batches:
            cells, rq_out = _pq_cell_rq_rows(pdf, C, qcents, scale)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cells, "rq": rq_out}
            )

    return base.mapInPandas(kernel, schema).localCheckpoint(eager=False)


def _pq_cell_rq_rows(pdf, centroids_np, qcents_np, scale):
    """Per-batch cell assignment + quantized residual, replicating the
    expression path exactly (see _pq_encode_arrow): returns
    (cells int32 array, rq list-of-lists with None for the null
    positions the zip_with padding produces on malformed rows)."""
    C = centroids_np
    dim_cent = C.shape[1]
    n = len(pdf)
    cells = np.zeros(n, dtype=np.int32)
    rq_out: list = [None] * n
    fast_idx, fast_rows = [], []
    for i, v in enumerate(pdf["v"]):
        if v is not None and len(v) == dim_cent:
            fast_idx.append(i)
            fast_rows.append(np.asarray(v, dtype=np.float64))
        elif v is not None:
            a = np.asarray(v, dtype=np.float64)
            if not np.isfinite(a).all():
                raise ValueError(
                    "pq encode: non-finite embedding value (the ANSI "
                    "floor->long cast fails on it in the expression path)"
                )
            # wrong length: every cell score is NULL -> cell 0; the
            # residual zip_with pads the shorter side with NULL
            L = len(a)
            real = min(L, dim_cent)
            qv = np.floor(a * scale).astype(np.int64)
            row = [None] * max(L, dim_cent)
            for p in range(real):
                row[p] = int(qv[p] - qcents_np[0][p])
            rq_out[i] = row
        # v is None: cell 0, rq NULL (rq_out stays None)
    if fast_rows:
        V = np.stack(fast_rows)
        if not np.isfinite(V).all():
            raise ValueError(
                "pq encode: non-finite embedding value (the ANSI "
                "floor->long cast fails on it in the expression path)"
            )
        am = np.argmax(_seq_dot_matrix(V, C), axis=1)
        qv = np.floor(V * scale).astype(np.int64)
        rq = qv - qcents_np[am]
        for j, i in enumerate(fast_idx):
            cells[i] = am[j]
            rq_out[i] = [int(x) for x in rq[j]]
    return cells, rq_out


def _rq_norm(rq):
    """Normalize an Arrow-roundtripped residual row to a
    list-with-None: array<long> columns containing NULL elements
    arrive in pandas as float64 arrays with NaN."""
    if rq is None:
        return None
    a = np.asarray(rq)
    if a.dtype.kind == "f":
        return [None if np.isnan(x) else int(x) for x in a]
    return [int(x) for x in a]


def _pq_codes_from_rq(rq_row, B, m_sub, ds):
    """Codes for one residual list (may contain None) — argmin-L2²
    per subspace, ties to the lowest code; a subspace whose slice
    touches a NULL (or runs past the array) gets the all-NULL-distance
    struct-min, which is code 0."""
    if rq_row is None:
        return [0] * m_sub
    out = []
    L = len(rq_row)
    for m in range(m_sub):
        lo, hi = m * ds, (m + 1) * ds
        seg = rq_row[lo:hi]
        if hi > L or any(x is None for x in seg):
            out.append(0)
            continue
        sub = np.asarray(seg, dtype=np.int64)
        D = ((sub[None, :] - B[m]) ** 2).sum(axis=1)
        out.append(int(np.argmin(D)))
    return out


def _pq_assign_codes_arrow(
    rq_df: DataFrame, book: list[list[list[int]]], m_sub: int
) -> DataFrame:
    """(vec_id, cell, codes) from a residual table — the Arrow twin of
    the expression-path code assignment that
    tests/test_round7_pq.py::_expr_encode rebuilds (argmin-L2² per
    subspace over the frozen codebook, ties -> lowest code; all-int64,
    so exact in any summation order; NULL-touching subspaces -> code
    0, the all-NULL-distance struct-min)."""
    B = np.asarray(book, dtype=np.int64)
    _, k_codes, ds = B.shape
    dim = m_sub * ds
    schema = T.StructType(
        [
            T.StructField("vec_id", rq_df.schema["vec_id"].dataType),
            T.StructField("cell", rq_df.schema["cell"].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            rqs = [_rq_norm(x) for x in pdf["rq"]]
            n = len(pdf)
            codes_out: list = [None] * n
            fast = [
                i
                for i, rq in enumerate(rqs)
                if rq is not None
                and len(rq) == dim
                and all(x is not None for x in rq)
            ]
            if fast:
                RQ = np.asarray([rqs[i] for i in fast], dtype=np.int64)
                codes = np.zeros((len(fast), m_sub), dtype=np.int32)
                for m in range(m_sub):
                    sub = RQ[:, m * ds : (m + 1) * ds]
                    diff = sub[:, None, :] - B[m][None, :, :]
                    D = np.einsum("ijk,ijk->ij", diff, diff)
                    codes[:, m] = np.argmin(D, axis=1)
                for j, i in enumerate(fast):
                    codes_out[i] = [int(x) for x in codes[j]]
            for i in range(n):
                if codes_out[i] is None:
                    codes_out[i] = _pq_codes_from_rq(rqs[i], B, m_sub, ds)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "codes": codes_out,
                }
            )

    return rq_df.mapInPandas(kernel, schema)


def _pq_encode_arrow(
    corpus: DataFrame,
    centroids: list[list[float]],
    book: list[list[list[int]]],
    m_sub: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, cell, codes) in ONE Arrow kernel — bit-identical to
    the expression path (rebuilt and pinned by
    tests/test_round7_pq.py::_expr_encode): the cell argmax
    accumulates dots over dimensions in ascending order (the zip_with
    fold's IEEE sequence; ties to the lowest cell), quantization
    replays floor(x*scale) per element, and everything after
    quantization is int64 (exact in any summation order). The
    interpreted higher-order path costs ~1024 lambda evals per vector;
    this is three vectorized numpy passes."""
    C = np.asarray(centroids, dtype=np.float64)
    qcents = np.asarray(
        [[math.floor(x * scale) for x in cv] for cv in centroids],
        dtype=np.int64,
    )
    B = np.asarray(book, dtype=np.int64)
    _, k_codes, ds = B.shape
    dim_cent = C.shape[1]
    id_type = corpus.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )
    base = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    )

    def kernel(batches):
        for pdf in batches:
            cells, rq_out = _pq_cell_rq_rows(pdf, C, qcents, scale)
            n = len(pdf)
            codes_out: list = [None] * n
            # vectorized codes for the uniform rows
            fast = [
                i
                for i in range(n)
                if rq_out[i] is not None
                and len(rq_out[i]) == dim_cent
                and all(x is not None for x in rq_out[i])
            ]
            if fast:
                RQ = np.asarray([rq_out[i] for i in fast], dtype=np.int64)
                codes = np.zeros((len(fast), m_sub), dtype=np.int32)
                for m in range(m_sub):
                    hi = (m + 1) * ds
                    if hi <= dim_cent:
                        sub = RQ[:, m * ds : hi]
                        diff = sub[:, None, :] - B[m][None, :, :]
                        D = np.einsum("ijk,ijk->ij", diff, diff)
                        codes[:, m] = np.argmin(D, axis=1)
                for j, i in enumerate(fast):
                    codes_out[i] = [int(x) for x in codes[j]]
            for i in range(n):
                if codes_out[i] is None:
                    codes_out[i] = _pq_codes_from_rq(rq_out[i], B, m_sub, ds)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cells, "codes": codes_out}
            )

    return base.mapInPandas(kernel, schema)


def pq_encode(
    corpus: DataFrame,
    centroids: list[list[float]],
    book: list[list[list[int]]],
    m_sub: int = 8,
) -> DataFrame:
    """Encode vectors against FROZEN quantizers -> (vec_id, cell,
    codes). Row-local by construction (cell argmax + residual + code
    argmin touch only the row and two broadcast literals), which is
    what makes the index incrementally maintainable: encode(A) UNION
    encode(B) == encode(A ∪ B) exactly, for any split."""
    return _pq_encode_arrow(
        corpus, centroids, book, m_sub, PQ_SCALE, "vec_id", "embedding"
    )


def ivf_pq_extend(
    index: DataFrame,
    batch: DataFrame,
    centroids: list[list[float]],
    book: list[list[list[int]]],
    m_sub: int = 8,
) -> DataFrame:
    """Fold a landing vector batch into a standing IVF-PQ index
    WITHOUT re-quantizing the corpus — the similarity twin of
    pipeline/kg.py's incremental edge fold. ``index`` is the standing
    (vec_id, cell, codes) postings table (pq_encode output /
    persisted storage); only the batch rows are encoded (frozen
    centroids + codebook), then unioned in. Per-batch cost is
    proportional to the batch — at 100 TB the standing corpus is
    never touched. Centroid/codebook drift under distribution shift
    is handled by periodic full rebuilds (the standard IVF practice),
    not by this fold."""
    return index.select("vec_id", "cell", "codes").unionByName(
        pq_encode(batch, centroids, book, m_sub)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    k: int = 10,
) -> DataFrame:
    """IVF-PQ with residual quantization (Jégou et al. 2011, the
    100 TB ANN storage path): coarse IVF cells + per-subspace integer
    product-quantization of the residual, scored by asymmetric
    distance computation (ADC) against the query's residual.

    Storage per vector after encoding: one cell id + ``m_sub`` codes
    of log2(k_codes) bits — 8 codes x 4 bits = 4 B at the defaults
    (plus the id), vs ~3 KB for a raw 64-dim float vector; the
    codebook is k_codes·dim integers, a broadcast literal.

    Exactness discipline: quantization (floor(x·scale)), residuals,
    code assignment (argmin L2², ties → lowest code), and ADC
    distances are all BIGINT — register-exact across engines like the
    sketch family; only the cell argmax touches floats (the already-
    oracle-proven IVF step). Returns (query_id, vec_id, rank,
    adc_dist); approximate by construction — recall vs exact top-k is
    pinned in pytest.

    Scale shape: encoding is one codegen scan (centroid + codebook
    literals, zero shuffle); the query side joins candidates by cell
    exactly like ivf_ann_topk, but candidates carry only (id, cell,
    codes) — never the raw vectors, so the shuffle/broadcast payload
    drops by the same ~100x as the storage.
    """
    centroids = ivf_seed_centroids(corpus, n_cells, "vec_id", "embedding")
    book = pq_codebook_from_corpus(
        corpus, centroids, m_sub, k_codes, "vec_id", "embedding", PQ_SCALE,
        skip=n_cells,
    )
    dim = len(centroids[0])
    ds = dim // m_sub
    zero = F.lit(0).cast("long")
    rq_base = _pq_residuals(corpus, centroids, PQ_SCALE, "vec_id", "embedding")
    assigned = _pq_assign_codes_arrow(rq_base, book, m_sub)
    # Query side: queries are small by contract (the same broadcast
    # assumption every path in this module makes), so the classic ADC
    # LOOKUP TABLE — per (query, probed cell): the m_sub x k_codes
    # integer distances from the query residual to every codeword —
    # is computed driver-side in exact integer arithmetic and shipped
    # as a broadcast probe table. Doing this with literal-array
    # expressions instead costs seconds of Catalyst compile per query
    # batch (the 1000-node constant trees dominate wall clock at
    # bench scale; measured ~10 s -> ~3 s), and the scan side then
    # reduces to one array lookup per (candidate, subspace).
    spark = corpus.sparkSession
    qcents = [[math.floor(x * PQ_SCALE) for x in cv] for cv in centroids]
    probe_rows = []
    for r in queries.select(
        "query_id", F.col("embedding").alias("v")
    ).collect():
        v = [float(x) for x in r.v]
        scores = []
        for ci, cv in enumerate(centroids):
            d = 0.0
            for a, b2 in zip(v, cv):
                d += a * b2
            scores.append((-d, ci))
        qv = [math.floor(x * PQ_SCALE) for x in v]
        for _, cell in sorted(scores)[:n_probe]:
            rqq = [qv[i] - qcents[cell][i] for i in range(dim)]
            qdist = [
                [
                    sum(
                        (rqq[m * ds + i] - book[m][j][i]) ** 2
                        for i in range(ds)
                    )
                    for j in range(len(book[m]))
                ]
                for m in range(m_sub)
            ]
            probe_rows.append((r.query_id, cell, qdist))
    # integer query ids by contract (matches the corpus id space);
    # a string-keyed caller should map ids before/after
    probes = local_frame(
        spark, probe_rows, "query_id long, cell int, qdist array<array<long>>"
    )
    cand = assigned.join(F.broadcast(probes), "cell")
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m_sub - 1)),
            lambda code, m: F.get(F.get(F.col("qdist"), m), code),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    scored = cand.select(
        "query_id", "vec_id", adc.cast("long").alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_tables: int = 4,
    num_planes: int = 10,
) -> DataFrame:
    """(id_a, id_b, cosine ≥ threshold) via LSH-bucketed self-join.

    Buckets hash RAW vectors (sign test is scale-invariant); the
    verify step computes cosine = dot/(|a|·|b|). The candidate
    self-join shuffles SCALAR rows only — (table·bucket, id) — and the
    full vectors are joined back *after* the (id_a, id_b) dedup for
    the cosine verify, so at dim=768+ the candidate shuffle volume is
    not multiplied by ``num_tables`` × vector payload (the same
    count-join discipline as minhash_near_duplicates). Buckets are
    capped by the degenerate-bucket guard
    (operators.buckets.cap_hot_buckets): e.g. zero/constant vectors all
    land in one bucket per table; over-cap buckets are dropped lazily
    in-plan before the self-join."""
    c = corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    buckets = c.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket(F.col("v"), dim, t, num_planes).alias("bucket"),
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("tb"),
    )
    buckets = cap_hot_buckets(buckets, ["tb"])
    cand = (
        buckets.join(buckets.select("tb", F.col("id").alias("id_b")), "tb")
        .where(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.join(c.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(c.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .withColumn("cosine", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training:
    per query, the exact top-k most-similar vectors whose LABEL
    differs from the query's — the negatives closest to the decision
    boundary, the ones that actually move an embedding model
    (in-batch random negatives are mostly trivial). Returns
    (query_id, vec_id, cosine, rank) with the cosine_topk
    round-then-rank tie discipline.

    Brute-force exact over a broadcast query set (the cosine_topk
    plan — corpus scanned once, no shuffle); at 100 TB the same
    ranking composes behind ivf_pq_topk candidate pruning instead of
    the full scan."""
    q = F.broadcast(
        queries.select(
            "query_id",
            F.col("embedding").alias("q_vec"),
            F.col("label").alias("q_label"),
        )
    )
    c = corpus.select(
        "vec_id",
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    scored = (
        c.crossJoin(q)
        .where(F.col("c_label") != F.col("q_label"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
