"""Round-7 pin: the Arrow PQ kernels (residuals, code assignment)
must be bit-identical to the expression path they replaced — same cell argmax, same floor-quantization, same
argmin tie-breaks, same NULL flow for malformed rows."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from batch_import_spark.operators.similarity import (
    _cents_lit,
    _long_lit_2d,
    _long_lit_3d,
    _q_int,
    ivf_seed_centroids,
    pq_codebook_from_corpus,
    pq_encode,
)

PQ_SCALE = 1000


def _corpus(spark, n=200, dim=16, seed=13):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    rows.append((9_000, None))
    rows.append((9_001, [0.5] * (dim - 5)))  # short
    rows.append((9_002, [0.5] * (dim + 3)))  # long
    rows.append((9_003, [0.0] * dim))  # zero vector
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _nearest_cell(vec_col, centroids):
    """The pre-round-7 expression cell assignment, verbatim: nearest
    centroid by max dot product, ties to the lowest cell id."""
    vec = F.col(vec_col)
    best = F.array_max(
        F.transform(
            _cents_lit(centroids),
            lambda cv, i: F.struct(
                F.aggregate(
                    F.zip_with(vec, cv, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, v: a + v,
                ).alias("score"),
                (-i).alias("neg_cell"),
            ),
        )
    )
    return (-best["neg_cell"]).cast("int")


def _expr_encode(df, centroids, book, m_sub, scale=PQ_SCALE):
    """The pre-round-7 expression formulation, verbatim."""
    qcents_lit = _long_lit_2d(
        [[math.floor(x * scale) for x in cv] for cv in centroids]
    )
    c = df.select(F.col("vec_id"), F.col("embedding").alias("c_vec"))
    rq_base = c.withColumn(
        "cell", _nearest_cell("c_vec", centroids)
    ).withColumn(
        "rq",
        F.zip_with(
            _q_int(F.col("c_vec"), scale),
            F.get(qcents_lit, F.col("cell")),
            lambda a, b: a - b,
        ),
    ).drop("c_vec")
    ds = len(book[0][0])
    zero = F.lit(0).cast("long")
    book_lit = _long_lit_3d(book)
    return rq_base.withColumn(
        "codes",
        F.transform(
            F.sequence(F.lit(0), F.lit(m_sub - 1)),
            lambda m: F.array_min(
                F.transform(
                    F.get(book_lit, m),
                    lambda cw, j: F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.slice(F.col("rq"), m * ds + 1, ds),
                                cw,
                                lambda x, y: (x - y) * (x - y),
                            ),
                            zero,
                            lambda acc, x: acc + x,
                        ).alias("d"),
                        j.alias("j"),
                    ),
                )
            )["j"].cast("int"),
        ),
    ).select("vec_id", "cell", "codes", "rq")


def test_pq_encode_matches_expression_path(spark):
    df = _corpus(spark)
    well = df.where(F.col("vec_id") < 9_000)
    cents = ivf_seed_centroids(well, 8)
    book = pq_codebook_from_corpus(well, cents, 4, 8, skip=8)
    got = {
        r.vec_id: (r.cell, list(r.codes))
        for r in pq_encode(df, cents, book, m_sub=4).collect()
    }
    want = {
        r.vec_id: (r.cell, list(r.codes))
        for r in _expr_encode(df, cents, book, 4).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"vec {k}: {got[k]} != {want[k]}"
