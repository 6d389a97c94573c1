"""Round-7 pin: the semdedup Arrow kernels (cell assignment + pair
cosines) must be bit-identical to the zip_with/aggregate expression
path they replaced — same IEEE accumulation order, same tie-breaks,
same malformed-row flow."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _dot(a, b):
    """The zip_with/aggregate dot product of the replaced expression
    path."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _corpus(spark, n=300, dim=16, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
    # planted near-duplicates: exact scaled copies + tiny perturbations
    for i in range(12):
        base = rows[i][1]
        rows.append((10_000 + i, [x * 2.0 for x in base]))
        rows.append((20_000 + i, [x * (1.0 + 1e-9) for x in base]))
    # malformed: wrong length + zero vector
    rows.append((30_000, [0.0] * dim))
    rows.append((30_001, [1.0] * (dim - 3)))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_assignment_kernel_matches_expression_path(spark):
    from batch_import_spark.operators.semdedup import _assign_cells_arrow
    from batch_import_spark.operators.similarity import ivf_seed_centroids
    from test_round7_pq import _nearest_cell

    base = _corpus(spark).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    cents = ivf_seed_centroids(base, 8, "id", "v")
    got = {
        r.id: (r.cell, r.nrm)
        for r in _assign_cells_arrow(base, cents).collect()
    }
    want = {
        r.id: (r.cell, r.nrm)
        for r in base.withColumn("cell", _nearest_cell("v", cents))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], f"cell mismatch id={k}"
        # norms: bit-identical doubles (None stays None)
        assert got[k][1] == want[k][1], f"nrm mismatch id={k}"


def test_pair_kernel_matches_expression_path(spark):
    from batch_import_spark.operators.semdedup import (
        _assign_cells_arrow,
        _cell_pairs_arrow,
    )
    from batch_import_spark.operators.similarity import ivf_seed_centroids
    from test_round7_pq import _nearest_cell

    threshold = 0.95
    base = _corpus(spark).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    cents = ivf_seed_centroids(base, 8, "id", "v")
    small = _assign_cells_arrow(base, cents).localCheckpoint(eager=True)
    got = sorted(
        (r.cell, r.ia, r.ib)
        for r in _cell_pairs_arrow(small, threshold).collect()
    )

    jvm = base.withColumn("cell", _nearest_cell("v", cents)).withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    a = jvm.select(
        "cell", F.col("id").alias("ia"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = jvm.select(
        "cell", F.col("id").alias("ib"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = F.when(
        F.col("na") * F.col("nb") > 0,
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
    ).otherwise(F.lit(0.0))
    want = sorted(
        (r.cell, r.ia, r.ib)
        for r in a.join(b, "cell")
        .where(F.col("ia") < F.col("ib"))
        .where(F.round(cos, 6) >= threshold)
        .select("cell", "ia", "ib")
        .collect()
    )
    assert got == want and len(got) >= 12
