"""Salted join (operators/skew.py): identical results, spread keys."""

from pyspark.sql import functions as F

from batch_import_spark.operators.skew import salted_join


def _skewed(spark):
    # one hot key (0) with 2000 rows, 50 cold keys
    rows = [(0, i) for i in range(2000)] + [(k, k * 100) for k in range(1, 51)]
    left = spark.createDataFrame(rows, "k long, payload long")
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(0, 51)], "k long, label string"
    )
    return left, right


def test_salted_join_equals_plain_join(spark):
    left, right = _skewed(spark)
    salted = salted_join(left, right, ["k"])
    plain = left.join(right, ["k"])
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_actually_spreads_hot_key(spark):
    left, right = _skewed(spark)
    salt = F.pmod(F.xxhash64(F.struct(*left.columns)), F.lit(8)).cast("int")
    n_salt_values = (
        left.where(F.col("k") == 0).select(salt.alias("s")).distinct().count()
    )
    assert n_salt_values >= 6  # 2000 hot rows land on ~all 8 salts
