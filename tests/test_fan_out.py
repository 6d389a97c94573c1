"""session.fan_out: the one scan fan-out helper."""

from batch_import_spark.session import fan_out


def test_one_partition_read_fans_out_to_default_parallelism(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_wide_frame_comes_back_unchanged(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, numPartitions=n)
    assert fan_out(df) is df
