"""``fan_out``: widen a starved scan to the session's parallelism."""

from datatest_spark.parallelism import fan_out


def test_single_split_parquet_is_repartitioned(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100


def test_wide_input_is_returned_as_is(spark):
    df = spark.range(0, 100, numPartitions=spark.sparkContext.defaultParallelism * 2)
    assert fan_out(df) is df
