"""spread() and salted_agg() — the partition-shape utilities."""

from pyspark.sql import functions as F

from kamu_engine_flink_spark.functions.partitioning import salted_agg, spread


def test_spread_widens_narrow_input(spark):
    df = spark.range(0, 1000, 1, 2)
    assert spread(df).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_leaves_wide_input_alone(spark):
    wide = spark.range(0, 1000, 1, 64)
    assert spread(wide).rdd.getNumPartitions() == 64


def test_salted_agg_matches_plain_groupby(spark):
    # 90% of rows share one hot key — the salted path must still produce
    # exactly the plain groupBy result.
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    salted = salted_agg(
        df,
        ["k"],
        {
            "total": ("sum", "v"),
            "n": ("count", "v"),
            "lo": ("min", "v"),
            "hi": ("max", "v"),
        },
        salt_buckets=16,
    )
    plain = df.groupBy("k").agg(
        F.sum("v").alias("total"),
        F.count("v").alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
