"""Session defaults that change plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_persisted_shuffle_takes_coalesced_width(spark):
    # AQE coalesces the final stage of a cached plan too
    # (canChangeCachedPlanOutputPartitioning): a persisted groupBy
    # result keeps the coalesced width, not the 512-wide
    # initialPartitionNum ceiling every exchange is planned at
    df = (
        spark.range(10_000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .persist()
    )
    try:
        assert df.count() == 7
        width = df.rdd.getNumPartitions()
        assert width <= spark.sparkContext.defaultParallelism, width
    finally:
        df.unpersist()
