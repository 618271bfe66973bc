"""Structured Streaming regularization: granules landing as files drive
an incrementally maintained regularized aggregate (SURVEY.md §2.9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ncagg_spark.config import AggregationConfig
from ncagg_spark.streaming.regularize import incremental_aggregate

T0_US = 1_704_153_600_000_000

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_granule(spark, path, lo, hi):
    rows = [(T0_US + i * 1_000_000, float(i)) for i in range(lo, hi)]
    spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("ts"), "value"
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.slow
def test_incremental_aggregate_catches_up_and_updates(spark, tmp_path):
    inp = str(tmp_path / "incoming")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    cfg = AggregationConfig(
        index_by="ts",
        cadence_hz=1.0,
        min_bound=T0_US / 1e6,
        max_bound=(T0_US + 30 * 1_000_000) / 1e6,
    )

    # granule 1 lands; run the stream to completion (availableNow)
    _write_granule(spark, inp, 0, 10)
    q = incremental_aggregate(spark, inp, out, ckpt, SCHEMA, cfg)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 30
    assert got.filter(~F.col("is_fill")).count() == 10

    # granule 2 lands later (slots 20..25); restart stream, state resumes
    # from the checkpoint and merges without double-counting granule 1
    _write_granule(spark, inp, 20, 25)
    q2 = incremental_aggregate(spark, inp, out, ckpt, SCHEMA, cfg)
    q2.awaitTermination(120)

    got = spark.read.parquet(out).orderBy("ts").collect()
    assert len(got) == 30
    real = [i for i, r in enumerate(got) if not r["is_fill"]]
    assert real == list(range(0, 10)) + list(range(20, 25))
    # values survived the merge
    assert got[22]["value"] == 22.0
    # gap 10..19 and tail 25..29 are fills
    assert all(got[i]["value"] is None for i in range(10, 20))
