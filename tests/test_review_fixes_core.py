"""Regression tests for the core-operator review findings: watermarked
append-mode streaming dedup, incremental-merge schema projection,
unique_list null-skip, integer-index epoch floor, tie-broken global
positions and multidim cadence validation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ncagg_spark.config import AggregationConfig
from ncagg_spark.operators.flatten import global_position
from ncagg_spark.operators.multidim import regularize_multidim
from ncagg_spark.operators.normalize import drop_invalid_index
from ncagg_spark.streaming.regularize import (
    incremental_aggregate,
    stream_dedup_cadence,
    stream_granules,
)

T0_US = 1_704_153_600_000_000

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _cfg(**kw):
    base = dict(
        index_by="ts",
        cadence_hz=1.0,
        min_bound=T0_US / 1e6,
        max_bound=(T0_US + 10 * 1_000_000) / 1e6,
    )
    base.update(kw)
    return AggregationConfig(**base)


@pytest.mark.slow
def test_stream_dedup_append_mode_and_bounds(spark, tmp_path):
    """The windowed-aggregation form supports APPEND mode (watermark is
    recognized -> bounded state, late-drop active) and applies the batch
    pipeline's bounds: out-of-range records never open a slot."""
    inp = str(tmp_path / "in")
    rows = [
        (T0_US - 5_000_000, 99.0),   # before min_bound: dropped
        (T0_US + 100_000, 1.0),
        (T0_US + 400_000, 9.0),
        (T0_US + 1_200_000, 2.0),
        (T0_US + 11_000_000, 88.0),  # past max_bound: dropped
    ]
    spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("ts"), "value"
    ).coalesce(1).write.parquet(inp)

    deduped = stream_dedup_cadence(stream_granules(spark, inp, SCHEMA), _cfg())
    q = (
        deduped.writeStream.format("memory")
        .queryName("append_sink")
        .outputMode("append")  # previously raised AnalysisException
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(120)
    if not finished:
        q.stop()
        pytest.fail("streaming query did not finish within 120s")
    rows = spark.sql("SELECT * FROM append_sink").collect()
    # exact ROW count too: a dedup regression that emits one row per
    # input record would collapse invisibly in a dict comprehension
    assert len(rows) == 2
    got = {r["__bucket"]: r["value"] for r in rows}
    # availableNow end-of-stream advances the watermark past all slots
    assert got == {0: 1.0, 1: 2.0}


def test_stream_dedup_rejects_nearest_slot_phase(spark, tmp_path):
    inp = str(tmp_path / "in")
    spark.createDataFrame([(T0_US, 1.0)], "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("ts"), "value"
    ).write.parquet(inp)
    with pytest.raises(ValueError, match="floor slots"):
        stream_dedup_cadence(
            stream_granules(spark, inp, SCHEMA), _cfg(bucket_phase=0.5)
        )


@pytest.mark.slow
def test_incremental_merge_with_rename_and_alt(spark, tmp_path):
    """rename + copy_from_alt survive a second micro-batch: the raw
    batch is projected to the accumulated output's schema before the
    union (previously: AnalysisException on batch 2, stream stuck)."""
    inp = tmp_path / "in"
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    inp.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("v_old", T.DoubleType()),
        ]
    )
    cfg = _cfg(
        copy_from_alt={"v": ["v_old"]},
        rename={"v": "value_out"},
    )

    def granule(n, rows):
        spark.createDataFrame(rows, "us long, v_old double").select(
            F.timestamp_micros(F.col("us")).alias("ts"), "v_old"
        ).coalesce(1).write.parquet(str(inp / f"g{n}"))
        q = incremental_aggregate(
            spark, str(inp / "g*"), outp, ckpt, schema, cfg,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    granule(0, [(T0_US + 100_000, 1.0)])
    granule(1, [(T0_US + 2_100_000, 3.0)])
    out = spark.read.parquet(outp)
    assert "value_out" in out.columns and "v_old" not in out.columns
    real = {
        int(r["ts"].timestamp() - T0_US / 1e6): r["value_out"]
        for r in out.filter(~F.col("is_fill")).collect()
    }
    # full slot -> value mapping: values in the WRONG slots must fail
    assert real == {0: 1.0, 2: 3.0}
    assert out.count() == 10  # full grid with fills


def test_unique_list_skips_missing_files(spark):
    """One granule missing the attribute must not wipe the merged list
    (flatten() null-propagation)."""
    from ncagg_spark.plans.attributes import STRATEGIES, FILE_ORDER_COL

    man = spark.createDataFrame(
        [(0, "a, b"), (1, None), (2, "b, c")],
        f"{FILE_ORDER_COL} int, attr string",
    )
    got = man.agg(STRATEGIES["unique_list"]("attr", {}).alias("u")).collect()[0]["u"]
    assert got == "a, b, c"


def test_drop_invalid_index_integer_epoch(spark):
    df = spark.createDataFrame(
        [(0,), (None,), (T0_US,)], "tus long"
    )
    got = [r["tus"] for r in drop_invalid_index(df, "tus").collect()]
    assert got == [T0_US]


def test_global_position_deterministic_with_tiebreak(spark):
    rows = [(1.0, f"id{i}") for i in range(40)] + [(2.0, f"id{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "k double, id string").repartition(8)
    a = global_position(df, "k", tiebreak=["id"]).collect()
    b = global_position(df.repartition(5), "k", tiebreak=["id"]).collect()
    pos_a = {r["id"] + str(r["k"]): r["pos"] for r in a}
    pos_b = {r["id"] + str(r["k"]): r["pos"] for r in b}
    assert pos_a == pos_b
    assert sorted(pos_a.values()) == list(range(80))


def test_regularize_multidim_requires_cadence(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], 1.0)], "arr array<double>, v double"
    )
    cfg = AggregationConfig(index_by="rep")
    with pytest.raises(ValueError, match="cadence_hz"):
        regularize_multidim(
            spark, df, cfg, array_index_col="arr",
            inner_size=2, inner_hz=2.0,
        )


def test_drop_invalid_index_raw_ntz(spark):
    """A TIMESTAMP_NTZ index column the loader never touched must
    filter, not throw (NTZ cannot cast straight to double)."""
    df = spark.createDataFrame(
        [(0,), (T0_US,)], "us long"
    ).select(
        F.timestamp_micros("us").cast("timestamp_ntz").alias("ts")
    )
    got = drop_invalid_index(df, "ts").collect()
    assert len(got) == 1
