"""Unit tests on individual operators: normalization, projection,
coalesce-alternates, take_dim_indices, bounds, dedup determinism.
Style mirrors the reference's test/generic/ component tests.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ncagg_spark.operators.bounds import apply_bounds
from ncagg_spark.operators.dedup import cadence_bucket, dedup_cadence
from ncagg_spark.operators.normalize import drop_invalid_index, normalize_fills
from ncagg_spark.operators.projection import (
    coalesce_alternates,
    rename_columns,
    take_dim_indices,
)


def test_normalize_fills_sentinel_and_nan(spark):
    df = spark.createDataFrame(
        [(1, -9999.0), (2, 5.0), (3, float("nan")), (4, None)],
        "id long, v double",
    )
    out = normalize_fills(df, {"v": -9999.0}).orderBy("id").collect()
    assert [r["v"] for r in out] == [None, 5.0, None, None]


def test_normalize_fills_int_sentinel(spark):
    df = spark.createDataFrame([(1, 255), (2, 7)], "id long, flag int")
    out = normalize_fills(df, {"flag": 255}).orderBy("id").collect()
    assert [r["flag"] for r in out] == [None, 7]


def test_normalize_fills_untouched_columns(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], "id long, a double, b double")
    out = normalize_fills(df, {"a": 2.0}).collect()[0]
    assert out["a"] is None and out["b"] == 3.0


def test_drop_invalid_index_double(spark):
    df = spark.createDataFrame(
        [(1, 100.5), (2, 0.0), (3, -5.0), (4, float("nan")), (5, None)],
        "id long, ts double",
    )
    out = drop_invalid_index(df, "ts").collect()
    assert [r["id"] for r in out] == [1]


def test_drop_invalid_index_timestamp(spark):
    df = spark.createDataFrame([(1, 10**6), (2, 0), (3, -1)], "id long, us long")
    df = df.select("id", F.timestamp_micros(F.col("us")).alias("ts"))
    out = drop_invalid_index(df, "ts").collect()
    assert [r["id"] for r in out] == [1]


def test_coalesce_alternates_prefers_target(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 9.0), (2, None, 8.0), (3, None, None)],
        "id long, new double, old double",
    )
    out = coalesce_alternates(df, {"new": ["old"]}).orderBy("id").collect()
    assert [r["new"] for r in out] == [1.0, 8.0, None]
    assert "old" not in out[0].asDict()


def test_coalesce_alternates_missing_column_skipped(spark):
    df = spark.createDataFrame([(1, 2.0)], "id long, new double")
    out = coalesce_alternates(df, {"new": ["never_existed"]}).collect()
    assert out[0]["new"] == 2.0


def test_coalesce_alternates_all_missing_raises(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        coalesce_alternates(df, {"ghost": ["ghost2"]})


def test_take_dim_indices(spark):
    df = spark.createDataFrame([(1, [10.0, 20.0, 30.0])], "id long, arr array<double>")
    out = take_dim_indices(df, {"arr": 1}).collect()[0]
    assert out["arr"] == 20.0  # 0-based index 1


def test_rename_columns(spark):
    df = spark.createDataFrame([(1, 2.0)], "a long, b double")
    out = rename_columns(df, {"b": "c"})
    assert out.columns == ["a", "c"]


def test_apply_bounds_half_open(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    out = apply_bounds(df, "v", F.lit(2), F.lit(5)).collect()
    assert sorted(r["v"] for r in out) == [2, 3, 4]
    out2 = apply_bounds(df, "v", F.lit(2), F.lit(5), closed_end=True).collect()
    assert sorted(r["v"] for r in out2) == [2, 3, 4, 5]


def test_cadence_bucket_integer_micros(spark):
    df = spark.createDataFrame([(0,), (999_999,), (1_000_000,), (2_500_000,)], "us long")
    df = df.select(F.timestamp_micros(F.col("us")).alias("ts"))
    out = cadence_bucket(df, "ts", origin_us=0, step_us=1_000_000).collect()
    assert sorted(r["__bucket"] for r in out) == [0, 0, 1, 2]


def test_dedup_deterministic_under_shuffle(spark):
    # many same-bucket rows in random partition order: winner must be the
    # (ts, id) minimum regardless of physical layout (SURVEY §7.5.2)
    rows = [(5_000_000 + (i * 37) % 900_000, i) for i in range(100)]
    df = spark.createDataFrame(rows, "us long, id long").repartition(7)
    df = df.select(F.timestamp_micros(F.col("us")).alias("ts"), "id")
    df = cadence_bucket(df, "ts", origin_us=0, step_us=1_000_000)
    out = dedup_cadence(df, "ts", tiebreak=["id"]).collect()
    assert len(out) == 1
    best = min(rows)
    assert out[0]["id"] == best[1]


def test_promote_fixed_dim(spark):
    from ncagg_spark.operators.projection import promote_fixed_dim

    df = spark.createDataFrame(
        [(1, [10.0, 20.0]), (2, []), (3, None)],
        "id long, arr array<double>",
    )
    out = promote_fixed_dim(df, "arr").orderBy("id", "pos").collect()
    # element rows for id=1; empty/null arrays keep one row with nulls
    # (the reference's missing-dim "size 1 per file" semantics)
    assert [(r["id"], r["pos"], r["arr"]) for r in out] == [
        (1, 0, 10.0),
        (1, 1, 20.0),
        (2, None, None),
        (3, None, None),
    ]


def test_per_file_scalar_grain(spark):
    """The crota case (test/exis/EXISL1bSFXR_with_crota): per-file scalar
    variables become a per-file grain — one row per granule with the
    scalar attached, via the manifest with attr_cols."""
    from ncagg_spark.plans.manifest import FILE_COL, build_manifest

    rows = [
        (100.0, "f1", 0.75),
        (101.0, "f1", 0.75),
        (200.0, "f2", 0.80),
    ]
    df = spark.createDataFrame(rows, "ts double, src string, crota double")
    m = build_manifest(df, "ts", file_col="src", attr_cols=["crota"])
    got = {r[FILE_COL]: (r["crota"], r["row_count"]) for r in m.collect()}
    assert got == {"f1": (0.75, 2), "f2": (0.80, 1)}


def test_cadence_bucket_phase_nearest_slot(spark):
    """bucket_phase=0.5 assigns jittered records to their NEAREST slot
    (the reference's alignment): a record at k*step - 0.05s belongs to
    slot k, not k-1. Default phase 0 keeps floor semantics (the
    oracle-checked driver queries)."""
    from ncagg_spark.operators.dedup import cadence_bucket

    t0 = 1_704_153_600_000_000
    us = [t0 + 950_000, t0 + 1_050_000, t0 + 2_499_000, t0 + 2_501_000]
    df = spark.createDataFrame([(u,) for u in us], "us long").select(
        F.timestamp_micros(F.col("us")).alias("ts")
    )
    floor_b = [
        r[0]
        for r in cadence_bucket(df, "ts", t0, 1_000_000)
        .select("__bucket").orderBy("ts").collect()
    ]
    near_b = [
        r[0]
        for r in cadence_bucket(df, "ts", t0, 1_000_000, phase=0.5)
        .select("__bucket").orderBy("ts").collect()
    ]
    assert floor_b == [0, 1, 2, 2]
    assert near_b == [1, 1, 2, 3]
