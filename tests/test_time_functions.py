"""CF time conversion + partial-datetime bound parsing (reference
ncagg/cli.py:22-100 permutation sweep, test_cli_functionality.py style).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from ncagg_spark.functions.time import (
    cf_to_timestamp,
    parse_partial_datetime,
    timestamp_to_cf,
)

EPOCH_2000 = datetime(2000, 1, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_cf_roundtrip(spark):
    units = "seconds since 2000-01-01 12:00:00"
    df = spark.createDataFrame([(86400.0,), (0.0,), (1.5,)], "t double")
    out = df.select(
        cf_to_timestamp("t", units).alias("ts")
    ).select(timestamp_to_cf("ts", units).alias("t2")).collect()
    assert [r["t2"] for r in out] == [86400.0, 0.0, 1.5]


def test_cf_decode_epoch(spark):
    units = "seconds since 2000-01-01 12:00:00"
    df = spark.createDataFrame([(0.0,)], "t double")
    got = df.select(cf_to_timestamp("t", units).alias("ts")).collect()[0]["ts"]
    assert got.replace(tzinfo=timezone.utc) == EPOCH_2000


def test_cf_units_variants(spark):
    df = spark.createDataFrame([(1.0,)], "t double")
    for units, secs in [
        ("milliseconds since 2000-01-01", 0.001),
        ("minutes since 2000-01-01", 60),
        ("hours since 2000-01-01", 3600),
        ("days since 2000-01-01", 86400),
    ]:
        got = df.select(cf_to_timestamp("t", units).alias("ts")).collect()[0]["ts"]
        base = datetime(2000, 1, 1, tzinfo=timezone.utc)
        assert (got.replace(tzinfo=timezone.utc) - base).total_seconds() == secs


def test_cf_bad_units():
    with pytest.raises(ValueError):
        cf_to_timestamp(F.lit(0.0), "fortnights since 2000-01-01")
    with pytest.raises(ValueError):
        cf_to_timestamp(F.lit(0.0), "not a units string")


# --- partial datetime: the reference's YYYY[MM[DD[HH[MM]]]] sweep ---


@pytest.mark.parametrize(
    "spec,start,end",
    [
        ("2024", datetime(2024, 1, 1), datetime(2025, 1, 1)),
        ("202401", datetime(2024, 1, 1), datetime(2024, 2, 1)),
        ("202412", datetime(2024, 12, 1), datetime(2025, 1, 1)),
        ("20240102", datetime(2024, 1, 2), datetime(2024, 1, 3)),
        ("2024010203", datetime(2024, 1, 2, 3), datetime(2024, 1, 2, 4)),
        ("202401020304", datetime(2024, 1, 2, 3, 4), datetime(2024, 1, 2, 3, 5)),
    ],
)
def test_parse_partial_datetime(spec, start, end):
    lo, hi = parse_partial_datetime(spec)
    assert lo == start.replace(tzinfo=timezone.utc)
    assert hi == end.replace(tzinfo=timezone.utc)


def test_parse_partial_datetime_rejects_garbage():
    for bad in ("24", "2024-01", "20240102030405", "abcd", ""):
        with pytest.raises(ValueError):
            parse_partial_datetime(bad)
