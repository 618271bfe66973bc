"""Sink layout: sorted output, date partitioning, and — the 100 TB
contract — verification that time predicates actually prune partitions
(PartitionFilters in the physical plan) and files.
"""

from __future__ import annotations

import io
import json
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ncagg_spark.sources.writer import write_aggregate

T0_US = 1_704_153_600_000_000  # 2024-01-02


@pytest.fixture()
def three_days(spark):
    rows = [
        (T0_US + d * 86_400_000_000 + i * 3_600_000_000, float(d * 100 + i))
        for d in range(3)
        for i in range(24)
    ]
    return spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("ts"), "value"
    )


def test_sorted_single_file(spark, three_days, tmp_path):
    out = str(tmp_path / "single")
    write_aggregate(three_days, out, order_by="ts", num_files=1)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1
    got = spark.read.parquet(out).collect()
    ts = [r["ts"] for r in got]
    assert ts == sorted(ts)


def test_attributes_sidecar(spark, three_days, tmp_path):
    out = str(tmp_path / "attrs")
    write_aggregate(
        three_days, out, order_by="ts", attributes={"mission": "X", "n": 3}
    )
    attrs = json.load(open(f"{out}/_attributes.json"))
    assert attrs == {"mission": "X", "n": 3}


def test_variable_attribute_dtype_casting(spark, tmp_path):
    """F4: write-time attr coercion mirrors ncagg/aggregator.py:400-414 —
    valid_min/max/_FillValue cast to the column dtype as scalars;
    valid_range/flag_masks/flag_values as typed arrays, accepting both
    list and CSV-string Config forms."""
    df = spark.createDataFrame(
        [(1, 1.5, 2, [0.1])],
        "flags int, temp double, code long, arr array<float>",
    )
    out = str(tmp_path / "varattrs")
    write_aggregate(
        df,
        out,
        variable_attributes={
            "flags": {
                "flag_masks": "1, 2, 4",       # CSV string -> [1, 2, 4]
                "flag_values": [1.0, 2.0],     # float list -> ints
                "valid_max": "7",              # string scalar -> int
                "units": "1",                  # not a cast attr: untouched
            },
            "temp": {
                "valid_min": "-10",            # string -> float
                "valid_range": ["-10", "50"],  # strings -> floats
                "_FillValue": -9999,           # int -> float
            },
            "code": {"valid_min": 3.9},        # float -> int (trunc, np-style)
            "arr": {"valid_max": "2.5"},       # element type (float) wins
        },
    )
    side = json.load(open(f"{out}/_attributes.json"))
    v = side["variables"]
    assert v["flags"] == {
        "flag_masks": [1, 2, 4],
        "flag_values": [1, 2],
        "valid_max": 7,
        "units": "1",
    }
    assert v["temp"] == {
        "valid_min": -10.0,
        "valid_range": [-10.0, 50.0],
        "_FillValue": -9999.0,
    }
    assert v["code"] == {"valid_min": 3}
    assert v["arr"] == {"valid_max": 2.5}


def test_uint64_flag_mask_attrs_exact(spark):
    """Scale-0 DecimalType is the uint64 carrier (functions/unsigned.py);
    flag masks above 2^53 must NOT round-trip through an IEEE double —
    2^63 would come back as 9223372036854775808.0 with the low bits gone.
    """
    from ncagg_spark.sources.writer import cast_variable_attributes

    df = spark.createDataFrame([("9223372036854775809",)], "flags string")
    schema = df.select(
        df["flags"].cast("decimal(20,0)").alias("flags")
    ).schema
    out = cast_variable_attributes(
        schema,
        {
            "flags": {
                "flag_masks": ["9223372036854775808", 2**63 + 1],
                "valid_max": 2**64 - 1,
            }
        },
    )
    assert out["flags"]["flag_masks"] == [2**63, 2**63 + 1]
    assert out["flags"]["valid_max"] == 2**64 - 1
    assert all(isinstance(v, int) for v in out["flags"]["flag_masks"])


def test_variable_attributes_unknown_column(spark, three_days, tmp_path):
    with pytest.raises(ValueError, match="not in output schema"):
        write_aggregate(
            three_days,
            str(tmp_path / "bad"),
            variable_attributes={"nope": {"valid_min": 0}},
        )


def test_date_partitioned_layout_and_pruning(spark, three_days, tmp_path):
    out = str(tmp_path / "by_date")
    write_aggregate(three_days, out, order_by="ts", partition_by_date=True)

    dirs = sorted(d for d in os.listdir(out) if d.startswith("dt="))
    assert dirs == ["dt=2024-01-02", "dt=2024-01-03", "dt=2024-01-04"]

    # a one-day predicate must reach the scan as a partition filter
    df = spark.read.parquet(out).filter(
        F.col("dt") == "2024-01-03"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "2024-01-03" in plan.split("PartitionFilters", 1)[1][:300]
    assert df.count() == 24
    # (df.inputFiles() reflects the unpruned relation, so the plan-level
    # PartitionFilters assertion above is the authoritative pruning check)


def test_partition_by_date_requires_order(three_days, tmp_path):
    with pytest.raises(ValueError):
        write_aggregate(
            three_days, str(tmp_path / "x"), partition_by_date=True
        )
