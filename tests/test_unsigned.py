"""uint64 flag columns: parquet UINT_64 -> LongType bit-pattern at load,
exact round-trip back to the unsigned value (SURVEY §7.5 item 4).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ncagg_spark.functions.unsigned import (
    normalize_unsigned,
    uint64_to_long_bits,
)

# spans both halves of the range: small, 2^63-1, 2^63, max
VALUES = [0, 1, 9223372036854775807, 9223372036854775808, 18446744073709551615]


def _write_uint64(path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "flags": pa.array(VALUES, type=pa.uint64()),
                "small": pa.array([1, 2, 3, 4, 5], type=pa.uint16()),
            }
        ),
        path,
    )


def test_uint64_reads_as_decimal_then_normalizes(spark, tmp_path):
    p = str(tmp_path / "u64.parquet")
    _write_uint64(p)
    raw = spark.read.parquet(p)
    assert isinstance(raw.schema["flags"].dataType, T.DecimalType)

    norm = normalize_unsigned(raw)
    assert isinstance(norm.schema["flags"].dataType, T.LongType)
    # uint16 widened to signed on read: untouched by normalization
    assert norm.schema["small"].dataType == raw.schema["small"].dataType

    bits = {r["flags"] for r in norm.collect()}
    assert bits == {0, 1, 9223372036854775807, -9223372036854775808, -1}


def test_uint64_round_trip_exact(spark, tmp_path):
    p = str(tmp_path / "u64rt.parquet")
    _write_uint64(p)
    df = normalize_unsigned(spark.read.parquet(p))
    # the bit pattern read back as unsigned is the written value
    back = [r["flags"] % 2**64 for r in df.collect()]
    assert sorted(back) == sorted(VALUES)


def test_bitwise_flag_ops_on_bit_pattern(spark):
    # the point of the decision: flag tests run on primitive longs
    df = spark.createDataFrame(
        [(v,) for v in (5, -1, -9223372036854775808)], "flags long"
    )
    got = df.select(
        (F.col("flags").bitwiseAND(F.lit(4)) != 0).alias("bit2"),
        F.shiftrightunsigned(F.col("flags"), 63).alias("msb"),
    ).collect()
    assert [(r["bit2"], r["msb"]) for r in got] == [
        (True, 0),   # 5 has bit 2
        (True, 1),   # all-ones: bit 2 set, msb set
        (False, 1),  # 2^63: only msb
    ]


def test_read_granules_normalizes_uint64(spark, tmp_path):
    from ncagg_spark.sources.granules import read_granules

    p = str(tmp_path / "g.parquet")
    _write_uint64(p)
    df = read_granules(spark, p, with_provenance=False)
    assert isinstance(df.schema["flags"].dataType, T.LongType)
    assert {r["flags"] for r in df.collect()} == {
        0, 1, 9223372036854775807, -9223372036854775808, -1
    }


def test_uint64_to_long_bits_from_decimal_literal(spark):
    df = spark.createDataFrame(
        [("18446744073709551615",), ("42",)], "v string"
    ).select(F.col("v").cast("decimal(20,0)").alias("v"))
    got = sorted(
        r["b"] for r in df.select(uint64_to_long_bits(F.col("v")).alias("b")).collect()
    )
    assert got == [-1, 42]
