"""Unsigned 64-bit handling — the decision SURVEY §7.5 item 4 calls for.

The reference supports the full numpy unsigned set for flag variables
(uint64 quality flags, test/exis/EXISL1bSFEU_remapping/
type1_config.json:461; dtype inference ncagg/config.py:322-334). Spark
has no unsigned types: parquet UINT_8/16/32 widen losslessly into
signed int/long on read, but UINT_64 arrives as ``decimal(20,0)`` —
exact, but every bitwise/flag operation on it leaves whole-stage
codegen's fast integer path.

DECISION: uint64 columns are normalized to **LongType bit-pattern** at
load time. Values >= 2^63 appear negative, but the 64 bits round-trip
exactly, bitwise flag tests (`&`, `|`, `shiftright`) work natively, and
joins/sorts on the column stay in the primitive fast path — at 100 TB
that beats dragging a 16-byte decimal through every flag predicate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 2^63 / 2^64 exceed a py4j long: build the literals via string->decimal
# (lazily — Column construction needs an active session)
def _two63() -> Column:
    return F.lit("9223372036854775808").cast("decimal(20,0)")


def _two64() -> Column:
    return F.lit("18446744073709551616").cast("decimal(21,0)")


def uint64_to_long_bits(col: Column) -> Column:
    """decimal(20,0) holding a uint64 -> LongType with the same 64 bits.

    Exact for the whole uint64 range: the wrap-around subtraction runs
    in decimal arithmetic before the narrowing cast.
    """
    c = col.cast("decimal(20,0)")
    return F.when(c >= _two63(), (c - _two64()).cast("long")).otherwise(
        c.cast("long")
    )


def normalize_unsigned(
    df: DataFrame, columns: "Sequence[str] | None" = None
) -> DataFrame:
    """Rewrite parquet-UINT_64 columns (Spark renders them decimal(20,0))
    to LongType bit-pattern. UINT_8/16/32 already arrive as signed
    widenings and pass through untouched.

    ``columns``, when given, names the columns the parquet footer proved
    to be UINT_64 (sources/tables.py:_uint64_cols) — ONLY those are
    rewritten, so genuine decimal(20,0) data can never be corrupted by
    the Spark-type heuristic. Without it, every decimal(20,0) column is
    assumed unsigned (suitable only for schemas known to carry no real
    20-digit decimals).
    """
    allowed = set(columns) if columns is not None else None
    out = []
    changed = False
    for f in df.schema.fields:
        if (
            isinstance(f.dataType, T.DecimalType)
            and f.dataType.precision == 20
            and f.dataType.scale == 0
            and (allowed is None or f.name in allowed)
        ):
            out.append(uint64_to_long_bits(F.col(f.name)).alias(f.name))
            changed = True
        else:
            out.append(F.col(f.name))
    return df.select(*out) if changed else df
