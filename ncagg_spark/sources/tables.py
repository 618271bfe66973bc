"""Table loader that normalizes parquet timestamp layouts.

The driver's testdata has shipped two different physical layouts across
rounds:

  * ``timestamp[ns]`` (nanosecond INT64) — Spark cannot read natively;
    with ``spark.sql.legacy.parquet.nanosAsLong=true`` they arrive as
    LongType nanos, which we convert to TimestampType via integer
    microsecond truncation (matching DuckDB's ns->us truncation exactly,
    which matters for oracle hash parity).
  * ``timestamp[us]`` with no timezone (isAdjustedToUTC=false) — Spark
    reads these as TIMESTAMP_NTZ, which ``unix_micros`` et al. reject.
    The session timezone is pinned UTC (session.py), so casting NTZ ->
    TimestampType is value-exact; we do it here, once, at the read
    boundary so every downstream operator sees plain TimestampType.

Time-range bounds are applied against the column's NATIVE type before any
conversion, so the range predicate reaches the parquet scan as a pushed
filter and row-group/file min-max stats prune. At 100 TB this is the
difference between scanning a day and scanning a year.

Schema inspection reads only file metadata (no data IO) — cheap even for
100 TB tables (one footer read).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


# Per-path footer schema cache: one driver-side metadata read per path
# per process, shared by _timestamp_layout and _uint64_cols.  The driver
# testdata is immutable within a run; for long-lived sessions over
# mutable paths call clear_schema_cache().  Keyed by the raw path string
# (the granularity callers use).
_SCHEMA_CACHE: dict[str, pa.Schema] = {}


def _footer_schema(path: str) -> pa.Schema:
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        schema = pa_ds.dataset(path, format="parquet").schema
        _SCHEMA_CACHE[path] = schema
    return schema


def clear_schema_cache() -> None:
    """Drop cached footer schemas (e.g. after rewriting a table in place)."""
    _SCHEMA_CACHE.clear()


def _timestamp_layout(path: str) -> tuple[list[str], list[str]]:
    """Footer probe -> (nanos_cols, us_ntz_cols).

    ``nanos_cols``: parquet timestamp[ns] — needs the nanosAsLong legacy
    read + manual conversion. ``us_ntz_cols``: non-nanos timestamps with
    no timezone — Spark reads TIMESTAMP_NTZ (since inferTimestampNTZ
    defaults on); we cast to TimestampType post-read.
    """
    schema = _footer_schema(path)
    nanos, ntz = [], []
    for f in schema:
        if not pat.is_timestamp(f.type):
            continue
        if f.type.unit == "ns":
            nanos.append(f.name)
        elif f.type.tz is None:
            ntz.append(f.name)
    return nanos, ntz


def _uint64_cols(path: str) -> list[str]:
    """Columns that are genuinely parquet UINT_64 per the footer — the
    only ones unsigned normalization may touch (a decimal(20,0) Spark
    type alone could be real decimal data)."""
    return [f.name for f in _footer_schema(path) if f.type == pa.uint64()]


def _ntz_literal(epoch_us: int):
    """A true TIMESTAMP_NTZ literal for the given UTC epoch micros.

    Built as a SQL literal (constant, foldable) so a range predicate on an
    NTZ column stays same-typed and pushes down to the parquet scan — a
    cast-wrapped comparison would analyze fine but block pushdown.
    """
    dt = datetime(1970, 1, 1) + timedelta(microseconds=epoch_us)
    return F.expr(f"TIMESTAMP_NTZ '{dt.strftime('%Y-%m-%d %H:%M:%S.%f')}'")


def convert_nanos_cols(df: DataFrame, names: set[str] | list[str]) -> DataFrame:
    """Convert nanos-as-long columns to TimestampType (microsecond
    truncation, DuckDB-compatible). Only columns Spark actually read as
    LongType are touched — pyarrow also reports INT96 timestamps as
    timestamp[ns], but Spark reads those as TimestampType already."""
    long_cols = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "long"
    }
    for name in names:
        if name in long_cols:
            df = df.withColumn(
                name, F.timestamp_micros(F.expr(f"`{name}` div 1000"))
            )
    return df


def normalize_ntz_cols(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TimestampType.

    Exact under a UTC session timezone (session.py pins it); the cast is
    a pure projection — no shuffle, stays in whole-stage codegen.
    """
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(
    spark: SparkSession,
    path: str,
    *,
    time_bounds: tuple[str, int | None, int | None] | None = None,
) -> DataFrame:
    """Read a parquet table, normalizing timestamp columns to plain
    TimestampType regardless of the physical layout (ns long, us NTZ, or
    tz-aware).

    ``time_bounds=(col, lo_us, hi_us)`` applies the range predicate on the
    column's NATIVE type BEFORE conversion, so it reaches the parquet scan
    as a pushed filter and row-group/file min-max stats prune:

      * nanos-long layout: floor(raw/1000) >= lo_us  <=>  raw >= lo_us*1000
        (exact for non-negative bounds) — integer comparison on the raw long;
      * NTZ layout: TIMESTAMP_NTZ literals (UTC session => value-exact),
        same-typed comparison, pushes down;
      * tz-aware layout: timestamp_micros literals.
    """
    nanos, ntz = _timestamp_layout(path)
    if nanos:
        # Runtime SQL conf — must hold on *whatever* session the caller
        # hands us (a vanilla SparkSession can't scan TIMESTAMP(NANOS)
        # parquet at all). Setting it here, gated on the footer probe,
        # makes the loader session-agnostic.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if time_bounds is not None:
        col, lo_us, hi_us = time_bounds
        long_cols = {
            f.name for f in df.schema.fields if f.dataType.typeName() == "long"
        }
        is_ntz = any(
            f.name == col and isinstance(f.dataType, TimestampNTZType)
            for f in df.schema.fields
        )
        c = F.col(col)
        if col in nanos and col in long_cols:
            if lo_us is not None:
                df = df.filter(c >= lo_us * 1000)
            if hi_us is not None:
                df = df.filter(c < hi_us * 1000)
        elif is_ntz:
            if lo_us is not None:
                df = df.filter(c >= _ntz_literal(lo_us))
            if hi_us is not None:
                df = df.filter(c < _ntz_literal(hi_us))
        else:
            if lo_us is not None:
                df = df.filter(c >= F.timestamp_micros(F.lit(lo_us)))
            if hi_us is not None:
                df = df.filter(c < F.timestamp_micros(F.lit(hi_us)))
    return normalize_ntz_cols(convert_nanos_cols(df, nanos))
