"""Aggregate sink: time-sorted parquet + global-attributes JSON sidecar.

Reference equivalent: initialize_aggregation_file + the ordered append
loop + attribute finalize (ncagg/aggregator.py:239-417). The reference's
"running offset per unlimited dim" is simply row order here; its zlib-7
compression maps to zstd parquet; its chunksize control maps to
maxRecordsPerFile.

The write is range-partitioned by the index column (repartitionByRange)
so output files are non-overlapping time slices in sorted order — the
layout you want at 100 TB (each file's footer min/max enables downstream
file skipping), with sortWithinPartitions giving intra-file order.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T


DATE_PARTITION_COL = "dt"

# Attribute names the reference casts to the variable's dtype before
# writing (ncagg/aggregator.py:400-414): scalars ...
_SCALAR_CAST_ATTRS = ("_FillValue", "valid_min", "valid_max")
# ... and arrays, which Config may specify either as an actual list or
# as a CSV string ("1, 2, 4").
_ARRAY_CAST_ATTRS = ("valid_range", "flag_masks", "flag_values")


def _to_int(v: Any) -> int:
    """Integer coercion that never routes an integral value through an
    IEEE double (uint64-sized flag masks would corrupt above 2^53)."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, str) and v.strip().lstrip("+-").isdigit():
        return int(v.strip())
    return int(float(v))


def _py_caster(dtype: T.DataType):
    """Python-side cast for one Spark column type (sidecar JSON values)."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _to_int
    if isinstance(dtype, T.DecimalType) and dtype.scale == 0:
        # scale-0 decimal is the uint64 carrier type (functions/unsigned.py)
        # — flag masks above 2^53 would corrupt through an IEEE double
        return _to_int
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return float
    if isinstance(dtype, T.BooleanType):
        return lambda v: bool(int(v)) if isinstance(v, str) else bool(v)
    if isinstance(dtype, T.StringType):
        return str
    return lambda v: v


def cast_variable_attributes(
    schema: T.StructType, variable_attributes: dict[str, dict[str, Any]]
) -> dict[str, dict[str, Any]]:
    """Cast per-variable attributes to each variable's column dtype.

    Mirrors the reference's write-time coercion (ncagg/aggregator.py:
    400-414): ``valid_min``/``valid_max``/``_FillValue`` become scalars
    of the variable's type; ``valid_range``/``flag_masks``/
    ``flag_values`` become typed arrays, accepting either list form or
    the Config's CSV-string form ("1, 2, 4"). The variable's dtype is
    the DataFrame column's Spark type; for array columns the element
    type is used. Unknown variables raise (same failure the reference
    hits indexing its Config vars).
    """
    fields = {f.name: f.dataType for f in schema.fields}
    out: dict[str, dict[str, Any]] = {}
    for var, attrs in variable_attributes.items():
        if var not in fields:
            raise ValueError(f"variable {var!r} not in output schema")
        dtype = fields[var]
        if isinstance(dtype, T.ArrayType):
            dtype = dtype.elementType
        cast = _py_caster(dtype)
        coerced = dict(attrs)
        for k, v in attrs.items():
            if v is None:
                continue
            if k in _SCALAR_CAST_ATTRS:
                coerced[k] = cast(v)
            elif k in _ARRAY_CAST_ATTRS:
                items = (
                    [s.strip() for s in v.split(",")]
                    if isinstance(v, str)
                    else list(v)
                )
                coerced[k] = [cast(i) for i in items]
        out[var] = coerced
    return out


def write_aggregate(
    df: DataFrame,
    path: str,
    *,
    order_by: str | None = None,
    attributes: dict[str, Any] | None = None,
    variable_attributes: dict[str, dict[str, Any]] | None = None,
    max_records_per_file: int | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
    partition_by_date: bool = False,
) -> None:
    """Write the aggregate as sorted parquet; attributes land in
    ``<path>/_attributes.json`` (the reference's global attrs).

    ``partition_by_date=True`` lays the output out under
    ``dt=YYYY-MM-DD/`` directories derived from ``order_by`` — the 100 TB
    layout: time-range predicates become partition pruning (directories
    skipped at planning time), and each day's files are internally
    range-sorted so footer min/max prunes within the day.
    """
    from pyspark.sql import functions as F

    out = df
    if partition_by_date:
        if not order_by:
            raise ValueError("partition_by_date requires order_by")
        out = out.withColumn(
            DATE_PARTITION_COL, F.to_date(F.col(order_by)).cast("string")
        )
    if order_by:
        if num_files and num_files == 1:
            out = out.coalesce(1).sortWithinPartitions(order_by)
        else:
            n = num_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
            keys = (
                [DATE_PARTITION_COL, order_by] if partition_by_date else [order_by]
            )
            out = out.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
    writer = out.write.mode(mode)
    if partition_by_date:
        writer = writer.partitionBy(DATE_PARTITION_COL)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    sidecar: dict[str, Any] = {}
    if attributes is not None:
        sidecar["global"] = attributes
    if variable_attributes is not None:
        sidecar["variables"] = cast_variable_attributes(
            df.schema, variable_attributes
        )
    if sidecar:
        if "variables" not in sidecar:
            # keep the round-1 flat shape when only globals are given
            sidecar = sidecar["global"]
        with open(os.path.join(path, "_attributes.json"), "w") as f:
            json.dump(sidecar, f, indent=2, default=str)
