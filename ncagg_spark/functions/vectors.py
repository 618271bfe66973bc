"""Vector math over array<float> embedding columns — pure higher-order
functions (zip_with / aggregate), JVM-side, no UDFs, so similarity scans
stay inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two numeric array columns.

    Elements are widened to double BEFORE multiplying and summed
    left-to-right — bit-identical to the DuckDB oracle's
    list_sum(list_transform(...)) with the same casts. This order is
    the contract of every exact cosine: the ANN searches score in numpy
    (pipeline/topk.py ``_fold_dots``) but keep this same summation
    order, so their cosines equal this fold's bit for bit.
    """
    return F.aggregate(
        F.zip_with(
            _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def norm_guard(c: Column) -> Column:
    """Clamp an L2 norm away from zero: a zero/padding vector then scores
    cosine 0.0 instead of killing the whole job with DIVIDE_BY_ZERO
    under Spark's default ANSI mode. Matches the matmul path's
    np.maximum(norm, 1e-300); values for any nonzero vector are
    unchanged (double norms are far above 1e-300).
    """
    return F.greatest(c, F.lit(1e-300))


def _array_sql(values) -> str:
    return "array(" + ",".join(repr(float(x)) + "D" for x in values) + ")"


def dot_const_sql(col_name: str, values) -> str:
    """SQL text for ``dot(col, <constant vector>)``.

    Building a higher-order-function Column costs ~10 py4j round-trips
    for the lambda plumbing; a bucketing expression over 16 centroids
    spends ~1s of driver time before any data moves. Rendering the dot
    as SQL makes the whole thing ONE parser call. Value-identical to
    ``dot()``: elementwise widen to double, left-to-right sum from 0.0.
    """
    return (
        f"aggregate(zip_with(`{col_name}`, {_array_sql(values)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
