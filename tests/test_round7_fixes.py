"""Round-7 advisor-finding regressions (ADVICE r6):

1. low — dedup_cadence must keep working on frames with MapType
   columns (falls back to the row_number window form).
2. the refshim netCDF4 Dataset refuses writes in read mode.

The round's export findings (null-leaf integer arrays demote to
float64/NaN; a spec-pass failure must not leak the persisted frame)
are tested in test_nc_streamed_export.py.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_dedup_cadence_map_column_falls_back_to_window(spark):
    from ncagg_spark.operators.dedup import cadence_bucket, dedup_cadence

    df = spark.createDataFrame(
        [(1.0, {"k": "a"}), (1.2, {"k": "b"}), (2.0, {"k": "c"})],
        "t double, m map<string,string>",
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = dedup_cadence(
        cadence_bucket(df, "ts", origin_us=0, step_us=1_000_000),
        "ts",
    )
    rows = sorted(out.collect(), key=lambda r: r["t"])
    assert [r["t"] for r in rows] == [1.0, 2.0]
    assert rows[0]["m"] == {"k": "a"}


def test_dedup_cadence_no_map_uses_aggregate(spark):
    """Map-free frames keep the map-side-combining aggregate plan."""
    from ncagg_spark.operators.dedup import cadence_bucket, dedup_cadence

    df = spark.createDataFrame(
        [(1.0, "a"), (1.2, "b"), (2.0, "c")], "t double, s string"
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = dedup_cadence(
        cadence_bucket(df, "ts", origin_us=0, step_us=1_000_000), "ts"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert sorted(r["t"] for r in out.collect()) == [1.0, 2.0]


def test_refshim_read_mode_write_raises(tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/tools/refshim")
    try:
        import importlib

        nc4 = importlib.import_module("netCDF4")
        # only accept the shim (a real netCDF4 would shadow it elsewhere)
        if "refshim" not in (nc4.__file__ or ""):
            pytest.skip("real netCDF4 present")
        p = str(tmp_path / "w.nc")
        ds = nc4.Dataset(p, "w")
        ds.createDimension("t", None)
        v = ds.createVariable("x", "f8", ("t",))
        v[0:3] = [1.0, 2.0, 3.0]
        ds.close()
        rd = nc4.Dataset(p, "r")
        with pytest.raises(RuntimeError, match="read only"):
            rd.variables["x"][0:1] = [9.0]
        np.testing.assert_array_equal(
            rd.variables["x"][:], [1.0, 2.0, 3.0]
        )
        rd.close()
    finally:
        sys.path.remove("/root/repo/tools/refshim")
        # drop the cached shim so later tests that probe "is a real
        # netCDF4 importable?" (the declared library seam) see the
        # true environment
        sys.modules.pop("netCDF4", None)
