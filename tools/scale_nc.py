"""NetCDF ingestion scaling measurement (feeds SCALE.md): writes many
classic .nc granules, then times the distributed decode + full
regularization pipeline end-to-end, plus the distributed re-granulation
export.

Usage: python tools/scale_nc.py [n_granules] [records_per_granule]
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import numpy as np


def main() -> None:
    n_gran = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    per = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000

    from pyspark.sql import functions as F

    from ncagg_spark.api import aggregate_nc
    from ncagg_spark.config import AggregationConfig
    from ncagg_spark.session import get_spark
    from ncagg_spark.sources.nc_granules import (
        read_nc_granules,
        write_nc_granules,
    )
    from ncagg_spark.sources.netcdf3 import write_netcdf3

    spark = get_spark(app_name="scale-nc")
    spark.sparkContext.setLogLevel("ERROR")

    t0_s = 1_704_153_600.0  # 2024-01-02
    hz = per / 60.0  # each granule spans one minute
    tmp = tempfile.mkdtemp(prefix="ncgran_")
    t0 = time.time()
    paths = []
    for g in range(n_gran):
        start = t0_s + g * 60.0
        p = f"{tmp}/g{g:05d}.nc"
        write_netcdf3(
            p,
            dims=[("time", 0)],
            variables={
                "time": (
                    ["time"],
                    np.arange(per, dtype="float64") / hz + start,
                ),
                "value": (["time"], np.arange(per, dtype="float64")),
            },
            var_attributes={
                "time": {"units": "seconds since 1970-01-01"}
            },
        )
        paths.append(p)
    n_rows = n_gran * per
    print(
        f"wrote {n_gran} granules x {per} records "
        f"({n_rows:,} rows) in {time.time()-t0:.1f}s"
    )

    t0 = time.time()
    df = read_nc_granules(spark, paths)
    cnt = df.count()
    t_scan = time.time() - t0
    print(
        f"decode+count: {t_scan:.2f}s = {cnt/t_scan/1e6:.2f}M rows/s "
        f"({cnt:,} rows)"
    )

    cfg = AggregationConfig(
        index_by="time",
        cadence_hz=hz,
        min_bound=t0_s,
        max_bound=t0_s + n_gran * 60.0,
    )
    out = f"{tmp}/agg"
    t0 = time.time()
    got = aggregate_nc(spark, paths, out, cfg)  # a scan of the sink
    t_agg = time.time() - t0
    print(
        f"aggregate_nc end-to-end: {t_agg:.2f}s = "
        f"{n_rows/t_agg/1e6:.2f}M rows/s "
        f"({got.count():,} slots, "
        f"{got.filter(F.col('is_fill')).count()} fills)"
    )

    t0 = time.time()
    manifest = write_nc_granules(
        got.drop("is_fill"),
        f"{tmp}/export",
        index_col="time",
        interval_us=3_600_000_000,  # hourly granules out
    ).collect()
    t_exp = time.time() - t0
    n_exp = sum(m["n_records"] for m in manifest)
    print(
        f"re-granulate (hourly): {t_exp:.2f}s = {n_exp/t_exp/1e6:.2f}M "
        f"rows/s ({len(manifest)} granules)"
    )

    # bounded-memory single-file export: the one-big-file contract with
    # driver memory ~ one 64 MB block, never the dataset
    from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed

    one = f"{tmp}/aggregate.nc"
    t0 = time.time()
    write_nc_aggregate_streamed(
        got.drop("is_fill"), one, index_col="time"
    )
    t_one = time.time() - t0
    import os

    sz = os.path.getsize(one)
    print(
        f"single-file streamed export: {t_one:.2f}s = "
        f"{n_rows/t_one/1e6:.2f}M rows/s ({sz/1e6:.0f} MB, one .nc)"
    )

    # netCDF-4 variant: executor-side chunk encode+compress, driver
    # appends payloads and assembles metadata after the data
    one4 = f"{tmp}/aggregate.nc4"
    t0 = time.time()
    write_nc_aggregate_streamed(
        got.drop("is_fill"),
        one4,
        index_col="time",
        fmt="netcdf4",
        compression=1,
    )
    t_one4 = time.time() - t0
    sz4 = os.path.getsize(one4)
    print(
        f"single-file streamed export (netcdf4 zlib1): {t_one4:.2f}s = "
        f"{n_rows/t_one4/1e6:.2f}M rows/s ({sz4/1e6:.0f} MB, one .nc4)"
    )


if __name__ == "__main__":
    main()
