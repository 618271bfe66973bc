"""Multidim (2-D index) aggregation through the PUBLIC api/CLI — the
reference's ``-u udim:ivar:hz:hz`` form (MAG OB_time etc.), previously
reachable only via the operator. Covers parquet granules (api.aggregate
+ CLI --inner-hz) and native .nc granules with 2-D CF time
(api.aggregate_nc array decode).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ncagg_spark.api import aggregate, aggregate_nc
from ncagg_spark.cli import main as cli_main
from ncagg_spark.config import AggregationConfig

T0_US = 1_704_153_600_000_000
INNER = 4
INNER_HZ = 8.0  # inner step 125 ms
WINDOW_S = 20


def _cfg():
    return AggregationConfig(
        index_by="ob_time",
        cadence_hz=1.0,
        min_bound=T0_US / 1e6,
        max_bound=(T0_US + WINDOW_S * 1_000_000) / 1e6,
    )


def _write_granules(spark, d, seconds):
    """One granule per contiguous run; ob_time = INNER samples from the
    whole second at INNER_HZ."""
    for gi, secs in enumerate(seconds):
        rows = [(T0_US + s * 1_000_000, float(s)) for s in secs]
        df = spark.createDataFrame(rows, "us long, value double").select(
            F.expr(
                f"transform(sequence(0, {INNER - 1}), "
                f"j -> timestamp_micros(us + j * {int(1e6 / INNER_HZ)}))"
            ).alias("ob_time"),
            "value",
        )
        df.coalesce(1).write.parquet(str(d / f"g{gi}.parquet"))


def _check_output(out):
    rows = sorted(out.collect(), key=lambda r: r["ob_time_rep"])
    assert len(rows) == WINDOW_S  # one row per 1 Hz slot
    for i, r in enumerate(rows):
        rep = r["ob_time_rep"]
        assert int(rep.timestamp() * 1e6) - T0_US == i * 1_000_000
        arr = r["ob_time"]
        assert len(arr) == INNER
        # inner cadence holds on BOTH real and fill rows
        for j, t in enumerate(arr):
            assert int(t.timestamp() * 1e6) == int(
                rep.timestamp() * 1e6
            ) + j * int(1e6 / INNER_HZ)
    fills = [r for r in rows if r["is_fill"]]
    assert len(fills) == WINDOW_S - 12  # 12 real seconds below
    return rows


@pytest.fixture()
def granule_dir(spark, tmp_path):
    d = tmp_path / "gr"
    d.mkdir()
    _write_granules(
        spark, d, [range(0, 5), range(7, 12), [15, 18]]
    )
    return d


def test_aggregate_multidim_api(spark, granule_dir, tmp_path):
    out = aggregate(
        spark,
        str(granule_dir / "g*.parquet"),
        str(tmp_path / "out"),
        _cfg(),
        inner_hz=INNER_HZ,
    )
    rows = _check_output(out)
    # real rows keep their ORIGINAL arrays (same construction here)
    real = [r for r in rows if not r["is_fill"]]
    assert {r["value"] for r in real} == {
        float(s) for s in [*range(0, 5), *range(7, 12), 15, 18]
    }


def test_aggregate_multidim_infers_inner_size(spark, granule_dir, tmp_path):
    out = aggregate(
        spark,
        str(granule_dir / "g*.parquet"),
        str(tmp_path / "out2"),
        _cfg(),
        inner_hz=INNER_HZ,
        inner_size=None,  # inferred = widest observed = INNER
    )
    assert all(len(r["ob_time"]) == INNER for r in out.collect())


def test_cli_inner_hz(spark, granule_dir, tmp_path, capsys):
    rc = cli_main(
        [
            str(tmp_path / "cliout"),
            str(granule_dir / "g*.parquet"),
            "-i", "ob_time",
            "-z", "1.0",
            "-b", "2024010200:2024010200",
            "--inner-hz", str(INNER_HZ),
        ]
    )
    assert rc == 0
    got = spark.read.parquet(str(tmp_path / "cliout"))
    assert "ob_time_rep" in got.columns
    assert got.filter(F.size("ob_time") == INNER).count() == got.count()


def test_aggregate_nc_multidim_cf_decode(spark, tmp_path):
    """Native .nc granules with a 2-D CF-double time variable: the array
    decode path + multidim pipeline end-to-end."""
    from ncagg_spark.sources.netcdf3 import write_netcdf3

    d = tmp_path / "nc"
    d.mkdir()
    units = "seconds since 2024-01-02 00:00:00"
    for gi, secs in enumerate([range(0, 4), range(6, 9)]):
        n = len(secs)
        ob = np.array(
            [
                [s + j / INNER_HZ for j in range(INNER)]
                for s in secs
            ]
        )
        write_netcdf3(
            str(d / f"g{gi}.nc"),
            dims=[("report", 0), ("samples", INNER)],
            variables={
                "ob_time": (["report", "samples"], ob),
                "value": (["report"], np.array([float(s) for s in secs])),
            },
            var_attributes={"ob_time": {"units": units}},
        )
    out = aggregate_nc(
        spark,
        [str(d / "g0.nc"), str(d / "g1.nc")],
        str(tmp_path / "ncout"),
        _cfg(),
        inner_hz=INNER_HZ,
    )
    rows = sorted(out.collect(), key=lambda r: r["ob_time_rep"])
    assert len(rows) == WINDOW_S
    real = [r for r in rows if not r["is_fill"]]
    assert len(real) == 7
    # decoded inner elements hit the exact microsecond grid
    r0 = real[0]
    assert [int(t.timestamp() * 1e6) - T0_US for t in r0["ob_time"]] == [
        j * int(1e6 / INNER_HZ) for j in range(INNER)
    ]


def test_multidim_index_from_alternate_name(spark, tmp_path):
    """Granules carrying the 2-D index under an alternate name must
    coalesce BEFORE the representative is extracted."""
    d = tmp_path / "alt"
    d.mkdir()
    rows = [(T0_US + s * 1_000_000, float(s)) for s in range(3)]
    spark.createDataFrame(rows, "us long, value double").select(
        F.expr(
            f"transform(sequence(0, {INNER - 1}), "
            f"j -> timestamp_micros(us + j * {int(1e6 / INNER_HZ)}))"
        ).alias("ob_time_v1"),  # ONLY the alternate name exists
        "value",
    ).coalesce(1).write.parquet(str(d / "g0.parquet"))
    cfg = _cfg()
    cfg.copy_from_alt = {"ob_time": ["ob_time_v1"]}
    out = aggregate(
        spark,
        str(d / "g0.parquet"),
        str(tmp_path / "altout"),
        cfg,
        inner_hz=INNER_HZ,
    )
    real = out.filter(~F.col("is_fill")).collect()
    assert len(real) == 3  # previously: rep=null -> all rows dropped


def test_multidim_nc_export_roundtrip(spark, granule_dir, tmp_path):
    """array<timestamp> index columns CF-encode to (record, inner)
    float matrices in the .nc export instead of crashing."""
    from ncagg_spark.sources.netcdf3 import read_netcdf3
    from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed

    out = aggregate(
        spark,
        str(granule_dir / "g*.parquet"),
        str(tmp_path / "mdout"),
        _cfg(),
        inner_hz=INNER_HZ,
    )
    path = str(tmp_path / "md.nc")
    write_nc_aggregate_streamed(out, path, index_col="ob_time_rep")
    nc = read_netcdf3(open(path, "rb").read())
    mat = nc.data["ob_time"]
    assert mat.shape == (WINDOW_S, INNER)
    # CF seconds since epoch; inner cadence preserved in the encoding
    assert mat[0][1] - mat[0][0] == pytest.approx(1.0 / INNER_HZ)
    assert nc.variables["ob_time"].attributes["units"].startswith(
        "seconds since"
    )


def test_cli_inner_hz_rejected_with_multigrain(tmp_path, capsys):
    rc = cli_main(
        [str(tmp_path / "o"), "x.parquet", "-u", "ts:1",
         "--inner-hz", "10"]
    )
    assert rc == 2
    assert "single-grain" in capsys.readouterr().err


def test_empty_input_inner_size_inference_raises(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    spark.createDataFrame(
        [], "ob_time array<timestamp>, value double"
    ).write.parquet(str(d / "g0.parquet"))
    with pytest.raises(ValueError, match="inner_size"):
        aggregate(
            spark,
            str(d / "g0.parquet"),
            str(tmp_path / "eout"),
            _cfg(),
            inner_hz=INNER_HZ,
        )


def test_aggregate_nc_multidim_heterogeneous_units(spark, tmp_path):
    """Granules declaring DIFFERENT CF epochs/scales for a 2-D time
    variable re-express element-wise into the canonical units instead of
    crashing worker-side (round-6 fix: _reexpress_cf_units previously
    called Series.astype('float64') on array cells)."""
    from ncagg_spark.sources.netcdf3 import write_netcdf3

    d = tmp_path / "hetnc"
    d.mkdir()

    def _write(name, secs, units, scale, epoch_off_s):
        # values expressed IN the granule's own units
        ob = np.array(
            [
                [(s + j / INNER_HZ - epoch_off_s) / scale
                 for j in range(INNER)]
                for s in secs
            ]
        )
        write_netcdf3(
            str(d / name),
            dims=[("report", 0), ("samples", INNER)],
            variables={
                "ob_time": (["report", "samples"], ob),
                "value": (["report"], np.array([float(s) for s in secs])),
            },
            var_attributes={"ob_time": {"units": units}},
        )

    # canonical granule: plain seconds since the window start
    _write("g0.nc", range(0, 4),
           "seconds since 2024-01-02 00:00:00", 1.0, 0.0)
    # second granule: MILLIseconds since one second AFTER the epoch
    _write("g1.nc", range(6, 9),
           "milliseconds since 2024-01-02 00:00:01", 1e-3, 1.0)

    out = aggregate_nc(
        spark,
        [str(d / "g0.nc"), str(d / "g1.nc")],
        str(tmp_path / "hetout"),
        _cfg(),
        inner_hz=INNER_HZ,
    )
    rows = sorted(out.collect(), key=lambda r: r["ob_time_rep"])
    real = [r for r in rows if not r["is_fill"]]
    assert len(real) == 7
    # BOTH granules' inner elements land on the exact microsecond grid
    # of the canonical epoch — the re-expression is element-wise exact
    for r in real:
        base = int(r["ob_time_rep"].timestamp() * 1e6)
        assert [int(t.timestamp() * 1e6) - base for t in r["ob_time"]] == [
            j * int(1e6 / INNER_HZ) for j in range(INNER)
        ]
    assert {r["value"] for r in real} == {0.0, 1.0, 2.0, 3.0, 6.0, 7.0, 8.0}
