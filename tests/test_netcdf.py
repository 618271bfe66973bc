"""Native `.nc` granule ingestion: pure-numpy classic reader/writer
round-trip, byte-level spec pins, the Spark source, and the end-to-end
aggregate_nc pipeline (the reference's day-one input format,
ncagg/aggrelist.py:533-543).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from ncagg_spark.api import aggregate_nc
from ncagg_spark.config import AggregationConfig
from ncagg_spark.sources.nc_granules import (
    nc_attributes,
    nc_schema,
    read_nc_granules,
)
from ncagg_spark.sources.netcdf3 import (
    is_netcdf3,
    read_netcdf3,
    write_netcdf3,
)
from tests.conftest import assert_same_columns, assert_scan_of

T0 = 1_704_153_600.0  # 2024-01-02 UTC, seconds


def _granule(path, start_s, n, hz=1.0, *, with_value=True, inner=None):
    variables = {
        "time": (
            ["time"],
            np.arange(n, dtype="float64") / hz + start_s,
        ),
    }
    if with_value:
        variables["value"] = (["time"], np.arange(n, dtype="float64"))
    if inner:
        variables["obs"] = (
            ["time", "samples"],
            np.arange(n * inner, dtype="float32").reshape(n, inner),
        )
    dims = [("time", 0)] + ([("samples", inner)] if inner else [])
    write_netcdf3(
        str(path),
        dims=dims,
        variables=variables,
        attributes={"title": "test granule"},
        var_attributes={"time": {"units": "seconds since 1970-01-01"}},
    )
    return str(path)


# ---------------------------------------------------------------------------
# format layer
# ---------------------------------------------------------------------------


def test_roundtrip_all_types():
    n = 6
    blob = write_netcdf3(
        None,
        dims=[("t", 0), ("d3", 3)],
        variables={
            "t": (["t"], np.arange(n, dtype="float64")),
            "f32": (["t", "d3"], np.ones((n, 3), dtype="float32")),
            "i8": (["t"], np.arange(n, dtype="int8")),
            "i16": (["t"], np.arange(n, dtype="int16")),
            "u64": (["t"], np.arange(n, dtype="uint64") << 60),
            "fixed": (["d3"], np.array([1, 2, 3], dtype="int32")),
        },
        attributes={"s": "hello", "i": np.int32(7), "d": np.array([0.5, 1.5])},
        var_attributes={"t": {"units": "seconds since 2000-01-01"}},
    )
    f = read_netcdf3(blob)
    assert f.version == 5  # uint64 forces CDF-5
    assert f.numrecs == n
    assert f.attributes == {"s": "hello", "i": 7, "d": [0.5, 1.5]}
    assert f.variables["t"].attributes["units"] == "seconds since 2000-01-01"
    np.testing.assert_array_equal(f.data["u64"], np.arange(n, dtype="uint64") << 60)
    np.testing.assert_array_equal(f.data["f32"], np.ones((n, 3), dtype="float32"))
    np.testing.assert_array_equal(f.data["fixed"], np.array([1, 2, 3], dtype="int32"))


def test_classic_version_and_magic():
    blob = write_netcdf3(
        None, dims=[("t", 0)], variables={"t": (["t"], np.arange(3.0))}
    )
    assert blob[:3] == b"CDF" and blob[3] == 2  # classic types -> CDF-2
    assert is_netcdf3(blob[:4])
    assert not is_netcdf3(b"\x89HDF")


def test_byte_level_header_pins():
    """Spec pins: big-endian numrecs, NC_DIMENSION tag 0x0A, name padding
    to 4 bytes — catches a self-consistent-but-wrong implementation."""
    blob = write_netcdf3(
        None,
        dims=[("time", 0)],
        variables={"time": (["time"], np.arange(2, dtype="float64"))},
    )
    # CDF-2: magic(4) | numrecs u32 BE | NC_DIMENSION u32 | ndims u32
    assert struct.unpack(">I", blob[4:8])[0] == 2  # numrecs
    assert struct.unpack(">I", blob[8:12])[0] == 0x0A  # dim tag
    assert struct.unpack(">I", blob[12:16])[0] == 1  # ndims
    assert struct.unpack(">I", blob[16:20])[0] == 4  # len("time")
    assert blob[20:24] == b"time"  # 4 chars: no padding needed
    assert struct.unpack(">I", blob[24:28])[0] == 0  # record dim size
    # record data: big-endian doubles 0.0, 1.0 at the tail
    assert blob[-16:] == struct.pack(">d", 0.0) + struct.pack(">d", 1.0)


def test_reader_rejects_hdf5():
    with pytest.raises(ValueError, match="classic"):
        read_netcdf3(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)


# ---------------------------------------------------------------------------
# Spark source layer
# ---------------------------------------------------------------------------


def test_nc_schema_and_read(spark, tmp_path):
    g = _granule(tmp_path / "g0.nc", T0, 5, inner=3)
    sch = nc_schema(g)
    names = {f.name: f.dataType.simpleString() for f in sch.fields}
    assert names["time"] == "double"
    assert names["obs"] == "array<float>"
    df = read_nc_granules(spark, g)
    rows = df.orderBy("time").collect()
    assert len(rows) == 5
    assert rows[0]["time"] == T0
    assert rows[0]["obs"] == [0.0, 1.0, 2.0]
    assert rows[0]["granule"].endswith("g0.nc")


def test_missing_variable_nulls_p4(spark, tmp_path):
    g0 = _granule(tmp_path / "g0.nc", T0, 3)
    g1 = _granule(tmp_path / "g1.nc", T0 + 10, 3, with_value=False)
    df = read_nc_granules(spark, [g0, g1])
    got = df.orderBy("time").select("value").collect()
    assert [r[0] for r in got] == [0.0, 1.0, 2.0, None, None, None]


def test_nc_attributes_probe(tmp_path):
    g = _granule(tmp_path / "g0.nc", T0, 2)
    a = nc_attributes(g)
    assert a["global"]["title"] == "test granule"
    assert a["variables"]["time"]["units"] == "seconds since 1970-01-01"


def test_netcdf4_library_decoder_is_declared_seam(spark, tmp_path):
    p = tmp_path / "h.nc"
    p.write_bytes(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(NotImplementedError, match="netCDF4 library"):
        read_nc_granules(spark, str(p), decoder="netcdf4").collect()


def test_auto_decoder_rejects_corrupt_hdf5(spark, tmp_path):
    p = tmp_path / "h.nc"
    p.write_bytes(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(Exception):
        read_nc_granules(spark, str(p)).collect()


# ---------------------------------------------------------------------------
# end-to-end: the reference's CLI workflow over .nc granules
# ---------------------------------------------------------------------------


def test_aggregate_nc_end_to_end(spark, tmp_path):
    """Three 1 Hz granules with an inter-granule gap and an overlap:
    aggregate_nc must decode CF time, dedup the overlap, fill the gap,
    and produce the exact slot grid — identical semantics to the parquet
    path (reference: ncagg/aggregator.py:119-234)."""
    g0 = _granule(tmp_path / "g0.nc", T0, 10)
    g1 = _granule(tmp_path / "g1.nc", T0 + 8, 10)  # 2s overlap with g0
    g2 = _granule(tmp_path / "g2.nc", T0 + 25, 5)  # 7s gap before
    cfg = AggregationConfig(
        index_by="time",
        cadence_hz=1.0,
        min_bound=T0,
        max_bound=T0 + 30,
    )
    out = str(tmp_path / "agg")
    aggregate_nc(spark, [g0, g1, g2], out, cfg)
    got = spark.read.parquet(out)
    assert got.count() == 30  # exact grid
    fills = got.filter(F.col("is_fill")).count()
    assert fills == 30 - (10 + 8 + 5)  # overlap deduped, gap filled
    # index is TimestampType, sorted, spanning the bounds
    ts = [r[0] for r in got.orderBy("time").select("time").collect()]
    assert ts[0].timestamp() == T0
    assert ts[-1].timestamp() == T0 + 29


def test_cli_routes_nc_sources(spark, tmp_path):
    from ncagg_spark.cli import main as cli_main

    g0 = _granule(tmp_path / "g0.nc", T0, 10)
    out = str(tmp_path / "cli_out")
    rc = cli_main(
        [
            out,
            g0,
            "-i",
            "time",
            "-z",
            "1",
            "-b",
            "20240102:20240102",
            "--num-files",
            "1",
        ]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 86400  # full bounded day at 1 Hz
    assert got.filter(~F.col("is_fill")).count() == 10


def test_generate_template_from_nc(spark, tmp_path):
    from ncagg_spark.api import generate_template

    g = _granule(tmp_path / "g0.nc", T0, 4)
    tpl = generate_template(spark, g)
    names = [f["name"] for f in tpl["schema"]["fields"]]
    assert "time" in names and "value" in names
    assert tpl["aggregation"]["index_by"] == "time"  # CF-units candidate


def test_write_nc_aggregate_roundtrip(spark, tmp_path):
    """Full format-parity loop: .nc granules -> aggregate -> single .nc
    output -> re-read with the pure reader; CF time survives exactly."""
    from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed

    g0 = _granule(tmp_path / "g0.nc", T0, 10)
    cfg = AggregationConfig(
        index_by="time", cadence_hz=1.0, min_bound=T0, max_bound=T0 + 15
    )
    out = str(tmp_path / "agg")
    res = aggregate_nc(spark, [g0], out, cfg)
    nc_out = str(tmp_path / "agg.nc")
    write_nc_aggregate_streamed(
        res,
        nc_out,
        index_col="time",
        attributes={"title": "aggregated"},
    )
    f = read_netcdf3(nc_out)
    assert f.numrecs == 15
    assert f.attributes["title"] == "aggregated"
    assert f.variables["time"].attributes["units"].startswith("seconds since")
    np.testing.assert_allclose(
        f.data["time"], np.arange(15, dtype="float64") + T0
    )
    # fill flags survive as int8 0/1, real values as float64 with NaN fills
    assert f.data["is_fill"].tolist() == [0] * 10 + [1] * 5
    np.testing.assert_array_equal(f.data["value"][:10], np.arange(10.0))
    assert np.isnan(f.data["value"][10:]).all()


def test_cli_nc_single_file_output(spark, tmp_path):
    from ncagg_spark.cli import main as cli_main

    g0 = _granule(tmp_path / "g0.nc", T0, 10)
    dst = str(tmp_path / "day.nc")
    rc = cli_main([dst, g0, "-i", "time", "-z", "1", "-b", "20240102"])
    assert rc == 0
    f = read_netcdf3(dst)
    assert f.numrecs == 86400


def test_write_nc_granules_distributed_export(spark, tmp_path):
    """Re-granulation: a 3-day aggregate exports to one .nc per UTC day,
    each written by its own task; reading the granules back reproduces
    the aggregate exactly (ingest/export closure)."""
    from ncagg_spark.sources.nc_granules import write_nc_granules

    n_days, per_day = 3, 48
    rows = [
        (int((T0 + d * 86400 + i * 1800) * 1e6), float(d * 1000 + i))
        for d in range(n_days)
        for i in range(per_day)
    ]
    df = spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("time"), "value"
    )
    out = str(tmp_path / "granules")
    manifest = write_nc_granules(df, out, index_col="time").collect()
    assert len(manifest) == n_days
    assert sorted(m["n_records"] for m in manifest) == [per_day] * n_days
    back = read_nc_granules(spark, [m["path"] for m in manifest])
    got = back.orderBy("time").collect()
    assert len(got) == n_days * per_day
    assert got[0]["time"] == T0
    assert got[-1]["value"] == 2000.0 + per_day - 1
    # CF units attribute present on every granule
    a = nc_attributes(manifest[0]["path"])
    assert a["variables"]["time"]["units"].startswith("seconds since")


def test_granule_and_single_file_exports_share_dtypes(spark, tmp_path):
    """One dtype policy for both exports of one aggregate: a full int64
    array column stays int64 in every per-granule file, as in the single
    file, and a scalar int column with a NULL in only one granule is
    float64 in all of them."""
    from ncagg_spark.sources.nc_granules import (
        write_nc_aggregate_streamed,
        write_nc_granules,
    )

    us0 = int(T0 * 1e6)
    rows = [
        (us0 + d * 86_400_000_000 + i * 1_000_000, [i, 2 * i, 3 * i],
         None if (d, i) == (1, 2) else i)
        for d in range(2)
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "us long, counts array<long>, n long"
    ).select(F.timestamp_micros("us").alias("time"), "counts", "n")
    single = str(tmp_path / "day.nc")
    write_nc_aggregate_streamed(df, single, index_col="time")
    man = write_nc_granules(
        df, str(tmp_path / "granules"), index_col="time"
    ).collect()
    assert len(man) == 2
    files = [read_netcdf3(single)] + [read_netcdf3(m["path"]) for m in man]
    for f in files:  # classic files are big-endian
        assert f.data["counts"].dtype.newbyteorder("=") == np.int64
        assert f.data["counts"].shape[1:] == (3,)
        assert f.data["n"].dtype.newbyteorder("=") == np.float64
    per_granule = np.concatenate([f.data["counts"] for f in files[1:]])
    np.testing.assert_array_equal(
        np.sort(per_granule, axis=0), np.sort(files[0].data["counts"], axis=0)
    )


# ---------------------------------------------------------------------------
# ADVICE r4 pins: version selection must honor ATTRIBUTE types too
# ---------------------------------------------------------------------------


def test_plain_int_attr_stays_classic():
    """A plain Python int attribute (-> int64) must NOT produce a CDF-2
    file with an embedded CDF-5-only NC_INT64 attribute; it downcasts to
    NC_INT when the value fits (common netCDF practice)."""
    blob = write_netcdf3(
        None,
        dims=[("t", 0)],
        variables={"t": (["t"], np.arange(3.0))},
        attributes={"count": 5},
        var_attributes={"t": {"n": 7}},
    )
    assert blob[3] == 2  # still classic
    f = read_netcdf3(blob)
    assert f.attributes["count"] == 5
    assert f.variables["t"].attributes["n"] == 7
    # no CDF-5-only attr type byte anywhere in the header: type word of
    # the 'count' attribute is NC_INT (4), not NC_INT64 (10)
    i = blob.index(b"count")
    assert struct.unpack(">I", blob[i + 8 : i + 12])[0] == 4


def test_big_int_attr_promotes_to_cdf5():
    blob = write_netcdf3(
        None,
        dims=[("t", 0)],
        variables={"t": (["t"], np.arange(3.0))},
        attributes={"mask": 1 << 40},
    )
    assert blob[3] == 5
    assert read_netcdf3(blob).attributes["mask"] == 1 << 40


def test_explicit_classic_version_rejects_64bit():
    with pytest.raises(ValueError, match="attribute type requires CDF-5"):
        write_netcdf3(
            None,
            dims=[("t", 0)],
            variables={"t": (["t"], np.arange(3.0))},
            attributes={"mask": 1 << 40},
            version=2,
        )
    with pytest.raises(ValueError, match="variable dtype requires CDF-5"):
        write_netcdf3(
            None,
            dims=[("t", 0)],
            variables={"t": (["t"], np.arange(3, dtype="int64"))},
            version=2,
        )


def test_write_nc_aggregate_int_array_with_nulls(spark, tmp_path):
    """Integer array columns containing null rows must export as float64
    with NaN fill instead of crashing np.array (ADVICE r4); a leading
    empty-list row must not break inner-width inference."""
    from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed

    df = spark.createDataFrame(
        [(0, [1, 2]), (1, None), (2, []), (3, [7, 8])],
        "rid long, arr array<long>",
    )
    out = str(tmp_path / "a.nc")
    write_nc_aggregate_streamed(df, out, index_col="rid")
    f = read_netcdf3(out)
    mat = f.data["arr"]
    assert mat.dtype == np.dtype(">f8")
    np.testing.assert_array_equal(mat[0], [1.0, 2.0])
    assert np.isnan(mat[1]).all() and np.isnan(mat[2]).all()
    np.testing.assert_array_equal(mat[3], [7.0, 8.0])

    # all-null / all-empty column: explicit error, not a 0-size dim
    df2 = spark.createDataFrame([(0, []), (1, None)], "rid long, arr array<long>")
    with pytest.raises(ValueError, match="no non-empty rows"):
        write_nc_aggregate_streamed(
            df2, str(tmp_path / "b.nc"), index_col="rid"
        )


def test_cli_source_kind_classification(tmp_path):
    from ncagg_spark.api import _first_nc_file
    from ncagg_spark.cli import _source_kinds

    ncdir = tmp_path / "gr"
    ncdir.mkdir()
    _granule(ncdir / "g1.nc", T0, 3)
    _granule(ncdir / "g0.nc", T0, 3)
    (tmp_path / "t.parquet").write_bytes(b"PAR1")

    assert _source_kinds([str(ncdir / "g0.nc")]) == {"nc"}
    assert _source_kinds([str(ncdir)]) == {"nc"}
    assert _source_kinds([str(ncdir / "*.nc")]) == {"nc"}
    assert _source_kinds([str(tmp_path / "t.parquet")]) == {"parquet"}
    assert _source_kinds(
        [str(ncdir / "g0.nc"), str(tmp_path / "t.parquet")]
    ) == {"nc", "parquet"}

    # header probe resolves globs and directories to a concrete file
    assert _first_nc_file(str(ncdir)).endswith("g0.nc")
    assert _first_nc_file(str(ncdir / "*.nc")).endswith("g0.nc")
    assert _first_nc_file(str(ncdir / "g1.nc")).endswith("g1.nc")
    with pytest.raises(FileNotFoundError):
        _first_nc_file(str(tmp_path / "missing" / "*.nc"))


def test_cli_rejects_mixed_sources(tmp_path, capsys):
    from ncagg_spark.cli import main as cli_main

    nc = _granule(tmp_path / "g0.nc", T0, 3)
    pq_file = tmp_path / "t.parquet"
    pq_file.write_bytes(b"PAR1")
    rc = cli_main(
        [str(tmp_path / "out"), nc, str(pq_file), "-i", "time"]
    )
    assert rc == 2
    assert "mixed" in capsys.readouterr().err


def test_write_nc_granules_netcdf4(spark, tmp_path):
    """Per-interval re-granulation in netCDF-4: each granule decodes
    through the from-spec HDF5 reader and round-trips the values."""
    import numpy as np
    from pyspark.sql import functions as F

    from ncagg_spark.sources.hdf5 import read_hdf5
    from ncagg_spark.sources.nc_granules import (
        read_nc_granules,
        write_nc_granules,
    )

    T0_US = 1_704_153_600_000_000
    df = spark.createDataFrame(
        [(T0_US + i * 1_800_000_000, float(i)) for i in range(8)],
        "us long, v double",
    ).select(F.timestamp_micros("us").alias("ts"), "v")
    man = write_nc_granules(
        df,
        str(tmp_path / "g4"),
        index_col="ts",
        interval_us=7_200_000_000,  # 2h granules, 4 records each
        fmt="netcdf4",
        compression=4,
    ).collect()
    assert len(man) == 2 and all(m["path"].endswith(".nc4") for m in man)
    h5 = read_hdf5(man[0]["path"])
    assert h5.datasets["v"].filters  # compressed
    np.testing.assert_array_equal(h5.read("v"), [0.0, 1.0, 2.0, 3.0])
    # and the engine's own reader ingests the .nc4 granules back
    back = read_nc_granules(spark, [m["path"] for m in man])
    assert back.count() == 8


# ---------------------------------------------------------------------------
# return contract: aggregate_nc hands back a scan of the rows it wrote, so
# the single-file export reads the sink instead of re-decoding granules
# ---------------------------------------------------------------------------


def _jittered_granules(tmp_path):
    """Three 1 Hz granules off the grid phase: g1 overlaps g0 by two
    records, and a 7 s gap precedes g2."""
    return [
        _granule(tmp_path / "g0.nc", T0 + 0.2, 10),
        _granule(tmp_path / "g1.nc", T0 + 8.2, 10),
        _granule(tmp_path / "g2.nc", T0 + 25.3, 5),
    ]


def _prev_cfg():
    return AggregationConfig(
        index_by="time", cadence_hz=1.0, min_bound=T0, max_bound=T0 + 32
    )


def test_aggregate_nc_returns_scan_of_output(
    spark, tmp_path, written_lineage
):
    out = str(tmp_path / "agg")
    got = aggregate_nc(
        spark, _jittered_granules(tmp_path), out, _prev_cfg(),
        anchor="previous",
    )
    assert_scan_of(got, out)
    assert_same_columns(got, written_lineage[0])
    assert got.exceptAll(written_lineage[0]).count() == 0
    assert written_lineage[0].exceptAll(got).count() == 0


@pytest.mark.parametrize("fmt", ["classic", "netcdf4"])
def test_export_of_returned_scan_matches_lineage_export(
    spark, tmp_path, written_lineage, fmt
):
    """Exporting aggregate_nc's return value writes the same bytes as
    exporting the regularize lineage built from the same inputs."""
    from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed

    got = aggregate_nc(
        spark, _jittered_granules(tmp_path), str(tmp_path / "agg"),
        _prev_cfg(), anchor="previous",
    )
    n_fill = got.filter(F.col("is_fill")).count()
    assert n_fill > 0 and got.count() > n_fill  # gaps filled, data kept
    scan, lineage = tmp_path / "scan.nc", tmp_path / "lineage.nc"
    write_nc_aggregate_streamed(got, str(scan), index_col="time", fmt=fmt)
    write_nc_aggregate_streamed(
        written_lineage[0], str(lineage), index_col="time", fmt=fmt
    )
    assert scan.read_bytes() == lineage.read_bytes()
