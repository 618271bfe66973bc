"""From-spec HDF5/NetCDF-4 *writer* (sources/hdf5_writer.py): round-trip
through the sibling from-spec reader, multi-level chunk B-trees, filter
mask semantics, the netCDF-4 dimension model, and the single-file
``fmt="netcdf4"`` aggregate export (the reference's actual output
container: chunked + zlib, ncagg/aggregator.py:362-417)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ncagg_spark.sources.hdf5 import Hdf5Error, read_hdf5
from ncagg_spark.sources.hdf5_writer import write_hdf5
from ncagg_spark.sources.nc_granules import _decode_hdf5

T0 = 1_704_153_600.0  # 2024-01-02 UTC, seconds


def _blob(n=10, compression=None, chunks=None, shuffle=True):
    data = np.arange(n, dtype="float64")
    return write_hdf5(
        None,
        dims=[("time", 0), ("samples", 3)],
        variables={
            "time": (["time"], data + T0),
            "value": (["time"], (data * 10).astype("int64")),
            "obs": (
                ["time", "samples"],
                np.arange(n * 3, dtype="float32").reshape(n, 3),
            ),
            "cal": (["samples"], np.array([1.5, 2.5, 3.5])),
        },
        attributes={"title": "t", "version": 3, "scale": 0.5},
        var_attributes={
            "time": {"units": "seconds since 1970-01-01"},
            "value": {"_FillValue": np.int64(-9), "valid_range": [0, 100]},
        },
        chunksizes=chunks,
        compression=compression,
        shuffle=shuffle,
    )


def test_roundtrip_values_dims_attrs():
    n = 10
    h5 = read_hdf5(_blob(n))
    np.testing.assert_array_equal(
        h5.read("time"), np.arange(n, dtype="float64") + T0
    )
    np.testing.assert_array_equal(
        h5.read("value"), np.arange(n, dtype="int64") * 10
    )
    np.testing.assert_array_equal(
        h5.read("obs"),
        np.arange(n * 3, dtype="float32").reshape(n, 3),
    )
    np.testing.assert_array_equal(h5.read("cal"), [1.5, 2.5, 3.5])
    assert h5.root_attributes == {"title": "t", "version": 3, "scale": 0.5}
    t = h5.datasets["time"]
    assert t.attributes["CLASS"] == "DIMENSION_SCALE"
    assert t.attributes["units"] == "seconds since 1970-01-01"
    assert t.dataspace.maxshape[0] == 0xFFFFFFFFFFFFFFFF  # unlimited
    v = h5.datasets["value"]
    assert v.attributes["_dim_names"] == ["time"]
    assert v.attributes["_FillValue"] == -9
    assert v.attributes["valid_range"] == [0, 100]
    assert h5.datasets["obs"].attributes["_dim_names"] == ["time", "samples"]


def test_compressed_and_shuffled_roundtrip():
    for shuffle in (True, False):
        h5 = read_hdf5(_blob(50, compression=7, shuffle=shuffle))
        np.testing.assert_array_equal(
            h5.read("value"), np.arange(50, dtype="int64") * 10
        )
        fids = [f for f, _ in h5.datasets["value"].filters]
        assert fids == ([2, 1] if shuffle else [1])


def test_multilevel_chunk_btree():
    """625 chunks forces a 2-level v1 B-tree (64-entry node cap); 2500
    forces 3 levels. Values must survive both, with and without
    compression."""
    n = 10_000
    data = np.arange(n, dtype="float64")
    for chunk, comp in (((16,), 4), ((4,), None)):
        blob = write_hdf5(
            None,
            dims=[("t", 0)],
            variables={"t": (["t"], data)},
            chunksizes={"t": chunk},
            compression=comp,
        )
        np.testing.assert_array_equal(read_hdf5(blob).read("t"), data)


def test_edge_chunk_padding():
    """n not divisible by the chunk size: the trailing partial chunk is
    stored padded but reads back truncated to the dataspace."""
    data = np.arange(23, dtype="int32")
    blob = write_hdf5(
        None,
        dims=[("t", 0)],
        variables={"t": (["t"], data)},
        chunksizes={"t": (5,)},
        compression=1,
    )
    np.testing.assert_array_equal(read_hdf5(blob).read("t"), data)


def test_filter_mask_skips_filter():
    """Chunk filter mask (ADVICE r4): patch one chunk to raw bytes with
    the deflate mask bit set; the reader must skip decompression for
    that chunk and still return the original values."""
    n = 8
    data = np.arange(n, dtype="float64")
    blob = bytearray(
        write_hdf5(
            None,
            dims=[("t", 0)],
            variables={"t": (["t"], data)},
            chunksizes={"t": (8,)},
            compression=6,
            shuffle=False,
        )
    )
    btree = read_hdf5(bytes(blob)).datasets["t"].layout["btree"]
    raw = data.astype("<f8").tobytes()
    new_addr = len(blob)
    blob += raw
    # leaf entry 0 at btree+24: size(4) mask(4) offs(2x8) child(8)
    blob[btree + 24 : btree + 28] = struct.pack("<I", len(raw))
    blob[btree + 28 : btree + 32] = struct.pack("<I", 1)  # skip filter 0
    blob[btree + 48 : btree + 56] = struct.pack("<Q", new_addr)
    np.testing.assert_array_equal(read_hdf5(bytes(blob)).read("t"), data)


def test_bad_superblock_version_raises():
    with pytest.raises(Hdf5Error):
        read_hdf5(b"\x89HDF\r\n\x1a\n" + b"\x07" + b"\x00" * 64)


def test_netcdf4_model_decode():
    nc = _decode_hdf5(_blob(6, compression=7))
    dims = {d.name: d.size for d in nc.dims}
    assert dims == {"time": 0, "samples": 3}  # time unlimited
    assert nc.numrecs == 6
    assert set(nc.variables) == {"time", "value", "obs", "cal"}
    assert nc.variables["obs"].dims == ["time", "samples"]
    assert nc.variables["time"].attributes["units"] == "seconds since 1970-01-01"
    # netCDF-4 bookkeeping attrs must not leak through
    assert "CLASS" not in nc.variables["time"].attributes
    assert "DIMENSION_LIST" not in nc.variables["obs"].attributes
    assert nc.attributes["title"] == "t"
    np.testing.assert_array_equal(
        nc.data["value"], np.arange(6, dtype="int64") * 10
    )


def test_string_variable_roundtrip():
    mat = np.zeros((4, 3), dtype="S1")
    for i, s in enumerate([b"abc", b"de", b"f", b""]):
        mat[i, : len(s)] = [bytes([c]) for c in s]
    blob = write_hdf5(
        None,
        dims=[("t", 0), ("slen", 3)],
        variables={"name": (["t", "slen"], mat)},
    )
    got = read_hdf5(blob).read("name")
    np.testing.assert_array_equal(got, mat)


def test_spark_reads_written_nc4_granules(spark, tmp_path):
    """End-to-end: granules written by THIS writer ingest through the
    standard .nc source (binaryFile -> auto decoder -> mapInPandas)."""
    from ncagg_spark.sources.nc_granules import read_nc_granules

    for g in range(2):
        data = np.arange(5, dtype="float64") + T0 + 5 * g
        write_hdf5(
            str(tmp_path / f"g{g}.nc"),
            dims=[("time", 0)],
            variables={
                "time": (["time"], data),
                "value": (["time"], data - T0),
            },
            var_attributes={"time": {"units": "seconds since 1970-01-01"}},
            compression=7,
        )
    df = read_nc_granules(spark, str(tmp_path / "*.nc"), decoder="auto")
    assert df.count() == 10
    assert df.select("granule").distinct().count() == 2


def test_write_nc_aggregate_netcdf4_roundtrip(spark, tmp_path):
    """fmt='netcdf4' honors chunksizes + compression and round-trips
    dims/attrs/values through the from-spec reader."""
    from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed

    df = spark.createDataFrame(
        [(float(i), i * 2, [float(i), float(i + 1)]) for i in range(20)],
        "t double, v long, arr array<double>",
    )
    out = str(tmp_path / "agg.nc4")
    write_nc_aggregate_streamed(
        df,
        out,
        index_col="t",
        attributes={"title": "agg"},
        var_attributes={"v": {"long_name": "doubled"}},
        fmt="netcdf4",
        chunksizes={"v": (8,)},
        compression=7,
    )
    h5 = read_hdf5(out)
    assert h5.root_attributes["title"] == "agg"
    np.testing.assert_array_equal(
        h5.read("v"), np.arange(20, dtype="int64") * 2
    )
    assert h5.datasets["v"].attributes["long_name"] == "doubled"
    assert h5.datasets["v"].layout["chunk"] == (8,)
    assert [f for f, _ in h5.datasets["v"].filters] == [2, 1]
    arr = h5.read("arr")
    assert arr.shape == (20, 2)
    np.testing.assert_array_equal(arr[:, 0], np.arange(20, dtype="float64"))


def test_cli_nc4_output(spark, tmp_path):
    """DST ending in .nc4 implies the netcdf4 container."""
    from ncagg_spark.cli import main as cli_main
    from ncagg_spark.sources.netcdf3 import write_netcdf3

    n = 30
    write_netcdf3(
        str(tmp_path / "g.nc"),
        dims=[("time", 0)],
        variables={
            "time": (["time"], np.arange(n, dtype="float64") + T0),
            "value": (["time"], np.arange(n, dtype="float64")),
        },
        var_attributes={"time": {"units": "seconds since 1970-01-01"}},
    )
    dst = str(tmp_path / "out.nc4")
    rc = cli_main(
        [dst, str(tmp_path / "g.nc"), "-i", "time",
         "--complevel", "7", "--cpus", "4"]
    )
    assert rc == 0
    h5 = read_hdf5(dst)
    assert h5.buf[:8] == b"\x89HDF\r\n\x1a\n"
    t = h5.read("time")
    assert len(t) == n
    assert np.all(np.diff(t) > 0)


def test_cli_chunksize_flag(spark, tmp_path):
    """The reference's `-c udim:chunksize` on this CLI: netCDF-4 output
    chunks the record dimension by N records."""
    from pyspark.sql import functions as F

    from ncagg_spark.cli import main as cli_main
    from ncagg_spark.sources.hdf5 import read_hdf5

    t0 = 1_704_153_600_000_000
    rows = [(t0 + i * 1_000_000, float(i)) for i in range(300)]
    src = str(tmp_path / "g0.parquet")
    spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("ts"), "value"
    ).coalesce(1).write.parquet(src)

    dst = str(tmp_path / "agg.nc4")
    rc = cli_main(
        [
            dst,
            src,
            "-i", "ts",
            "-z", "1.0",
            "-b", "20240102",
            "-c", "ts_rec:64",
            "--complevel", "5",
        ]
    )
    assert rc == 0
    h5 = read_hdf5(dst)
    val_vars = [
        n for n, d in h5.datasets.items()
        if d.layout.get("class") == "chunked" and n != "ts"
    ]
    assert val_vars
    for n in val_vars:
        assert h5.datasets[n].layout["chunk"][0] == 64
