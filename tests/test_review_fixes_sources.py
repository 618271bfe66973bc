"""Regression tests for the sources-layer review findings: committed
HDF5 datatypes, v2 filter-pipeline headers, the CDF-5 streaming
sentinel, glob-path footer probes, CLI .nc4 routing and multi-grain
flag validation, multidim char decode, and ragged-array granule
export. The all-null column export is tested in
test_nc_streamed_export.py.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ncagg_spark.cli import _source_kinds, main as cli_main
from ncagg_spark.sources.hdf5 import Hdf5File
from ncagg_spark.sources.netcdf3 import read_netcdf3, write_netcdf3
from ncagg_spark.sources.nc_granules import (
    _granule_frame,
    _record_var_fields,
    write_nc_granules,
)

T0_US = 1_704_153_600_000_000


def test_committed_datatype_not_a_dataset():
    """A committed (named) enum/compound type carries a 0x03 message but
    no dataspace — it must land in named_types, not crash as a
    dataset with dataspace=None."""
    f = Hdf5File.__new__(Hdf5File)
    f.datasets = {}
    f.named_types = {}
    f.root_attributes = {}
    enum_msg = (
        struct.pack("<BBBBI", 0x18, 1, 0, 0, 1)
        + struct.pack("<BBBBI", 0x10, 0x08, 0, 0, 1)
        + struct.pack("<HH", 0, 8)
        + b"ok\x00" + b"\x00" * 5
        + b"\x00"
    )
    f._messages = lambda addr: [(0x03, enum_msg)]
    f._visit(123, "flag_t")
    assert "flag_t" not in f.datasets
    assert f.named_types["flag_t"].enum_dict == {"ok": 0}


def test_filter_pipeline_v2_predefined_ids():
    """v2 filter descriptions for predefined ids (< 256) have a 6-byte
    header (no Name Length field); shuffle+deflate must parse exactly."""
    f = Hdf5File.__new__(Hdf5File)
    body = struct.pack("<BB", 2, 2)  # version 2, two filters
    body += struct.pack("<HHH", 2, 0, 1) + struct.pack("<I", 8)  # shuffle esz 8
    body += struct.pack("<HHH", 1, 0, 1) + struct.pack("<I", 6)  # deflate lvl 6
    assert f._parse_filters(body) == [(2, [8]), (1, [6])]


def test_cdf5_streaming_sentinel_recovers_records(tmp_path):
    data = np.arange(5, dtype="int64")  # int64 forces CDF-5
    blob = bytearray(
        write_netcdf3(
            None,
            dims=[("t", 0)],
            variables={"t": (["t"], data)},
        )
    )
    assert blob[3] == 5  # version byte: CDF-5
    blob[4:12] = b"\xff" * 8  # 64-bit STREAMING numrecs sentinel
    nc = read_netcdf3(bytes(blob))
    np.testing.assert_array_equal(nc.data["t"], data)
    assert nc.numrecs == 5


def test_glob_path_probe_converts_nanos(spark, tmp_path):
    from ncagg_spark.sources.granules import read_granules

    tbl = pa.table(
        {
            "ts": pa.array([T0_US * 1000, (T0_US + 1) * 1000],
                           type=pa.timestamp("ns")),
            "v": pa.array([1.0, 2.0]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "g0.parquet"))
    # glob spelling must behave exactly like the directory spelling
    out = read_granules(spark, str(tmp_path / "*.parquet"))
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    us = [r["us"] for r in out.select(
        F.unix_micros("ts").alias("us")).collect()]
    assert sorted(us) == [T0_US, T0_US + 1]


def test_source_kinds_nc4(tmp_path):
    d = tmp_path / "n4"
    d.mkdir()
    (d / "g.nc4").write_bytes(b"x")
    assert _source_kinds([str(d)]) == {"nc"}
    assert _source_kinds([str(d / "g.nc4")]) == {"nc"}


def test_cli_multigrain_rejects_nc_dst_and_flags(tmp_path, capsys):
    rc = cli_main(
        [str(tmp_path / "out.nc"), "x.parquet", "-u", "ts:1"]
    )
    assert rc == 2
    assert "multi-grain" in capsys.readouterr().err
    rc = cli_main(
        [str(tmp_path / "out"), "x.parquet", "-u", "ts:1",
         "--complevel", "7"]
    )
    assert rc == 2


def test_multidim_char_decodes_per_slot():
    """(record, k, strlen) char cubes yield k strings per record, not
    one run-together string."""
    from ncagg_spark.sources.netcdf3 import NcDim, NcFile, NcVar

    chars = np.full((2, 2, 4), b"\x00", dtype="S1")
    for r in range(2):
        for k in range(2):
            for i, ch in enumerate(f"r{r}k{k}"):
                chars[r, k, i] = ch.encode()
    nc = NcFile(
        dims=[NcDim("t", 0), NcDim("k", 2), NcDim("s", 4)],
        variables={
            "labels": NcVar(
                name="labels", dims=["t", "k", "s"], nc_type=2,
                is_record=True,
            )
        },
        attributes={},
        numrecs=2,
        version=2,
        data={"labels": chars},
    )
    fields = _record_var_fields(nc)
    assert fields == [("labels", T.ArrayType(T.StringType()), True)]
    schema = T.StructType(
        [T.StructField("labels", T.ArrayType(T.StringType()))]
    )
    frame = _granule_frame(nc, "p", schema)
    assert list(frame["labels"]) == [["r0k0", "r0k1"], ["r1k0", "r1k1"]]


def test_write_nc_granules_ragged_arrays(spark, tmp_path):
    rows = [
        (T0_US, [1.0]),
        (T0_US + 1_000_000, [1.0, 2.0, 3.0]),
        (T0_US + 2_000_000, None),
    ]
    df = spark.createDataFrame(rows, "us long, a array<double>").select(
        F.timestamp_micros("us").alias("ts"), "a"
    )
    man = write_nc_granules(
        df, str(tmp_path / "gr"), index_col="ts"
    ).collect()
    assert len(man) == 1 and man[0]["n_records"] == 3
    nc = read_netcdf3(open(man[0]["path"], "rb").read())
    mat = nc.data["a"]
    assert mat.shape == (3, 3)
    np.testing.assert_array_equal(mat[1], [1.0, 2.0, 3.0])
    assert np.isnan(mat[0][1]) and np.isnan(mat[2]).all()
    np.testing.assert_array_equal(mat[0][0], 1.0)
