"""Regression tests for the round-5 self-review findings: scalar-var
chunking corruption, v3 array-datatype offset, mix_corpora empty-source
silence, and the two CLI routing gaps (classic-output compression
flags, same-directory mixed sources). The UTF-8 string width of the
.nc export is tested in test_nc_streamed_export.py.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from ncagg_spark.cli import _source_kinds, main as cli_main
from ncagg_spark.pipeline.sampling import mix_corpora
from ncagg_spark.sources.hdf5 import Hdf5File, read_hdf5
from ncagg_spark.sources.hdf5_writer import write_hdf5


def test_scalar_variable_with_compression_roundtrips():
    # previously: chunk=(1,) against a rank-0 dataspace -> corrupt file
    blob = write_hdf5(
        None,
        dims=[("rec", 0)],
        variables={
            "t": (["rec"], np.arange(3.0)),
            "s": ([], np.float64(7.5)),
        },
        compression=5,
    )
    h5 = read_hdf5(blob)
    assert h5.read("s") == 7.5
    np.testing.assert_array_equal(h5.read("t"), np.arange(3.0))


def test_array_datatype_v3_member_offsets():
    # hand-built v3 (class 10) array datatype over int32, dims (3,):
    # v3 packs dims right after ndims (no reserved bytes, no perm)
    from tests.conftest import dt_i32_msg

    base = dt_i32_msg()
    msg = (
        struct.pack("<BBBBI", (3 << 4) | 10, 0, 0, 0, 12)
        + struct.pack("<B", 1)
        + struct.pack("<I", 3)
        + base
    )
    f = Hdf5File.__new__(Hdf5File)
    dt = f._parse_datatype(msg)
    assert dt.cls == 10
    assert dt.np_dtype == np.dtype(("<i4", (3,)))


def test_mix_corpora_empty_positive_source_raises(spark):
    web = spark.range(0).select(F.col("id").alias("doc_id"))
    code = spark.range(100).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="zero rows"):
        mix_corpora(
            {"web": web, "code": code}, {"web": 0.8, "code": 0.2}
        )


def test_cli_complevel_requires_netcdf4(tmp_path, capsys):
    rc = cli_main(
        [str(tmp_path / "out.nc"), "whatever.parquet", "-i", "ts",
         "--complevel", "7"]
    )
    assert rc == 2
    assert "netcdf4" in capsys.readouterr().err.lower()
    rc = cli_main(
        [str(tmp_path / "out"), "whatever.parquet", "-i", "ts",
         "-c", "time:1000"]
    )
    assert rc == 2


def test_source_kinds_mixed_directory(tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "granule_0.nc").write_bytes(b"x")
    (d / "part-0.parquet").write_bytes(b"y")
    assert _source_kinds([str(d)]) == {"nc", "parquet"}
    e = tmp_path / "nconly"
    e.mkdir()
    (e / "granule_0.nc").write_bytes(b"x")
    assert _source_kinds([str(e)]) == {"nc"}
    p = tmp_path / "pq"
    p.mkdir()
    (p / "part-0.parquet").write_bytes(b"y")
    assert _source_kinds([str(p)]) == {"parquet"}
