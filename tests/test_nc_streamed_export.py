"""The single-file `.nc` export (``write_nc_aggregate_streamed``).

Classic output is checked byte for byte against ``write_netcdf3`` fed
hand-written arrays, so the streamed record encoder must reproduce the
spec writer's data section; netCDF-4 output is decoded through
``read_hdf5`` and compared with hand-written arrays, NaN masks, dims
and attributes. Both containers take their dtypes from one spec pass
(null-driven promotions, widths) and stay ordered under multi-block
range partitioning; 10M+ rows export with the Spark driver capped at
1 GiB (VERDICT r4 #1).
"""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

from ncagg_spark.sources import nc_granules
from ncagg_spark.sources.hdf5 import read_hdf5
from ncagg_spark.sources.nc_granules import write_nc_aggregate_streamed
from ncagg_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

T0_US = 1_704_153_600_000_000  # 2024-01-02T00:00:00Z
T0_S = T0_US // 1_000_000
UNITS = "seconds since 1970-01-01"  # the writer's default cf_units


def _chars(strings, width):
    """A classic char matrix: UTF-8 bytes, NUL-padded; None -> all NUL."""
    mat = np.zeros((len(strings), width), dtype="S1")
    for i, s in enumerate(strings):
        for j, b in enumerate((s or "").encode("utf-8")):
            mat[i, j] = bytes([b])
    return mat


def _mixed_df(spark, n=500):
    rows = []
    for i in range(n):
        ts = datetime.datetime(
            2024, 1, 2, tzinfo=datetime.timezone.utc
        ) + datetime.timedelta(seconds=i)
        rows.append(
            (
                ts,
                float(i) * 0.5,
                i,
                i if i % 5 else None,  # nullable long -> float64 promo
                [float(i), float(i + 1), float(i + 2)],
                f"name{i}" if i % 7 else None,
                i % 2 == 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "ts timestamp, val double, n long, nn long, "
        "arr array<double>, tag string, flag boolean",
    )


def _mixed_expected(n=500):
    """``_mixed_df`` as the export's dtype rules lay it out: CF seconds,
    the nullable long promoted to float64/NaN, booleans as int8 and the
    strings as a char matrix as wide as the longest UTF-8 value."""
    i = np.arange(n)
    nn = i.astype("float64")
    nn[i % 5 == 0] = np.nan
    tags = [f"name{k}" if k % 7 else None for k in range(n)]
    width = max(len(t) for t in tags if t)
    dims = [("ts", 0), ("arr_dim1", 3), ("tag_str_len", width)]
    variables = {
        "ts": (["ts"], T0_S + i.astype("float64")),
        "val": (["ts"], i * 0.5),
        "n": (["ts"], i.astype("int64")),
        "nn": (["ts"], nn),
        "arr": (
            ["ts", "arr_dim1"],
            np.stack([i, i + 1, i + 2], axis=1).astype("float64"),
        ),
        "tag": (["ts", "tag_str_len"], _chars(tags, width)),
        "flag": (["ts"], (i % 2 == 0).astype("int8")),
    }
    return dims, variables


_MIXED_ATTRS = dict(
    attributes={"title": "x", "count": 5},
    var_attributes={"val": {"units": "W"}},
)


def test_streamed_export_byte_identical(spark, tmp_path):
    df = _mixed_df(spark)
    out = tmp_path / "str.nc"
    write_nc_aggregate_streamed(df, str(out), index_col="ts", **_MIXED_ATTRS)
    dims, variables = _mixed_expected()
    expected = write_netcdf3(
        None,
        dims=dims,
        variables=variables,
        attributes=_MIXED_ATTRS["attributes"],
        var_attributes={"val": {"units": "W"}, "ts": {"units": UNITS}},
    )
    assert out.read_bytes() == expected


def test_streamed_export_single_record_var_packed(spark, tmp_path):
    df = _mixed_df(spark, 64).select("ts")
    out = tmp_path / "str.nc"
    write_nc_aggregate_streamed(df, str(out), index_col="ts")
    expected = write_netcdf3(
        None,
        dims=[("ts", 0)],
        variables={"ts": (["ts"], T0_S + np.arange(64, dtype="float64"))},
        var_attributes={"ts": {"units": UNITS}},
    )
    assert out.read_bytes() == expected


def test_streamed_export_many_blocks_ordered(spark, tmp_path):
    """Force multi-block range partitioning (tiny block size) on shuffled
    input: output must still be index-sorted and value-correct."""
    df = _mixed_df(spark, 400).orderBy("val")  # not index order
    out = str(tmp_path / "s.nc")
    write_nc_aggregate_streamed(
        df.select("ts", "val", "n"),
        out,
        index_col="ts",
        target_block_bytes=2048,  # ~85 records/block -> several blocks
    )
    f = read_netcdf3(out)
    assert f.numrecs == 400
    t = f.data["ts"]
    assert np.all(np.diff(t) > 0)
    np.testing.assert_array_equal(f.data["n"], np.arange(400))


def test_streamed_export_int_array_nulls_promote(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, [1, 2]), (1, None), (2, [3, 4])], "rid long, a array<long>"
    )
    out = str(tmp_path / "p.nc")
    write_nc_aggregate_streamed(df, out, index_col="rid")
    f = read_netcdf3(out)
    assert f.data["a"].dtype == np.dtype(">f8")
    assert np.isnan(f.data["a"][1]).all()


@pytest.mark.slow
def test_streamed_export_10m_rows_capped_driver(tmp_path):
    """10M rows (~0.5 GB of record data) exported to ONE classic .nc
    with spark.driver.memory=1g — the in-memory toPandas path cannot
    hold this; the streamed path's driver footprint is one block."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession, functions as F
        from ncagg_spark.sources.nc_granules import (
            write_nc_aggregate_streamed,
        )
        spark = (
            # plain local[8], default maxFailures=1, default
            # maxDirectResultSize: the r13 spill-file transport moves
            # encoded blocks through the filesystem, so NOTHING rides
            # task results / the block manager and the r7-r12
            # TaskResultLost flake class cannot occur. Running with no
            # retries is deliberate — the export must be deterministic
            # on one attempt.
            SparkSession.builder.master("local[8]")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        n = 10_000_000
        df = spark.range(n).select(
            (F.col("id") * 0.1).alias("time"),
            (F.col("id") % 1000).cast("double").alias("v1"),
            F.array(
                (F.col("id") % 7).cast("double"),
                (F.col("id") % 11).cast("double"),
                (F.col("id") % 13).cast("double"),
            ).alias("obs"),
        )
        out = sys.argv[1]
        write_nc_aggregate_streamed(df, out, index_col="time")
        import os
        print("OK", os.path.getsize(out))
        """
    )
    out = str(tmp_path / "big.nc")
    sp = str(tmp_path / "script.py")
    with open(sp, "w") as f:
        f.write(script)
    env = dict(os.environ)
    r = subprocess.run(
        [sys.executable, sp, out],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "OK" in r.stdout
    # header sanity without materializing data: 10M records, 3 vars
    with open(out, "rb") as f:
        head = f.read(4096)
    assert head[:3] == b"CDF"
    size = os.path.getsize(out)
    # 8 (time) + 8 (v1) + 24 (obs) = 40 B/record + header
    assert size > 10_000_000 * 40


def test_streamed_nc4_value_equal(spark, tmp_path):
    """fmt="netcdf4": the streamed HDF5 export decodes to the same
    arrays, NaN masks, dims and attributes as the classic layout."""
    df = _mixed_df(spark)
    out = str(tmp_path / "s.nc4")
    write_nc_aggregate_streamed(
        df, out, index_col="ts", fmt="netcdf4", compression=5,
        **_MIXED_ATTRS,
    )
    h5 = read_hdf5(out)
    dims, variables = _mixed_expected()
    assert h5.root_attributes["title"] == "x"
    assert h5.root_attributes["count"] == 5
    # the record dim is the index's own dimension scale; the inner dims
    # are netCDF-4 dimension-only scales of their full widths
    assert h5.datasets["ts"].attributes["CLASS"] == "DIMENSION_SCALE"
    for dname, size in dims[1:]:
        assert h5.datasets[dname].dataspace.shape == (size,), dname
    assert set(h5.datasets) == set(variables) | {d for d, _ in dims}
    for name, (vdims, want) in variables.items():
        got = h5.read(name)
        assert got.dtype == want.dtype, name
        if want.dtype.kind == "f":
            np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
        np.testing.assert_array_equal(got, want)
        if name != "ts":
            assert h5.datasets[name].attributes["_dim_names"] == vdims
        assert [f for f, _ in h5.datasets[name].filters] == [2, 1], name
    assert h5.datasets["val"].attributes["units"] == "W"
    assert h5.datasets["ts"].attributes["units"] == UNITS


def test_streamed_nc4_record_chunksize_and_multichunk(spark, tmp_path):
    from ncagg_spark.sources.hdf5 import read_hdf5

    n = 1000
    df = spark.createDataFrame(
        [(1_704_153_600_000_000 + i * 1_000_000, float(i)) for i in range(n)],
        "us long, v double",
    ).select(F.timestamp_micros("us").alias("ts"), "v")
    p = str(tmp_path / "c.nc4")
    write_nc_aggregate_streamed(
        df, p, fmt="netcdf4", index_col="ts",
        record_chunksize=128, compression=4,
    )
    h5 = read_hdf5(p)
    assert h5.datasets["v"].layout["chunk"] == (128,)
    vals = h5.read("v")
    np.testing.assert_array_equal(vals, np.arange(n, dtype="float64"))
    # edge chunk (1000 % 128 != 0) decoded correctly too
    ts = h5.read("ts")
    assert ts[-1] - ts[0] == pytest.approx(n - 1)


def test_streamed_nc4_capped_driver(tmp_path):
    """2M rows exported to ONE .nc4 with spark.driver.memory=1g: the
    toPandas path would hold the whole aggregate; the streamed path's
    driver footprint is one compressed chunk."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession, functions as F
        from ncagg_spark.sources.nc_granules import (
            write_nc_aggregate_streamed,
        )
        spark = (
            # plain local[8], default maxFailures=1, default
            # maxDirectResultSize: the r13 spill-file transport moves
            # compressed chunk payloads through the filesystem, so
            # NOTHING rides task results / the block manager and the
            # r7-r12 TaskResultLost flake class cannot occur. No
            # retries is deliberate — the export must be deterministic
            # on one attempt.
            SparkSession.builder.master("local[8]")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        n = 2_000_000
        df = spark.range(n).select(
            (F.col("id") * 0.1).alias("time"),
            (F.col("id") % 1000).cast("double").alias("v1"),
            F.array(
                (F.col("id") % 7).cast("double"),
                (F.col("id") % 11).cast("double"),
                (F.col("id") % 13).cast("double"),
            ).alias("obs"),
        )
        out = sys.argv[1]
        write_nc_aggregate_streamed(
            df, out, index_col="time", fmt="netcdf4", compression=1
        )
        import os
        print("OK", os.path.getsize(out))
        """
    )
    out = str(tmp_path / "big.nc4")
    sp = str(tmp_path / "script.py")
    with open(sp, "w") as f:
        f.write(script)
    r = subprocess.run(
        [sys.executable, sp, out],
        capture_output=True,
        text=True,
        timeout=600,
        env=dict(os.environ),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "OK" in r.stdout
    with open(out, "rb") as f:
        assert f.read(8) == b"\x89HDF\r\n\x1a\n"
    # spot-decode the tail records without loading everything twice
    from ncagg_spark.sources.hdf5 import read_hdf5

    h5 = read_hdf5(out)
    v1 = h5.read("v1")
    assert len(v1) == 2_000_000 and v1[-1] == (2_000_000 - 1) % 1000


def test_streamed_nc4_chunksize_exceeding_numrecs_clamped(spark, tmp_path):
    """record_chunksize > numrecs: declared chunk metadata and encoded
    blocks must agree (clamped to numrecs), not diverge by 5x."""
    from ncagg_spark.sources.hdf5 import read_hdf5

    df = spark.createDataFrame(
        [(1_704_153_600_000_000 + i * 1_000_000, float(i)) for i in range(100)],
        "us long, v double",
    ).select(F.timestamp_micros("us").alias("ts"), "v")
    p = str(tmp_path / "ck.nc4")
    write_nc_aggregate_streamed(
        df, p, fmt="netcdf4", index_col="ts", record_chunksize=5000
    )
    h5 = read_hdf5(p)
    assert h5.datasets["v"].layout["chunk"] == (100,)
    np.testing.assert_array_equal(h5.read("v"), np.arange(100.0))


def test_streamed_classic_rejects_nc4_only_flags(spark, tmp_path):
    df = spark.createDataFrame(
        [(1_704_153_600_000_000, 1.0)], "us long, v double"
    ).select(F.timestamp_micros("us").alias("ts"), "v")
    with pytest.raises(ValueError, match="netcdf4"):
        write_nc_aggregate_streamed(
            df, str(tmp_path / "x.nc"), index_col="ts", compression=5
        )


def test_streamed_nc4_wide_array_default_chunk_capped(spark, tmp_path):
    """A wide array variable must cap the DEFAULT chunk per-variable
    (previously the 4096-record floor built multi-GiB chunks)."""
    from ncagg_spark.sources.hdf5 import read_hdf5

    w = 1 << 14  # 16k float64 = 128 KiB per row for this var
    df = spark.createDataFrame(
        [(1_704_153_600_000_000 + i * 1_000_000, float(i)) for i in range(64)],
        "us long, seed double",
    ).select(
        F.timestamp_micros("us").alias("ts"),
        F.expr(f"transform(sequence(1, {w}), j -> seed)").alias("wide"),
    )
    p = str(tmp_path / "wide.nc4")
    write_nc_aggregate_streamed(df, p, fmt="netcdf4", index_col="ts")
    h5 = read_hdf5(p)
    rows, width = h5.datasets["wide"].layout["chunk"]
    assert width == w
    assert rows * w * 8 <= 16 << 20  # per-variable 16 MiB cap
    assert h5.read("wide").shape == (64, w)


def test_nested_array_columns_export_3d(spark, tmp_path):
    """array<array<T>> columns (2-D per record, e.g. MAG's
    (report, samples, 3) field vectors) export as 3-D
    (record, dim1, dim2) variables — round 6, found by exporting the
    full real MAG aggregate in the head-to-head harness. Ragged rows
    pad NaN; int64 only when every row and element is full."""
    rows = []
    for i in range(50):
        mat = [[float(i), float(j), i + j / 10.0] for j in range(4)]
        if i == 7:
            mat = mat[:2]  # ragged outer -> float64 + NaN pad
        imat = [[i, j] for j in range(3)]  # full -> int64
        rows.append((T0_US + i * 1_000_000, mat, imat, float(i)))
    df = spark.createDataFrame(
        rows,
        "us long, field array<array<double>>, "
        "counts array<array<long>>, v double",
    ).select(
        F.timestamp_micros("us").alias("ts"), "field", "counts", "v"
    )
    p_str = tmp_path / "str.nc"
    write_nc_aggregate_streamed(df, str(p_str), index_col="ts")

    i = np.arange(50, dtype="float64")[:, None]
    j = np.arange(4, dtype="float64")[None, :]
    field = np.stack(
        np.broadcast_arrays(i, j, i + j / 10.0), axis=-1
    ).copy()
    field[7, 2:] = np.nan
    counts = np.stack(
        np.broadcast_arrays(
            np.arange(50)[:, None], np.arange(3)[None, :]
        ),
        axis=-1,
    ).astype("int64")
    expected = write_netcdf3(
        None,
        dims=[
            ("ts", 0),
            ("field_dim1", 4), ("field_dim2", 3),
            ("counts_dim1", 3), ("counts_dim2", 2),
        ],
        variables={
            "ts": (["ts"], T0_S + np.arange(50, dtype="float64")),
            "field": (["ts", "field_dim1", "field_dim2"], field),
            "counts": (["ts", "counts_dim1", "counts_dim2"], counts),
            "v": (["ts"], np.arange(50, dtype="float64")),
        },
        var_attributes={"ts": {"units": UNITS}},
    )
    a = p_str.read_bytes()
    assert a == expected

    f = read_netcdf3(a)
    field = f.data["field"]
    counts = f.data["counts"]
    assert field.shape == (50, 4, 3) and field.dtype.kind == "f"
    # classic files store big-endian; int64 fullness rule held
    assert counts.shape == (50, 3, 2)
    assert counts.dtype.kind == "i" and counts.dtype.itemsize == 8
    assert field[3][2][2] == 3 + 2 / 10.0
    # ragged row 7: rows 2..3 padded NaN
    assert np.isnan(field[7][3]).all() and np.isfinite(field[7][1]).all()
    assert counts[49][2][1] == 2
    assert f.variables["field"].dims == ["ts", "field_dim1", "field_dim2"]


def test_nested_array_deeper_nesting_raises(spark, tmp_path):
    from pyspark.sql import functions as F

    from ncagg_spark.sources.nc_granules import (
        write_nc_aggregate_streamed,
    )

    df = spark.createDataFrame(
        [(1_704_153_600_000_000, [[[1.0]]])],
        "us long, x array<array<array<double>>>",
    ).select(F.timestamp_micros("us").alias("ts"), "x")
    with pytest.raises(ValueError, match="deeper than 2"):
        write_nc_aggregate_streamed(
            df, str(tmp_path / "n.nc"), index_col="ts"
        )


def test_nested_array_nc4_streamed_value_equal_to_inmem(spark, tmp_path):
    """Streamed netCDF-4 export of nested (2-D per record) array
    columns (r7 — closed the r6 NotImplementedError): decodes to the
    hand-written 3-D array, ragged rows padded NaN, with the 3-D dims."""
    rows = [
        (T0_US, [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]),
        (T0_US + 1_000_000, [[7.0, 8.0]]),  # ragged -> NaN padding
        (T0_US + 2_000_000, [[9.0, 10.0, 11.0], [12.0, 13.0, 14.0]]),
    ]
    df = spark.createDataFrame(
        rows, "us long, m array<array<double>>"
    ).select(F.timestamp_micros("us").alias("ts"), "m")
    p_str = str(tmp_path / "s.nc4")
    write_nc_aggregate_streamed(
        df, p_str, fmt="netcdf4", index_col="ts", compression=4
    )
    hs = read_hdf5(open(p_str, "rb").read())
    nan = np.nan
    want = np.array(
        [
            [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]],
            [[7.0, 8.0, nan], [nan, nan, nan]],
            [[9.0, 10.0, 11.0], [12.0, 13.0, 14.0]],
        ]
    )
    a = hs.read("m")
    assert a.shape == (3, 2, 3) and a.dtype == np.float64
    np.testing.assert_array_equal(np.isnan(a), np.isnan(want))
    np.testing.assert_array_equal(a, want)
    assert hs.datasets["m"].attributes["_dim_names"] == [
        "ts", "m_dim1", "m_dim2"
    ]
    np.testing.assert_array_equal(
        hs.read("ts"), T0_S + np.arange(3, dtype="float64")
    )


def test_streamed_export_explicit_spill_dir(spark, tmp_path):
    """ADVICE r13: the big-path spill directory is executor-written —
    an explicit ``spill_dir=`` (for clusters where the output path is
    driver-local) must be honored, used for the spill files, and the
    user's base dir must survive the export (only the mkdtemp child is
    cleaned up). Byte-identity with the default-sibling run pins that
    the transport location does not affect the output."""
    df = _mixed_df(spark, 400)
    base = tmp_path / "shared-scratch"
    out_a = str(tmp_path / "a.nc")
    out_b = str(tmp_path / "b.nc")
    kw = dict(index_col="ts", target_block_bytes=2048)  # force big path
    write_nc_aggregate_streamed(df, out_a, **kw)
    write_nc_aggregate_streamed(df, out_b, spill_dir=str(base), **kw)
    assert (tmp_path / "a.nc").read_bytes() == (tmp_path / "b.nc").read_bytes()
    # the base dir was created, used, and left in place (empty again)
    assert base.is_dir()
    assert list(base.iterdir()) == []


def test_streamed_export_spill_dir_conf_nc4(spark, tmp_path):
    """The ``spark.ncagg.spillDir`` conf routes the netCDF-4 spill files
    too, and the splice is value-equal to a default-sibling run."""
    from ncagg_spark.sources.hdf5 import read_hdf5

    df = _mixed_df(spark, 300).select("ts", "val", "n")
    base = tmp_path / "conf-scratch"
    out_a = str(tmp_path / "a4.nc")
    out_b = str(tmp_path / "b4.nc")
    kw = dict(index_col="ts", fmt="netcdf4", record_chunksize=64)
    write_nc_aggregate_streamed(df, out_a, **kw)
    spark.conf.set("spark.ncagg.spillDir", str(base))
    try:
        write_nc_aggregate_streamed(df, out_b, **kw)
    finally:
        spark.conf.unset("spark.ncagg.spillDir")
    fa = read_hdf5(open(out_a, "rb").read())
    fb = read_hdf5(open(out_b, "rb").read())
    assert set(fa.datasets) == set(fb.datasets)
    for k in fa.datasets:
        np.testing.assert_array_equal(fa.read(k), fb.read(k))
    assert base.is_dir() and list(base.iterdir()) == []


def test_int_array_null_leaf_demotes_float64(spark, tmp_path):
    """A null LEAF in an integer array column demotes it to float64/NaN
    (ADVICE r6: NaN->astype(int64) used to write INT64_MIN garbage)."""
    df = spark.createDataFrame(
        [(0, [1, None, 3]), (1, [4, 5, 6])], "rid long, a array<long>"
    )
    out = tmp_path / "s.nc"
    write_nc_aggregate_streamed(df, str(out), index_col="rid")
    expected = write_netcdf3(
        None,
        dims=[("rid", 0), ("a_dim1", 3)],
        variables={
            "rid": (["rid"], np.array([0, 1], dtype="int64")),
            "a": (["rid", "a_dim1"], np.array([[1, np.nan, 3], [4, 5, 6]])),
        },
    )
    assert out.read_bytes() == expected
    a = read_netcdf3(str(out)).data["a"]
    assert a.dtype == np.dtype(">f8")
    assert np.isnan(a[0, 1])
    np.testing.assert_array_equal(a[1], [4.0, 5.0, 6.0])
    # the old bug: INT64_MIN in the data — assert nothing wild
    assert np.nanmin(a) >= 1.0


def test_nested_int_array_null_leaf_demotes_float64(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, [[1, None], [3, 4]]), (1, [[5, 6], [7, 8]])],
        "rid long, a array<array<long>>",
    )
    out = tmp_path / "s.nc"
    write_nc_aggregate_streamed(df, str(out), index_col="rid")
    expected = write_netcdf3(
        None,
        dims=[("rid", 0), ("a_dim1", 2), ("a_dim2", 2)],
        variables={
            "rid": (["rid"], np.array([0, 1], dtype="int64")),
            "a": (
                ["rid", "a_dim1", "a_dim2"],
                np.array([[[1, np.nan], [3, 4]], [[5, 6], [7, 8]]]),
            ),
        },
    )
    assert out.read_bytes() == expected
    a = read_netcdf3(str(out)).data["a"]
    assert a.dtype == np.dtype(">f8")
    assert np.isnan(a[0, 0, 1])
    np.testing.assert_array_equal(a[1], [[5.0, 6.0], [7.0, 8.0]])
    assert np.nanmin(a) >= 1.0


def test_nested_int_array_full_stays_int64(spark, tmp_path):
    """No nulls at any level -> int64 is still chosen (no regression of
    the exact-integer contract)."""
    df = spark.createDataFrame(
        [(0, [[1, 2], [3, 4]]), (1, [[5, 6], [7, 8]])],
        "rid long, a array<array<long>>",
    )
    out = str(tmp_path / "i.nc")
    write_nc_aggregate_streamed(df, out, index_col="rid")
    f = read_netcdf3(out)
    assert f.data["a"].dtype == np.dtype(">i8")
    np.testing.assert_array_equal(f.data["a"][0], [[1, 2], [3, 4]])


def test_streamed_writer_spec_failure_unpersists(spark, tmp_path):
    """A spec-pass failure (all-empty array column) must not leave the
    persisted frame pinned in executor storage."""
    sc = spark.sparkContext
    before = len(
        [r for r in sc._jsc.sc().getRDDStorageInfo()]
    )
    df = spark.createDataFrame(
        [(0, []), (1, [])], "rid long, a array<double>"
    )
    with pytest.raises(ValueError, match="no non-empty rows"):
        write_nc_aggregate_streamed(
            df, str(tmp_path / "x.nc"), index_col="rid"
        )
    after = len([r for r in sc._jsc.sc().getRDDStorageInfo()])
    assert after <= before


def test_streamed_export_block_sized_drain_byte_identical(
    spark, tmp_path
):
    # Force n_blocks >> cores (tiny target_block_bytes): the drain must
    # keep ~one-block partitions and still write the spec writer's file
    # (ADVICE r8: the fixed <=8-way coalesce held ~fileBytes/8).
    rows = []
    for i in range(2000):
        ts = datetime.datetime(
            2024, 1, 2, tzinfo=datetime.timezone.utc
        ) + datetime.timedelta(seconds=i)
        rows.append((ts, float(i) * 0.5, i))
    df = spark.createDataFrame(rows, "ts timestamp, val double, n long")
    out = tmp_path / "str.nc"
    write_nc_aggregate_streamed(
        df,
        str(out),
        index_col="ts",
        target_block_bytes=1024,  # 2000 recs * 24 B -> ~47 blocks > 32
    )
    i = np.arange(2000)
    expected = write_netcdf3(
        None,
        dims=[("ts", 0)],
        variables={
            "ts": (["ts"], T0_S + i.astype("float64")),
            "val": (["ts"], i * 0.5),
            "n": (["ts"], i.astype("int64")),
        },
        var_attributes={"ts": {"units": UNITS}},
    )
    assert out.read_bytes() == expected


def test_nc_export_non_ascii_strings_roundtrip(spark, tmp_path):
    # width must be UTF-8 bytes: 'café' is 4 chars / 5 bytes
    tags = ["café", "naïve—x", "ok"]
    df = spark.createDataFrame(
        [(1.0, tags[0]), (2.0, tags[1]), (3.0, tags[2])],
        "ts double, tag string",
    )
    out = tmp_path / "str.nc"
    write_nc_aggregate_streamed(df, str(out), index_col="ts")
    width = max(len(t.encode("utf-8")) for t in tags)  # 10 bytes
    expected = write_netcdf3(
        None,
        dims=[("ts", 0), ("tag_str_len", width)],
        variables={
            "ts": (["ts"], np.array([1.0, 2.0, 3.0])),
            "tag": (["ts", "tag_str_len"], _chars(tags, width)),
        },
    )
    assert out.read_bytes() == expected
    chars = read_netcdf3(out.read_bytes()).data["tag"]
    decoded = [
        bytes(bytearray(b"".join(row))).decode("utf-8").rstrip("\x00")
        for row in chars
    ]
    assert decoded == tags


def test_streamed_export_all_null_object_columns(spark, tmp_path):
    """All-null string/array columns must not crash the streamed export:
    with no width or element type to derive, each exports as a float64
    NaN scalar variable."""
    rows = [(T0_US + i * 1_000_000, float(i), None, None) for i in range(4)]
    df = spark.createDataFrame(
        rows, "us long, v double, tag string, arr array<double>"
    ).select(
        F.timestamp_micros("us").alias("ts"), "v", "tag", "arr"
    )
    out = tmp_path / "str.nc"
    write_nc_aggregate_streamed(df, str(out), index_col="ts")
    nan4 = np.full(4, np.nan)
    expected = write_netcdf3(
        None,
        dims=[("ts", 0)],
        variables={
            "ts": (["ts"], T0_S + np.arange(4, dtype="float64")),
            "v": (["ts"], np.arange(4, dtype="float64")),
            "tag": (["ts"], nan4),
            "arr": (["ts"], nan4),
        },
        var_attributes={"ts": {"units": UNITS}},
    )
    assert out.read_bytes() == expected


def _three_var_df(spark, n=50):
    return spark.createDataFrame(
        [
            (T0_US + i * 1_000_000, float(i), [i, -i], 3 * i)
            for i in range(n)
        ],
        "us long, a double, b array<long>, c long",
    ).select(F.timestamp_micros("us").alias("ts"), "a", "b", "c")


def _check_three_var(h5, n=50):
    i = np.arange(n)
    np.testing.assert_array_equal(h5.read("ts"), T0_S + i.astype("float64"))
    np.testing.assert_array_equal(h5.read("a"), i.astype("float64"))
    np.testing.assert_array_equal(h5.read("b"), np.stack([i, -i], axis=1))
    np.testing.assert_array_equal(h5.read("c"), 3 * i)


def test_streamed_nc4_per_variable_chunksizes(spark, tmp_path, monkeypatch):
    """chunksizes[name] = (records_per_chunk, *inner) sets one
    variable's record chunk; the others keep the default chunk. Record
    chunks of 8 and 12 over 50 records end in partial edge chunks."""
    df = _three_var_df(spark)
    out = str(tmp_path / "ck.nc4")
    write_nc_aggregate_streamed(
        df, out, index_col="ts", fmt="netcdf4", compression=7,
        chunksizes={"a": (8,), "b": (12, 2)},
    )
    h5 = read_hdf5(out)
    assert h5.datasets["a"].layout["chunk"] == (8,)
    assert h5.datasets["b"].layout["chunk"] == (12, 2)
    # default chunk: clamped to the 50 records
    assert h5.datasets["c"].layout["chunk"] == (50,)
    assert h5.datasets["ts"].layout["chunk"] == (50,)
    assert [f for f, _ in h5.datasets["a"].filters] == [2, 1]
    _check_three_var(h5)

    # several row groups: with the group bound at its floor, each group
    # spans one lcm(8, 12, 24) = 24 records (3 groups over 50), so the
    # chunk grid must line up across group boundaries
    monkeypatch.setattr(nc_granules, "_NC4_GROUP_BYTES", 1)
    out2 = str(tmp_path / "ck2.nc4")
    write_nc_aggregate_streamed(
        df, out2, index_col="ts", fmt="netcdf4", record_chunksize=24,
        chunksizes={"a": (8,), "b": (12,)},
    )
    h5 = read_hdf5(out2)
    assert h5.datasets["a"].layout["chunk"] == (8,)
    assert h5.datasets["b"].layout["chunk"] == (12, 2)
    assert h5.datasets["c"].layout["chunk"] == (24,)
    _check_three_var(h5)


@pytest.mark.parametrize(
    "kw, match",
    [
        (dict(chunksizes={"b": (8, 1)}), r"chunksizes\['b'\].*full widths"),
        (dict(chunksizes={"nope": (8,)}), "'nope'"),
        (dict(chunksizes={"a": (0,)}), r"chunksizes\['a'\].*>= 1"),
        (dict(chunksizes={"a": (8,)}, fmt="classic"), "netcdf4"),
    ],
    ids=["partial-inner", "unknown-column", "zero-records", "classic"],
)
def test_streamed_nc4_chunksizes_rejected(spark, tmp_path, kw, match):
    kw = {"fmt": "netcdf4", **kw}
    with pytest.raises(ValueError, match=match):
        write_nc_aggregate_streamed(
            _three_var_df(spark), str(tmp_path / "x.nc4"),
            index_col="ts", **kw,
        )


def test_streamed_nc4_chunksizes_lcm_bound(spark, tmp_path, monkeypatch):
    """Record chunks of 7 and 9 (and 4 by default) only line up every
    252 records; a row group that long would exceed the group bound, so
    the export refuses instead of piling records into one task."""
    monkeypatch.setattr(nc_granules, "_NC4_GROUP_BYTES", 1)
    with pytest.raises(ValueError, match="least common multiple 252"):
        write_nc_aggregate_streamed(
            _three_var_df(spark), str(tmp_path / "x.nc4"),
            index_col="ts", fmt="netcdf4", record_chunksize=4,
            chunksizes={"a": (7,), "b": (9, 2)},
        )


@pytest.mark.parametrize(
    "kw",
    [
        dict(compression=-1),
        dict(compression=12),
        dict(record_chunksize=-5),
        dict(record_chunksize=0),
    ],
    ids=["compression-neg", "compression-12", "chunk-neg", "chunk-zero"],
)
def test_streamed_writer_rejects_out_of_range_knobs(spark, tmp_path, kw):
    """Out-of-range zlib levels and record chunk lengths raise before
    any Spark job (they used to fail in executor zlib or the driver's
    filter message after the encode, or write 1-record chunks)."""
    df = _three_var_df(spark)
    sc = spark.sparkContext
    group = f"nc_export_bad_knob_{tmp_path.name}"  # one per case
    sc.setJobGroup(group, "bad export knob")
    try:
        with pytest.raises(ValueError):
            write_nc_aggregate_streamed(
                df, str(tmp_path / "x.nc4"), index_col="ts",
                fmt="netcdf4", **kw,
            )
        tracker = sc.statusTracker()
        assert list(tracker.getJobIdsForGroup(group)) == []
        spark.range(3).count()  # the group does record jobs
        assert len(tracker.getJobIdsForGroup(group)) > 0
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)
