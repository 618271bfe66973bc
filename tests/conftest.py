from __future__ import annotations

import struct

import pytest

from ncagg_spark.session import get_spark


def dt_i32_msg() -> bytes:
    """v1 little-endian signed-int32 HDF5 datatype message — shared by
    the hand-built binary fixtures so the byte layout lives ONCE."""
    return struct.pack("<BBBBI", 0x10, 0x08, 0, 0, 4) + struct.pack(
        "<HH", 0, 32
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ncagg-tests",
        cpus=4,
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def written_lineage(monkeypatch) -> list:
    """Record every frame ``api`` hands to ``write_aggregate`` (the
    regularize lineage) while still writing it."""
    import ncagg_spark.api as api

    seen: list = []
    real = api.write_aggregate

    def recording(df, *args, **kwargs):
        seen.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(api, "write_aggregate", recording)
    return seen



@pytest.fixture()
def checkpoints(spark, monkeypatch) -> list:
    """Record every frame ``localCheckpoint`` is called on, in call
    order, while still checkpointing it. Patches the session's concrete
    DataFrame class: ``pyspark.sql.DataFrame`` is only its base."""
    seen: list = []
    frame_cls = type(spark.range(1))
    real = frame_cls.localCheckpoint

    def recording(df, *args, **kwargs):
        seen.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    return seen

def assert_scan_of(df, output: str) -> None:
    """``df`` plans to exactly one Parquet scan of ``output`` and none of
    the build's operators."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, plan
    assert "FileScan parquet" in scans[0], plan
    files = df.inputFiles()
    prefix = f"file://{output}/"
    assert files and all(f.startswith(prefix) for f in files), files
    for node in ("MapInPandas", "BinaryFile", "Window", "Exchange"):
        assert node.lower() not in plan.lower(), plan


def assert_same_columns(got, lineage) -> None:
    """Names, types and order equal the lineage's; every column nullable."""
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in lineage.schema
    ]
    assert all(f.nullable for f in got.schema)
