"""Session defaults that change plan shapes."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

import ncagg_spark


def test_persisted_shuffle_takes_coalesced_width(spark):
    # AQE coalesces the final stage of a cached plan too
    # (canChangeCachedPlanOutputPartitioning): a persisted groupBy
    # result keeps the coalesced width, not the 512-wide
    # initialPartitionNum ceiling every exchange is planned at
    df = (
        spark.range(10_000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .persist()
    )
    try:
        assert df.count() == 7
        width = df.rdd.getNumPartitions()
        assert width <= spark.sparkContext.defaultParallelism, width
    finally:
        df.unpersist()


def _dotted(node) -> str:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


def test_engine_env_var_surface():
    # every environment variable the engine reads, by a static scan of
    # os.environ.get / os.getenv / os.environ[...] under ncagg_spark/;
    # a new knob must be added here on purpose
    names = set()
    for path in sorted(Path(ncagg_spark.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and _dotted(node.func).endswith(
                ("environ.get", "getenv")
            ):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and _dotted(
                node.value
            ).endswith("environ"):
                key = node.slice
            else:
                continue
            assert isinstance(key, ast.Constant), (path, node.lineno)
            names.add(key.value)
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_STREAM_STATE_PARTITIONS",
    }
