"""SparkSession factory with scale-oriented defaults.

Local-mode testing uses local[$SPARK_GRAFT_CPUS]; the same configs are the
ones we'd set on a 1000-executor cluster (AQE, zstd parquet, partition-size
caps). Nothing here is local-mode specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the driver environment (local[32], 128 GiB) but
# expressed as per-partition sizing rules that hold on a real cluster:
# 128 MiB scan partitions, AQE-coalesced shuffles targeting 64 MiB.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.shuffle.partitions": "32",
    # Reduce-side width is a CEILING, not a constant (guide §2.2/§9):
    # AQE plans every exchange at this initial width and coalesces the
    # post-shuffle partitions, so a genuinely large shuffle (e.g. the
    # simhash candidate DISTINCT at 5M docs: ~0.5B surviving pairs) gets
    # hundreds of partitions instead of 32 x 14M-row hash-aggregate
    # states that OOM an 8 GiB JVM (measured, r16 sf100 third-decade
    # run). Env-parameterised for clusters (set it to ~2-3x total cores
    # there). Whether 512 beats leaving it unset, and what
    # coalescePartitions.parallelismFirst does to the 64 MiB advisory
    # target, is not yet measured (ROADMAP carried item 1).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": (
        os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "512")
    ),
    # Coalescing reaches cached plans too. Without this Spark keeps a
    # persisted plan's output partitioning as planned, so every
    # persist()/cache() of a post-shuffle frame held all 512 partitions
    # and every consumer of it ran 512 tasks. Measured on 4 vCPUs
    # (SCALE.md, "Cached relations coalesce"): perfbench dedup_and_ann
    # runs 1,572 -> 42 tasks in the same 28 jobs, peak RSS -10%; the
    # 82-query registry at sf0.01 runs 15,948 -> 616 tasks, and no
    # query's widest stage exceeds 4. Explicit repartition(n, col)
    # widths (the CC loop's co-partitioned edge cache) are never
    # coalesced.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # preferSortMergeJoin stays at its DEFAULT (true). The r15 session
    # default `false` was a local wash; r16 proved it a measured LOSS at
    # scale with same-session conf-toggle A/B over the join-heavy set
    # (tools/ab_shj.py): geomean +6.6% at sf1, +5.3% at sf10 (worst:
    # rel_q5_nation_volume +22% at sf10), plus the per-partition
    # hash-map OOM exposure ADVICE r15 flagged. VERDICT r15 #5:
    # "prove at scale or revert" — reverted, numbers in SCALE.md.
    "spark.sql.session.timeZone": "UTC",
    # testdata parquet carries TIMESTAMP(NANOS); read as long then convert
    # (sources/tables.py) — Spark has no native nanos timestamp type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "ncagg-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
