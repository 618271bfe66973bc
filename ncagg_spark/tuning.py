"""Scoped session tuning and materialization shared by operators.

``materialized`` is the one persist/unpersist lifecycle for an
intermediate read by several consumers inside one call;
``plan_bytes`` and ``MATERIALIZE_MIN_BYTES`` size-gate the gap-fill
checkpoint.

``scoped_shuffle_partitions`` brackets ``spark.sql.shuffle.partitions``
around a region of EAGER work (an iterative loop's jobs, a streaming
run) and restores the session value afterwards. Two users:

* iterative graph loops (pipeline/dedup.py connected_components):
  every per-round shuffle should be sized to the GRAPH, not the
  corpus-scale session default — and, just as important, sized
  CONSISTENTLY, so the persisted edge table's hash partitioning matches
  the per-round join/groupBy partitioning and is reused instead of
  re-shuffled each round.
* stateful streaming (streaming/tuning.py): state-store partition
  count, see that module's doc.

Lazy plans built inside the bracket but executed after it pick up the
restored session value — only eager work (actions, checkpoints, stream
batches) belongs inside.

THREAD-SAFETY (ADVICE r15): the bracket mutates the session-global
``spark.sql.shuffle.partitions``. Every current caller runs its bracket
on the driver's main thread (the ``_write_granules`` thread pool only
overlaps granule WRITE jobs, never a CC loop or stream bracket), so
brackets never nest or interleave today. If driver-side concurrency
ever overlaps two bracketed regions — or a bracket with unrelated
queries on the same session — the narrowed width would leak across
threads; move to per-thread job-group-scoped configs (or serialize the
brackets with a lock) before doing that.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_KEY = "spark.sql.shuffle.partitions"

_log = logging.getLogger("ncagg_spark")

# Size gate of the "materialize a multiply-consumed subtree once"
# optimization in operators/gapfill.py anchor="previous": only when the
# optimizer's size estimate for the re-derived input subtree says the
# duplicate evaluations are expensive (128 MiB, the session's scan
# partition size: at least one full task of redundant scan per extra
# consumer). Below that the extra eager job costs more than it saves
# (measured r16 on agg_regularize_anchored at sf0.1).
MATERIALIZE_MIN_BYTES = 128 * 1024 * 1024


@contextmanager
def materialized(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> Iterator[DataFrame]:
    """Persist ``df`` at ``level`` for the block and yield it; unpersist
    on exit, errors included. The one lifecycle for an intermediate
    that several consumers inside one call read: nothing survives the
    block, so every invocation recomputes from its inputs. The default
    level is ``DataFrame.persist()``'s own (PySpark's
    ``StorageLevel.MEMORY_AND_DISK`` is the serialized form)."""
    df = df.persist(level)
    try:
        yield df
    finally:
        df.unpersist()


def plan_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate for ``df``'s plan (bytes), or ``None``
    with one logged warning when the estimate fails or the size is
    unknown. Spark sizes a relation it cannot measure (an RDD-backed
    ``createDataFrame``, say) at ``spark.sql.defaultSizeInBytes``
    (2^63 - 1 by default), so a plan over one estimates at or above
    that conf however few rows it holds; such an estimate is unknown.
    Callers keep their default path on ``None``: a failed or unknown
    estimate must not read as "huge" and switch every size gate on."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        unknown = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .defaultSizeInBytes()
        )
    except Exception as e:
        _log.warning("plan_bytes: size estimate failed: %s", e)
        return None
    if est >= unknown:
        _log.warning(
            "plan_bytes: size unknown (estimate %d >= "
            "spark.sql.defaultSizeInBytes)", est
        )
        return None
    return est


_INITIAL_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


@contextmanager
def scoped_shuffle_partitions(
    spark: SparkSession, n: int | None
) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the block;
    restore the prior value on exit (errors included). ``n=None`` is a
    no-op bracket.

    Also pins AQE's ``initialPartitionNum`` to ``n`` for the block
    (r16): the session sets a high initial width as the adaptive
    ceiling, and with it in force AQE would ignore the bracket's
    narrow ``spark.sql.shuffle.partitions`` — the bracketed regions
    exist precisely because their right width is KNOWN (graph-sized CC
    rounds, key-sized stream state), so both knobs move together."""
    if n is None:
        yield
        return
    old = spark.conf.get(_KEY)
    old_initial = spark.conf.get(_INITIAL_KEY, None)
    spark.conf.set(_KEY, str(int(n)))
    spark.conf.set(_INITIAL_KEY, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(_KEY, old)
        if old_initial is None:
            spark.conf.unset(_INITIAL_KEY)
        else:
            spark.conf.set(_INITIAL_KEY, old_initial)
