"""Streaming-scoped tuning: size state partitions to the key space.

A stateful streaming query locks its state-store partition count to
``spark.sql.shuffle.partitions`` at the first micro-batch (the value is
written into the checkpoint's offset log and reused for the query's
lifetime). Every micro-batch then pays, PER PARTITION, a state-store
open + snapshot/delta commit and — for ``applyInPandasWithState`` — a
Python worker round-trip, even when the partition holds no keys at all.
That overhead is independent of data volume: a stream keyed by a
low-cardinality column (these granule streams group by ``event_type``,
a handful of keys) gets zero extra parallelism from partitions beyond
the key count, only extra per-batch fixed cost — at ANY scale, 100 TB
included, because the cost is per-partition-per-batch, not per-row.

``stream_shuffle_partitions`` scopes the conf to one streaming run
through ``tuning.scoped_shuffle_partitions``, which also pins AQE's
initial width (so every micro-batch's STATELESS exchanges are planned
at the same key-sized width, not at the session's high adaptive
ceiling) and restores both afterwards, so batch queries in the same
session keep the engine's scale-adaptive default. The default (8) is
sized to the engine's granule streams (<= 5 distinct keys, next power
of two above, headroom for skew); production streams with large key
spaces set ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS`` to
O(distinct keys / target keys-per-task) — the conf is the scale knob,
the code shape does not change.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

from ncagg_spark.tuning import scoped_shuffle_partitions


def default_stream_state_partitions() -> int:
    return int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))


@contextmanager
def stream_shuffle_partitions(
    spark: SparkSession, n: int | None = None
) -> Iterator[int]:
    """Scope ``spark.sql.shuffle.partitions`` to a streaming run.

    Use around ``writeStream.start()`` .. ``awaitTermination()`` (the
    conf is read at stream start and per micro-batch, both inside the
    bracket). Restores the prior session value on exit, error included.
    """
    n = int(n or default_stream_state_partitions())
    with scoped_shuffle_partitions(spark, n):
        yield n
