"""Gap filling — regularize a deduped series to one record per cadence slot
over [min_bound, max_bound) (G1-G4, G7 in SURVEY.md §2.6).

Reference semantics being re-expressed: wherever successive records are
farther apart than the cadence tolerance, synthetic fill records are
inserted so the output lands on a regular 1/hz grid; leading/trailing gaps
against the bounds are filled too (ncagg/aggregator.py:119-234,
ncagg/aggrelist.py:140-189). Data variables in fill records carry the fill
value — here, null; the index variable carries a synthesized timestamp.

Spark-first formulation: build the complete slot grid with
``spark.range(n_buckets)`` (distributed, no driver loop) and LEFT JOIN the
deduped data on the slot id. Slots with no match become fill rows.

Fill-timestamp anchoring — two modes, both from the reference:
  * ``anchor="grid"`` (default): fill ts = origin + bucket * step. This is
    the scalable default; timestamps are exact grid points.
  * ``anchor="previous"``: fill ts continues from the last real record
    (ncagg/aggregator.py:171-175: stamps "continue from the previous
    node"); LEADING fills (no real record precedes) are back-computed
    from the FIRST real record (:176-191 — start_from derived from
    next_start), falling back to the grid only when the input is empty.
    Implemented as the standard two-phase
    distributed running-last: slots are partitioned into coarse blocks,
    the running ``last(ignorenulls)`` window runs per block (parallel),
    and block-boundary carry-over comes from a tiny one-row-per-block
    prefix pass that is broadcast back. Exact parity with a global scan,
    no single-task window at any scale.

Scale notes: the grid join is an equi-join on a dense integer key — with
AQE it is a shuffle join whose partitions are perfectly balanced (the grid
side is uniform by construction). The grid side is generated, never
materialized. For a day at 10 Hz the grid is 864k rows; for a year at
10 kHz it is 3e11 rows — still fine, since spark.range parallelizes and
the join key is dense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ncagg_spark import tuning
from ncagg_spark.functions.time import epoch_us
from ncagg_spark.operators.dedup import BUCKET_COL

FILL_FLAG_COL = "is_fill"


def gap_fill(
    spark: SparkSession,
    df: DataFrame,
    index_col: str,
    *,
    origin_us: int,
    step_us: int,
    n_buckets: int,
    anchor: str = "grid",
    bucket_col: str = BUCKET_COL,
    keep_bucket: bool = False,
    block_size: int | None = None,
    backward_floor_us: int | None = None,
) -> DataFrame:
    """Left-join deduped data onto the full slot grid; emit fill rows for
    empty slots. Returns one row per slot in [0, n_buckets), with
    ``is_fill`` marking synthesized rows.

    ``anchor="previous"`` reads ``df`` three times. When the optimizer
    estimates ``df``'s plan (``tuning.plan_bytes``) at
    ``tuning.MATERIALIZE_MIN_BYTES`` or more, ``df`` is checkpointed
    once, eagerly, and all three consumers read the checkpoint; below
    the threshold, or when the estimate fails or the size is unknown
    (a plan over an RDD-backed relation such as a local
    ``createDataFrame``), the plan stays lazy.
    """
    if anchor not in ("grid", "previous"):
        raise ValueError(f"unknown anchor mode: {anchor}")

    est = tuning.plan_bytes(df) if anchor == "previous" else None
    if est is not None and est >= tuning.MATERIALIZE_MIN_BYTES:
        # The "previous" mode consumes ``df`` THREE times (the grid
        # join, the per-block last-real aggregate, the first-real
        # aggregate) and Catalyst shares nothing across the branches:
        # the caller's whole dedup chain — a full input scan + shuffle —
        # ran once per consumer (r16, measured: 3 identical
        # scan->bucket->SortAggregate->Exchange subtrees in the
        # agg_regularize_anchored plan). ``df`` is the DEDUPED series,
        # <= one row per slot, i.e. O(output) — materialize it once and
        # let all three consumers read the materialization (guide §5
        # caching / §2.4: the DSIR-model pattern). Eager and
        # per-invocation: nothing survives this call, every invocation
        # recomputes from its inputs.
        #
        # SIZE-GATED like the CC driver gate, in the other direction:
        # below the threshold the duplicated subtrees are 2-3-task
        # stages and the extra checkpoint job COSTS more than it saves
        # (r16 interleaved A/B at sf0.1: 1.304 -> 1.487 s median with an
        # unconditional checkpoint — the estimated day-scan input is
        # ~3 MB); above it each duplicated evaluation is a full
        # scan+shuffle and materializing O(n_buckets) rows wins. The
        # estimate is the optimizer's own input-size statistic, so the
        # path choice scales with the data, not with a local[] tuning;
        # a failed estimate (None) keeps the lazy path.
        df = df.localCheckpoint(eager=True)

    grid = spark.range(n_buckets).withColumnRenamed("id", bucket_col)
    joined = grid.join(df, on=bucket_col, how="left")

    grid_ts = F.timestamp_micros(
        F.lit(origin_us) + F.col(bucket_col) * F.lit(step_us)
    )
    real_ts = F.col(index_col)
    is_fill = real_ts.isNull()

    if anchor == "grid":
        ts_out = F.coalesce(real_ts, grid_ts)
    else:
        # Two-phase distributed running-last. Phase 1: per-block running
        # last over a PARTITIONED window (parallel). Phase 2: per-block
        # last-real aggregate (one row per block) -> prefix running-last
        # over blocks (tiny: n_blocks rows, not n_buckets) -> broadcast
        # back as the carry-in for blocks whose prefix has no real record.
        if block_size is None:
            par = max(spark.sparkContext.defaultParallelism, 1)
            block_size = max(1024, -(-n_buckets // (par * 4)))
        n_blocks = -(-n_buckets // block_size)
        blk_col = "__gf_block"
        joined = joined.withColumn(
            blk_col, (F.col(bucket_col) / F.lit(block_size)).cast("long")
        )

        w_in = (
            Window.partitionBy(blk_col)
            .orderBy(bucket_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        last_ts_in = F.last(F.when(~is_fill, real_ts), ignorenulls=True).over(
            w_in
        )
        last_bkt_in = F.last(
            F.when(~is_fill, F.col(bucket_col)), ignorenulls=True
        ).over(w_in)

        blk_last = (
            joined.where(~is_fill)
            .groupBy(blk_col)
            .agg(
                F.max(bucket_col).alias("__blk_last_bkt"),
                F.max_by(real_ts, F.col(bucket_col)).alias("__blk_last_ts"),
            )
        )
        blocks = spark.range(n_blocks).withColumnRenamed("id", blk_col)
        # unpartitioned window, but over n_blocks rows only — by
        # construction ~4x parallelism, never data-sized.
        w_prev = Window.orderBy(blk_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        carry = (
            blocks.join(blk_last, on=blk_col, how="left")
            .select(
                blk_col,
                F.last("__blk_last_bkt", ignorenulls=True)
                .over(w_prev)
                .alias("__carry_bkt"),
                F.last("__blk_last_ts", ignorenulls=True)
                .over(w_prev)
                .alias("__carry_ts"),
            )
        )
        joined = joined.join(F.broadcast(carry), on=blk_col, how="left")

        last_real_ts = F.coalesce(last_ts_in, F.col("__carry_ts"))
        last_real_bkt = F.coalesce(last_bkt_in, F.col("__carry_bkt"))
        anchored = F.timestamp_micros(
            epoch_us(last_real_ts)
            + (F.col(bucket_col) - last_real_bkt) * F.lit(step_us)
        )
        # LEADING fill (no real record precedes): the reference
        # back-computes the fill start from the NEXT real node
        # (ncagg/aggregator.py:176-191: start_from = next_start -
        # (size+1)*dt_nom, bumped so the first fill stays >= the
        # bound) — i.e. leading fills carry the FIRST real record's
        # phase. One 1-row aggregate over the (already deduped) input,
        # broadcast back. The reference's BUMP rule matters with
        # nearest-slot bucketing (phase 0.5): a slot-b record can sit
        # up to half a step BEFORE origin + b*step, so the slot-0
        # back-computed stamp can dip below the aggregation bound —
        # any backward stamp under ``backward_floor_us`` (default: the
        # grid origin) falls through to the grid point instead,
        # exactly the reference's "start_from bumped up" case.
        first_real = df.agg(
            F.min(F.col(bucket_col)).alias("__fr_bkt"),
            F.min_by(F.col(index_col), F.col(bucket_col)).alias(
                "__fr_ts"
            ),
        )
        joined = joined.crossJoin(F.broadcast(first_real))
        floor_us = origin_us if backward_floor_us is None else backward_floor_us
        backward_us = epoch_us(F.col("__fr_ts")) - (
            F.col("__fr_bkt") - F.col(bucket_col)
        ) * F.lit(step_us)
        backward = F.when(
            F.col("__fr_bkt").isNotNull()
            & (F.col(bucket_col) < F.col("__fr_bkt"))
            & (backward_us >= F.lit(floor_us)),
            F.timestamp_micros(backward_us),
        )
        ts_out = F.coalesce(real_ts, anchored, backward, grid_ts)

    # flag first: once index_col is overwritten, the null-check would see
    # the coalesced timestamp and always be false.
    out = joined.withColumn(FILL_FLAG_COL, is_fill).withColumn(index_col, ts_out)
    drop_cols = [] if keep_bucket else [bucket_col]
    if anchor == "previous":
        drop_cols += [
            "__gf_block", "__carry_bkt", "__carry_ts",
            "__fr_bkt", "__fr_ts",
        ]
    if drop_cols:
        out = out.drop(*drop_cols)
    return out
