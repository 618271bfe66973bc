"""Structured Streaming regularization — the online form of the batch
pipeline (SURVEY.md §2.9 mapping table).

Reference-concept mapping:
  * granules arriving over time  -> file-source readStream on a directory
  * timing_certainty wiggle room -> watermark delay
  * cadence grid                 -> per-slot groupBy (integer bucket)
  * duplicate chop               -> earliest-record-per-slot within watermark
  * gap fill                     -> grid left-join per micro-batch
    (Spark does not emit empty windows natively — the one genuinely
    non-built-in piece, per SURVEY.md §7.4 — so filling happens in
    foreachBatch where the full grid is joinable)

Two composable layers:
  * ``stream_dedup_cadence`` — pure streaming: watermarked, emits one
    finalized record per cadence slot (append mode). Scales as a standard
    streaming aggregation (state = one row per open slot).
  * ``incremental_aggregate`` — foreachBatch merge: every micro-batch
    re-runs the BATCH regularizer over (existing real records + new
    granule rows) and rewrites the whole output, so per-batch work is
    O(window). The bounded window here is one day, so the rewrite is
    the day; a longer window would want a per-day layout that rewrites
    only the days a batch touches.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ncagg_spark.config import AggregationConfig
from ncagg_spark.functions.time import epoch_us
from ncagg_spark.operators.dedup import BUCKET_COL
from ncagg_spark.operators.gapfill import FILL_FLAG_COL
from ncagg_spark.operators.normalize import normalize_fills
from ncagg_spark.operators.projection import (
    coalesce_alternates,
    rename_columns,
    take_dim_indices,
)
from ncagg_spark.operators.regularize import regularize


def _project_new_rows(
    batch: DataFrame, cfg: AggregationConfig
) -> tuple[DataFrame, AggregationConfig]:
    """Apply the record-level projections to a NEW granule batch so its
    schema matches the accumulated output.

    The accumulated output was already projected by regularize
    (coalesce_alternates drops the alternate columns, take_dim_indices
    replaces arrays with scalars, rename changes names) — unioning a RAW
    batch against it would fail or re-project prev rows. Returns the
    projected batch plus a merge cfg with those steps cleared so the
    union passes through regularize untouched by them.
    """
    if cfg.rename and cfg.index_by in cfg.rename:
        raise ValueError(
            "incremental merge cannot rename the index column "
            f"({cfg.index_by!r}): the merge reads it back by name"
        )
    if cfg.copy_from_alt:
        batch = coalesce_alternates(batch, cfg.copy_from_alt)
    batch = normalize_fills(batch, cfg.fill_values)
    if cfg.take_dim_indices:
        batch = take_dim_indices(batch, cfg.take_dim_indices)
    if cfg.rename:
        batch = rename_columns(batch, cfg.rename)
    merge_cfg = replace(
        cfg,
        copy_from_alt={},
        fill_values={},
        take_dim_indices={},
        rename={},
    )
    return batch, merge_cfg


def _is_path_not_found(e: AnalysisException) -> bool:
    """True only for the path-does-not-exist analysis error. The merge
    paths below must distinguish "first batch, no output yet" from every
    other analysis failure (column resolution, corrupt footer, ...) —
    swallowing those would overwrite accumulated partitions with
    batch-only data."""
    try:
        cls = e.getErrorClass()
    except Exception:
        cls = None
    if cls is not None:
        return cls == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)


def stream_granules(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a granule directory: each new parquet file
    that lands is one micro-batch input (the reference's "new granule
    arrives" event).
    """
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_dedup_cadence(
    df: DataFrame,
    cfg: AggregationConfig,
    *,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Watermarked earliest-record-per-cadence-slot (streaming dedup).

    The cadence slot is expressed as a TUMBLING WINDOW over the
    watermarked event-time column (duration = step, aligned to the
    bucket origin via startTime) — the form Spark's state manager
    recognizes, so append mode works, a slot's state is dropped once the
    watermark passes its end (bounded state), and late records beyond
    the watermark are dropped. Grouping by a *derived* integer bucket
    would silently disable all three. Bounds are applied like the batch
    pipeline's apply_bounds: records outside [min, max) never open a
    slot. Output carries the same integer BUCKET_COL as batch
    dedup_cadence (derived from the window start).
    """
    ix = cfg.index_by
    if cfg.min_us is None:
        raise ValueError("streaming dedup requires min_bound (bucket origin)")
    if getattr(cfg, "bucket_phase", 0.0):
        raise ValueError(
            "streaming dedup supports floor slots only (bucket_phase=0): "
            "nearest-slot rounding is not a tumbling window"
        )
    delay = watermark_delay or f"{max(1, int(round(2 * cfg.dt_max)))} seconds"
    df = df.withWatermark(ix, delay)
    df = df.filter(F.col(ix) >= F.timestamp_micros(F.lit(cfg.min_us)))
    if cfg.max_us is not None:
        df = df.filter(F.col(ix) < F.timestamp_micros(F.lit(cfg.max_us)))
    win = F.window(
        F.col(ix),
        f"{cfg.step_us} microseconds",
        f"{cfg.step_us} microseconds",
        f"{cfg.min_us % cfg.step_us} microseconds",
    )
    # earliest record per slot, deterministic tiebreak on the full struct
    ordered = F.struct(
        F.col(ix).alias("__ts"),
        *[F.col(c).alias(c) for c in cfg.tiebreak],
        F.struct(*[F.col(c) for c in df.columns]).alias("row"),
    )
    out = df.groupBy(win.alias("__win")).agg(F.min(ordered).alias("__best"))
    bucket = F.floor(
        (epoch_us(F.col("__win.start")) - F.lit(cfg.min_us))
        / F.lit(cfg.step_us)
    ).cast("long")
    return out.select(bucket.alias(BUCKET_COL), F.col("__best.row.*"))


def incremental_aggregate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    cfg: AggregationConfig,
    *,
    anchor: str = "grid",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    extra_stream_options: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Maintain a regularized day aggregate as granules land: each
    micro-batch merges new rows with the existing output's REAL records
    (fills are regenerated, never treated as data) and rewrites.

    Returns the StreamingQuery; with ``available_now`` it processes all
    pending files then stops (the batch-catchup trigger).
    ``max_files_per_trigger=1`` makes every granule its own micro-batch
    (the one-file-one-merge arrival pattern).
    """
    stream = stream_granules(
        spark, input_path, schema,
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_incremental(
        spark,
        stream,
        output_path,
        checkpoint_path,
        cfg,
        anchor=anchor,
        available_now=available_now,
        extra_stream_options=extra_stream_options,
    )


def _run_incremental(
    spark: SparkSession,
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    cfg: AggregationConfig,
    *,
    anchor: str,
    available_now: bool,
    extra_stream_options: dict[str, Any] | None,
) -> StreamingQuery:
    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        prev = None
        try:
            existing = spark.read.parquet(output_path)
            if FILL_FLAG_COL in existing.columns:
                existing = existing.filter(~F.col(FILL_FLAG_COL)).drop(
                    FILL_FLAG_COL
                )
                if BUCKET_COL in existing.columns:
                    existing = existing.drop(BUCKET_COL)
            # materialize: the write below overwrites the very path this
            # read scans — localCheckpoint truncates the lineage so the
            # overwrite never races its own input
            prev = existing.localCheckpoint(eager=True)
        except AnalysisException as e:
            # ONLY path-not-found falls through to "first batch"; any
            # other read failure must abort the batch — treating an IO
            # hiccup as first-batch would overwrite accumulated records
            if not _is_path_not_found(e):
                raise
            prev = None
        batch_p, merge_cfg = _project_new_rows(batch, cfg)
        data = batch_p if prev is None else prev.unionByName(
            batch_p.select(*prev.columns)
        )
        out = regularize(spark, data, merge_cfg, anchor=anchor)
        out.repartitionByRange(
            max(spark.sparkContext.defaultParallelism // 4, 1), cfg.index_by
        ).sortWithinPartitions(cfg.index_by).write.mode("overwrite").parquet(
            output_path
        )

    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_path
    )
    for k, v in (extra_stream_options or {}).items():
        writer = writer.option(k, v)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
