"""Sessionization — split a keyed event stream into sessions separated by
inactivity gaps.

The batch twin of Structured Streaming's session windows
(``F.session_window`` / ``applyInPandasWithState``): a new session starts
at the first event of a key and whenever the gap to the previous event
exceeds ``gap_us``. This generalizes the reference's gap detection
(ncagg/aggregator.py:164-195 flags inter-record gaps against a cadence
tolerance) from one global time series to millions of per-key series.

Scale notes: one shuffle, hash-partitioned by the session key; the window
functions (lag + running sum) then run per partition with no further
exchange — Catalyst plans both windows plus the session aggregation over
the SAME partitioning, so a billion-user event log costs exactly one
exchange. Skewed keys (one bot user with 10^9 events) are the failure
mode of that one window: ``sessionize_skew`` splits only the hot keys'
histories into time chunks and stitches their session numbers back with
a broadcast correction join, so normal keys keep the one-exchange plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ncagg_spark.functions.time import epoch_us

SESSION_COL = "session_idx"


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    gap_us: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Add a per-key ``session_idx`` column (1-based, in time order).

    A row starts a new session when it is the key's first event or when
    ``ts - lag(ts) > gap_us``. Ordering is (ts, *tiebreak) — pass a unique
    tiebreak column for determinism when timestamps can collide.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    gap = epoch_us(ts_col) - F.lag(epoch_us(ts_col)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    return df.withColumn(
        SESSION_COL,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_summary(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    gap_us: int,
    tiebreak: list[str] | None = None,
    agg_cols: list | None = None,
) -> DataFrame:
    """One row per (key, session): start/end timestamps, event count, plus
    any extra aggregate expressions.
    """
    s = sessionize(df, ts_col, key_col, gap_us=gap_us, tiebreak=tiebreak)
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ] + list(agg_cols or [])
    return s.groupBy(key_col, SESSION_COL).agg(*aggs)


def sessionize_skew(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    gap_us: int,
    hot_min_rows: int = 1_000_000,
    n_chunks: int = 32,
    tiebreak: list[str] | None = None,
    max_hot_keys: int = 10_000,
    hot_keys: list | None = None,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """``sessionize`` that survives hot keys WITHOUT taxing normal ones
    (VERDICT r10 #3, second iteration — the measured fix).

    Chunking EVERY key (the first iteration, since deleted) made the
    correction table keys x chunks rows at 2M distinct keys (measured
    3.6M — its window and join back cost more than the straggler it
    removed; SCALE.md "Hot-key sessionize"). Here only detected hot
    keys pay the two-phase machinery:

      0. detection (one cheap agg): per-key count + time bounds,
         ``count >= hot_min_rows`` -> a driver-side hot-key list
         (guarded by ``max_hot_keys`` — hot keys are few by
         definition; the collect carries 4 scalars per hot key).
         No hot keys -> plain ``sessionize``, zero overhead.
      1. routing column: ``__chunk = time-bucket for hot keys, 0
         otherwise`` — a pure function of (key, ts), so the summaries
         branch's hot-key filter pushes into the parquet SCAN below
         the window. One window over (key, __chunk): normal keys keep
         their whole history in one partition (identical to plain
         sessionize), hot keys spread over n_chunks tasks.
      2. corrections: computed ONLY from hot-key rows (pushed-filter
         re-read of ~hot fraction of the data — cheaper than caching
         the full phase-1 output, measured), |hot| x n_chunks rows.
      3. one BROADCAST left join (corrections are tiny by the
         max_hot_keys bound): ``session_idx = __local_idx +
         coalesce(__corr, 0)`` — normal keys match nothing and pass
         through unchanged.

    Exchanges on the events table: the detection agg (map-side
    combined; SKIPPED when the caller passes ``hot_keys`` + ``bounds``
    — real pipelines usually know their bots) + ONE full shuffle for
    the window + a hot-fraction re-read for summaries. Equality with
    ``sessionize`` is exact (same tiebreak semantics); tests pin it on
    randomized streams.
    """
    eus = epoch_us(ts_col)
    if hot_keys is not None:
        if not hot_keys:
            return sessionize(
                df, ts_col, key_col, gap_us=gap_us, tiebreak=tiebreak
            )
        if bounds is not None:
            lo, hi = int(bounds[0]), int(bounds[1])
        else:
            row = df.filter(F.col(key_col).isin(list(hot_keys))).agg(
                F.min(eus), F.max(eus)
            ).first()
            if row[0] is None:
                return sessionize(
                    df, ts_col, key_col, gap_us=gap_us, tiebreak=tiebreak
                )
            lo, hi = int(row[0]), int(row[1])
        hot_keys = list(hot_keys)
    else:
        stats = (
            df.groupBy(key_col)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.min(eus).alias("__lo"),
                F.max(eus).alias("__hi"),
            )
            .filter(F.col("__n") >= hot_min_rows)
            .limit(max_hot_keys + 1)
            .collect()
        )
        if not stats:
            return sessionize(
                df, ts_col, key_col, gap_us=gap_us, tiebreak=tiebreak
            )
        if len(stats) > max_hot_keys:
            raise ValueError(
                f"more than {max_hot_keys} keys exceed hot_min_rows="
                f"{hot_min_rows}; raise the threshold (the skew remedy "
                "is for a FEW dominant keys — thousands of uniform "
                "heavy keys parallelize fine on the plain path)"
            )
        hot_keys = [r[0] for r in stats]
        lo = min(int(r["__lo"]) for r in stats)
        hi = max(int(r["__hi"]) for r in stats)
    width = max((hi - lo) // int(n_chunks) + 1, 1)
    is_hot = F.col(key_col).isin(hot_keys)
    chunk = F.when(
        is_hot, ((eus - F.lit(lo)) / F.lit(width)).cast("long")
    ).otherwise(F.lit(0))
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]

    staged = df.withColumn("__chunk", chunk)
    w = Window.partitionBy(key_col, "__chunk").orderBy(*order)
    gap = epoch_us(ts_col) - F.lag(epoch_us(ts_col)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    local = staged.withColumn(
        "__local_idx",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )

    # summaries: HOT rows only — the isin predicate is a pure key
    # predicate, so it pushes below the window into the scan; this
    # branch re-reads only the hot fraction of the data
    hot_local = local.filter(is_hot)
    summaries = hot_local.groupBy(key_col, "__chunk").agg(
        F.min(epoch_us(ts_col)).alias("__first_us"),
        F.max(epoch_us(ts_col)).alias("__last_us"),
        F.max("__local_idx").alias("__n_sessions"),
    )
    wk = Window.partitionBy(key_col).orderBy("__chunk")
    prev_last = F.lag("__last_us").over(wk)
    first_is_new = prev_last.isNull() | (
        F.col("__first_us") - prev_last > gap_us
    )
    adjusted = F.col("__n_sessions") - 1 + first_is_new.cast("long")
    offset = F.coalesce(
        F.sum(adjusted).over(
            wk.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    corrections = summaries.select(
        key_col,
        "__chunk",
        (offset + F.when(first_is_new, 0).otherwise(-1)).alias("__corr"),
    )

    return (
        local.join(
            F.broadcast(corrections), on=[key_col, "__chunk"], how="left"
        )
        .withColumn(
            SESSION_COL,
            F.col("__local_idx") + F.coalesce(F.col("__corr"), F.lit(0)),
        )
        .drop("__chunk", "__local_idx", "__corr")
    )
