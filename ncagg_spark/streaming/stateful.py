"""Custom stateful streaming operators via applyInPandasWithState —
the piece SURVEY.md §7.4 flags as the only genuinely non-built-in
capability: reacting to the ABSENCE of data (empty-window emission)
online.

``fill_gaps_online`` is the batch ``gap_fill(anchor="previous")`` rule
online. Per stream key it keeps the last record's timestamp; whenever
the next record arrives more than ``dt_max`` after it (the reference's
gap trigger, ncagg/aggregator.py:164-195 applied online), the missed
cadence slots are emitted as synthetic ``is_fill`` rows as soon as that
record arrives (the "streaming empty windows" capability SURVEY §7.5
deferred). Real records pass through. State is one row per key in
arrival order (``make_gap_filler``), or that row plus the records still
above the watermark in event-time order (``make_ordered_gap_filler``).

Arrow-batched (pandas in/out); no row-at-a-time Python.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([T.StructField("last_us", T.LongType())])

FILL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("is_fill", T.BooleanType()),
    ]
)

# event-time mode keeps, per key, the last FINALIZED slot plus the
# pending (not-yet-finalized) record timestamps above the watermark
ORDERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("pending_us", T.ArrayType(T.LongType())),
    ]
)


def make_gap_filler(
    step_us: int,
    dt_max_s: float,
    *,
    max_fill_per_gap: int = 10_000,
    use_timeout: bool = True,
):
    """Online regularizer: the batch ``gap_fill(anchor="previous")`` rule
    applied record-by-record in a stream (reference fill synthesis,
    ncagg/aggregator.py:173-175, online). Real records pass through with
    ``is_fill=false``; whenever a record lands more than dt_max after its
    key's previous record, the missing cadence slots (previous + k*step)
    are emitted as synthetic ``is_fill=true`` rows.

    ``max_fill_per_gap`` bounds the rows a single pathological gap can
    emit into one micro-batch (a key silent for a month at 1 Hz would
    otherwise synthesize 2.6M rows in one task). Trailing fills for a
    quiet key are NOT synthesized — online they are unbounded. State is
    one row per key.
    """
    dt_max_us = int(round(dt_max_s * 1_000_000))
    timeout_ms = max(1, dt_max_us // 1000)

    def fill(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # no trailing synthesis (unbounded online); just drop state
            state.remove()
            return
        last_us = state.get[0] if state.exists else None
        ts_all = [pdf["ts"] for pdf in pdfs]
        if not ts_all:
            return
        # drop NaT up front: astype(int64) on NaT either raises (killing
        # the streaming query) or yields int64-min garbage anchors
        ts = pd.concat(ts_all).dropna().sort_values()
        if ts.empty:
            return
        us = (ts.astype("int64") // 1000).tolist()
        out_us: list[int] = []
        out_fill: list[bool] = []
        for u in us:
            if last_us is not None and u - last_us > dt_max_us:
                # floor(x + 0.5), NOT Python round(): round() is
                # banker's (half-to-even) while the batch gap_fill and
                # the stream_gap_fill DuckDB oracle both use
                # floor(x+0.5) — at an exact half-step gap the two
                # would disagree by one fill row (ADVICE r7)
                n = max(1, int((u - last_us) / step_us + 0.5) - 1)
                n = min(n, max_fill_per_gap)
                fills = range(
                    last_us + step_us, last_us + (n + 1) * step_us, step_us
                )
                out_us.extend(fills)
                out_fill.extend([True] * n)
            out_us.append(u)
            out_fill.append(False)
            last_us = u if last_us is None else max(last_us, u)
        state.update((last_us,))
        if use_timeout:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "key": key[0],
                "ts": pd.to_datetime(
                    pd.Series(out_us, dtype="int64") * 1000
                ),
                "is_fill": out_fill,
            }
        )

    return fill


def make_ordered_gap_filler(
    step_us: int,
    dt_max_s: float,
    *,
    max_fill_per_gap: int = 10_000,
    anchor_ttl_s: float | None = None,
):
    """Out-of-order-robust variant of ``make_gap_filler`` (r12 root
    cause, tools/stream_state_diag.py): FileStreamSource breaks
    modification-time ties arbitrarily, so with maxFilesPerTrigger a
    micro-batch can deliver a LATER time slice before an EARLIER one.
    The arrival-order filler then synthesizes fills across the forward
    jump — over slots whose real records are still in a later batch
    (observed: fills colliding with real slots, reals never
    duplicated).

    This variant buffers record timestamps in state and finalizes a
    record only once the event-time watermark passes it: each batch,
    all pending timestamps <= watermark are sorted, gap-filled against
    the last finalized slot, and emitted; the rest stay in state
    (bounded by watermark delay x per-key rate).

    Late-data semantics (ADVICE r12): records later than
    ``watermark_delay`` are DROPPED, not emitted — Spark's stateful
    late-record filter discards input rows below the watermark before
    this function ever sees them, and the finalized anchor is always
    <= that watermark. The ``u <= last_us`` branch below therefore
    only fires on the exact boundary (a record equal to the watermark
    is kept by Spark's ``>=`` filter but already finalized by our
    ``<=`` rule) and passes it through un-duplicated; it is NOT a
    general late-data path.

    Quiet-gap semantics / anchor TTL (ADVICE r13): once every record
    is finalized, the state holds only the anchor (last finalized
    slot), which is GC'd after the watermark clears
    ``last + anchor_ttl`` (default: ``anchor_ttl_s=None`` → ``dt_max``
    — minimal state). A key that stays quiet PAST that horizon (while
    other keys advance the watermark) and then resumes is treated as
    NEW: the resume gap gets NO fill rows, where the batch oracle
    would fill it (capped at ``max_fill_per_gap``). A quiet period is
    not disorder, so this is a deliberate state-bound-vs-
    fill-completeness tradeoff, not a disorder artifact. Pass a larger
    ``anchor_ttl_s`` to keep anchors alive through expected quiet
    spells — resume gaps inside the horizon then fill exactly like the
    batch oracle (state cost: one tiny anchor row per quiet key until
    the TTL lapses). The TTL is a lower-bounded EXTENSION of
    ``dt_max``: an ``anchor_ttl_s`` smaller than ``dt_max_s`` is
    clamped UP to ``dt_max`` (ADVICE r14) — the anchor must outlive
    the largest fillable gap or in-horizon gaps would mis-fill, so a
    shorter lifetime is not expressible and is not silently honored.
    Output therefore matches the batch oracle exactly
    when ``watermark_delay`` exceeds the stream's disorder span AND no
    key's quiet gap exceeds the anchor horizon.

    Requires ``withWatermark`` on the stream
    (``fill_gaps_online(order="eventtime")`` applies it).
    """
    dt_max_us = int(round(dt_max_s * 1_000_000))
    anchor_ttl_us = (
        dt_max_us
        if anchor_ttl_s is None
        else max(dt_max_us, int(round(anchor_ttl_s * 1_000_000)))
    )

    def fill(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # EventTimeTimeout: watermark passed every pending record
            # + dt_max with no new data — finalize everything left.
            last_us, pending = (
                state.get if state.exists else (None, [])
            )
            state.remove()
            pending = sorted(pending or [])
            out_us, out_fill = [], []
            for u in pending:
                if last_us is not None and u - last_us > dt_max_us:
                    n = max(1, int((u - last_us) / step_us + 0.5) - 1)
                    n = min(n, max_fill_per_gap)
                    out_us.extend(
                        range(
                            last_us + step_us,
                            last_us + (n + 1) * step_us,
                            step_us,
                        )
                    )
                    out_fill.extend([True] * n)
                out_us.append(u)
                out_fill.append(False)
                last_us = u if last_us is None else max(last_us, u)
            if out_us:
                yield pd.DataFrame(
                    {
                        "key": key[0],
                        "ts": pd.to_datetime(
                            pd.Series(out_us, dtype="int64") * 1000
                        ),
                        "is_fill": out_fill,
                    }
                )
            return
        last_us, pending = state.get if state.exists else (None, [])
        pending = list(pending or [])
        ts_all = [pdf["ts"] for pdf in pdfs]
        if ts_all:
            ts = pd.concat(ts_all).dropna()
            pending.extend((ts.astype("int64") // 1000).tolist())
        wm_us = state.getCurrentWatermarkMs() * 1000
        pending.sort()
        out_us: list[int] = []
        out_fill: list[bool] = []
        keep: list[int] = []
        for u in pending:
            if u > wm_us:
                keep.append(u)
                continue
            if last_us is not None and u <= last_us:
                # boundary-only: Spark's late filter drops anything
                # strictly below the watermark before we run, so this
                # is only reachable for u == last_us == watermark —
                # pass through, never re-anchor or synthesize backwards
                out_us.append(u)
                out_fill.append(False)
                continue
            if last_us is not None and u - last_us > dt_max_us:
                n = max(1, int((u - last_us) / step_us + 0.5) - 1)
                n = min(n, max_fill_per_gap)
                out_us.extend(
                    range(
                        last_us + step_us,
                        last_us + (n + 1) * step_us,
                        step_us,
                    )
                )
                out_fill.extend([True] * n)
            out_us.append(u)
            out_fill.append(False)
            last_us = u
        if last_us is None and not keep:
            state.remove() if state.exists else None
        else:
            state.update((last_us, keep))
            if keep:
                # flush leftovers once the watermark passes the last
                # pending record + dt_max (EventTimeTimeout fires on
                # watermark advance, never wall clock)
                state.setTimeoutTimestamp(
                    (keep[-1] + dt_max_us) // 1000 + 1
                )
            else:
                # anchor-only state (every record finalized this
                # batch): still register a timeout so the row is GC'd
                # once the watermark clears last_us + anchor_ttl —
                # without it, a churned key's anchor would persist
                # forever on an unbounded stream (ADVICE r12). The TTL
                # defaults to dt_max (minimal state); a larger
                # anchor_ttl_s keeps the anchor through quiet spells so
                # resumes inside the horizon still gap-fill like the
                # batch oracle (ADVICE r13). Spark requires the
                # timestamp to sit strictly above the current
                # watermark, so clamp when the anchor is already old.
                state.setTimeoutTimestamp(
                    max(
                        (last_us + anchor_ttl_us) // 1000 + 1,
                        wm_us // 1000 + 1,
                    )
                )
        if out_us:
            yield pd.DataFrame(
                {
                    "key": key[0],
                    "ts": pd.to_datetime(
                        pd.Series(out_us, dtype="int64") * 1000
                    ),
                    "is_fill": out_fill,
                }
            )

    return fill


def fill_gaps_online(
    grouped_stream: DataFrame,
    *,
    key_col: str = "event_type",
    step_us: int = 1_000_000,
    dt_max_s: float = 1.2,
    max_fill_per_gap: int = 10_000,
    output_mode: str = "append",
    timeout: str = "processing",
    order: str = "arrival",
    watermark_delay: str = "10 seconds",
    anchor_ttl_s: float | None = None,
) -> DataFrame:
    """Wire the online gap filler onto a streaming DataFrame with columns
    (key_col, ts): emits the regularized stream (real + synthetic rows).

    ``order="arrival"`` (default) emits as records arrive and ASSUMES
    per-key event-time-monotone arrival ACROSS micro-batches (within a
    batch the records are sorted). This is the natural mode for
    log-append sources. It is NOT safe under a file source whose files
    carry identical modification times: FileStreamSource breaks mtime
    ties arbitrarily, a batch can deliver a later time slice first,
    and the filler will synthesize fills across the forward jump over
    slots whose real records are still pending (r12 root cause of the
    r11 cross-provider divergence — proven in
    tools/stream_state_diag.py: fills collide with later real slots,
    reals never duplicate; the state-store providers were both
    correct). Either feed files with strictly increasing mtimes in
    event-time order (mtime order IS honored — measured) or use
    ``order="eventtime"``.

    ``order="eventtime"`` buffers records in state and finalizes only
    below the event-time watermark (``watermark_delay``): output is
    independent of how files are grouped into micro-batches, at the
    cost of watermark-delay latency and O(delay x rate) state per key.
    Uses EventTimeTimeout to flush trailing pending records once the
    watermark passes them (watermark advance, not wall clock — safe
    under availableNow; the final records within the last delay window
    stay unemitted until more data or a final empty batch advances the
    watermark). ``anchor_ttl_s`` (eventtime only) controls how long a
    fully-finalized key's anchor survives: default ``None`` → GC'd
    ``dt_max`` past the anchor, so a key quiet beyond that re-starts
    WITHOUT resume-gap fills (batch would fill them — see
    ``make_ordered_gap_filler``); set it to the longest quiet spell
    you want gap-filled across. Values below ``dt_max_s`` are clamped
    UP to ``dt_max`` (the anchor must outlive the largest fillable
    gap); a shorter anchor lifetime is not expressible.

    ``timeout="processing"`` (default, arrival mode) GCs quiet keys'
    state after dt_max of processing time — right for an unbounded
    24/7 stream. Pass ``timeout="none"`` for BOUNDED availableNow
    runs: with a processing-time timeout registered, an availableNow
    query NEVER self-terminates — Spark keeps scheduling ~1 s empty
    "cleaning up state" batches indefinitely, even after every key's
    state is removed (measured: 38+ batches and still active) — whereas
    with no timeout the query stops right after the data batches and
    state simply dies with the query. Ignored for eventtime mode
    (which always uses EventTimeTimeout).
    """
    if timeout not in ("processing", "none"):
        raise ValueError(f"unknown timeout mode: {timeout!r}")
    if order not in ("arrival", "eventtime"):
        raise ValueError(f"unknown order mode: {order!r}")
    keyed = grouped_stream.selectExpr(f"{key_col} AS key", "ts")
    if order == "eventtime":
        fn = make_ordered_gap_filler(
            step_us,
            dt_max_s,
            max_fill_per_gap=max_fill_per_gap,
            anchor_ttl_s=anchor_ttl_s,
        )
        return (
            keyed.withWatermark("ts", watermark_delay)
            .groupBy("key")
            .applyInPandasWithState(
                fn,
                outputStructType=FILL_SCHEMA,
                stateStructType=ORDERED_STATE_SCHEMA,
                outputMode=output_mode,
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
    fn = make_gap_filler(
        step_us,
        dt_max_s,
        max_fill_per_gap=max_fill_per_gap,
        use_timeout=timeout == "processing",
    )
    return keyed.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=FILL_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout == "processing"
            else GroupStateTimeout.NoTimeout
        ),
    )
