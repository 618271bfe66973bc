"""applyInPandasWithState gap filler: state persists across
micro-batches — a gap spanning two batches is still filled.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ncagg_spark.streaming.regularize import stream_granules

T0_US = 1_704_153_600_000_000

SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _write(spark, path, rows):
    spark.createDataFrame(rows, "event_type string, us long").select(
        "event_type", F.timestamp_micros(F.col("us")).alias("ts")
    ).coalesce(1).write.mode("append").parquet(path)


class _FakeState:
    """Minimal GroupState stand-in to unit-test the state function
    deterministically (real ProcessingTimeTimeout needs wall-clock)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_gap_filler_emits_missing_slots():
    import pandas as pd

    from ncagg_spark.streaming.stateful import make_gap_filler

    fill = make_gap_filler(1_000_000, 1.2)
    st = _FakeState(value=(T0_US,))
    # next record 4 s after last seen -> slots +1s, +2s, +3s synthesized
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime([(T0_US + 4_000_000) * 1000])}
    )
    (out,) = list(fill(("A",), iter([pdf]), st))
    got = [
        (int(r["ts"].value) // 1000 - T0_US, bool(r["is_fill"]))
        for _, r in out.iterrows()
    ]
    assert got == [
        (1_000_000, True),
        (2_000_000, True),
        (3_000_000, True),
        (4_000_000, False),
    ]
    assert st.get == (T0_US + 4_000_000,) and st.timeout_set == 1200


def test_gap_filler_caps_pathological_gap():
    import pandas as pd

    from ncagg_spark.streaming.stateful import make_gap_filler

    fill = make_gap_filler(1_000_000, 1.2, max_fill_per_gap=5)
    st = _FakeState(value=(T0_US,))
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime([(T0_US + 3_600_000_000) * 1000])}
    )
    (out,) = list(fill(("A",), iter([pdf]), st))
    assert len(out) == 6  # 5 capped fills + the real record
    assert out["is_fill"].tolist() == [True] * 5 + [False]


def test_gap_filler_timeout_drops_state_without_synthesis():
    from ncagg_spark.streaming.stateful import make_gap_filler

    fill = make_gap_filler(1_000_000, 1.2)
    st = _FakeState(value=(T0_US,), timed_out=True)
    assert list(fill(("A",), iter([]), st)) == []
    assert st.removed


@pytest.mark.slow
def test_gap_filler_state_spans_batches(spark, tmp_path):
    from ncagg_spark.streaming.stateful import fill_gaps_online

    inp = str(tmp_path / "fill_in")
    _write(spark, inp, [("A", T0_US + i * 1_000_000) for i in range(3)])
    # resumes at second 6: slots 3, 4, 5 must be synthesized even though
    # the gap spans two micro-batches
    _write(spark, inp, [("A", T0_US + 6 * 1_000_000)])

    stream = stream_granules(spark, inp, SCHEMA, max_files_per_trigger=1)
    # timeout="none": the timeout branch is unit-tested above with
    # _FakeState; with ProcessingTimeTimeout an availableNow query never
    # self-terminates (endless empty cleanup batches — this test used to
    # burn its full 180 s await)
    reg = fill_gaps_online(
        stream, key_col="event_type", step_us=1_000_000, dt_max_s=1.2,
        timeout="none",
    )
    q = (
        reg.writeStream.format("memory")
        .queryName("fill_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "fill_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive, "availableNow query failed to self-terminate"

    got = spark.sql(
        "SELECT * FROM fill_sink ORDER BY ts"
    ).collect()
    secs = [
        (int(r["ts"].timestamp()) - T0_US // 1_000_000, r["is_fill"])
        for r in got
    ]
    assert secs == [
        (0, False),
        (1, False),
        (2, False),
        (3, True),
        (4, True),
        (5, True),
        (6, False),
    ]


@pytest.mark.slow
def test_gap_filler_kill_restart_no_double_emission(spark, tmp_path):
    """Crash recovery for the stateful operator (VERDICT r7 #3): kill a
    running fill_gaps_online query mid-stream, restart from the
    checkpoint, and assert the final frame is EXACTLY the batch answer —
    no gap row double-emitted, none lost — at whatever batch boundary
    the kill happened to land on (the file-sink log + state checkpoint
    must make the answer kill-point-invariant)."""
    import time

    from ncagg_spark.streaming.stateful import fill_gaps_online

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # three mtime-ordered granules: A 0..2 | A @6 (fills 3,4,5) |
    # A @9 (fills 7,8)
    _write(spark, inp, [("A", T0_US + i * 1_000_000) for i in range(3)])
    _write(spark, inp, [("A", T0_US + 6_000_000)])
    _write(spark, inp, [("A", T0_US + 9_000_000)])

    def start(available_now):
        stream = stream_granules(
            spark, inp, SCHEMA, max_files_per_trigger=1
        )
        reg = fill_gaps_online(
            stream,
            key_col="event_type",
            step_us=1_000_000,
            dt_max_s=1.2,
            timeout="none",
        )
        w = (
            reg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # run 1: kill as soon as at least one micro-batch has committed —
    # a mid-stream stop with durable state + sink-log entries behind it
    q = start(available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(
            p["numInputRows"] > 0 for p in (q.recentProgress or [])
        ):
            break
        time.sleep(0.2)
    else:
        q.stop()
        raise AssertionError("no micro-batch committed within 120s")
    q.stop()
    q.awaitTermination(60)

    # run 2: restart from the checkpoint, drain whatever remains
    q2 = start(available_now=True)
    q2.awaitTermination(120)
    assert not q2.isActive

    got = spark.read.parquet(out).orderBy("ts").collect()
    rows = [
        (
            r["key"],
            (int(r["ts"].timestamp() * 1_000_000) - T0_US) // 1_000_000,
            bool(r["is_fill"]),
        )
        for r in got
    ]
    assert len(rows) == len(set(rows)), "gap row double-emitted"
    assert sorted(rows) == [
        ("A", 0, False),
        ("A", 1, False),
        ("A", 2, False),
        ("A", 3, True),
        ("A", 4, True),
        ("A", 5, True),
        ("A", 6, False),
        ("A", 7, True),
        ("A", 8, True),
        ("A", 9, False),
    ]


@pytest.mark.slow
def test_fill_gaps_online_on_rocksdb_state_store(spark, tmp_path):
    """VERDICT r10 #7: the stateful gap filler runs unchanged on the
    RocksDB state store provider (the 100-TB-cardinality config — state
    off the executor heap), produces the same rows as the default
    provider, and reports state size O(open keys) in query progress."""
    from ncagg_spark.streaming.stateful import fill_gaps_online

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(provider_key, None)
    inp = str(tmp_path / "rdb_in")
    rows = [
        (k, T0_US + i * 1_000_000)
        for k in ("A", "B", "C")
        for i in (0, 1, 2, 6)  # 3-slot gap per key
    ]
    _write(spark, inp, rows)
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = stream_granules(
            spark, inp, SCHEMA, max_files_per_trigger=1
        )
        reg = fill_gaps_online(
            stream, key_col="event_type", step_us=1_000_000,
            dt_max_s=1.2, timeout="none",
        )
        q = (
            reg.writeStream.format("memory")
            .queryName("rdb_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "rdb_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        state_rows = None
        rocksdb_metric = False
        for p in q.recentProgress:
            for op in p.get("stateOperators", []):
                if op.get("numRowsTotal") is not None:
                    state_rows = op["numRowsTotal"]
                    cm = op.get("customMetrics") or {}
                    rocksdb_metric = rocksdb_metric or any(
                        k.startswith("rocksdb") for k in cm
                    )
        assert state_rows == 3  # one state row per open key
        assert rocksdb_metric, "RocksDB provider not actually in use"
        got = sorted(
            (
                r["key"],
                int(r["ts"].timestamp()) - T0_US // 1_000_000,
                r["is_fill"],
            )
            for r in spark.sql("SELECT * FROM rdb_sink").collect()
        )
        want = sorted(
            (k, s, s in (3, 4, 5))
            for k in ("A", "B", "C")
            for s in (0, 1, 2, 3, 4, 5, 6)
        )
        assert got == want
    finally:
        if saved is not None:
            spark.conf.set(provider_key, saved)
        else:
            spark.conf.unset(provider_key)


@pytest.mark.slow
def test_fill_gaps_online_eventtime_out_of_order(spark, tmp_path):
    """r12 root cause (tools/stream_state_diag.py): FileStreamSource
    breaks mtime ties arbitrarily, so micro-batches can deliver a later
    time slice before an earlier one — the arrival-order filler then
    synthesizes fills over slots whose real records are still pending.
    order="eventtime" buffers in state and finalizes below the
    watermark: here the four granules are FORCED out of order (mtimes
    10-13, 0-3, 15-18, 5-8) and the output must still equal the
    in-order batch rule — fills exactly at the missing slots 4, 9, 14,
    no fill colliding with a real record."""
    from ncagg_spark.streaming.stateful import fill_gaps_online

    inp = str(tmp_path / "ooo_in")
    slices = [(0, 4), (5, 9), (10, 14), (15, 19)]  # 4,9,14,19 missing
    import glob as _glob
    import os

    os.makedirs(inp)
    paths = []
    for i, (lo, hi) in enumerate(slices):
        tmp = str(tmp_path / f"ooo_tmp{i}")
        rows = [
            (k, T0_US + s * 1_000_000)
            for k in ("A", "B")
            for s in range(lo, hi)
        ]
        spark.createDataFrame(
            rows, "event_type string, us long"
        ).select(
            "event_type", F.timestamp_micros(F.col("us")).alias("ts")
        ).coalesce(1).write.parquet(tmp)
        (pf,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(inp, f"granule_{i}.parquet")
        os.rename(pf, dst)
        paths.append(dst)
    # ingestion order := file2, file0, file3, file1 (out of order)
    for rank, idx in enumerate([2, 0, 3, 1]):
        m = 1_700_000_000 + 100 * rank
        os.utime(paths[idx], (m, m))
    # sentinel key advances the watermark so EventTimeTimeout flushes
    # the real keys' pending tails; two files so the second batch sees
    # the watermark moved by the first
    for j, s in enumerate((120, 121)):
        tmp = str(tmp_path / f"ooo_sent{j}")
        spark.createDataFrame(
            [("Z", T0_US + s * 1_000_000)], "event_type string, us long"
        ).select(
            "event_type", F.timestamp_micros(F.col("us")).alias("ts")
        ).coalesce(1).write.parquet(tmp)
        (pf,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(inp, f"sentinel_{j}.parquet")
        os.rename(pf, dst)
        m = 1_700_001_000 + 100 * j
        os.utime(dst, (m, m))

    stream = stream_granules(spark, inp, SCHEMA, max_files_per_trigger=1)
    reg = fill_gaps_online(
        stream,
        key_col="event_type",
        step_us=1_000_000,
        dt_max_s=1.2,
        order="eventtime",
        watermark_delay="30 seconds",
    )
    q = (
        reg.writeStream.format("memory")
        .queryName("ooo_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = sorted(
        (
            r["key"],
            int(r["ts"].timestamp()) - T0_US // 1_000_000,
            r["is_fill"],
        )
        for r in spark.sql(
            "SELECT * FROM ooo_sink WHERE key != 'Z'"
        ).collect()
    )
    want = sorted(
        (k, s, s in (4, 9, 14))
        for k in ("A", "B")
        for s in range(19)  # 0..18; trailing slot 19 never closed
    )
    assert got == want


@pytest.mark.slow
def test_stream_state_cross_provider_and_restart_equality(spark):
    """VERDICT r11 #1 pin, at the tool's own scale (5,000 keys, 4
    phases): with event-time-ordered file mtimes (the arrival-mode
    contract, enforced by tools/stream_state_scale.write_phase since
    r12), the phased rocksdb run, the phased default-provider run, and
    a single-query no-restart run all emit the SAME output multiset,
    and fills equal the constructible missing slots exactly — the r11
    divergence (out-of-order mtime-tie file grouping, not a state-store
    bug) cannot recur silently."""
    import os

    from tools.stream_state_scale import run_provider

    n_keys = int(os.environ.get("SPARK_GRAFT_STATE_KEYS", "5000"))
    phases = 4
    results = [
        run_provider(spark, "rocksdb", n_keys, phases),
        run_provider(spark, "hdfs-default", n_keys, phases),
        run_provider(spark, "hdfs-oneshot", n_keys, phases, phased=False),
    ]
    expected_fill = n_keys * (phases * 3 + (phases - 1))
    for res in results:
        assert res["filled_rows"] == expected_fill, res["provider"]
    outs = [
        spark.read.parquet(
            f"/root/repo/.scale/stream_state/arrival-{r['provider']}/out"
        ).groupBy("key", "ts", "is_fill").count()
        for r in results
    ]
    for other in outs[1:]:
        assert outs[0].exceptAll(other).count() == 0
        assert other.exceptAll(outs[0]).count() == 0


@pytest.mark.slow
def test_sessionize_stream_merges_across_batches(spark, tmp_path):
    """Native session_window (streaming/sessionize.py): a session whose
    events straddle two micro-batches must merge in the state store and
    emit ONCE; an event exactly gap after the previous one MERGES (the
    probed boundary rule, equal to the batch `> gap` split)."""
    import glob as _glob
    import os

    from ncagg_spark.streaming.sessionize import sessionize_stream

    inp = str(tmp_path / "sess_in")
    os.makedirs(inp)
    # key A: events at 0s, 10s (batch 1) and 20s (batch 2: exactly
    # gap=10s after 10s -> MERGES) then 45s (new session).
    # sentinel key Z far in the future flushes the tail.
    batches = [
        [("A", 0), ("A", 10_000_000)],
        [("A", 20_000_000), ("A", 45_000_000)],
        [("Z", 7_200_000_000)],
        [("Z", 7_201_000_000)],
    ]
    for i, rows in enumerate(batches):
        tmp = str(tmp_path / f"sess_tmp{i}")
        spark.createDataFrame(
            [(k, T0_US + us) for k, us in rows],
            "event_type string, us long",
        ).select(
            "event_type", F.timestamp_micros(F.col("us")).alias("ts")
        ).coalesce(1).write.parquet(tmp)
        (pf,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(inp, f"granule_{i}.parquet")
        os.rename(pf, dst)
        m = 1_700_000_000 + 100 * i
        os.utime(dst, (m, m))

    stream = stream_granules(spark, inp, SCHEMA, max_files_per_trigger=1)
    out = sessionize_stream(
        stream,
        key_col="event_type",
        gap_s=10.0,
        watermark_delay="5 seconds",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive
    got = sorted(
        (
            r["key"],
            int(r["session_start"].timestamp()) - T0_US // 1_000_000,
            int(r["session_end"].timestamp()) - T0_US // 1_000_000,
            r["n_events"],
        )
        for r in spark.sql(
            "SELECT * FROM sess_sink WHERE key != 'Z'"
        ).collect()
    )
    assert got == [("A", 0, 20, 3), ("A", 45, 45, 1)]


class _FakeEventState(_FakeState):
    """_FakeState + the EventTimeTimeout surface the ordered filler
    uses (setTimeoutTimestamp, getCurrentWatermarkMs)."""

    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        super().__init__(value=value, timed_out=timed_out)
        self._wm_ms = watermark_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms

    def getCurrentWatermarkMs(self):
        return self._wm_ms


def _run_ordered(fill, st, us_list):
    import pandas as pd

    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(pd.Series(us_list, dtype="int64") * 1000)}
    )
    outs = list(fill(("A",), iter([pdf] if us_list else []), st))
    got = []
    for out in outs:
        got.extend(
            (int(r["ts"].value) // 1000 - T0_US, bool(r["is_fill"]))
            for _, r in out.iterrows()
        )
    return got


def test_ordered_filler_quiet_gap_divergence_default_ttl():
    """ADVICE r13 documented tradeoff, pinned: with the default anchor
    TTL (= dt_max), a key quiet past the horizon is GC'd; on resume the
    gap gets NO fills (the batch oracle would fill it, capped)."""
    from ncagg_spark.streaming.stateful import make_ordered_gap_filler

    fill = make_ordered_gap_filler(1_000_000, 1.2)
    # batch 1: two records, watermark already past both -> finalized,
    # state is anchor-only, timeout armed at last + dt_max
    wm1 = (T0_US + 5_000_000) // 1000
    st = _FakeEventState(watermark_ms=wm1)
    got = _run_ordered(fill, st, [T0_US, T0_US + 1_000_000])
    assert got == [(0, False), (1_000_000, False)]
    assert st.get == (T0_US + 1_000_000, [])
    # last + dt_max (T0+2.2s) is already below the watermark (T0+5s),
    # so the timeout clamps to wm + 1 — fires on the next advance
    assert st.timeout_set == wm1 + 1
    # timeout fires (key quiet, other keys advanced the watermark):
    # anchor dropped, nothing emitted
    st2 = _FakeEventState(value=st.get, timed_out=True)
    assert _run_ordered(fill, st2, []) == []
    assert st2.removed
    # key resumes 11 s later: treated as NEW -> real record only, no
    # resume-gap fills (batch gap_fill would synthesize slots 2..10)
    wm3 = (T0_US + 20_000_000) // 1000
    st3 = _FakeEventState(watermark_ms=wm3)
    got3 = _run_ordered(fill, st3, [T0_US + 11_000_000])
    assert got3 == [(11_000_000, False)]


def test_ordered_filler_anchor_ttl_fills_resume_gap():
    """With anchor_ttl_s covering the quiet spell, the anchor survives
    (timeout armed at last + ttl, not last + dt_max) and the resume gap
    fills exactly like the batch rule."""
    from ncagg_spark.streaming.stateful import make_ordered_gap_filler

    fill = make_ordered_gap_filler(1_000_000, 1.2, anchor_ttl_s=3600.0)
    wm1 = (T0_US + 5_000_000) // 1000
    st = _FakeEventState(watermark_ms=wm1)
    _run_ordered(fill, st, [T0_US, T0_US + 1_000_000])
    # TTL horizon, not dt_max: anchor outlives the quiet spell
    assert st.timeout_set == (T0_US + 1_000_000 + 3_600_000_000) // 1000 + 1
    # resume within the horizon: anchor still in state -> slots 2..10
    # synthesized, then the real record — identical to batch gap_fill
    wm2 = (T0_US + 20_000_000) // 1000
    st2 = _FakeEventState(value=st.get, watermark_ms=wm2)
    got = _run_ordered(fill, st2, [T0_US + 11_000_000])
    assert got == [(s * 1_000_000, True) for s in range(2, 11)] + [
        (11_000_000, False)
    ]
