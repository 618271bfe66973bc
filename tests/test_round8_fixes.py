"""Regression tests for the round-8 ADVICE findings.

1. nc_granules drain partitions are sized to target_block_bytes (the
   fixed <=8-way coalesce made peak driver residency ~fileBytes/8) —
   tested in test_nc_streamed_export.py through the many-blocks
   (n_blocks > cores) path the old code never created.
2. streaming gap fill uses floor(x+0.5) slot counting, matching the
   batch gap_fill rule and the stream_gap_fill DuckDB oracle (Python
   round() is half-to-even: a 2.5-step gap emitted one fill too few).
3. __spark_entry__.queries() raises (not assert) on window overflow.
4. dedup_cadence's MapType fallback breaks residual ties with the
   remaining orderable columns — deterministic under shuffling, like
   the aggregate form's full-row struct tiebreak.
"""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

T0_US = 1_704_153_600_000_000


class _FakeState:
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


def test_gap_filler_half_step_gap_uses_floor_rule():
    # 2.5-step gap: floor(2.5+0.5)-1 = 2 fills (+1s, +2s). Python
    # round(2.5) is 2 (half-to-even) -> 1 fill -> oracle mismatch.
    from ncagg_spark.streaming.stateful import make_gap_filler

    fill = make_gap_filler(1_000_000, 1.2)
    st = _FakeState(value=(T0_US,))
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime([(T0_US + 2_500_000) * 1000])}
    )
    (out,) = list(fill(("A",), iter([pdf]), st))
    got = [
        (int(r["ts"].value) // 1000 - T0_US, bool(r["is_fill"]))
        for _, r in out.iterrows()
    ]
    assert got == [
        (1_000_000, True),
        (2_000_000, True),
        (2_500_000, False),
    ]


def test_queries_window_overflow_raises_not_assert(monkeypatch):
    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "DRIVER_WINDOW", 1)
    with pytest.raises(ValueError, match="slot check window"):
        entry.queries()


def test_dedup_maptype_fallback_residual_tiebreak(spark):
    # Two rows tied on (bucket, index): the kept one must be chosen by
    # the residual orderable columns, not partition luck.
    from ncagg_spark.operators.dedup import dedup_cadence

    rows = [
        (0, 10, "zzz", {"k": "z"}),
        (0, 10, "aaa", {"k": "a"}),
        (1, 20, "mmm", {"k": "m"}),
    ]
    schema = "bucket long, ts long, payload string, m map<string,string>"
    kept = {}
    for attempt, order in enumerate((rows, rows[::-1])):
        df = spark.createDataFrame(order, schema).repartition(
            8 if attempt else 3
        )
        out = dedup_cadence(df, "ts", bucket_col="bucket")
        got = {
            r["bucket"]: r["payload"]
            for r in out.collect()
        }
        kept[attempt] = got
    assert kept[0] == kept[1] == {0: "aaa", 1: "mmm"}


def test_aggregate_nc_small_input_auto_single_file(spark, tmp_path):
    """Small-build fast path (VERDICT r7 #6): inputs at or below
    SMALL_INPUT_BYTES auto-select a single-file in-order output (no
    range-sampling job) unless the caller pinned num_files; results
    are identical to the explicit multi-file path."""
    import glob
    import os

    from ncagg_spark.api import _local_input_bytes, aggregate_nc
    from ncagg_spark.config import AggregationConfig

    files = sorted(
        glob.glob(
            "/root/reference/test/exis/EXISL1bSFXR_5min/data/*.nc"
        )
    )
    if not files:
        import pytest

        pytest.skip("reference EXIS granules unavailable")
    est = _local_input_bytes(files)
    assert est is not None and est < (32 << 20)

    cfg = AggregationConfig(
        index_by="time",
        cadence_hz=1.0,
        min_bound=datetime.datetime(
            2017, 3, 5, 0, 30, tzinfo=datetime.timezone.utc
        ).timestamp(),
        max_bound=datetime.datetime(
            2017, 3, 5, 0, 35, tzinfo=datetime.timezone.utc
        ).timestamp(),
        bucket_phase=0.5,
        grid_phase="data",
    )
    out_auto = str(tmp_path / "auto")
    out_multi = str(tmp_path / "multi")
    aggregate_nc(spark, files, out_auto, cfg)
    aggregate_nc(spark, files, out_multi, cfg, num_files=4)

    parts = [
        f for f in os.listdir(out_auto) if f.endswith(".parquet")
    ]
    assert len(parts) == 1  # fast path took effect
    a = spark.read.parquet(out_auto).orderBy("time")
    b = spark.read.parquet(out_multi).orderBy("time")
    assert a.collect() == b.collect()


def test_local_input_bytes_refuses_remote_and_missing(tmp_path):
    from ncagg_spark.api import _local_input_bytes

    p = tmp_path / "x.nc"
    p.write_bytes(b"abc")
    assert _local_input_bytes([str(p)]) == 3
    assert _local_input_bytes([str(tmp_path)]) == 3  # directory walk
    assert _local_input_bytes(["s3://bucket/k.nc"]) is None
    assert _local_input_bytes([str(tmp_path / "missing.nc")]) is None
    assert _local_input_bytes([str(tmp_path / "*.none")]) is None
