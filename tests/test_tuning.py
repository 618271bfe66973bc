"""``tuning``: the ``materialized`` lifecycle, and the size-estimate
gates — a failed or unknown ``plan_bytes`` estimate keeps every caller
on its default path instead of forcing the gate on."""

from __future__ import annotations

import datetime as dt
import logging
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import ncagg_spark.operators.gapfill as gapfill
import ncagg_spark.tuning as tuning
from ncagg_spark.operators.dedup import cadence_bucket, dedup_cadence
from ncagg_spark.pipeline.dedup import (
    simhash_near_duplicates,
    simhash_signatures,
)


@pytest.fixture()
def failed_estimate(monkeypatch, caplog):
    """Every ``plan_bytes`` call fails inside its optimizer estimate;
    returns the captured ``ncagg_spark`` log."""
    real = tuning.plan_bytes

    def failing(df):
        return real(SimpleNamespace())  # no query execution to ask

    monkeypatch.setattr(tuning, "plan_bytes", failing)
    caplog.set_level(logging.WARNING, logger="ncagg_spark")
    return caplog


def _warned(caplog) -> bool:
    return any(
        "size estimate failed" in r.getMessage() for r in caplog.records
    )


def test_failed_estimate_keeps_simhash_session_width(spark, failed_estimate):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z")],
        "doc_id long, text string",
    )
    pairs = simhash_near_duplicates(simhash_signatures(docs))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "4096)" not in plan, plan
    assert _warned(failed_estimate)
    pairs.collect()  # and the session-width plan runs


def test_failed_estimate_skips_gap_fill_checkpoint(
    spark, failed_estimate, checkpoints
):
    origin = 1_700_000_000_000_000
    step = 60_000_000
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2023, 11, 14, 22, 16, tzinfo=dt.timezone.utc)),
            (2, dt.datetime(2023, 11, 14, 22, 19, tzinfo=dt.timezone.utc)),
        ],
        "event_id long, ts timestamp",
    )
    df = cadence_bucket(df, "ts", origin_us=origin, step_us=step)
    df = dedup_cadence(df, "ts", tiebreak=["event_id"])
    out = gapfill.gap_fill(
        spark, df, "ts",
        origin_us=origin, step_us=step, n_buckets=8, anchor="previous",
    )
    assert out.count() == 8
    assert out.filter(F.col("is_fill")).count() > 0
    assert not checkpoints
    assert _warned(failed_estimate)


def test_unknown_size_skips_gap_fill_checkpoint(spark, checkpoints, caplog):
    # a one-row local frame: Spark sizes its RDD-backed relation at
    # spark.sql.defaultSizeInBytes, so the estimate is "unknown", not
    # above the 128 MiB gate
    caplog.set_level(logging.WARNING, logger="ncagg_spark")
    origin = 1_700_000_000_000_000
    step = 60_000_000
    df = spark.createDataFrame(
        [(1, origin + 3 * step)], "event_id long, us long"
    ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))
    df = cadence_bucket(df, "ts", origin_us=origin, step_us=step)
    df = dedup_cadence(df, "ts", tiebreak=["event_id"])
    assert tuning.plan_bytes(df) is None
    out = gapfill.gap_fill(
        spark, df, "ts",
        origin_us=origin, step_us=step, n_buckets=8, anchor="previous",
    )
    assert out.count() == 8
    assert not checkpoints
    assert any("size unknown" in r.getMessage() for r in caplog.records)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize(
    "level", [None, StorageLevel.DISK_ONLY], ids=["default", "disk_only"]
)
def test_materialized_persists_then_releases(spark, level):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    before = _persistent_rdds(spark)
    args = () if level is None else (level,)
    with tuning.materialized(df, *args) as m:
        want = StorageLevel.MEMORY_AND_DISK_DESER if level is None else level
        assert m.storageLevel == want
        assert m.count() == 3
        assert _persistent_rdds(spark) == before + 1
    assert df.storageLevel == StorageLevel.NONE
    assert _persistent_rdds(spark) == before


def test_materialized_releases_when_the_body_raises(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="body failed"):
        with tuning.materialized(df) as m:
            assert m.count() == 3
            assert _persistent_rdds(spark) == before + 1
            raise RuntimeError("body failed")
    assert df.storageLevel == StorageLevel.NONE
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("materialize", [False, True])
def test_gap_fill_previous_materialized_rows_unchanged(
    spark, monkeypatch, checkpoints, tmp_path, materialize
):
    # 1-min cadence over 12 slots; real records at slots 3, 4, 8 with
    # off-grid phases -> leading fills (back-computed), interior fills
    # (continue-from-previous) and trailing fills all exercised.
    # Gate threshold: 0 forces the checkpointed path, a huge value the
    # lazy (shared-subtree) path — rows must be identical. The input is
    # Parquet-backed, so the gate sees a known size estimate.
    monkeypatch.setattr(
        tuning, "MATERIALIZE_MIN_BYTES", 0 if materialize else 1 << 40
    )
    origin = 1_700_000_000_000_000
    step = 60_000_000
    data = [
        (1, origin + 3 * step + 7_000_000),
        (2, origin + 4 * step + 11_000_000),
        (3, origin + 8 * step + 2_000_000),
    ]
    path = str(tmp_path / "events")
    spark.createDataFrame(
        [(i, t) for i, t in data], "event_id long, us long"
    ).write.parquet(path)
    df = spark.read.parquet(path).select(
        "event_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    df = cadence_bucket(df, "ts", origin_us=origin, step_us=step)
    df = dedup_cadence(df, "ts", tiebreak=["event_id"])
    out = gapfill.gap_fill(
        spark, df, "ts",
        origin_us=origin, step_us=step, n_buckets=12,
        anchor="previous", keep_bucket=True,
    )
    # the gate checkpoints the input frame itself
    assert any(c is df for c in checkpoints) == materialize
    rows = {r["__bucket"]: r for r in out.collect()}
    assert len(rows) == 12
    lead_us = origin + 3 * step + 7_000_000

    def us_of(ts: dt.datetime) -> int:
        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)

    for b in (0, 1, 2):
        assert us_of(rows[b].ts) == lead_us - (3 - b) * step
    # interior fills continue from the previous real record (slot 4)
    for b in (5, 6, 7):
        assert rows[b].is_fill
        assert us_of(rows[b].ts) == us_of(rows[4].ts) + (b - 4) * step
    # trailing fills continue from slot 8
    for b in (9, 10, 11):
        assert rows[b].is_fill
        assert us_of(rows[b].ts) == us_of(rows[8].ts) + (b - 8) * step
    # real records untouched
    for b, (_eid, us) in zip((3, 4, 8), data):
        assert not rows[b].is_fill and us_of(rows[b].ts) == us
