"""Size-estimate gates: a failed ``plan_bytes`` estimate keeps every
caller on its default path instead of forcing the gate on."""

from __future__ import annotations

import datetime as dt
import logging
from types import SimpleNamespace

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    monkeypatch.setattr(gapfill, "_plan_bytes", failing)
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
    spark, monkeypatch, failed_estimate
):
    calls = []
    real_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        calls.append(self)
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
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
    assert not calls
    assert _warned(failed_estimate)
