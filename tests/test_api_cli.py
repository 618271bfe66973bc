"""End-to-end: aggregate() API and the CLI over real granule files —
the reference's test style (build granules, aggregate, assert
statistical invariants on the output file).
"""

from __future__ import annotations

import json
from datetime import timezone

import pytest
from pyspark.sql import functions as F

from ncagg_spark.api import (
    aggregate,
    config_from_template,
    generate_template,
)
from ncagg_spark.cli import main as cli_main, parse_bounds
from ncagg_spark.config import AggregationConfig
from tests.conftest import assert_same_columns, assert_scan_of

T0_US = 1_704_153_600_000_000  # 2024-01-02T00:00:00Z


@pytest.fixture()
def granule_dir(spark, tmp_path):
    """Three granule files: [0,20s), [20,40s) with a hole, [35,60s) overlap."""
    d = tmp_path / "granules"
    spans = [
        [(T0_US + i * 1_000_000, float(i)) for i in range(0, 20)],
        [(T0_US + i * 1_000_000, float(i)) for i in range(20, 40) if i < 25 or i >= 30],
        [(T0_US + i * 1_000_000 + 100, float(i) + 0.5) for i in range(35, 60)],
    ]
    for i, rows in enumerate(spans):
        spark.createDataFrame(rows, "us long, value double").select(
            F.timestamp_micros(F.col("us")).alias("ts"), "value"
        ).coalesce(1).write.parquet(str(d / f"g{i}.parquet"))
    return str(d)


def _day_cfg(**kw):
    return AggregationConfig(
        index_by="ts",
        cadence_hz=1.0,
        min_bound=T0_US / 1e6,
        max_bound=(T0_US + 60 * 1_000_000) / 1e6,
        **kw,
    )


def test_aggregate_end_to_end_invariants(spark, granule_dir, tmp_path):
    out_path = str(tmp_path / "out")
    cfg = _day_cfg(
        attribute_strategies={"n_files": "input_count", "fi": "first_input"}
    )
    aggregate(spark, [f"{granule_dir}/g{i}.parquet" for i in range(3)], out_path, cfg)

    got = spark.read.parquet(out_path).orderBy("ts").collect()
    # the reference's core invariants: exact count, regular diffs, bounds
    assert len(got) == 60
    us = [int(r["ts"].replace(tzinfo=timezone.utc).timestamp() * 1e6) for r in got]
    assert us[0] >= T0_US and us[-1] < T0_US + 60_000_000
    diffs = [b - a for a, b in zip(us, us[1:])]
    assert max(diffs) <= 1_000_100 and min(diffs) >= 999_900
    # hole 25..29 filled
    fills = [i for i, r in enumerate(got) if r["is_fill"]]
    assert fills == list(range(25, 30))
    # overlap 35..39: earliest record (file g1, integer values) wins
    assert got[36]["value"] == 36.0
    # attributes sidecar written and reduced
    attrs = json.load(open(f"{out_path}/_attributes.json"))
    assert attrs["n_files"] == 3
    assert attrs["fi"].endswith("part-00000" + attrs["fi"][-42:][-8:]) or attrs["fi"]


def test_generate_template_and_roundtrip(spark, granule_dir):
    tpl = generate_template(spark, f"{granule_dir}/g0.parquet")
    assert tpl["aggregation"]["index_by"] == "ts"  # timestamp col inferred
    names = [f["name"] for f in tpl["schema"]["fields"]]
    assert "ts" in names and "value" in names
    cfg = config_from_template(tpl)
    assert cfg.index_by == "ts"


def test_config_from_template_rejects_unknown_keys():
    with pytest.raises(ValueError):
        config_from_template({"aggregation": {"index_by": "ts", "bogus": 1}})
    with pytest.raises(ValueError):
        config_from_template({"aggregation": {}})


def test_parse_bounds_forms():
    lo, hi = parse_bounds("20240102")
    assert (hi - lo).total_seconds() == 86400
    lo, hi = parse_bounds("20240102:20240104")
    assert (hi - lo).total_seconds() == 3 * 86400


def test_cli_end_to_end(spark, granule_dir, tmp_path, capsys):
    out_path = str(tmp_path / "cli_out")
    rc = cli_main(
        [
            out_path,
            f"{granule_dir}/g0.parquet",
            f"{granule_dir}/g1.parquet",
            f"{granule_dir}/g2.parquet",
            "-i", "ts",
            "-z", "1.0",
            "-b", "20240102",
            "--num-files", "1",
        ]
    )
    assert rc == 0
    got = spark.read.parquet(out_path)
    assert got.count() == 86400  # full bounded day at 1 Hz
    # slots 0-24 and 30-59 have data; 25-29 is the hole
    n_real = got.filter(~F.col("is_fill")).count()
    assert n_real == 55


@pytest.mark.parametrize(
    "bad",
    [
        ["-c", "time:abc"],
        ["-c", "0"],
        ["--complevel", "12"],
        ["--complevel", "-1"],
    ],
    ids=["chunk-not-int", "chunk-zero", "complevel-12", "complevel-neg"],
)
def test_cli_rejects_bad_nc4_knobs_before_running(
    granule_dir, tmp_path, capsys, bad
):
    """A bad -c/--complevel value is refused up front (exit 2) instead
    of after the whole aggregate ran: nothing is written."""
    dst = tmp_path / "day.nc4"
    rc = cli_main(
        [str(dst), f"{granule_dir}/g0.parquet", "-i", "ts", "-z", "1.0", *bad]
    )
    assert rc == 2
    assert "error:" in capsys.readouterr().err
    assert not dst.exists()
    assert not (tmp_path / "day_parquet").exists()


def test_cli_generate_template(spark, granule_dir, capsys):
    rc = cli_main(["--generate-template", f"{granule_dir}/g0.parquet"])
    assert rc == 0
    tpl = json.loads(capsys.readouterr().out)
    assert tpl["aggregation"]["index_by"] == "ts"


def test_cli_errors(capsys):
    assert cli_main(["/tmp/x"]) == 2  # no sources
    assert cli_main(["/tmp/x", "/tmp/y.parquet"]) == 2  # no index/template


@pytest.fixture()
def two_grain_dir(spark, tmp_path):
    """Granules carrying TWO grains (SURVEY §1.2 multi-unlimited-dim):
    a-grain rows at 1 Hz and b-grain rows at 0.5 Hz in the same files,
    each grain's index null on the other grain's rows."""
    d = tmp_path / "grains"
    for i, lo in enumerate((0, 30)):
        a = [
            (T0_US + s * 1_000_000, float(s), None, None)
            for s in range(lo, lo + 30)
        ]
        b = [
            (None, None, T0_US + s * 1_000_000, 10.0 * s)
            for s in range(lo, lo + 30, 2)
        ]
        spark.createDataFrame(
            a + b, "ua long, val_a double, ub long, val_b double"
        ).select(
            F.timestamp_micros(F.col("ua")).alias("ts_a"),
            "val_a",
            F.timestamp_micros(F.col("ub")).alias("ts_b"),
            "val_b",
        ).coalesce(1).write.parquet(str(d / f"g{i}.parquet"))
    return str(d)


def _grain_cfgs():
    hi = (T0_US + 60 * 1_000_000) / 1e6
    return (
        AggregationConfig(
            index_by="ts_a", cadence_hz=1.0, min_bound=T0_US / 1e6, max_bound=hi
        ),
        AggregationConfig(
            index_by="ts_b", cadence_hz=0.5, min_bound=T0_US / 1e6, max_bound=hi
        ),
    )


def test_aggregate_multi_matches_per_grain_runs(
    spark, two_grain_dir, tmp_path
):
    """One aggregate_multi call == N independent aggregate() runs, and
    each grain's result is a scan of that grain's output."""
    from ncagg_spark.api import GrainSpec, aggregate_multi

    files = [f"{two_grain_dir}/g{i}.parquet" for i in range(2)]
    cfg_a, cfg_b = _grain_cfgs()
    multi = str(tmp_path / "multi")
    got = aggregate_multi(
        spark,
        files,
        {
            "a": GrainSpec(f"{multi}/a", cfg_a, columns=["ts_a", "val_a"]),
            "b": GrainSpec(f"{multi}/b", cfg_b, columns=["ts_b", "val_b"]),
        },
    )
    solo_a = str(tmp_path / "solo_a")
    solo_b = str(tmp_path / "solo_b")
    aggregate(spark, files, solo_a, cfg_a, columns=["ts_a", "val_a"])
    aggregate(spark, files, solo_b, cfg_b, columns=["ts_b", "val_b"])

    for name, solo_out, n in (("a", solo_a, 60), ("b", solo_b, 30)):
        assert_scan_of(got[name], f"{multi}/{name}")
        want = spark.read.parquet(solo_out)
        assert got[name].count() == n
        assert sorted(got[name].columns) == sorted(want.columns)
        assert got[name].exceptAll(want).count() == 0
        assert want.exceptAll(got[name]).count() == 0


def test_cli_multi_grain(spark, two_grain_dir, tmp_path):
    out = str(tmp_path / "cli_grains")
    rc = cli_main(
        [
            out,
            f"{two_grain_dir}/g0.parquet",
            f"{two_grain_dir}/g1.parquet",
            "-u", "ts_a:1.0",
            "-u", "ts_b:0.5",
            "-b", "20240102",
        ]
    )
    assert rc == 0
    a = spark.read.parquet(f"{out}/ts_a")
    b = spark.read.parquet(f"{out}/ts_b")
    assert a.count() == 86400  # bounded day at 1 Hz
    assert b.count() == 43200  # bounded day at 0.5 Hz
    assert a.filter(~F.col("is_fill")).count() == 60
    assert b.filter(~F.col("is_fill")).count() == 30


def test_template_projection_drops_and_nulls(spark, granule_dir, tmp_path):
    """P1 + P4: deleting a variable from the template drops it; a
    template variable absent from every granule comes out as nulls."""
    out_path = str(tmp_path / "proj_out")
    cfg = _day_cfg()
    aggregate(
        spark,
        [f"{granule_dir}/g0.parquet"],
        out_path,
        cfg,
        columns=["ts", "brand_new_var"],  # 'value' deleted, new var added
    )
    got = spark.read.parquet(out_path)
    assert set(got.columns) == {"ts", "brand_new_var", "is_fill"}
    assert got.count() == 60
    assert got.filter(F.col("brand_new_var").isNotNull()).count() == 0


def test_alt_named_index_still_aggregates(spark, tmp_path):
    """P3 regression guard: index_by satisfied via copy_from_alt must
    survive config inter-validation and the template projection."""
    d = tmp_path / "altg"
    rows = [(T0_US + i * 1_000_000, float(i)) for i in range(10)]
    spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("old_time"), "value"
    ).coalesce(1).write.parquet(str(d / "g0.parquet"))

    cfg = AggregationConfig(
        index_by="ts",
        cadence_hz=1.0,
        min_bound=T0_US / 1e6,
        max_bound=(T0_US + 10 * 1_000_000) / 1e6,
        copy_from_alt={"ts": ["old_time"]},
    )
    out = str(tmp_path / "alt_out")
    aggregate(spark, [str(d / "g0.parquet")], out, cfg)
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.filter(~F.col("is_fill")).count() == 10


def test_alt_named_index_under_aggregate_multi(spark, tmp_path):
    """A grain whose index only materializes via a copy_from_alt
    alternate source name aggregates under aggregate_multi."""
    from ncagg_spark.api import GrainSpec, aggregate_multi

    d = tmp_path / "altg"
    rows = [(T0_US + i * 1_000_000, float(i)) for i in range(10)]
    spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros(F.col("us")).alias("old_time"), "value"
    ).coalesce(1).write.parquet(str(d / "g0.parquet"))

    cfg = AggregationConfig(
        index_by="ts",
        cadence_hz=1.0,
        min_bound=T0_US / 1e6,
        max_bound=(T0_US + 10 * 1_000_000) / 1e6,
        copy_from_alt={"ts": ["old_time"]},
    )
    out = str(tmp_path / "alt_multi")
    aggregate_multi(
        spark,
        [str(d / "g0.parquet")],
        {"g": GrainSpec(f"{out}/g", cfg, columns=["ts", "value"])},
    )
    got = spark.read.parquet(f"{out}/g")
    assert got.count() == 10
    assert got.filter(~F.col("is_fill")).count() == 10


def test_typoed_index_raises_before_planning(spark, granule_dir, tmp_path):
    cfg = _day_cfg()
    cfg.index_by = "tss"  # typo
    with pytest.raises(ValueError, match="index_by"):
        aggregate(
            spark,
            [f"{granule_dir}/g0.parquet"],
            str(tmp_path / "x"),
            cfg,
            columns=["tss", "value"],
        )


# ---------------------------------------------------------------------------
# return contract: the aggregate entry points hand back a scan of the rows
# they wrote, so later actions never re-run the build
# ---------------------------------------------------------------------------


def test_aggregate_returns_scan_of_output(
    spark, granule_dir, tmp_path, written_lineage
):
    out_path = str(tmp_path / "scan_out")
    got = aggregate(
        spark,
        [f"{granule_dir}/g{i}.parquet" for i in range(3)],
        out_path,
        _day_cfg(),
    )
    assert_scan_of(got, out_path)
    assert_same_columns(got, written_lineage[0])
    # the rows written are the rows the lineage built
    assert got.exceptAll(written_lineage[0]).count() == 0
    assert written_lineage[0].exceptAll(got).count() == 0


def test_aggregate_partition_by_date_scan_has_no_dt(
    spark, granule_dir, tmp_path, written_lineage
):
    out_path = str(tmp_path / "dt_out")
    got = aggregate(
        spark,
        [f"{granule_dir}/g{i}.parquet" for i in range(3)],
        out_path,
        _day_cfg(),
        partition_by_date=True,
    )
    assert "dt" in spark.read.parquet(out_path).columns  # directory column
    assert "dt" not in got.columns
    assert_scan_of(got, out_path)
    assert_same_columns(got, written_lineage[0])
    assert got.count() == 60
