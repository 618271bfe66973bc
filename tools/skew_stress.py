"""Skew stress with MEASUREMENT, not just result equality (VERDICT r9 #2).

The brief's scale-killer list names "full shuffle on a skewed key" as
the classic 100-TB failure. This tool builds a deliberately skewed
events variant — ONE hot user_id owning >=30% of all rows — and
measures the plain join under a FORCED sort-merge join (broadcast
disabled, simulating a dimension side too big to broadcast on a real
cluster):

  plain-noAQE : adaptive off — the raw straggler (one task sorts/joins
                the whole hot key)
  plain-AQE   : session default — AQE skew-join splits the oversized
                partition (OptimizeSkewedJoin CAN split a single hot
                key for SMJ: it divides the partition by size and
                replicates the matching build-side partition)

Per scenario it records wall time and the max/median TASK duration of
the heaviest stage (Spark UI REST API — the straggler is a task-level
fact that wall time alone hides at 32-way parallelism). It also runs
the registry's window-shaped queries (evt_sessionize, evt_asof_purchase
— window partitionBy user_id, the partition AQE can never split) on the
hot fixture to measure how bad a 30%-hot key makes a single-task
window, with the honest note that sessionization of one user's history
is inherently sequential by SEMANTICS.

Usage: python tools/skew_stress.py [events_parquet] [hot_frac]
Writes the fixture under /root/repo/.scale/skew/ (events.parquet with
the hot key, users.parquet dim) and prints a markdown table + one JSON
line for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ncagg_spark.session import get_spark
from ncagg_spark.sources.tables import load_table

SKEW_DIR = "/root/repo/.scale/skew"
HOT_KEY = 777_000_777


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=10) as r:
        return json.loads(r.read())


def heaviest_stage_tasks(spark, since_ms: float) -> dict:
    """Task stats of the SHUFFLE-READ stage with the largest single-task
    record count among stages submitted after ``since_ms``. Key skew
    lives on the reduce side of an exchange — the scan stage is 32-way
    even and can out-total the skewed join stage, so 'stage with max
    total time' (and even 'stage with max single task') mis-attributes.
    Reports both record-level skew (deterministic — hash layout) and the
    task-duration skew it causes."""
    app = _rest(spark, "/applications")[0]["id"]
    stages = _rest(spark, f"/applications/{app}/stages?status=complete")
    best, best_recs = None, -1.0
    for st in stages:
        sub = st.get("firstTaskLaunchedTime") or st.get("submissionTime")
        if not sub:
            continue
        # REST timestamps are GMT — timegm, not mktime (which would
        # apply the LOCAL offset and mis-window stages off-UTC)
        import calendar

        t = time.strptime(sub.split(".")[0], "%Y-%m-%dT%H:%M:%S")
        if calendar.timegm(t) * 1000 < since_ms - 1000:
            continue
        if st.get("shuffleReadRecords", 0) < 10_000:
            continue  # skip tiny AQE/result exchanges
        tasks = _rest(
            spark,
            f"/applications/{app}/stages/{st['stageId']}/"
            f"{st['attemptId']}/taskList?length=10000",
        )
        recs = sorted(
            ((t.get("taskMetrics") or {}).get("shuffleReadMetrics") or {})
            .get("recordsRead", 0)
            for t in tasks
        )
        if not recs or recs[-1] <= best_recs:
            continue
        best_recs = recs[-1]
        durs = sorted(t.get("duration", 0) for t in tasks)
        best = {
            "stage": st["stageId"],
            "n_tasks": len(durs),
            "max_ms": durs[-1],
            "median_ms": durs[len(durs) // 2],
            "ratio": round(durs[-1] / max(durs[len(durs) // 2], 1), 2),
            "max_recs": recs[-1],
            "median_recs": recs[len(recs) // 2],
            "rec_ratio": round(recs[-1] / max(recs[len(recs) // 2], 1), 2),
        }
    return best or {}


def build_fixture(spark, src: str, hot_frac: float) -> None:
    os.makedirs(SKEW_DIR, exist_ok=True)
    out = f"{SKEW_DIR}/events.parquet"
    if os.path.exists(out):
        print(f"fixture exists: {out}")
        return
    ev = load_table(spark, src)
    mod = max(int(round(1.0 / hot_frac)), 1)
    hot = ev.withColumn(
        "user_id",
        F.when(
            F.col("event_id") % mod == 0, F.lit(HOT_KEY)
        ).otherwise(F.col("user_id")),
    )
    hot.write.mode("overwrite").parquet(out)
    # dim side: one profile row per user (including the hot key)
    users = (
        load_table(spark, out)
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 7).cast("int"))
        .withColumn("weight", (F.col("user_id") % 1000) / 1000.0)
    )
    users.write.mode("overwrite").parquet(f"{SKEW_DIR}/users.parquet")
    n = load_table(spark, out).count()
    h = (
        load_table(spark, out)
        .filter(F.col("user_id") == HOT_KEY)
        .count()
    )
    print(f"fixture: {n} events, hot key owns {h} ({h / n:.1%})")


def run_join(spark, name: str, conf: dict) -> dict:
    ev = load_table(spark, f"{SKEW_DIR}/events.parquet")
    users = load_table(spark, f"{SKEW_DIR}/users.parquet")
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        t0 = time.time() * 1000
        joined = ev.join(users, on="user_id")
        # aggregate to force full evaluation of every joined row
        out = joined.groupBy("segment").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value") * F.col("weight")).alias("wv"),
        )
        rows = out.collect()
        wall = time.time() * 1000 - t0
        time.sleep(1.0)  # let the UI store settle before reading stats
        stats = heaviest_stage_tasks(spark, t0)
        rec = {
            "scenario": name,
            "wall_s": round(wall / 1000, 2),
            **stats,
            "check": round(sum(r["n"] for r in rows)),
        }
        print(f"  {name:12s} wall={rec['wall_s']}s tasks={stats}")
        return rec
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # conf.get(k, None) returns None for keys never
                # explicitly set — restoring only non-None values would
                # leak this scenario's overrides (e.g. the tuned skew
                # thresholds) into every later measurement
                spark.conf.unset(k)


def run_window_query(spark, name: str, fn) -> dict:
    t0 = time.time() * 1000
    df = fn(spark, SKEW_DIR)
    # noop sink, not count(): count of an as-of LEFT join lets Catalyst
    # prune the window entirely — the noop write evaluates every row
    df.write.format("noop").mode("overwrite").save()
    n = df.count()
    wall = time.time() * 1000 - t0
    time.sleep(1.0)  # let the UI store settle before reading stats
    stats = heaviest_stage_tasks(spark, t0)
    rec = {
        "scenario": name,
        "wall_s": round(wall / 1000, 2),
        **stats,
        "rows": n,
    }
    print(f"  {name:20s} wall={rec['wall_s']}s tasks={stats}")
    return rec


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = args[0] if args else "/root/repo/.scale/sf10/events.parquet"
    hot_frac = float(args[1]) if len(args) > 1 else 0.3
    spark = get_spark(
        app_name="skew-stress", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_fixture(spark, src, hot_frac)

    results = []
    force_smj = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    print("join strategies (forced SMJ — dim 'too big to broadcast'):")
    results.append(
        run_join(
            spark,
            "plain-noAQE",
            {**force_smj, "spark.sql.adaptive.enabled": "false"},
        )
    )
    # default AQE: skewedPartitionThresholdInBytes=256m is sized for
    # real clusters — the hot partition here is ~35 MB, so the split
    # does NOT fire (the row documents that honestly)
    results.append(
        run_join(
            spark,
            "plain-AQE-dflt",
            {**force_smj, "spark.sql.adaptive.enabled": "true",
             "spark.sql.adaptive.skewJoin.enabled": "true"},
        )
    )
    # thresholds scaled down by the same factor the fixture is scaled
    # down from production, so OptimizeSkewedJoin fires exactly as it
    # would on a 256 MB+ hot partition at real scale
    results.append(
        run_join(
            spark,
            "plain-AQE-tuned",
            {**force_smj, "spark.sql.adaptive.enabled": "true",
             "spark.sql.adaptive.skewJoin.enabled": "true",
             "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                 "4m",
             "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
             "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m"},
        )
    )

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    print("window-shaped registry queries on the hot fixture "
          "(partitionBy user_id — the shape AQE cannot split):")
    for qname in ("evt_sessionize", "evt_asof_purchase"):
        results.append(run_window_query(spark, qname, qs[qname]))

    # VERDICT r10 #3: remove the one-task window residual. Rows: the
    # straggler (one-phase on the HOT fixture), the fix (hot-key-routed
    # sessionize_skew, auto-detected and with caller-known hot keys),
    # and the no-skew floor (one-phase on the original UNIFORM events).
    from ncagg_spark.operators.sessionize import sessionize, sessionize_skew

    gap_us = 12 * 3600 * 1_000_000
    print("sessionize one-phase vs two-phase (33%-hot key vs uniform):")

    def run_sess(name, table, fn):
        ev = load_table(spark, table).where(F.col("ts").isNotNull())
        t0 = time.time() * 1000
        out = fn(ev)
        out.write.format("noop").mode("overwrite").save()
        wall = time.time() * 1000 - t0
        time.sleep(1.0)
        stats = heaviest_stage_tasks(spark, t0)
        rec = {
            "scenario": name,
            "wall_s": round(wall / 1000, 2),
            **stats,
        }
        print(f"  {name:24s} wall={rec['wall_s']}s tasks={stats}")
        return rec

    hot_tbl = f"{SKEW_DIR}/events.parquet"
    results.append(
        run_sess(
            "sess-1p-hot",
            hot_tbl,
            lambda ev: sessionize(
                ev, "ts", "user_id", gap_us=gap_us, tiebreak=["event_id"]
            ),
        )
    )
    results.append(
        run_sess(
            "sess-skew-auto",
            hot_tbl,
            lambda ev: sessionize_skew(
                ev, "ts", "user_id", gap_us=gap_us, tiebreak=["event_id"]
            ),
        )
    )

    def _skew_known(ev):
        lo, hi = ev.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).first()
        return sessionize_skew(
            ev, "ts", "user_id", gap_us=gap_us, tiebreak=["event_id"],
            hot_keys=[HOT_KEY], bounds=(int(lo), int(hi)),
        )

    results.append(run_sess("sess-skew-known", hot_tbl, _skew_known))
    results.append(
        run_sess(
            "sess-1p-uniform",
            src,
            lambda ev: sessionize(
                ev, "ts", "user_id", gap_us=gap_us, tiebreak=["event_id"]
            ),
        )
    )

    print()
    print(
        "| scenario | wall s | tasks | max task ms | median ms "
        "| max/median | max recs | median recs | rec ratio |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['scenario']} | {r['wall_s']} | {r.get('n_tasks', '-')} "
            f"| {r.get('max_ms', '-')} | {r.get('median_ms', '-')} "
            f"| {r.get('ratio', '-')} | {r.get('max_recs', '-')} "
            f"| {r.get('median_recs', '-')} | {r.get('rec_ratio', '-')} |"
        )
    print(json.dumps({"src": src, "hot_frac": hot_frac, "rows": results}))


if __name__ == "__main__":
    main()
