"""Sessionization and connected-components duplicate clustering."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ncagg_spark.operators.sessionize import (
    session_summary,
    sessionize,
    sessionize_skew,
)
from ncagg_spark.pipeline.dedup import connected_components

UTC = dt.timezone.utc


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, 0, tzinfo=UTC)


def _events(spark):
    rows = [
        # user 1: events at t=0,1,2 then a 20-min gap, then 25,26
        (1, _ts(0), 10),
        (2, _ts(1), 10),
        (3, _ts(2), 10),
        (4, _ts(25), 10),
        (5, _ts(26), 10),
        # user 2: single event
        (6, _ts(5), 20),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )


def test_sessionize_splits_on_gap(spark):
    out = sessionize(
        _events(spark), "ts", "user_id", gap_us=10 * 60 * 1_000_000,
        tiebreak=["event_id"],
    )
    got = {
        r["event_id"]: r["session_idx"]
        for r in out.collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1}


def test_session_summary_counts_and_bounds(spark):
    out = session_summary(
        _events(spark), "ts", "user_id", gap_us=10 * 60 * 1_000_000,
        tiebreak=["event_id"],
    ).collect()
    by_key = {(r["user_id"], r["session_idx"]): r for r in out}
    assert len(by_key) == 3
    s1 = by_key[(10, 1)]
    assert s1["n_events"] == 3
    assert s1["session_start"] == _ts(0).replace(tzinfo=None)
    assert s1["session_end"] == _ts(2).replace(tzinfo=None)
    assert by_key[(10, 2)]["n_events"] == 2
    assert by_key[(20, 1)]["n_events"] == 1


def test_sessionize_ties_deterministic(spark):
    # two events at the same timestamp: tiebreak column orders them,
    # and both land in the same session regardless of shuffle layout
    rows = [(2, _ts(0), 1), (1, _ts(0), 1)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = sessionize(df, "ts", "user_id", gap_us=60_000_000, tiebreak=["event_id"])
    assert {r["session_idx"] for r in out.collect()} == {1}


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (transitive closure -> one cluster), pair 10-11,
    # pair 20-21: three clusters labeled by their min member
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(pairs, num_partitions=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_near_dedup_keeps_one_per_cluster(spark):
    from ncagg_spark.pipeline.dedup import near_dedup

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 10, 11, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["n_members"]
        for r in near_dedup(docs, pairs, num_partitions=2).collect()
    }
    # cluster {1,2,3,4} -> keep 1 (size 4); {10,11} -> keep 10 (size 2);
    # 99 untouched by the graph -> kept, size 1
    assert got == {1: 4, 10: 2, 99: 1}


def test_connected_components_adaptive_width(spark, monkeypatch):
    # num_partitions=None picks the path from the measured edge count:
    # a tiny integral-id graph fits the driver gate (vectorized numpy
    # solve); with the gate disabled it takes the shuffle-free
    # coalesce(1) loop branch; and with the per-partition target forced
    # down to 2 edge rows the same graph exercises the multi-partition
    # repartition branch — all three must produce identical clusterings
    import ncagg_spark.pipeline.dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    for setup in (
        lambda: None,  # driver-gate path (default)
        lambda: monkeypatch.setattr(dd, "_CC_DRIVER_MAX_EDGES", -1),
        lambda: monkeypatch.setattr(dd, "_CC_EDGES_PER_PARTITION", 2),
    ):
        setup()
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                pairs, num_partitions=None
            ).collect()
        }
        assert got == expect


def test_connected_components_long_chain_converges(spark):
    # a 24-node chain exercises the pointer-jumping path: min label must
    # traverse the full diameter well within max_iter rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 124)], "id_a long, id_b long"
    )
    out = connected_components(pairs, max_iter=10, num_partitions=2)
    labels = {r["cluster_id"] for r in out.collect()}
    assert labels == {100}
    assert out.count() == 25


def test_connected_components_unconverged_loop_raises(spark):
    # pointer jumping gives no diameter-based round bound: this graph
    # is three 1,000-node cycles (plus self-paired node 500), and in
    # round 25 the labels still split the cycles into 45 clusters
    pairs = spark.createDataFrame(
        [(i, (7 * i + 1) % 3001) for i in range(3000)],
        "id_a long, id_b long",
    )
    with pytest.raises(
        RuntimeError, match=r"did not converge in 25 rounds over \d+ edge"
    ):
        connected_components(pairs, num_partitions=2)


def test_cc_driver_gate_stages_take_coalesced_width(spark):
    # the driver-gate path persists the shuffled edge list; its cached
    # plan must coalesce like an executed one, so no stage runs at the
    # session's 512-wide initialPartitionNum ceiling
    from tools.check_oracle import job_group_stats

    sc = spark.sparkContext
    # two input partitions: the symmetric edge union doubles the scan
    # width (and one would make the edge distinct shuffle-free), while
    # only the shuffle-read side is sized by configuration
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    ).coalesce(2)
    group = "test_cc_driver_gate_width"
    sc.setJobGroup(group, "cc driver gate width")
    try:
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                pairs, num_partitions=None
            ).collect()
        }
    finally:
        sc._jsc.clearJobGroup()
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    jobs, _tasks, widest = job_group_stats(sc, group)
    assert jobs > 0
    assert widest <= sc.defaultParallelism, widest


def _cc_rows(spark, pairs, gate, monkeypatch):
    import ncagg_spark.pipeline.dedup as dd

    monkeypatch.setattr(dd, "_CC_DRIVER_MAX_EDGES", gate)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = connected_components(df, num_partitions=None, unique_pairs=True)
    return sorted((r.node, r.cluster_id) for r in out.collect())


def test_cc_seam_driver_vs_loop_identical(spark, monkeypatch):
    # the same pair graph solved just UNDER the driver gate (vectorized
    # numpy path) and just OVER it (distributed loop) clusters
    # identically: the gate is a pure performance switch. A chain
    # (diameter > 1 round), a triangle-ish clique and singles —
    # 12 pairs -> 24 symmetric edge rows
    pairs = (
        [(i, i + 1) for i in range(6)]  # chain 0..6
        + [(10, 11), (11, 12), (10, 12)]  # clique
        + [(20, 21), (30, 31), (40, 41)]
    )
    n_edges = 2 * len(pairs)
    under = _cc_rows(spark, pairs, n_edges, monkeypatch)  # fits -> driver
    over = _cc_rows(spark, pairs, n_edges - 1, monkeypatch)  # too big -> loop
    assert under == over
    # and the clustering is the min-label spec
    assert (6, 0) in under and (12, 10) in under and (41, 40) in under


def test_cc_null_ids_fall_back_to_loop(spark, monkeypatch):
    # the driver path declines a graph with NULL ids and the gate falls
    # back to the distributed loop instead of raising from to_numpy
    import ncagg_spark.pipeline.dedup as dd

    monkeypatch.setattr(dd, "_CC_DRIVER_MAX_EDGES", 1_000_000)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 5)], "id_a long, id_b long"
    )
    # must not raise (driver path declines, loop runs)
    out = connected_components(df, num_partitions=None, unique_pairs=True)
    got = {(r.node, r.cluster_id) for r in out.collect() if r.node is not None}
    assert {(1, 1), (2, 1), (3, 1)} <= got


def test_cc_agrees_with_union_find_oracle(spark):
    """Third-implementation agreement (round 6): the Spark pointer-
    jumping CC and a driver-side union-find must produce identical
    min-label clusterings of the real simhash pair graph — the check
    that scales past where the DuckDB recursive oracle is tractable
    (tools/verify_cc.py runs the same comparison at sf1.0)."""
    import numpy as np

    import __spark_entry__ as entry
    from tools.verify_cc import union_find_min_labels

    sf = "/root/testdata/sf0.01"
    pdf = (
        entry.queries()["doc_simhash_near_dup"](spark, sf)
        .select("id_a", "id_b")
        .toPandas()
    )
    pairs = pdf.to_numpy(dtype=np.int64).reshape(-1, 2)
    expect = union_find_min_labels(pairs)
    got = {
        int(r["doc_id"]): int(r["cluster_id"])
        for r in entry.queries()["doc_dup_clusters"](spark, sf).collect()
    }
    assert got == expect


def _cmp_two_phase(
    spark, rows, gap_us, n_chunks, tiebreak=None, bounds=None
):
    """``sessionize_skew`` with EVERY key routed hot (so every key takes
    the chunk-local + correction-join path) == plain ``sessionize``."""
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    want = sorted(
        map(
            tuple,
            sessionize(
                df, "ts", "user_id", gap_us=gap_us, tiebreak=tiebreak
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            sessionize_skew(
                df,
                "ts",
                "user_id",
                gap_us=gap_us,
                n_chunks=n_chunks,
                tiebreak=tiebreak,
                hot_keys=sorted({r[0] for r in rows}),
                bounds=bounds,
            )
            .select(*[f.name for f in df.schema.fields], "session_idx")
            .collect(),
        )
    )
    assert got == want


def test_two_phase_equals_plain_randomized(spark):
    """VERDICT r10 #3: chunk-local sessionization + boundary merge (the
    hot-key path of ``sessionize_skew``) is EQUAL to the single-window
    operator on randomized event streams — sessions spanning chunk
    boundaries, multi-chunk sessions, single-event keys, and every
    chunk-count including degenerate n_chunks=1."""
    import random

    rng = random.Random(31)
    rows = []
    eid = 0
    for user in range(12):
        t = rng.randint(0, 3_000)
        for _ in range(rng.randint(1, 120)):
            # mixture of sub-gap steps and occasional big jumps
            t += rng.choice([1, 2, 5, 40, 200, 900])
            rows.append((user, eid, _ts(0) + dt.timedelta(seconds=t)))
            eid += 1
    for n_chunks in (1, 3, 7, 32):
        # gap 60s: the 200/900-second jumps split sessions
        _cmp_two_phase(spark, rows, 60_000_000, n_chunks)


def test_two_phase_boundary_continuation(spark):
    """Adversarial: a session DESIGNED to straddle every chunk boundary
    (continuous 1s cadence across the whole range) must come out as ONE
    session, and a key whose events alternate huge gaps must split at
    every event — under any chunking."""
    rows = [
        (1, i, _ts(0) + dt.timedelta(seconds=i)) for i in range(400)
    ] + [
        (2, 1000 + i, _ts(0) + dt.timedelta(seconds=i * 7200))
        for i in range(6)
    ]
    for n_chunks in (2, 5, 16):
        _cmp_two_phase(spark, rows, 60_000_000, n_chunks)
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    out = sessionize_skew(
        df, "ts", "user_id", gap_us=60_000_000, n_chunks=8,
        hot_keys=[1, 2],
    )
    per_user = {
        r["user_id"]: r["mx"]
        for r in out.groupBy("user_id")
        .agg(F.max("session_idx").alias("mx"))
        .collect()
    }
    assert per_user == {1: 1, 2: 6}


def test_two_phase_ties_and_explicit_bounds(spark):
    """Tied timestamps resolve via the tiebreak column identically in
    both forms; passing explicit bounds skips the min/max pre-pass and
    still matches."""
    from ncagg_spark.functions.time import epoch_us

    rows = [
        (1, 3, _ts(1)),
        (1, 1, _ts(1)),
        (1, 2, _ts(1)),
        (1, 4, _ts(30)),
        (2, 5, _ts(2)),
    ]
    _cmp_two_phase(spark, rows, 60_000_000, 4, tiebreak=["event_id"])
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    lo, hi = df.agg(
        F.min(epoch_us("ts")), F.max(epoch_us("ts"))
    ).first()
    _cmp_two_phase(
        spark, rows, 60_000_000, 4, tiebreak=["event_id"],
        bounds=(int(lo), int(hi)),
    )


def test_two_phase_spreads_hot_key_over_tasks(spark):
    """The point of the hot-key path: the window partitions by (key,
    chunk), so one hot key's rows land in MANY window partitions instead
    of one. Pinned structurally: the optimized plan's first window is
    over (key, chunk), and the one session is resolved across chunks."""
    rows = [
        (7, i, _ts(0) + dt.timedelta(seconds=i * 3)) for i in range(3000)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    out = sessionize_skew(
        df, "ts", "user_id", gap_us=60_000_000, n_chunks=16,
        hot_keys=[7],
    )
    # one continuous session, resolved across all 16 chunks
    assert out.agg(F.max("session_idx")).first()[0] == 1
    assert out.count() == 3000
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__chunk" in plan  # chunk column drives the first window


def test_sessionize_skew_equals_plain(spark):
    """Hot-key-routed sessionize_skew == plain sessionize on streams
    with one dominant key, under auto-detection, caller-known hot keys,
    and the no-hot-keys fast path."""
    import random

    rng = random.Random(77)
    rows = []
    eid = 0
    # hot key 1: 2000 events, continuous-ish; cold keys: sparse
    t = 0
    for _ in range(2000):
        t += rng.choice([1, 3, 30, 500])
        rows.append((1, eid, _ts(0) + dt.timedelta(seconds=t)))
        eid += 1
    for user in range(2, 30):
        t = rng.randint(0, 5000)
        for _ in range(rng.randint(1, 12)):
            t += rng.choice([2, 50, 2000])
            rows.append((user, eid, _ts(0) + dt.timedelta(seconds=t)))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    want = sorted(
        map(
            tuple,
            sessionize(
                df, "ts", "user_id", gap_us=60_000_000,
                tiebreak=["event_id"],
            ).collect(),
        )
    )
    cols = ["user_id", "event_id", "ts", "session_idx"]
    for kwargs in (
        {"hot_min_rows": 500},  # auto-detect catches key 1 only
        {"hot_keys": [1]},  # caller-known
        {"hot_keys": [1], "n_chunks": 3},
        {"hot_min_rows": 10**9},  # nothing hot -> plain path
        {"hot_keys": []},  # explicit empty -> plain path
    ):
        got = sorted(
            map(
                tuple,
                sessionize_skew(
                    df, "ts", "user_id", gap_us=60_000_000,
                    tiebreak=["event_id"], **kwargs,
                ).select(*cols).collect(),
            )
        )
        assert got == want, kwargs


def test_sessionize_skew_guards_and_routing(spark):
    """max_hot_keys guard raises; non-hot keys keep chunk 0 (their
    window partition is the whole key — identical to plain)."""
    import pytest as _pytest

    rows = [
        (u, u * 100 + i, _ts(0) + dt.timedelta(seconds=i * 9000))
        for u in range(8)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    with _pytest.raises(ValueError, match="hot_min_rows"):
        sessionize_skew(
            df, "ts", "user_id", gap_us=60_000_000,
            hot_min_rows=1, max_hot_keys=3,
        )
    # every event 2.5h apart with a 1h gap -> each its own session,
    # resolved identically whether the key is routed hot or cold
    out = sessionize_skew(
        df, "ts", "user_id", gap_us=3_600_000_000, hot_keys=[2, 5],
    )
    per = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in out.collect()
    }
    for u in range(8):
        for i in range(5):
            assert per[(u, u * 100 + i)] == i + 1
