"""Bounded two-phase top-k (pipeline/topk.py, VERDICT r11 #3): exact
equality with the single global window it replaces, and plan pins that
the corpus-sized ranking never runs in one task. Also the ANN tie rule:
the Spark per-query rank and the numpy batch truncation pick the same
neighbours in the same order."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ncagg_spark.pipeline.topk import (
    _topk_ties_by_id,
    bounded_topk,
    partial_topk,
    rank_per_query,
)

SF_DIR = "/root/testdata/sf0.001"


def _scored(spark, n=1000):
    # score = id % 37 -> heavy ties, the tie-break path is exercised
    return spark.range(n).select(
        F.concat(F.lit("d"), F.format_string("%05d", "id")).alias(
            "doc_id"
        ),
        (F.col("id") % 37).alias("score"),
    )


def test_equals_single_global_window(spark):
    df = _scored(spark)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    got = sorted(
        map(
            tuple,
            bounded_topk(df, order, 40, id_col="doc_id").collect(),
        )
    )
    w = Window.orderBy(*order)
    want = sorted(
        map(
            tuple,
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 40)
            .collect(),
        )
    )
    assert got == want and len(got) == 40


def test_k_larger_than_input(spark):
    df = _scored(spark, n=7)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    out = bounded_topk(df, order, 100, id_col="doc_id").collect()
    assert len(out) == 7
    assert sorted(r["rank"] for r in out) == list(range(1, 8))


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_bounded_windows(plan: str):
    """The scale pin (pack_sequences discipline): the full scored set
    is ranked inside a __tkb-partitioned window — with Spark's
    WindowGroupLimit pushdown pruning to k per task BEFORE the shuffle
    — and the only unpartitioned window ranks the <= k x n_buckets
    survivors behind the __tklr filter."""
    assert "WindowGroupLimit [__tkb" in plan, "map-side top-k pruning missing"
    specs = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln
    ]
    global_specs = [ln for ln in specs if "__tkb" not in ln]
    bucketed_specs = [ln for ln in specs if "__tkb" in ln]
    assert bucketed_specs, "corpus-sized window is not bucket-partitioned"
    # every unpartitioned window must be the survivors ranking
    assert global_specs and all("rank" in ln for ln in global_specs)
    # survivors are filtered to k per bucket before the global sort
    assert "__tklr" in plan


def test_bm25_topk_plan_is_bounded(spark):
    # r16: bm25_topk executes eagerly (single-tokenize-pass persist +
    # checkpointed <= k-row result), so the returned frame is a local
    # scan — the real pipeline plan is captured via plan_probe, the
    # audit hook for eager-collapsing operators
    from __spark_entry__ import q_doc_bm25_topk
    from ncagg_spark import plan_probe

    with plan_probe.capture() as jobs:
        q_doc_bm25_topk(spark, SF_DIR)
    plans = {label: df for label, df in jobs}
    assert "bm25-topk" in plans
    plan = _plan(plans["bm25-topk"])
    _assert_bounded_windows(plan)


def test_dsir_sample_plan_is_bounded(spark):
    from __spark_entry__ import q_doc_dsir_sample

    plan = _plan(q_doc_dsir_sample(spark, SF_DIR))
    _assert_bounded_windows(plan)


def test_topk_ties_by_id_fast_path_matches_spec():
    """Round-11 ADVICE: the threshold-subset fast path (O(n) partition
    + tiny tie-break sorts) must equal the naive two-full-stable-sort
    spec on every shape — real boundary ties, inf-masked rows, string
    ids, take edge cases, and the optional hoisted pre-sort."""
    def spec(key, nids, take):
        pre = np.argsort(nids, kind="stable")
        return pre[np.argsort(key[pre], kind="stable")][:take]

    rng = np.random.default_rng(42)
    for trial in range(20):
        n = int(rng.integers(1, 500))
        # coarse quantization -> plenty of REAL key ties
        key = np.floor(rng.random(n) * 10)
        key[rng.integers(0, n, size=n // 4)] = np.inf  # masked rows
        nids = rng.permutation(n).astype("int64")
        for take in (0, 1, 3, n // 2, n, n + 5):
            want = spec(key, nids, min(take, n))
            got = _topk_ties_by_id(key, nids, take)
            assert np.array_equal(got, want), (trial, take)
            pre = np.argsort(nids, kind="stable")
            got_pre = _topk_ties_by_id(key, nids, take, pre=pre)
            assert np.array_equal(got_pre, want), (trial, take, "pre")
    # string neighbor ids (documents table) sort lexically
    key = np.array([1.0, 1.0, 0.5, 1.0, 2.0])
    nids = np.array(["d9", "d1", "d5", "d10", "d0"])
    got = _topk_ties_by_id(key, nids, 3)
    assert nids[got].tolist() == ["d5", "d1", "d10"]


@pytest.mark.parametrize("ascending", [False, True])
def test_one_tie_rule_spark_rank_and_numpy_truncation(spark, ascending):
    """Exact score ties straddle the k boundary for every query; the
    Spark ``rank_per_query`` tail and the numpy ``_topk_ties_by_id`` /
    ``partial_topk`` batch truncation must keep the same neighbours in
    the same order (score, then neighbor id ascending)."""
    k = 7
    rng = np.random.default_rng(5)
    nids = rng.permutation(60) + 100  # shared candidate set, row order mixed
    scores = np.floor(rng.random((60, 3)) * 4) / 4  # 4 values -> heavy ties
    rows = [
        (q, int(n), float(scores[i, q]))
        for q in range(3)
        for i, n in enumerate(nids)
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, score double"
    ).repartition(5)
    ranked = rank_per_query(df, "score", k, ascending=ascending).collect()
    key = scores if ascending else -scores
    qi, ni, _ = partial_topk(key.copy(), nids, np.arange(3), k)
    for q in range(3):
        srt = np.sort(key[:, q])
        assert srt[k - 1] == srt[k], "fixture must tie across the boundary"
        spark_order = [
            r["neighbor_id"]
            for r in sorted(
                (r for r in ranked if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
        ]
        numpy_order = nids[_topk_ties_by_id(key[:, q], nids, k)].tolist()
        assert spark_order == numpy_order
        assert ni[qi == q].tolist() == numpy_order
