"""Physical-plan regression guards: the scale properties claimed in
SCALE.md must be visible in the plans, not just asserted in prose.

- no row-at-a-time Python (BatchEvalPython) anywhere — Python only via
  Arrow (mapInPandas) in the multimodal path;
- no cartesian/nested-loop joins except the declared bounded ones
  (``CROSS_OK``: the exact near-dup baseline, the PQ ADC join and the
  one-row broadcast aggregates);
- column pruning reaches the lineitem scan in q1 (ReadSchema subset);
- the events time predicate is pushed to the scan in the flagship.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# crossJoin against a broadcast handful of query vectors is the intended
# physical shape for the exact near-dup baseline and the PQ ADC scoring
# join only (broadcast NL against the 10-row query side — bounded by
# construction); the exact brute force scores through the grouped
# exact scorer and has no cross join.
# declared-bounded cross/NL joins:
#   emb_near_dup / emb_pq_topk — broadcast NL against the <=O(100)-row
#     query side;
#   agg_regularize_anchored — gap_fill(anchor="previous") broadcasts the
#     ONE-ROW first-real-record aggregate onto the grid (the backward
#     leading-fill anchor, r7); a 1-row broadcast side by construction.
#   doc_lm_score / doc_bm25_topk / doc_dsir_sample — the LM/BM25/DSIR
#     model constants (T, V, backoff / N, avgdl / target-vs-raw totals)
#     ride a ONE-ROW broadcast agg cross-joined onto the scoring plan
#     (pipeline/lm.py, pipeline/search.py, pipeline/dsir.py:116,156); a
#     1-row broadcast side by construction, same shape as
#     agg_regularize_anchored's anchor.
#   doc_pack_sequences / doc_pack_bpeish — drop_incomplete's max-seq
#     bound is a ONE-ROW broadcast agg cross-join (r12, ADVICE r11:
#     replaced the eager .first() so the manifest stays lazy); 1-row
#     broadcast side by construction.
CROSS_OK = {
    "emb_near_dup",
    "emb_pq_topk",
    "agg_regularize_anchored",
    "doc_lm_score",
    "doc_bm25_topk",
    "doc_dsir_sample",
    "doc_pack_sequences",
    "doc_pack_bpeish",
}


def _plan(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark):
    return {name: _plan(spark, name) for name in entry_mod.queries()}


def test_no_rowwise_python_udfs(plans):
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, f"{name} uses row-wise Python"


def test_no_unexpected_cartesian_joins(plans):
    for name, plan in plans.items():
        if name in CROSS_OK:
            continue
        assert "CartesianProduct" not in plan, f"{name} has a cartesian join"
        assert (
            "BroadcastNestedLoopJoin" not in plan
        ), f"{name} has a nested-loop join"


def test_q1_prunes_lineitem_columns(plans):
    plan = plans["rel_q1_pricing"]
    scan = plan.split("ReadSchema", 1)[1].splitlines()[0]
    # 16-column lineitem: only the 6 referenced columns may be read
    assert "l_comment" not in scan and "l_orderkey" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_flagship_pushes_time_range(plans):
    # the RANGE predicate (not just IsNotNull) must reach the scan — it is
    # applied on the raw nanos long before conversion (sources/tables.py)
    plan = plans["agg_bounds_filter"]
    pushed = plan.split("PushedFilters", 1)[1].splitlines()[0]
    assert "GreaterThanOrEqual(ts" in pushed
    assert "LessThan(ts" in pushed


# Physical operator sequence of every emb_* query at sf0.001, in the
# numbered order of ``explain("formatted")``. The ANN methods share one
# exact scorer and per-query rank tail (pipeline/topk.py): every exact
# search unions its queries and candidates, shuffles them by the
# candidate key into one FlatMapGroupsInPandas, then ranks in Spark.
EMB_PLAN_FINGERPRINTS = {
    "emb_brute_topk": (
        "Scan parquet, Filter, Generate, Project, Scan parquet, "
        "Filter, Project, Union, Project, Exchange, Sort, "
        "FlatMapGroupsInPandas, Project, Sort, WindowGroupLimit, "
        "Exchange, Sort, WindowGroupLimit, Window, Filter, Project, "
        "AdaptiveSparkPlan"
    ),
    "emb_ivf_kmeans_topk": (
        "Scan parquet, Filter, ArrowEvalPython, Generate, Filter, "
        "Project, Scan parquet, Filter, Project, Union, Project, "
        "Exchange, Sort, FlatMapGroupsInPandas, Project, Sort, "
        "WindowGroupLimit, Exchange, Sort, WindowGroupLimit, Window, "
        "Filter, Project, AdaptiveSparkPlan"
    ),
    "emb_ivf_topk": (
        "Scan parquet, Filter, ArrowEvalPython, Generate, Filter, "
        "Project, Scan parquet, Filter, ArrowEvalPython, Filter, "
        "Project, ArrowEvalPython, Project, Union, Project, Exchange, "
        "Sort, FlatMapGroupsInPandas, Project, Sort, WindowGroupLimit, "
        "Exchange, Sort, WindowGroupLimit, Window, Filter, Project, "
        "AdaptiveSparkPlan"
    ),
    "emb_ivfpq_topk": (
        "Scan parquet, Filter, Project, Scan parquet, Filter, Project, "
        "Scan parquet, Filter, ArrowEvalPython, Filter, Project, "
        "Project, Exchange, ArrowEvalPython, Project, Scan parquet, "
        "Filter, ArrowEvalPython, Generate, Filter, Project, "
        "BroadcastExchange, BroadcastHashJoin, Project, Sort, "
        "WindowGroupLimit, Exchange, Sort, WindowGroupLimit, Window, "
        "Filter, Project, BroadcastExchange, BroadcastHashJoin, "
        "Project, Union, Project, Exchange, Sort, "
        "FlatMapGroupsInPandas, Project, Sort, WindowGroupLimit, "
        "Exchange, Sort, WindowGroupLimit, Window, Filter, Project, "
        "AdaptiveSparkPlan"
    ),
    "emb_near_dup": (
        "Scan parquet, Filter, Project, BroadcastExchange, "
        "Scan parquet, Filter, Project, BroadcastNestedLoopJoin, "
        "Project, AdaptiveSparkPlan"
    ),
    "emb_pq_topk": (
        "Scan parquet, Filter, Project, Scan parquet, Filter, Project, "
        "Scan parquet, Filter, Project, Exchange, Project, "
        "Scan parquet, Filter, Project, BroadcastExchange, "
        "BroadcastNestedLoopJoin, Project, Sort, WindowGroupLimit, "
        "Exchange, Sort, WindowGroupLimit, Window, Filter, Project, "
        "BroadcastExchange, BroadcastHashJoin, Project, Union, "
        "Project, Exchange, Sort, FlatMapGroupsInPandas, Project, "
        "Sort, WindowGroupLimit, Exchange, Sort, WindowGroupLimit, "
        "Window, Filter, Project, AdaptiveSparkPlan"
    ),
    "emb_semdedup": (
        "Scan parquet, Filter, LocalTableScan, BroadcastExchange, "
        "BroadcastHashJoin, LocalTableScan, BroadcastExchange, "
        "LocalTableScan, HashAggregate, Exchange, HashAggregate, "
        "BroadcastHashJoin, Project, BroadcastExchange, "
        "BroadcastHashJoin, Project, AdaptiveSparkPlan"
    ),
    "emb_srp_topk": (
        "Scan parquet, Filter, Generate, Filter, Project, "
        "Scan parquet, Filter, Project, Union, Project, Exchange, "
        "Sort, FlatMapGroupsInPandas, Project, Sort, WindowGroupLimit, "
        "Exchange, Sort, WindowGroupLimit, Window, Filter, Project, "
        "AdaptiveSparkPlan"
    ),
}


def _operator_sequence(plan: str) -> str:
    """Operator names from the numbered detail headers of a formatted
    plan, e.g. ``(12) Project [codegen id : 3]`` -> ``Project``. The
    headers carry no expression ids; the codegen stage suffix is dropped
    too, so only the operator sequence is compared."""
    ops = [
        re.sub(r"\s*\[codegen id : \d+\]$", "", m.group(1)).strip()
        for m in re.finditer(r"^\(\d+\) (.+)$", plan, re.M)
    ]
    return ", ".join(ops)


@pytest.mark.parametrize("name", sorted(EMB_PLAN_FINGERPRINTS))
def test_emb_plan_fingerprint(plans, name):
    assert _operator_sequence(plans[name]) == EMB_PLAN_FINGERPRINTS[name]


def test_emb_plan_fingerprints_cover_every_emb_query():
    emb = {n for n in entry_mod.queries() if n.startswith("emb_")}
    assert emb == set(EMB_PLAN_FINGERPRINTS)


SF1 = "/root/repo/.scale/sf1.0"


@pytest.mark.slow
@pytest.mark.skipif(
    not __import__("os").path.exists(f"{SF1}/events.parquet"),
    reason="sf1.0 scale data not generated (tools/gen_scale.py)",
)
def test_sf1_final_plan_shapes_of_top5_expensive_queries(spark):
    """VERDICT r9 #1: the 100-TB claim rests on the shapes the planner
    picks with real stats, not the sf0.001 guesses. Pin the sf1.0 plans
    of the 5 most expensive sf10 queries. (Plans here are compiled
    against sf1.0 file sizes — the stats that drive join-strategy
    selection; the EXECUTED AQE final DAGs are recorded by
    `tools/audit_plans.py --scale` in PLANS_sf1.md via the UI REST
    endpoint, and at sf1.0 they are identical to these static shapes for
    every query — the test session has no UI, so the pin guards the
    stats-driven planning layer.)

      * doc_lsh_pairs      — exactly 3 shuffles (banded+capped LSH; a
                             4th would mean the distinct crept back);
      * rel_q5_nation_volume — 1 shuffle + all 4 dimension joins still
                             BROADCAST (at sf10 too, PLANS_sf1.md);
      * doc_minhash_sig    — 1 shuffle (explode-heavy but linear);
      * emb_brute_topk     — 2 shuffles, no broadcast (the scorer's
                             grouping, then the rank);
      * emb_pq_topk        — 4 shuffles / 2 broadcasts (the encode
                             spread and the ADC rank, then the rerank's
                             grouping and rank).

    Full-registry audit: PLANS_sf1.md (`tools/audit_plans.py --scale`) —
    sf1.0 final == sf0.001 static for all 69 queries; at sf10 AQE flips
    rel_q3_topk / rel_exists_subquery to SMJ because those sides are
    genuinely past the 64m broadcast threshold (the correct choice)."""
    from tools.audit_plans import plan_facts

    qs = entry_mod.queries()
    expect = {
        "doc_lsh_pairs": {"shuffles": 3, "cartesian": False},
        "rel_q5_nation_volume": {"shuffles": 1, "bcast": 4},
        "doc_minhash_sig": {"shuffles": 1},
        "emb_brute_topk": {"shuffles": 2, "bcast": 0},
        "emb_pq_topk": {"shuffles": 4, "bcast": 2},
    }
    for name, exp in expect.items():
        facts = plan_facts(qs[name](spark, SF1))
        assert facts["rowpy"] == 0, f"{name}: row-wise Python at sf1.0"
        for k, v in exp.items():
            assert facts[k] == v, (name, k, facts[k], "expected", v)
