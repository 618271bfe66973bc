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
    # the single-scan plan: documents are read and tokenized once into a
    # cache, which every later branch reads back
    final = plan.split("== Initial Plan ==")[0]
    assert _documents_scans(final) == 1, final
    assert final.count("InMemoryTableScan") >= 2, final


def _documents_scans(plan: str) -> int:
    """Parquet scans of ``documents`` in a physical plan string: every
    scan outside a cached relation, plus one per distinct cached
    relation that scans it (a cache is printed under each of its
    ``InMemoryRelation`` reads, but its scan runs once)."""
    import re

    def col(line: str) -> int:
        return len(line) - len(re.sub(r"^[\s:|+-]*", "", line))

    def is_scan(line: str) -> bool:
        return "FileScan parquet" in line and "documents" in line

    lines = plan.splitlines()
    outside, cached = 0, set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            c, j = col(line), i + 1
            while j < len(lines) and col(lines[j]) > c:
                j += 1
            sub = [ln[col(ln):] for ln in lines[i + 1 : j]]
            if any(is_scan(ln) for ln in sub):
                cached.add("\n".join(sub))
            i = j
            continue
        outside += is_scan(line)
        i += 1
    return outside + len(cached)


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


# ---------------------------------------------------------------------------
# The one exact scorer (exact_cosine_topk): numpy blocks per candidate
# group in the SQL fold's summation order must return the rows of the
# per-pair Catalyst fold it replaced, cosines bit-equal.
# ---------------------------------------------------------------------------


def _fold_reference(q, c, key, k):
    """The replaced per-pair path, kept as the spec: equi-join on the
    candidate key, drop self-matches, score every pair with the SQL
    fold (``cosine``), rank in Spark."""
    from ncagg_spark.functions.vectors import l2_norm, norm_guard
    from ncagg_spark.pipeline.topk import cosine, cosine_topk

    pairs = q.withColumn("q_norm", norm_guard(l2_norm("q_vec"))).join(
        c.withColumn("c_norm", norm_guard(l2_norm("c_vec"))), on=key
    )
    return cosine_topk(
        pairs.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
            "cosine", cosine("q_vec", "c_vec", "q_norm", "c_norm")
        ),
        k,
    )


def _with_cosine(target: float) -> list[float]:
    """A 2-vector whose fold cosine with (1, 0) is exactly ``target``:
    (a, b) near (target, sqrt(1 - target^2)), searched ulp by ulp."""
    import math

    for i in range(-16, 17):
        a = target + i * math.ulp(target)
        b0 = math.sqrt(1.0 - a * a)
        for j in range(-16, 17):
            b = b0 + j * math.ulp(b0)
            if a / (1.0 * math.sqrt(0.0 + a * a + b * b)) == target:
                return [a, b]
    raise AssertionError(f"no 2-vector with cosine {target!r}")


def _scorer_cases(as_str: bool):
    """(queries, candidates) rows of every case the scorer must keep:
    rounding boundaries, ties across k, self-matches, a short group, an
    empty group, NULL vectors and elements, a length mismatch."""
    ident = (lambda i: f"d{i:04d}") if as_str else (lambda i: i)
    # cell 0: raw cosines one ulp either side of the 6-place boundary
    # 0.5000005 (the lower one rounds down, the upper one up), with the
    # ids running against the scores so the tie rule is exercised
    mid = 0.5000005
    near = [np.nextafter(mid, 0.0), mid, np.nextafter(mid, 1.0)]
    near += [np.nextafter(near[0], 0.0), np.nextafter(near[-1], 1.0)]
    cands = [
        (ident(100 - i), _with_cosine(float(a)), 0)
        for i, a in enumerate(near)
    ]
    cands += [(ident(50 + i), _with_cosine(0.4999995 + i * 1e-7), 0)
              for i in range(4)]
    # cell 1: six copies of one vector tied across k, a self-match, a
    # NULL vector, a NULL element and a length mismatch
    cands += [(ident(200 + i), [0.3, -0.7], 1) for i in range(6)]
    cands += [(ident(1), [0.6, 0.8], 1), (ident(300), None, 1),
              (ident(301), [0.5, None], 1), (ident(302), [0.1, 0.2, 0.3], 1)]
    # cell 2: fewer candidates than k; cell 4: no queries probe it
    cands += [(ident(400), [1.0, 1.0], 2), (ident(401), [2.0, -1.0], 2),
              (ident(500), [1.0, 0.0], 4)]
    queries = [
        (ident(1), [1.0, 0.0], 0), (ident(1), [1.0, 0.0], 1),
        (ident(2), [0.25, -0.5], 1), (ident(3), [0.2, None], 1),
        (ident(4), None, 1), (ident(5), [1.0, 2.0, 3.0], 1),
        (ident(6), [0.0, 1.0], 2),
        # cell 3 holds no candidates at all
        (ident(7), [1.0, 1.0], 3),
    ]
    return queries, cands


@pytest.mark.parametrize("as_str", [False, True], ids=["long", "string"])
@pytest.mark.parametrize("k", [1, 3, 8])
def test_exact_scorer_matches_per_pair_fold(spark, as_str, k):
    from ncagg_spark.pipeline.topk import exact_cosine_topk

    t = "string" if as_str else "long"
    queries, cands = _scorer_cases(as_str)
    q = spark.createDataFrame(
        queries, f"query_id {t}, q_vec array<double>, cell int"
    )
    c = spark.createDataFrame(
        cands, f"neighbor_id {t}, c_vec array<double>, cell int"
    )
    got = sorted(exact_cosine_topk(q, c, "cell", k).collect(), key=repr)
    want = sorted(_fold_reference(q, c, "cell", k).collect(), key=repr)
    assert got == want
    # the cases are live: boundary roundings on both sides, a NULL
    # cosine that still takes a rank, and no self-match
    cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in got}
    one = (lambda i: f"d{i:04d}") if as_str else (lambda i: i)
    if k == 8:
        q1 = {v for (qid, _), v in cos.items() if qid == one(1)}
        assert {0.5, 0.500001} <= q1
        assert any(v is None for v in cos.values())
        assert cos[(one(6), one(400))] is not None  # short group, all kept
    assert (one(1), one(1)) not in cos
    assert all(r["query_id"] != one(7) for r in got)


def test_exact_scorer_matches_fold_on_random_groups(spark):
    """Random 8-d vectors with replicas (exact ties) over 3 groups,
    scored through both paths at several k."""
    from ncagg_spark.pipeline.topk import exact_cosine_topk

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 8)).astype("float32")
    vecs = np.vstack([base, base[:10]])  # 10 exact replicas
    cands = [
        (i, [float(x) for x in v], int(i % 3)) for i, v in enumerate(vecs)
    ]
    queries = [(i, cands[i][1], cands[i][2]) for i in range(0, 70, 7)]
    q = spark.createDataFrame(
        queries, "query_id long, q_vec array<float>, cell int"
    )
    c = spark.createDataFrame(
        cands, "neighbor_id long, c_vec array<float>, cell int"
    )
    for k in (1, 4, 30):
        got = sorted(map(tuple, exact_cosine_topk(q, c, "cell", k).collect()))
        want = sorted(map(tuple, _fold_reference(q, c, "cell", k).collect()))
        assert got == want, k


def test_fold_dots_bit_equal_to_spark_fold(spark):
    """The raw (unrounded) cosine of the numpy fold equals Spark's
    ``dot(q, c) / (q_norm * c_norm)`` bit for bit on 64-d float vectors,
    where any reassociation of the sum (BLAS) shows in the last ulps."""
    from ncagg_spark.functions.vectors import dot, l2_norm, norm_guard
    from ncagg_spark.pipeline.topk import _fold_dots, _fold_norms

    rng = np.random.default_rng(17)
    Q = rng.normal(size=(6, 64)).astype("float32")
    C = rng.normal(size=(40, 64)).astype("float32")
    q = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(Q)], "qi int, q array<float>"
    )
    c = spark.createDataFrame(
        [(j, v.tolist()) for j, v in enumerate(C)], "cj int, c array<float>"
    )
    raw = (
        q.crossJoin(c)
        .select(
            "qi", "cj",
            (
                dot("q", "c")
                / (norm_guard(l2_norm("q")) * norm_guard(l2_norm("c")))
            ).alias("s"),
        )
        .collect()
    )
    want = np.empty((len(Q), len(C)))
    for r in raw:
        want[r["qi"], r["cj"]] = r["s"]
    Q64, C64 = Q.astype("float64"), C.astype("float64")
    got = _fold_dots(Q64, C64) / (
        _fold_norms(Q64)[:, None] * _fold_norms(C64)[None, :]
    )
    assert np.array_equal(got, want)
    # the order matters at this width: a pairwise (reassociated) sum
    # differs in the last ulps
    pairwise = np.einsum("ij,kj->ik", Q64, C64)
    assert not np.array_equal(pairwise, _fold_dots(Q64, C64))


def test_score_group_blocks_do_not_change_the_rows(monkeypatch):
    """The left side is scored in bounded row blocks; a one-row block
    must keep exactly the rows of one dense block."""
    import pandas as pd

    from ncagg_spark.pipeline import topk

    rng = np.random.default_rng(3)
    cvecs = np.vstack([rng.normal(size=(20, 5))] * 2)
    pdf = pd.DataFrame(
        {
            "__q": [True] * 7 + [False] * 40,
            "__id": np.concatenate([np.arange(7), np.arange(40)]),
            "__vec": list(rng.normal(size=(7, 5))) + list(cvecs),
        }
    )
    dense = topk._score_group(pdf, 3)
    monkeypatch.setattr(topk, "_BLOCK_PAIRS", 1)
    blocked = topk._score_group(pdf, 3)
    pd.testing.assert_frame_equal(dense, blocked)
    # replicas tie in pairs; the near-k margin keeps both of each tie
    assert len(dense) >= 7 * 3


def test_float_probe_matches_sql_probe(spark):
    """The IVF float probe (a pandas UDF) against the SQL probe it
    replaced: the same cells in the same order, for tied centroids and
    for vectors whose dots are NULL."""
    from ncagg_spark.functions.vectors import dot_const_sql
    from ncagg_spark.pipeline.similarity import _unit_scale, float_probe_col

    rng = np.random.default_rng(5)
    cent_vecs = rng.normal(size=(6, 4)).tolist()
    cent_vecs[4] = list(cent_vecs[1])  # identical centroids: a tie
    cents = [(10 - i, v) for i, v in enumerate(cent_vecs)]
    rows = [(i, [float(x) for x in v]) for i, v in
            enumerate(rng.normal(size=(30, 4)))]
    rows += [(30, None), (31, [1.0, None, 0.0, 0.0]), (32, [1.0, 2.0]),
             (33, [float(x) for x in cent_vecs[1]])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    entries = ",".join(
        f"named_struct('s', {dot_const_sql('v', _unit_scale(vec))},"
        f" 'c', CAST({int(cell)} AS INT))"
        for cell, vec in cents
    )
    sql_probe = F.expr(
        f"transform(slice(array_sort(array({entries}), (a, b) -> "
        "CASE WHEN a.s > b.s THEN -1 WHEN a.s < b.s THEN 1 ELSE 0 END), "
        "1, 3), p -> p.c)"
    )
    out = df.select(
        "id", float_probe_col(cents, 3, "v").alias("udf"),
        sql_probe.alias("sql"),
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        assert list(r["udf"]) == list(r["sql"]), r["id"]


def test_quantized_probe_ranks_null_and_short_vectors(spark):
    """A NULL or wrong-length vector ties every cell under the quantized
    probe and gets the first n_probe cells in ascending id order, as
    the float probe does; a valid vector is ranked by its scores."""
    from ncagg_spark.pipeline.similarity import quantized_probe_col

    cents = [
        (5, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (9, [0.0, 0.0, 1.0]),
        (1, [1.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        [(0, [0.1, 0.9, 0.2]), (1, None), (2, [1.0, 2.0])],
        "id long, v array<double>",
    )
    got = {
        r["id"]: list(r["p"])
        for r in df.select(
            "id", quantized_probe_col(cents, 3, "v").alias("p")
        ).collect()
    }
    # quantized dots of row 0: cell 2 9.0e11, cell 1 7.07e11,
    # cell 9 2.0e11, cell 5 1.0e11
    assert got == {0: [2, 1, 9], 1: [1, 2, 5], 2: [1, 2, 5]}
