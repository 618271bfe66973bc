"""Similarity search: brute-force exact top-k vs a numpy oracle; SRP-LSH
and IVF approximate variants checked for shape, determinism, and recall
against the exact result.
"""

from __future__ import annotations

import math
import random

import pytest

from ncagg_spark.pipeline.similarity import (
    brute_force_topk,
    ivf_topk,
    srp_lsh_topk,
)

DIM = 8
N = 40


@pytest.fixture()
def vectors(spark):
    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cosine(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


def _exact_topk(rows, qid, k):
    q = dict(rows)[qid]
    scored = [
        (round(_cosine(q, v), 6), i) for i, v in rows if i != qid
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in scored[:k]]


def test_brute_force_matches_numpy_oracle(vectors):
    rows, df = vectors
    queries = df.filter("vec_id < 3")
    got = brute_force_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in range(3):
        mine = [n for _, n in sorted(by_q[qid])]
        assert mine == _exact_topk(rows, qid, 5)


def test_brute_force_excludes_self_and_ranks_dense(vectors):
    _, df = vectors
    got = brute_force_topk(df, df.filter("vec_id = 0"), k=3).collect()
    assert all(r["neighbor_id"] != 0 for r in got)
    assert sorted(r["rank"] for r in got) == [1, 2, 3]


def test_srp_lsh_subset_of_corpus_and_deterministic(vectors):
    _, df = vectors
    a = srp_lsh_topk(df, df.filter("vec_id < 3"), k=5, n_planes=4, dim=DIM).collect()
    b = srp_lsh_topk(df, df.filter("vec_id < 3"), k=5, n_planes=4, dim=DIM).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r["neighbor_id"] != r["query_id"] for r in a)


def test_ivf_recall_against_exact(vectors):
    rows, df = vectors
    queries = df.filter("vec_id < 5")
    exact = {
        qid: set(_exact_topk(rows, qid, 3)) for qid in range(5)
    }
    got = ivf_topk(df, queries, k=3, n_cells=4, n_probe=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # probing ALL cells == exhaustive search -> recall must be 1
    for qid in range(5):
        assert by_q[qid] == exact[qid]


def test_ivf_partial_probe_is_subset(vectors):
    _, df = vectors
    got = ivf_topk(df, df.filter("vec_id < 3"), k=3, n_cells=8, n_probe=2).collect()
    assert all(r["rank"] <= 3 for r in got)
    assert all(r["query_id"] != r["neighbor_id"] for r in got)


def test_kmeans_recovers_separated_clusters(spark):
    from ncagg_spark.pipeline.similarity import assign_cells, kmeans_centroids

    # three well-separated directions (axis bundles) with small jitter
    rng = random.Random(3)
    rows = []
    for i in range(60):
        axis = i % 3
        v = [rng.gauss(0.0, 0.05) for _ in range(DIM)]
        v[axis] += 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_centroids(df, 3, max_iter=15, tol=1e-6)
    assert len(cents) == 3
    # every trained centroid is unit-length and dominated by one axis
    for _, vec in cents:
        assert abs(math.sqrt(sum(x * x for x in vec)) - 1.0) < 1e-9
        assert max(abs(x) for x in vec) > 0.9
    dominant = sorted(max(range(DIM), key=lambda p: abs(v[p])) for _, v in cents)
    assert dominant == [0, 1, 2]

    # assignment with the trained centroids separates the bundles cleanly
    got = assign_cells(df, cents).collect()
    by_axis = {}
    for r in got:
        by_axis.setdefault(r["vec_id"] % 3, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_axis.values())
    assert len(set().union(*by_axis.values())) == 3


def test_kmeans_centroids_feed_ivf(spark):
    from ncagg_spark.pipeline.similarity import kmeans_centroids

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, 4, max_iter=5)
    exact = {qid: set(_exact_topk(rows, qid, 3)) for qid in range(3)}
    got = ivf_topk(
        df, df.filter("vec_id < 3"), k=3, n_cells=4, n_probe=4, centroids=cents
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # all cells probed == exhaustive -> trained centroids preserve recall 1
    for qid in range(3):
        assert by_q[qid] == exact[qid]


def test_kmeans_deterministic_under_repartitioning(spark):
    """The oracle-checkable kmeans mode (mult-hash init + integer-quantized
    update sums) must produce BIT-IDENTICAL centroids regardless of how
    the corpus is partitioned — integer addition is associative, so the
    distributed aggregation order cannot leak into the result. This is
    the property that makes the trained-centroid IVF driver-checkable
    (and run-to-run reproducible on a real cluster)."""
    from ncagg_spark.pipeline.similarity import kmeans_centroids

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(max_iter=2, tol=0.0, init="mult", update_quantization=10**6)
    a = kmeans_centroids(df.coalesce(1), 4, **kw)
    b = kmeans_centroids(df.repartition(16, "vec_id"), 4, **kw)
    for (ca, va), (cb, vb) in zip(a, b):
        assert ca == cb
        assert va == vb  # exact float equality, not approx


def test_brute_matmul_matches_relational(spark, vectors):
    """The BLAS-matmul exact scan must return the same (query, neighbor,
    rank) rows as the relational form — it's the same math, re-batched.
    Cosines may differ in the last ulp (BLAS reassociates), so compare
    at the rounded-6 precision both forms emit."""
    from ncagg_spark.pipeline.similarity import brute_force_topk_matmul

    rows, df = vectors
    queries = df.filter("vec_id < 5")
    rel = brute_force_topk(df, queries, k=4).collect()
    mat = brute_force_topk_matmul(df, queries, k=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    rel_m = {key(r): (r["neighbor_id"], r["cosine"]) for r in rel}
    mat_m = {key(r): (r["neighbor_id"], r["cosine"]) for r in mat}
    assert rel_m.keys() == mat_m.keys()
    for kk in rel_m:
        assert rel_m[kk][0] == mat_m[kk][0], kk
        assert abs(rel_m[kk][1] - mat_m[kk][1]) <= 1e-6


def test_assign_cells_arrow_matches_sql(spark, vectors):
    from ncagg_spark.pipeline.similarity import (
        assign_cells,
        sample_centroids,
    )

    rows, df = vectors
    cents = sample_centroids(df, 4)
    a = assign_cells(df, cents, method="sql").collect()
    b = assign_cells(df, cents, method="arrow").collect()
    am = {r["vec_id"]: r["cell"] for r in a}
    bm = {r["vec_id"]: r["cell"] for r in b}
    assert am == bm


def test_ivf_prebuilt_index_matches_inline(spark, vectors):
    from ncagg_spark.pipeline.similarity import (
        assign_cells,
        sample_centroids,
    )

    rows, df = vectors
    cents = sample_centroids(df, 4)
    queries = df.filter("vec_id < 3")
    inline = ivf_topk(df, queries, k=3, centroids=cents).collect()
    cells = assign_cells(df, cents)
    pre = ivf_topk(
        df, queries, k=3, centroids=cents, corpus_cells=cells
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, pre))


def test_kmeans_one_spark_job_per_iteration(spark, tmp_path):
    """Each Lloyd iteration must run as exactly ONE Spark job (VERDICT
    r7 #5): assignment fused into the per-partition partial-sum update,
    no shuffle/AQE stage-jobs. Input is a parquet scan — the production
    shape (an input plan carrying its own shuffle would add ITS
    materialization job to the first iteration, which is not the
    loop's doing). Job count checked via the per-iteration job tag
    the loop adds, read from the status store's ``jobTags``."""
    from ncagg_spark.pipeline.similarity import kmeans_centroids

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    src = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8).write.parquet(src)
    df = spark.read.parquet(src)
    kmeans_centroids(
        df, 4, max_iter=3, tol=0.0, init="mult",
        update_quantization=10**6,
    )
    from ncagg_spark.pipeline import similarity as simmod

    prefix = simmod._LAST_KMEANS_JOB_TAG_PREFIX
    per_tag = _jobs_per_tag(spark.sparkContext, f"{prefix}_iter_")
    for it in range(3):
        n = per_tag.get(f"{prefix}_iter_{it}", 0)
        assert n == 1, f"iteration {it} ran {n} Spark jobs, expected 1"
    assert len(per_tag) == 3, per_tag


def _jobs_per_tag(sc, prefix: str) -> dict[str, int]:
    """Jobs per job tag starting with ``prefix``, from the status
    store's ``jobTags``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    counts: dict[str, int] = {}
    for i in range(jobs.size()):
        tags = jobs.apply(i).jobTags()
        for j in range(tags.size()):
            tag = tags.apply(j)
            if tag.startswith(prefix):
                counts[tag] = counts.get(tag, 0) + 1
    return counts


def test_kmeans_jobs_stay_in_callers_job_group(spark, tmp_path):
    """The per-iteration labels are job tags, which add to the caller's
    job group instead of replacing it: a caller's group (a tracer's
    span, a ``cancelJobGroup``) holds every kmeans job — the init
    sample's and one per Lloyd iteration."""
    from ncagg_spark.pipeline.similarity import kmeans_centroids

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    src = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4).write.parquet(src)
    df = spark.read.parquet(src)
    sc = spark.sparkContext
    group, max_iter = "kmeans_caller_group", 3
    sc.setJobGroup(group, "kmeans caller")
    try:
        kmeans_centroids(df, 4, max_iter=max_iter, tol=0.0, init="mult")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n == max_iter + 1, n


def test_kmeans_restores_callers_job_group(spark):
    """kmeans_centroids labels each Lloyd iteration with a job tag and
    must leave the caller's group, description and interrupt flag as
    they were: the caller's later jobs stay in its group (so its
    cancelJobGroup still reaches them) and keep its label."""
    from ncagg_spark.pipeline.similarity import kmeans_centroids

    rng = random.Random(9)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sc = spark.sparkContext
    group = "outer_kmeans_caller"
    sc.setJobGroup(group, "outer caller", interruptOnCancel=True)
    try:
        kmeans_centroids(df, 3, max_iter=2, tol=0.0, init="mult")
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "outer caller"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
        tracker = sc.statusTracker()
        before = len(tracker.getJobIdsForGroup(group))
        spark.range(3).count()
        assert len(tracker.getJobIdsForGroup(group)) > before
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)


def test_assign_cells_quantized_matches_sql_and_is_stable(spark):
    """Quantized assignment must (a) agree with the exact sql method
    wherever quantization (1e-6 relative) cannot flip the argmax —
    i.e. on generic random data — and (b) be bit-stable under
    repartitioning (integer scores, no BLAS rounding)."""
    from ncagg_spark.pipeline.similarity import assign_cells

    rng = random.Random(13)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = [(c, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for c in range(7)]

    sql_cells = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(df, cents, vec_col="v", method="sql").collect()
    }
    qa = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            df, cents, vec_col="v", method="quantized"
        ).collect()
    }
    qb = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            df.repartition(16), cents, vec_col="v", method="quantized"
        ).collect()
    }
    assert qa == qb  # deterministic under partitioning
    assert qa == sql_cells  # generic data: no near-ties to flip
