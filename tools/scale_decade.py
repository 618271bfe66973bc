"""Third scale decade for the heavy pipeline family (VERDICT r14 #3,
carried from r13 #5): the sub-linear scaling claim for the five
wall-clock-heaviest extended-bench operators rested on ONE certified
decade (sf1 -> sf10). This runs them at sf10 / sf30 / sf100
(documents-only dirs from ``gen_scale.py --tables=documents``) in one
session and fits per-step and overall log-log exponents
(t ~ N^alpha: alpha = log(t2/t1) / log(n2/n1); alpha <= 1 is
linear-or-better).

Same timing discipline as bench.py: ``df.write.format("noop")`` so
Catalyst cannot prune the expensive expressions, one cold run per
(query, sf) — these are minutes-long jobs where the JIT/cache warmup
that motivates bench.py's median-of-3 is noise, and the artifact
records that the numbers are cold singles.

Usage: python tools/scale_decade.py [sf_dir ...]
defaults: .scale/sf10 .scale/sf30 .scale/sf100
Prints one JSON line per (query, sf) and a final markdown table +
verdict JSON (tee to tools/logs_scale_decade_rN.txt).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEAVY = [
    "doc_clean_corpus",
    "doc_lm_score",
    "doc_dsir_sample",
    "doc_near_dedup",
    "doc_repetition_filter",
]

# cells known to exceed the 8 GiB local-JVM gate, skipped with the
# reason in the log so a run doesn't spend 25 min producing a known
# OOM (r16): doc_near_dedup at 5M docs builds a ~0.9B-edge-row pair
# graph (~26 -> 56 true pairs/doc measured sf0.1 -> sf10, alpha~1.17 —
# the synthetic corpus's near-dup density, not an engine artifact);
# the CC loop on it needs cluster-parity memory (completes with
# SPARK_GRAFT_DRIVER_MEM=24g, OPTIMIZATION_r16.md) while the local
# gate gives 8 GiB / 32 cores = 250 MB per concurrent task.
SKIP: dict[tuple[str, str], str] = {
    ("doc_near_dedup", "sf100"): (
        "0.9B-edge CC graph exceeds the 8 GiB local gate; "
        "measured separately at 24g (see OPTIMIZATION_r16.md)"
    ),
}


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        os.path.join(REPO, ".scale", d) for d in ("sf10", "sf30", "sf100")
    ]
    import __spark_entry__ as entry
    from ncagg_spark.session import get_spark

    spark = get_spark(app_name="scale-decade")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    results: dict[str, dict[str, float]] = {q: {} for q in HEAVY}
    sizes: dict[str, int] = {}
    for sf_dir in sf_dirs:
        name = os.path.basename(sf_dir.rstrip("/"))
        sizes[name] = (
            spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        )
        print(f"# {name}: {sizes[name]} docs", flush=True)
        for q in HEAVY:
            if (q, name) in SKIP:
                print(
                    json.dumps(
                        {"query": q, "sf": name, "skipped": SKIP[(q, name)]}
                    ),
                    flush=True,
                )
                continue
            t0 = time.time()
            try:
                qs[q](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # record and keep going (r16): a
                # cell that exceeds the local gate must not lose the
                # remaining cells' measurements
                print(
                    json.dumps(
                        {"query": q, "sf": name, "error": str(exc)[:200]}
                    ),
                    flush=True,
                )
                continue
            dt = round(time.time() - t0, 1)
            results[q][name] = dt
            print(
                json.dumps({"query": q, "sf": name, "wall_s": dt}),
                flush=True,
            )

    names = [os.path.basename(d.rstrip("/")) for d in sf_dirs]
    verdict = decade_verdict(results, sizes, names)
    print("\n| query | " + " | ".join(names) + " | " + " | ".join(
        f"alpha {a}->{b}" for a, b in zip(names, names[1:])
    ) + " | alpha overall |")
    print("|" + "---|" * (len(names) + len(names)))
    for q, v in verdict["queries"].items():
        steps = v["alphas"] or {}
        print(
            f"| {q} | "
            + " | ".join(f"{v['wall_s'].get(n, '-')}" for n in names)
            + " | "
            + " | ".join(
                f"{steps.get(f'{a}->{b}', '-')}"
                for a, b in zip(names, names[1:])
            )
            + f" | {v['alpha_overall']} |"
        )
    print("DECADE_VERDICT " + json.dumps(verdict), flush=True)


def decade_verdict(
    results: dict[str, dict[str, float]],
    sizes: dict[str, int],
    names: list[str],
) -> dict:
    """Per-query log-log exponents from the measured cells only.

    ``results[q][name]`` holds the wall seconds of each cell that ran
    (skipped and failed cells are absent), ``sizes[name]`` the doc
    count of each scale in ``names`` order. ``wall_s`` is keyed by the
    scales measured; ``alphas`` maps each step between consecutive
    measured scales ("a->b") to its exponent. A query with fewer than 2
    measured cells gets null ``alphas`` and ``alpha_overall`` and is left
    out of ``worst_alpha_overall`` (null when no query has 2 cells)."""
    verdict: dict = {"docs": sizes, "queries": {}}
    for q, cells in results.items():
        have = [n for n in names if n in cells]
        ts = [cells[n] for n in have]
        ns = [sizes[n] for n in have]
        alphas = overall = None
        if len(have) >= 2:
            alphas = {
                f"{a}->{b}": _alpha(t1, t2, n1, n2)
                for a, b, t1, t2, n1, n2 in zip(
                    have, have[1:], ts, ts[1:], ns, ns[1:]
                )
            }
            overall = _alpha(ts[0], ts[-1], ns[0], ns[-1])
        verdict["queries"][q] = {
            "wall_s": dict(zip(have, ts)),
            "alphas": alphas,
            "alpha_overall": overall,
        }
    measured = [
        v["alpha_overall"]
        for v in verdict["queries"].values()
        if v["alpha_overall"] is not None
    ]
    worst = max(measured) if measured else None
    verdict["worst_alpha_overall"] = worst
    verdict["sublinear_all"] = None if worst is None else bool(worst <= 1.0)
    return verdict


def _alpha(t1: float, t2: float, n1: int, n2: int) -> float:
    """Exponent of t ~ N^alpha between two measured cells."""
    return round(math.log(t2 / t1) / math.log(n2 / n1), 2)


if __name__ == "__main__":
    main()
