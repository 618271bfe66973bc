"""Dump .explain("formatted") for driver queries to
plans/<round>/<q>_<tag>.txt.

Usage:
    python tools/dump_plans.py <round> <tag> [query ...]  # default: all queries

e.g. ``python tools/dump_plans.py r17 before q1 q2``. The optimization
evidence artifact: a _before and _after file per touched query so plan
claims (Exchange counts, join strategies, pushed filters) are checkable
without running Spark. Each file also carries the plans of the internal
frames that eager-at-construction operators execute (``plan_probe``).
Reads the sf directory from ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from ncagg_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="ncagg-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    if not names:
        names = list(qs)
    from ncagg_spark import plan_probe

    for name in names:
        probes = []
        try:
            # capture the internal frames eager-at-construction
            # operators execute (VERDICT r15 #5: CC/bm25/clean_corpus
            # returned plans collapse to local scans — the probe dump
            # is the audit trail for the real pipeline)
            with plan_probe.capture() as jobs:
                df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
            for label, internal in jobs:
                pbuf = io.StringIO()
                with redirect_stdout(pbuf):
                    internal.explain("formatted")
                probes.append((label, pbuf.getvalue()))
        except Exception as exc:  # streaming queries etc.
            text = f"(explain failed: {exc})\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} [{tag}]\n")
            fh.write(text)
            for label, ptext in probes:
                fh.write(
                    f"\n# --- plan_probe[{label}] (pre-collapse internal "
                    f"pipeline executed at query construction) ---\n"
                )
                fh.write(ptext)
        print(f"wrote {path} ({len(probes)} probe plans)")


if __name__ == "__main__":
    main()
