"""Static reachability of the engine from its entry points.

The engine's contract is the registry (``__spark_entry__.py``), the CLI,
``api`` and the benchmarks (``perfbench/``, ``bench.py``). A top-level def
under ``ncagg_spark/`` that none of them reaches, directly or through
other reached defs, is tool- or test-only code. Each one must name its
reason in ``ALLOWED``; new unreached code fails here until it does.

The scan is by name, over the AST:
  * roots: every name used or defined in the entry files, plus the
    module-level statements of every non-``__init__`` engine module;
  * a reached def adds every name used in its body;
  * a use is an ``ast.Name``, an ``ast.Attribute``'s attr, or a string
    constant that is an identifier; imports and ``__all__`` are not uses.
A name reaches every top-level def of that name, in any module, so the
scan can miss dead code; only a def reached through a computed name
(``getattr`` on a built string) would read as unreached.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "ncagg_spark"
ENTRY_FILES = (
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    PKG / "cli.py",
    PKG / "api.py",
    PKG / "__main__.py",
)

REFERENCE = "a reference that tests compare reached code against"
INSTRUMENT = "a test instrument"
ANN = (
    "ANN production family: SCALE.md measured it as the faster shape at "
    "scale (rounds 4, 10, 11); which twin survives needs a workload"
)
IVFADC = "persisted, appendable IVFADC index: no relational twin exists"

ALLOWED = {
    "functions/hashing.py:sql_simhash64": REFERENCE
    + " (DuckDB twin of simhash_signatures: tools/cc_oracle_duckdb.py,"
    " test_round15_fixes.py)",
    "pipeline/sampling.py:mix_corpora": REFERENCE
    + " (test_mix_corpus_labeled_matches_mix_corpora)",
    "pipeline/sampling.py:sample_hash": REFERENCE
    + " (mix_corpora's per-source sampler; test_sampling.py)",
    "pipeline/sampling.py:split_train_val": REFERENCE
    + " (test_split_label_matches_split_train_val)",
    "pipeline/text.py:repetition_signals": REFERENCE
    + " (TestRepetitionCounts::test_counts_match_fraction_form)",
    "pipeline/text.py:duplicate_paragraph_fraction": REFERENCE
    + " (repetition_signals)",
    "pipeline/text.py:top_ngram_fraction": REFERENCE
    + " (repetition_signals)",
    "pipeline/text.py:repetition_counts": REFERENCE
    + " (column form of repetition_counts_df; TestRepetitionCounts)",
    "pipeline/text.py:top_ngram_count": REFERENCE
    + " (repetition_counts)",
    "plan_probe.py:capture": INSTRUMENT
    + " (records eager-at-construction frames; tools/dump_plans.py)",
    "sources/tables.py:clear_schema_cache": INSTRUMENT
    + " (resets the schema cache between tests)",
    "pipeline/pq.py:pq_train": ANN,
    "pipeline/pq.py:pq_encode": ANN,
    "pipeline/pq.py:pq_topk": ANN,
    "pipeline/pq.py:pq_topk_rerank": ANN,
    "pipeline/pq.py:_unit_rows": ANN,
    "pipeline/pq.py:build_ivf_pq_index": IVFADC,
    "pipeline/pq.py:ivf_pq_topk": IVFADC,
    "pipeline/pq.py:write_ivf_pq_index": IVFADC,
    "pipeline/pq.py:read_ivf_pq_index": IVFADC,
    "pipeline/pq.py:append_ivf_pq_index": IVFADC,
    "pipeline/similarity.py:brute_force_topk": ANN,
    "pipeline/similarity.py:brute_force_topk_matmul": ANN,
    "pipeline/topk.py:partial_topk": ANN,
    "pipeline/topk.py:_topk_ties_by_id": ANN,
    "plans/scanstats.py:scan_io_stats": ANN
    + " (per-scan IO of the IVF index store)",
    "plans/scanstats.py:_walk_scans": ANN + " (scan_io_stats)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_all(node: ast.AST) -> bool:
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
        targets = [node.target]
    else:
        return False
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _uses(node: ast.AST) -> set[str]:
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.Import, ast.ImportFrom)) or _is_all(n):
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out.add(n.value)
        stack.extend(ast.iter_child_nodes(n))
    return out


def unreached_defs() -> dict[str, ast.AST]:
    """``{"<module path>:<name>": def node}`` of the top-level engine
    defs no entry point reaches."""
    defs: dict[tuple[str, str], ast.AST] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(PKG).as_posix()
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs[(rel, stmt.name)] = stmt
                if path in ENTRY_FILES:
                    roots.add(stmt.name)
            elif path.name != "__init__.py":
                roots |= _uses(stmt)
    for path in ENTRY_FILES:
        roots |= _uses(ast.parse(path.read_text(), str(path)))

    reached: set[tuple[str, str]] = set()
    frontier = roots
    while frontier:
        new: set[str] = set()
        for key, node in defs.items():
            if key not in reached and key[1] in frontier:
                reached.add(key)
                new |= _uses(node)
        frontier = new
    return {
        f"{rel}:{name}": node
        for (rel, name), node in defs.items()
        if (rel, name) not in reached
    }


def test_unreached_engine_defs_are_allowlisted():
    unreached = set(unreached_defs())
    assert unreached - set(ALLOWED) == set(), (
        "engine code no entry point reaches: delete it, or add it to "
        "ALLOWED with its reason"
    )
    assert set(ALLOWED) - unreached == set(), (
        "allowlisted defs that are now reached or gone: drop them from "
        "ALLOWED"
    )
