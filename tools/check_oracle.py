"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir, runs the
matching oracle_sql() in DuckDB over the same parquet views, and compares
row count + column names + a **driver-faithful canonical hash**.

The driver's gate (reconstructed from its recorded tracebacks in
CORRECTNESS_r0*.json) materializes both result sets as pandas frames,
reorders columns by sorted name, `sort_values` over ALL columns, then
hashes the *rendered* values. Two consequences this checker now
replicates exactly — both bit us in rounds 1-2 while the old tolerant
comparison stayed green:

1. list/array cells make `sort_values` raise `TypeError: unhashable
   type: 'list'` (r1 `doc_minhash_sig`, r2 `mm_features`) — so ANY query
   whose Spark output schema contains an array/map column is a hard FAIL
   here, oracle or not.
2. the hash is dtype-RENDERING sensitive: DuckDB `sum(BIGINT)` returns
   HUGEINT which pandas renders as float64 (`100000.0`) while Spark's
   bigint renders `100000` — equal values, different hash (r2
   `agg_manifest_attrs`). Canon-hashing the pandas-rendered CSV of both
   sides surfaces every representation divergence.

A secondary tolerant value-diff (float rel_tol 1e-9) still runs when the
hash differs, so the report says whether a hash mismatch is real values
or representation only.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--vanilla]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization, reconstructed: sorted column order,
    full-row sort_values (raises on unhashable cells — intentionally
    replicated), positional index."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def canon_hash(pdf: pd.DataFrame) -> str:
    """Hash of the pandas-RENDERED values — any dtype-representation
    divergence (HUGEINT->float64, decimal->object, float32 vs float64
    repr) changes the hash even when values are numerically equal."""
    return hashlib.sha256(
        pdf.to_csv(index=False, float_format=None).encode()
    ).hexdigest()


def _has_nested(sdf) -> list[str]:
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def value_diff(spark_rows, spark_cols, duck_rows, duck_cols):
    """Tolerant secondary diff: separates 'values genuinely differ' from
    'representation-only hash divergence'."""
    problems = []
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s = sorted(
        [tuple(norm_cell(r[i]) for i in s_idx) for r in spark_rows], key=sort_key
    )
    d = sorted(
        [tuple(norm_cell(r[i]) for i in d_idx) for r in duck_rows], key=sort_key
    )
    n_close = n_diff = 0
    for sr, dr in zip(s, d):
        if sr == dr:
            continue
        close = True
        for a, b in zip(sr, dr):
            if a == b:
                continue
            try:
                fa, fb = float(a), float(b)
            except (TypeError, ValueError):
                close = False
                break
            if not math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12):
                close = False
                break
        if close:
            n_close += 1
        else:
            n_diff += 1
            if n_diff <= 3:
                problems.append(f"  row diff:\n    spark={sr}\n    duck ={dr}")
    if n_close:
        problems.append(f"{n_close} rows numerically close but rendered differently")
    if n_diff:
        problems.append(f"{n_diff} rows materially differ")
    return problems


# ---------------------------------------------------------------------------
# Aggregate canon (VERDICT r8 #1): an order-independent scalar fingerprint
# (row count + sum + xor of per-row 60-bit hashes) computed INSIDE each
# engine over an identical cross-engine row rendering — no driver collect,
# so result sets far beyond spark.driver.maxResultSize / pandas memory can
# still be value-compared. The rendering rules:
#
#   * integers / booleans / decimals -> engine CAST to string (identical)
#   * strings -> md5(col) (kills separator-collision and newline issues;
#     both engines hash the UTF-8 bytes)
#   * doubles -> the exact IEEE-754 bit pattern as a signed int64 string:
#     Spark via reflect('java.lang.Double','doubleToLongBits',col) (JVM,
#     NaN canonicalized, -0.0 kept distinct), DuckDB via a registered
#     struct-pack Python UDF with the same NaN canonicalization. String
#     renderings are NOT cross-engine safe for doubles: Java 17's
#     Double.toString predates the JDK-19 Ryu rewrite and prints
#     non-shortest digits on ~0.3% of doubles (5e-324 -> '4.9E-324' vs
#     Python/C '5e-324'), and Java's %.17e pads the shortest repr with
#     zeros while C prints the correctly-rounded exact expansion.
#   * floats -> widened to double first on both sides
#   * date/timestamp -> strftime/date_format to 'YYYY-MM-DD[ HH:MM:SS.ffffff]'
#     (session TZ is UTC on the Spark side, matching DuckDB's naive render)
#   * NULL -> chr(1) sentinel (concat_ws silently SKIPS nulls — a
#     (null,'a') row must not collide with ('a',null))
#
# Per row: h = int64(first 15 hex chars of md5(concat_ws(chr(31), cols in
# sorted-name order))); per result set: (count(*), sum(h) exact, bit_xor(h)).
# Agreement with the driver-faithful pandas canon is pinned at sf0.01 by
# --pin-agg (both canons computed, verdicts must match on every query).
# ---------------------------------------------------------------------------


def _double_bits(x) -> int | None:
    """``Double.doubleToLongBits``: the IEEE-754 bit pattern as a signed
    int64, every NaN canonicalized to 0x7FF8000000000000, -0.0 distinct
    from 0.0 (matching the pandas canon, which renders '-0.0')."""
    if x is None:
        return None
    import struct

    if x != x:
        return 0x7FF8000000000000
    return struct.unpack("<q", struct.pack("<d", x))[0]


def register_duck_canon_udfs(con):
    from duckdb.typing import BIGINT, DOUBLE

    # create_function refuses to run inside an active transaction (a
    # prior fetchone can leave one open on this connection), so probe
    # the catalog (with fetchall, which closes its result) rather than
    # trying and catching
    n = con.execute(
        "SELECT count(*) FROM duckdb_functions() "
        "WHERE function_name = 'double_bits'"
    ).fetchall()[0][0]
    if not n:
        con.create_function("double_bits", _double_bits, [DOUBLE], BIGINT)


_SENTINEL = "chr(1)"  # rendered-NULL marker, same byte in both engines
_SEP = "chr(31)"


def _spark_render_exprs(sdf) -> list[str]:
    from pyspark.sql import types as T

    exprs = []
    for name in sorted(sdf.columns):
        dt = sdf.schema[name].dataType
        q = f"`{name}`"
        if isinstance(
            dt,
            (
                T.LongType,
                T.IntegerType,
                T.ShortType,
                T.ByteType,
                T.BooleanType,
                T.DecimalType,
            ),
        ):
            e = f"cast({q} as string)"
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            # reflect NPEs on a null boxed arg — guard explicitly
            e = (
                f"case when {q} is null then null else "
                f"reflect('java.lang.Double', 'doubleToLongBits', "
                f"cast({q} as double)) end"
            )
        elif isinstance(dt, T.StringType):
            e = f"md5({q})"
        elif isinstance(dt, T.DateType):
            e = f"date_format({q}, 'yyyy-MM-dd')"
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            e = f"date_format({q}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        else:
            raise NotImplementedError(
                f"aggregate canon: unsupported Spark type {dt} on '{name}'"
            )
        exprs.append(f"coalesce({e}, {_SENTINEL})")
    return exprs


def _duck_render_exprs(cols_types: list[tuple[str, str]]) -> list[str]:
    exprs = []
    for name, typ in sorted(cols_types):
        t = typ.upper()
        q = f'"{name}"'
        if (
            t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT",
                  "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT", "BOOLEAN")
            or t.startswith("DECIMAL")
        ):
            e = f"CAST({q} AS VARCHAR)"
        elif t in ("DOUBLE", "FLOAT", "REAL"):
            e = f"CAST(double_bits(CAST({q} AS DOUBLE)) AS VARCHAR)"
        elif t == "VARCHAR":
            e = f"md5({q})"
        elif t == "DATE":
            e = f"strftime({q}, '%Y-%m-%d')"
        elif t == "TIMESTAMP":
            e = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
        else:
            raise NotImplementedError(
                f"aggregate canon: unsupported DuckDB type {typ} on '{name}'"
            )
        exprs.append(f"COALESCE({e}, {_SENTINEL})")
    return exprs


def spark_canon_agg(sdf):
    """(count, hash_sum, hash_xor) computed entirely inside Spark."""
    rendered = _spark_render_exprs(sdf)
    h = (
        f"cast(conv(substr(md5(concat_ws({_SEP}, "
        f"{', '.join(rendered)})), 1, 15), 16, 10) as bigint)"
    )
    row = (
        sdf.selectExpr(f"{h} as h")
        .selectExpr(
            "count(*) as c",
            "sum(cast(h as decimal(38,0))) as s",
            "bit_xor(h) as x",
        )
        .collect()[0]
    )
    return (
        int(row["c"]),
        None if row["s"] is None else int(row["s"]),
        None if row["x"] is None else int(row["x"]),
    )


def duck_canon_agg(con, sql, budget_sec=None):
    """Same fingerprint computed entirely inside DuckDB over the oracle,
    plus the oracle's sorted column names (for the schema check)."""
    register_duck_canon_udfs(con)
    cols_types = [
        (r[0], r[1])
        for r in con.execute(f"DESCRIBE {sql}").fetchall()
    ]
    rendered = _duck_render_exprs(cols_types)
    h = (
        f"CAST(('0x' || substr(md5(concat_ws({_SEP}, "
        f"{', '.join(rendered)})), 1, 15)) AS BIGINT)"
    )
    final = (
        f"SELECT count(*) AS c, sum(CAST(h AS HUGEINT)) AS s, "
        f"bit_xor(h) AS x FROM (SELECT {h} AS h FROM ({sql}) __q) __h"
    )
    # fetchall, not .df() (pandas renders HUGEINT through float64 and
    # silently rounds the 70-bit hash sum) and not fetchone (which
    # leaves the streaming result's transaction open on the shared
    # connection)
    row = _run_oracle_budgeted(
        con, lambda c_: c_.execute(final).fetchall()[0], budget_sec
    )
    c, s, x = row
    names = sorted(n for n, _ in cols_types)
    return (
        int(c),
        None if s is None else int(s),
        None if x is None else int(x),
    ), names


def _duck_type_for_spark(dt) -> str:
    """DuckDB cast target matching a Spark output type — used to undo
    the pandas type promotion on the callable-oracle path."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "BIGINT"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "DOUBLE"
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.StringType):
        return "VARCHAR"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    raise NotImplementedError(f"no DuckDB cast target for Spark {dt}")


def check_one_agg(name, sdf, con, oracle, budget_sec=None):
    """Aggregate-canon comparison (status semantics match check_one).
    Callable oracles (--iter-cc temp-table label propagation) return a
    pandas frame: its fingerprint is computed with the same rendering via
    a DuckDB relation over the frame — still no Spark-side collect."""
    nested = _has_nested(sdf)
    if nested:
        return "FAIL", [
            f"output schema has nested column(s) {nested}: the driver's "
            "pandas canonicalizer cannot sort/hash list cells — explode"
        ]
    try:
        s_fp = spark_canon_agg(sdf)
    except Exception as e:
        return "FAIL", [f"spark agg-canon error: {e}"]
    if oracle is None:
        return "ROWS_ONLY", [f"{s_fp[0]} rows; agg canon ok"]
    try:
        if callable(oracle):
            dpdf = _run_oracle_budgeted(con, oracle, budget_sec)
            con.register("__iter_result", dpdf)
            try:
                # the pandas round-trip corrupts nullable integer
                # columns to float64 (int64-with-NaN promotion), which
                # would render via double_bits instead of the integer
                # cast — re-cast each column to the DuckDB type that
                # matches the SPARK side before fingerprinting
                casted = ", ".join(
                    f'CAST("{c}" AS {_duck_type_for_spark(sdf.schema[c].dataType)}) AS "{c}"'
                    for c in sdf.columns
                )
                d_fp, d_names = duck_canon_agg(
                    con, f"SELECT {casted} FROM __iter_result", None
                )
            finally:
                con.unregister("__iter_result")
        else:
            d_fp, d_names = duck_canon_agg(con, oracle, budget_sec)
    except TimeoutError as e:
        return "BUDGET", [f"{e}; engine fingerprint: {s_fp}"]
    except Exception as e:
        return "FAIL", [f"duckdb agg-canon error: {e}"]
    if sorted(sdf.columns) != d_names:
        return "FAIL", [
            f"columns differ: spark={sorted(sdf.columns)} duck={d_names}"
        ]
    if s_fp != d_fp:
        return "FAIL", [
            f"aggregate fingerprint MISMATCH: spark(c,s,x)={s_fp} "
            f"duck(c,s,x)={d_fp}"
        ]
    return "PASS", [f"{s_fp[0]} rows, agg-canon"]


def _run_oracle_budgeted(con, oracle, budget_sec):
    """Execute the oracle with a wall-clock budget: a watchdog thread
    calls con.interrupt() at the deadline, so a DuckDB oracle that
    cannot finish at this scale surfaces as a measured BUDGET exclusion
    (with its cost), not a hang. budget_sec=None runs unbudgeted."""
    if budget_sec is None:
        return oracle(con) if callable(oracle) else con.execute(oracle).df()
    import threading

    fired = threading.Event()
    done = threading.Event()

    def _kill():
        # the timer can fire in the window between the oracle finishing
        # and timer.cancel(); interrupting then would kill the NEXT
        # query's oracle on the shared connection (ADVICE r8). The
        # `done` gate closes the common case; the fence below clears
        # the remaining few-bytecode window (timer firing between the
        # result assignment and done.set()).
        if done.is_set():
            return
        fired.set()
        try:
            con.interrupt()
        except Exception:
            pass

    timer = threading.Timer(budget_sec, _kill)
    timer.start()
    try:
        out = oracle(con) if callable(oracle) else con.execute(oracle).df()
        done.set()
        return out
    except Exception:
        done.set()
        if fired.is_set():
            raise TimeoutError(
                f"oracle exceeded the {budget_sec:.0f}s budget"
            )
        raise
    finally:
        timer.cancel()
        # join before the fence (ADVICE r9): cancel() cannot stop a
        # _kill already past its done.is_set() check, and if that thread
        # is descheduled until after the fence completes, the stale
        # con.interrupt() would land on the NEXT oracle. _kill's body is
        # a few bytecodes, so the join is bounded; after it, any
        # in-flight interrupt has landed and the fence absorbs it.
        timer.join()
        # fence: if the timer fired in the post-completion window, a
        # stale interrupt flag may be pending on the connection — absorb
        # it with a throwaway statement so the NEXT oracle starts clean
        try:
            con.execute("SELECT 44").fetchall()
        except Exception:
            pass


def check_one(name, sdf, con, oracle, budget_sec=None):
    """Returns (status, messages).
    status in PASS | ROWS_ONLY | BUDGET | FAIL."""
    msgs = []
    nested = _has_nested(sdf)
    if nested:
        return "FAIL", [
            f"output schema has nested column(s) {nested}: the driver's "
            "pandas canonicalizer cannot sort/hash list cells "
            "(TypeError: unhashable type) — explode to scalar rows"
        ]
    try:
        spdf = sdf.toPandas()
    except Exception as e:
        return "FAIL", [f"spark collect error: {e}"]
    try:
        s_canon = _canon(spdf)
    except Exception as e:
        return "FAIL", [f"driver canon would die on spark result: {e!r}"]
    if oracle is None:
        return "ROWS_ONLY", [f"{len(spdf)} rows; canon ok"]
    try:
        # oracle is either an SQL string or a callable(con) -> pandas
        # frame (the iterative temp-table oracles under --iter-cc)
        dpdf = _run_oracle_budgeted(con, oracle, budget_sec)
    except TimeoutError as e:
        return "BUDGET", [f"{e}; engine result: {len(spdf)} rows, canon ok"]
    except Exception as e:
        return "FAIL", [f"duckdb error: {e}"]
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return "FAIL", [
            f"columns differ: spark={list(spdf.columns)} duck={list(dpdf.columns)}"
        ]
    if len(spdf) != len(dpdf):
        msgs.append(f"row count differs: spark={len(spdf)} duck={len(dpdf)}")
    try:
        d_canon = _canon(dpdf)
    except Exception as e:
        return "FAIL", [f"driver canon would die on oracle result: {e!r}"]
    sh, dh = canon_hash(s_canon), canon_hash(d_canon)
    if sh != dh:
        msgs.append("canon hash MISMATCH (driver would record hash_match=false)")
        for col in s_canon.columns:
            if str(s_canon[col].dtype) != str(d_canon[col].dtype):
                msgs.append(
                    f"  dtype diverges on '{col}': spark={s_canon[col].dtype} "
                    f"duck={d_canon[col].dtype}"
                )
        s_rows = [tuple(r) for r in spdf.itertuples(index=False)]
        d_rows = [tuple(r) for r in dpdf.itertuples(index=False)]
        msgs.extend(
            value_diff(s_rows, list(spdf.columns), d_rows, list(dpdf.columns))
        )
        return "FAIL", msgs
    if msgs:
        return "FAIL", msgs
    return "PASS", [f"{len(spdf)} rows"]


def job_group_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, widest stage) of the Spark jobs run in ``group``.
    Skipped stages (their shuffle output was reused) ran no tasks and
    count towards neither total; a stage's width is its task count."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = widest = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue
        tasks += st.numTasks
        widest = max(widest, st.numTasks)
    return len(job_ids), tasks, widest


def check_cc_unionfind(name, sdf, spark, sf_dir, qs, cache):
    """VERDICT r9 #6: official union-find oracle mode for the CC family.

    The recursive-CTE DuckDB closure DNFs on the sf1.0+ dup graphs, so
    the budgeted gate used to record these two queries as BDGT with a
    side-annex (tools/verify_cc.py). This mode runs that verification
    INSIDE the gate: labels are re-derived by a driver-side numpy
    union-find / min-label propagation (a different algorithm and
    runtime from the Spark pointer-jumping CC) over the engine's OWN
    pair set — which the same gate run value-hash-verifies against
    DuckDB via doc_simhash_near_dup — and compared in full. This is
    FULL-POPULATION verification (every node label, every survivor),
    strictly stronger than the budgeted DuckDB twin; logged PASS(uf).
    """
    import numpy as np

    from tools.verify_cc import (
        min_label_propagation,
        union_find_min_labels,
    )

    if "labels" not in cache:
        pdf = (
            qs["doc_simhash_near_dup"](spark, sf_dir)
            .select("id_a", "id_b")
            .toPandas()
        )
        pairs = pdf.to_numpy(dtype=np.int64).reshape(-1, 2)
        cache["labels"] = (
            min_label_propagation(pairs)
            if len(pairs) > 2_000_000
            else union_find_min_labels(pairs)
        )
        cache["n_pairs"] = len(pairs)
    labels = cache["labels"]
    if name == "doc_dup_clusters":
        got = {
            int(r["doc_id"]): int(r["cluster_id"])
            for r in sdf.select("doc_id", "cluster_id").collect()
        }
        if got == labels:
            return "PASS_UF", [
                f"{len(got)} node labels == union-find over "
                f"{cache['n_pairs']} hash-verified pairs (full population)"
            ]
        diffs = [
            (k, got.get(k), labels.get(k))
            for k in list(labels)
            if got.get(k) != labels.get(k)
        ][:5]
        return "FAIL", [
            f"union-find mismatch: {len(got)} vs {len(labels)} nodes; "
            f"first diffs {diffs}"
        ]
    if name == "doc_near_dedup":
        from collections import Counter

        sizes = Counter(labels.values())
        with duckdb.connect() as ddb:
            all_ids = [
                r[0]
                for r in ddb.execute(
                    f"SELECT doc_id FROM "
                    f"read_parquet('{sf_dir}/documents.parquet')"
                ).fetchall()
            ]
        expect = {}
        for d in all_ids:
            if d not in labels:
                expect[int(d)] = 1
            elif labels[d] == d:
                expect[int(d)] = sizes[d]
        got = {
            int(r["doc_id"]): int(r["n_members"])
            for r in sdf.select("doc_id", "n_members").collect()
        }
        if got == expect:
            return "PASS_UF", [
                f"{len(got)} survivors of {len(all_ids)} docs == "
                "union-find (full population)"
            ]
        return "FAIL", [
            f"union-find survivor mismatch: {len(got)} vs {len(expect)}"
        ]
    raise ValueError(f"no union-find oracle for {name}")


# Seeded-subset predicates for scale-mode sampled verification (VERDICT
# r8 #5): at sf10 these queries' FULL DuckDB oracles exceed any budget
# (27M-pair Jaccard joins, 500k-doc rolling-hash windows), but the same
# oracle restricted to a deterministic ~1% doc subset finishes — the
# predicate is applied identically to the engine result (filter on the
# OUTPUT columns) and pushed into the oracle (DuckDB pushes it through
# the per-key aggregation into the base scans). The unsampled twins stay
# fully hash-verified at sf1.0.
SAMPLE_PREDS = {
    "doc_ngram_jaccard": "id_a % 100 = 7",
    "doc_winnow_fp": "doc_id % 100 = 7",
}


def main():
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    vanilla = "--vanilla" in flags
    iter_cc = "--iter-cc" in flags
    cc_uf = "--cc-via-unionfind" in flags
    agg_canon = "--agg-canon" in flags
    pin_agg = "--pin-agg" in flags
    sample = "--sample" in flags
    budget = None
    for a in flags:
        if a.startswith("--oracle-budget="):
            budget = float(a.split("=", 1)[1])
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry_mod

    if vanilla:
        # reproduce the driver's environment: a bare session with NONE of
        # the engine's conf (round-1 failure mode: queries that only ran
        # under get_spark()'s settings)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        from ncagg_spark.session import get_spark

        # scale-mode runs (an --oracle-budget is set) collect multi-GiB
        # result sets for the comparison itself — that is gate-harness
        # cost, not engine cost; lift the driver collect cap so a
        # legitimately large sf10 result doesn't read as a FAIL
        extra = (
            {"spark.driver.maxResultSize": "8g"}
            if budget is not None
            else None
        )
        spark = get_spark(app_name="oracle-check", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    if "--oracle-cache" in flags:
        # VERDICT r14 #1: substitute the heavy IVF/PQ oracle CTEs with
        # fingerprint-keyed parquet materializations (built on first
        # use with the same DuckDB SQL — memoization, not a different
        # algorithm; see tools/oracle_cache.py). Every other oracle is
        # byte-identical to oracle_sql().
        from tools.oracle_cache import cached_oracle_sql

        oracles = cached_oracle_sql(con, sf_dir, entry_mod)
    else:
        oracles = entry_mod.oracle_sql()
    if iter_cc:
        # substitute the recursive-CTE CC oracles (DNF at sf1.0's
        # 12.4M-edge graph) with the iterative temp-table label
        # propagation — still computed entirely by DuckDB
        from tools.cc_oracle_duckdb import ITER_CC_ORACLES

        oracles.update(ITER_CC_ORACLES)
    n_pass = n_fail = 0
    uf_cache: dict = {}
    sc = spark.sparkContext

    def jobs_line(group: str) -> str:
        # a stage sized by configuration (a session width, a cached
        # plan's output partitioning) shows up as tasks / widest here
        jobs, tasks, widest = job_group_stats(sc, group)
        return f"jobs {jobs}, tasks {tasks}, widest {widest}"

    for name, fn in qs.items():
        if only and name not in only:
            continue
        group = f"check_oracle:{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
        except Exception as e:
            print(
                f"FAIL {name}: spark build error: {e} {jobs_line(group)}"
            )
            n_fail += 1
            continue
        if cc_uf and name in ("doc_dup_clusters", "doc_near_dedup"):
            try:
                status, msgs = check_cc_unionfind(
                    name, sdf, spark, sf_dir, qs, uf_cache
                )
            except Exception as e:
                status, msgs = "FAIL", [f"union-find oracle error: {e}"]
            dt = time.time() - t0
            if status == "PASS_UF":
                print(
                    f"PASS {name} (uf: {'; '.join(msgs)}) [{dt:.1f}s] "
                    f"{jobs_line(group)}"
                )
                n_pass += 1
            else:
                print(f"FAIL {name} [{dt:.1f}s] {jobs_line(group)}")
                for m in msgs:
                    print("   ", m)
                n_fail += 1
            continue
        sampled = None
        if sample and name in SAMPLE_PREDS:
            sampled = SAMPLE_PREDS[name]
            sdf = sdf.filter(sampled)
            ora = oracles.get(name)
            if not (ora is None or isinstance(ora, str)):
                # a callable oracle (e.g. a future ITER_CC_ORACLES
                # overlap) cannot be rewrapped with the predicate: the
                # Spark side would be filtered but the oracle not,
                # surfacing as a confusing fingerprint mismatch. Fail
                # fast instead (ADVICE r9).
                print(
                    f"FAIL {name}: --sample predicate set but oracle is "
                    f"callable ({type(ora).__name__}) — cannot push the "
                    f"sample filter into a callable oracle "
                    f"{jobs_line(group)}"
                )
                n_fail += 1
                continue
            if isinstance(ora, str):
                oracles[name] = (
                    f"SELECT * FROM ({ora}) __smp "
                    f"WHERE {sampled}"
                )
        if agg_canon:
            status, msgs = check_one_agg(
                name, sdf, con, oracles.get(name), budget_sec=budget
            )
        else:
            status, msgs = check_one(
                name, sdf, con, oracles.get(name), budget_sec=budget
            )
        if pin_agg and status in ("PASS", "FAIL"):
            # sf0.01 pin (VERDICT r8 #1): the aggregate canon must reach
            # the same verdict as the driver-faithful pandas canon on
            # every query before it is trusted as the scale-gate primary
            try:
                sdf2 = fn(spark, sf_dir)
                if sampled:
                    # the oracles dict was already rewrapped with the
                    # sample predicate — the pin's engine side must
                    # carry the identical filter or it false-FAILs
                    sdf2 = sdf2.filter(sampled)
                a_status, a_msgs = check_one_agg(
                    name, sdf2, con, oracles.get(name), budget_sec=budget
                )
            except Exception as e:
                a_status, a_msgs = "FAIL", [f"agg-canon crashed: {e}"]
            if a_status != status:
                p_status, status = status, "FAIL"
                msgs = msgs + [
                    f"PIN DISAGREEMENT: pandas canon={p_status} but "
                    f"agg canon={a_status}: {'; '.join(a_msgs)}"
                ]
            else:
                msgs = msgs + [f"agg-canon verdict agrees ({a_status})"]
        dt = time.time() - t0
        if sampled:
            msgs = msgs + [f"sampled-verify ({sampled})"]
        if status == "FAIL":
            print(f"FAIL {name} [{dt:.1f}s] {jobs_line(group)}")
            for m in msgs:
                print("   ", m)
            n_fail += 1
        elif status == "BUDGET":
            print(
                f"BDGT {name}: {'; '.join(msgs)} [{dt:.1f}s] "
                f"{jobs_line(group)}"
            )
        elif status == "ROWS_ONLY":
            print(
                f"----  {name}: rows-only: {'; '.join(msgs)} [{dt:.1f}s] "
                f"{jobs_line(group)}"
            )
        else:
            print(
                f"PASS {name} ({'; '.join(msgs)}) [{dt:.1f}s] "
                f"{jobs_line(group)}"
            )
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
