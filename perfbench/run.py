"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload granule_days --seed 1 --seconds 1 --trace 0

Run from the repository root. The engine is imported from the checkout
(``ncagg_spark/`` beside this directory); inputs, outputs and Spark's
scratch space live under ``.perfbench_work/`` in the checkout and are
deleted when the run ends.

``--trace 0`` measures the end-to-end metrics: setup time, records per
second (median over the measured runs), peak RSS, output bytes per
input byte and the share of runs that succeeded. Runs start right after
setup, with no warm-up, and repeat until ``--seconds`` have passed; the
first is always made. So at ``--seconds 1`` (BENCHMARK.json) an
invocation measures exactly one run, the cold first run of a fresh
process, as a command-line user gets it. ``--trace 1`` makes one
untraced run, then the same run again with spans around the engine's
public calls, and prints the per-layer metrics instead. The last stdout
line is the result JSON; see perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# an invocation starts no run after this many seconds (the first
# measured run is made whatever the time)
DEADLINE_S = 120
DRIVER_MEM = "3g"

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.failed_tasks",
    "driver.no_job_s",
)
LAYER_METRICS = (
    "sources.granules.read_s",
    "sources.granules.files",
    "sources.scan.s",
    "sources.scan.input_bytes",
    "sources.scan.records",
    "sources.nc_granules.header_probe_s",
    "sources.nc_granules.decode_s",
    "sources.nc_granules.export_s",
    "sources.nc_granules.export_driver_s",
    "sources.nc_granules.export_jobs",
    "sources.nc_granules.export_bytes",
    "plans.manifest_s",
    "plans.manifest_jobs",
    "operators.regularize_build_s",
    "operators.eager_jobs",
    "operators.s",
    "operators.shuffle_write_bytes",
    "operators.duplicates_dropped",
    "operators.invalid_dropped",
    "operators.fills_added",
    "sources.writer.s",
    "sources.writer.files",
    "sources.writer.output_bytes",
    "pipeline.dedup.signatures_s",
    "pipeline.dedup.pairs_s",
    "pipeline.dedup.cc_s",
    "pipeline.dedup.cc_jobs",
    "pipeline.dedup.pairs",
    "pipeline.dedup.pairs_per_doc",
    "pipeline.dedup.pairs_per_shuffle_record",
    "pipeline.dedup.survivors",
    "pipeline.similarity.train_s",
    "pipeline.similarity.train_jobs",
    "pipeline.similarity.index_s",
    "pipeline.similarity.search_s",
    "pipeline.similarity.recall_at_k",
    "trace.overhead_s",
)


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("per_doc") or name.endswith("record") or name.endswith("at_k"):
        return "ratio"
    return "count"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Spark settings the benchmark fixes from outside the engine."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.chdir(work)


def start_session():
    """Fresh-process setup: import, get_spark(cpus=nproc), one trivial
    job. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from ncagg_spark.session import get_spark

    # the whole heap is committed at start, so the JVM's RSS does not
    # depend on when G1 decides to grow the heap (peaks then moved by up
    # to 30% between runs of one workload)
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus(),
        extra_conf={"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}"},
    )
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM and the JVM's Python workers
    have exited (workers that outlive the JVM by 10 s are killed)."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        time.sleep(0.1)
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
    for pid in workers:
        os.kill(pid, signal.SIGKILL)


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


class Loop:
    """Closed loop: one client, one run at a time, each run checked."""

    def __init__(self, wl, spark, truth, out_dir: str):
        self.wl, self.spark, self.truth, self.out_dir = wl, spark, truth, out_dir
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.out_bytes: list[int] = []
        self.peaks: list[int] = []  # per run, when an RssSampler is set
        self.rss = None

    def once(self, fn=None) -> float | None:
        """One run (``fn`` or the workload's own), then its check.
        Returns the run's wall seconds, or None if it failed."""
        from workloads import tree_bytes

        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        self.attempted += 1
        # every run starts from a collected heap, so its RSS peak does not
        # depend on how far earlier runs grew the heap
        self.spark.sparkContext._jvm.System.gc()
        try:
            if self.rss:
                self.rss.reset()
            t0 = time.perf_counter()
            (fn or (lambda: self.wl.run(self.spark, self.truth, self.out_dir)))()
            wall = time.perf_counter() - t0
            peak = self.rss.peak() if self.rss else 0
            bad = self.wl.check(self.truth, self.out_dir)
        except Exception:
            log(traceback.format_exc())
            bad = ["raised"]
        if bad:
            self.failed += 1
            log(f"run {self.attempted} failed its check: {bad}")
            return None
        log(f"run {self.attempted}: {wall:.3f} s")
        self.walls.append(wall)
        self.peaks.append(peak)
        self.out_bytes.append(tree_bytes(self.out_dir))
        return wall


def measure(wl, spark, truth, out_dir, seconds, started, setup_s) -> dict:
    from pyspark import SparkContext

    from spans import RssSampler

    loop = Loop(wl, spark, truth, out_dir)
    with RssSampler(SparkContext._gateway.proc.pid) as loop.rss:
        t0 = time.perf_counter()
        while loop.attempted == 0 or (
            time.perf_counter() - t0 < seconds
            and time.perf_counter() - started < DEADLINE_S
        ):
            loop.once()
    ok = bool(loop.walls)
    wall = statistics.median(loop.walls) if ok else float("nan")
    out_b = statistics.median(loop.out_bytes) if ok else 0
    metrics = {
        "setup_s": (setup_s, "s"),
        "records_per_s": (truth.input_records / wall if ok else 0.0, "records/s"),
        "peak_rss_mb": (
            statistics.median(loop.peaks) / 2**20 if ok else 0.0, "MiB"
        ),
        "output_bytes_per_input_byte": (out_b / truth.input_bytes, "ratio"),
        "success_rate": (1 - loop.failed / loop.attempted, "ratio"),
    }
    log(
        f"{wl.name}: {len(loop.walls)} measured runs, median wall "
        f"{wall:.3f} s over {truth.input_records} input records"
    )
    for name, (v, u) in metrics.items():
        print(f"{name} = {v:.6g} {u}")
    print(f"error_rate = {loop.failed / loop.attempted:.6g} ratio")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced(wl, spark, truth, out_dir, run_id) -> dict:
    from spans import Tracer, busy_seconds

    loop = Loop(wl, spark, truth, out_dir)
    # the cold first run, untraced (checked and counted like any run), so
    # that the traced run and its prefix decompositions all run warm
    loop.once()
    tracer = Tracer(spark, run_id)
    layer: dict = {}
    loop.once(lambda: layer.update(wl.trace(spark, truth, out_dir, tracer)))
    m: dict[str, float] = dict.fromkeys(SPARK_METRICS + LAYER_METRICS, 0.0)
    if tracer.runs:
        windows = [(r.wall_start * 1000, r.wall_end * 1000) for r in tracer.runs]
        jobs = [
            j
            for j in tracer.store.jobs()
            if any(lo <= j["submissionTime"] <= hi for lo, hi in windows)
        ]
        st = tracer.store.stage_totals(jobs)
        m.update(
            {
                "spark.jobs": len(jobs),
                "spark.stages": st["stages"],
                "spark.tasks": st["numTasks"],
                "spark.executor_run_s": st["executorRunTime"] / 1e3,
                "spark.executor_cpu_s": st["executorCpuTime"] / 1e9,
                "spark.gc_s": st["jvmGcTime"] / 1e3,
                "spark.shuffle_write_bytes": st["shuffleWriteBytes"],
                "spark.shuffle_read_bytes": st["shuffleReadBytes"],
                "spark.spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                "spark.failed_tasks": st["numFailedTasks"],
                "driver.no_job_s": sum(
                    r.duration - busy_seconds(jobs, lo, hi)
                    for r, (lo, hi) in zip(tracer.runs, windows)
                ),
                "trace.overhead_s": tracer.overhead_s,
            }
        )
        log(json.dumps([s.as_dict() for s in tracer.spans]))
    m.update(layer)
    for name in LAYER_METRICS + SPARK_METRICS:
        print(f"{name} = {m[name]:.6g} {unit_of(name)}")
    return {
        "correct": loop.failed == 0 and bool(layer),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()
        },
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ncagg_spark")):
        log(f"no engine to benchmark: {ROOT}/ncagg_spark is missing")
        return 2
    sys.path.insert(0, ROOT)

    import numpy as np

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    started = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        pin_environment(work)
        load0 = os.getloadavg()
        truth = wl.generate(np.random.default_rng(args.seed), os.path.join(work, "in"))
        log(
            f"{wl.name}: generated {truth.input_records} records, "
            f"{truth.input_bytes} bytes in {time.perf_counter() - started:.1f} s"
        )
        spark, setup_s = start_session()
        env = environment(spark)
        out_dir = os.path.join(work, "out")
        if args.trace:
            result = traced(wl, spark, truth, out_dir, f"{wl.name}-{args.seed}")
        else:
            result = measure(
                wl, spark, truth, out_dir, args.seconds, started, setup_s
            )
        env["loadavg_start"] = load0
        env["loadavg_end"] = os.getloadavg()
        print("env " + json.dumps(env))
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
