"""Measurement helpers: spans around calls into the engine's public
functions, Spark status-store readers and a /proc RSS sampler.

Spans are recorded from outside the engine: ``Tracer.wrap`` replaces a
module attribute (for example ``ncagg_spark.api.regularize``) with a
wrapper for the duration of one traced run, so no engine file changes.
Each span labels the Spark jobs it starts with its own job group; when
the span closes, the tracer waits for Spark's listener bus to drain and
reads those jobs' stage metrics from the status store.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

# stage-metric fields summed per span / per run (status store StageData)
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
)


class StatusStore:
    """Reads job and stage data from the live Spark status store as
    JSON (one py4j call per job or stage)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    def drain(self) -> None:
        """Wait until every posted listener event reached the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(self._store.jobsList(None))
        )

    def stage_attempts(self, stage_id: int) -> list[dict]:
        seq = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        )
        return json.loads(self._mapper.writeValueAsString(seq))

    def group_jobs(self, group: str) -> list[dict]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        return [
            json.loads(self._mapper.writeValueAsString(self._store.job(j)))
            for j in ids
        ]

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sum STAGE_FIELDS over every stage attempt the jobs ran
        (skipped stages ran nothing and read as zeros)."""
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["stages"] = 0
        seen: set[int] = set()
        for job in jobs:
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self.stage_attempts(sid):
                    if st["status"] == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    for f in STAGE_FIELDS:
                        tot[f] += st[f]
        return tot


def busy_seconds(jobs: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] during which at least one job ran."""
    spans = sorted(
        (max(j["submissionTime"], t0_ms), min(j["completionTime"], t1_ms))
        for j in jobs
        if j.get("completionTime") and j.get("submissionTime")
    )
    busy, end = 0.0, t0_ms
    for s, e in spans:
        if e <= end:
            continue
        busy += e - max(s, end)
        end = e
    return busy / 1000.0


@dataclass
class Span:
    name: str
    run_id: str
    parent: Span | None
    group: str
    start: float = 0.0
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, to compare with job times
    wall_end: float = 0.0
    jobs: list[dict] = field(default_factory=list)
    stages: dict[str, float] = field(default_factory=dict)
    children: list[Span] = field(default_factory=list)
    args: tuple = ()
    result: object = None

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, cursor = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return self.duration - covered

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "run_id": self.run_id,
            "parent": self.parent.name if self.parent else None,
            "start": self.start,
            "end": self.end,
            "self_s": self.self_time,
            "jobs": len(self.jobs),
            **{f"stage.{k}": v for k, v in self.stages.items()},
        }


class Tracer:
    """Spans for one traced run, kept in memory until the run ends."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.run_id = run_id
        self.spans: list[Span] = []
        # spans that time a workload's job (not its prefix decompositions)
        self.runs: list[Span] = []
        # seconds the tracer's own bookkeeping added inside those spans
        self.overhead_s = 0.0
        # find() looks only at spans from this index on
        self.base = 0
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, run: bool = False):
        """A span around the block; ``run=True`` marks it as the timed
        job whose jobs and wall the run-level metrics cover."""
        t_open = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        in_run = any(s in self.runs for s in self._stack)
        sp = Span(name, self.run_id, parent, f"{self.run_id}/{len(self.spans)}/{name}")
        self.spans.append(sp)
        if run:
            self.runs.append(sp)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.wall_start, sp.start = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_end, sp.end = time.time(), time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.store.drain()
            sp.jobs = self.store.group_jobs(sp.group)
            sp.stages = self.store.stage_totals(sp.jobs)
            if in_run:
                self.overhead_s += (sp.start - t_open) + (time.perf_counter() - sp.end)

    def wrap(self, module, attr: str, name: str, patches: list) -> None:
        """Route ``module.attr`` through a span named ``name``; the
        original is recorded in ``patches`` for ``restore``."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                sp.args = args
                sp.result = fn(*args, **kwargs)
                return sp.result

        patches.append((module, attr, fn))
        setattr(module, attr, traced)

    @staticmethod
    def restore(patches: list) -> None:
        for module, attr, fn in reversed(patches):
            setattr(module, attr, fn)
        patches.clear()

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans[self.base :] if s.name == name]


# ---------------------------------------------------------------------------
# resident memory of the driver and its Python workers, from /proc
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of process ``root``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` plus every descendant process."""
    return sum(_rss_bytes(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """Samples the RSS of process ``root`` and its descendants (the Spark
    driver JVM and its Python workers) every ``period`` seconds on a
    background thread; ``peak()`` is the largest sample since the last
    ``reset()``."""

    def __init__(self, root: int, period: float = 0.25):
        self.root = root
        self.period = period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak(self) -> int:
        with self._lock:
            return self._peak
