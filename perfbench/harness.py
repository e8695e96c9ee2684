"""Measurement plumbing shared by the workloads: spans, Spark job groups,
event-log parsing, memory and disk readings.

Every measurement here is taken from outside the program: the
benchmark wraps calls into the program's public functions, sets Spark
job groups around them, and reads what Spark and the operating system
record. Nothing in the program is changed to be measured.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request_id: str | None = None
    job_group: str | None = None


@dataclass
class Tracer:
    """Spans around calls into the program's layers, kept in memory.

    Disabled, ``span`` only yields; the untraced run pays nothing but a
    context manager. Enabled, each span also sets a Spark job group so
    the event log can attribute jobs, stages and tasks to it.
    """

    enabled: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, time.time(),
            parent=parent.span_id if parent else None,
            request_id=request_id or (parent.request_id if parent else None),
        )
        sp.job_group = f"perfbench-{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sp.job_group, name, interruptOnCancel=False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self._stack[-1]
                    sc.setJobGroup(outer.job_group, outer.name, interruptOnCancel=False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.span_id: (s.end - s.start)
            - _covered([(c.start, c.end) for c in kids.get(s.span_id, [])], s.start, s.end)
            for s in self.spans
        }

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [{**s.__dict__, "self_s": st[s.span_id]} for s in self.spans], f, indent=0
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log


@dataclass
class StageStats:
    stage_id: int
    n_tasks: int
    submit_s: float
    complete_s: float
    failed_tasks: int
    acc: dict[str, float]


class EventLog:
    """Spark's JSON event log, read once: jobs with their job group,
    submission time and stages, and every completed stage attempt with
    its accumulables.

    A job is credited to the span whose job group it carries. A job
    without one of the benchmark's groups is credited to the innermost
    span open when it was submitted: Structured Streaming runs a
    query's micro-batches on its own thread under its own job group
    (the query's run id), so the jobs of ``vector_store_ingest_stream``
    never carry the group of the span around the call.
    """

    def __init__(self, log_dir: str, spans: list[Span]) -> None:
        job_group: dict[int, str | None] = {}
        job_submit: dict[int, float] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stages: list[StageStats] = []
        failed: dict[int, int] = {}
        files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                 if os.path.isfile(p)]
        for path in sorted(files):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
                        job_submit[ev["Job ID"]] = (ev.get("Submission Time") or 0) / 1000.0
                        self.job_stages[ev["Job ID"]] = list(ev.get("Stage IDs") or [])
                    elif kind == "SparkListenerStageCompleted":
                        self.stages.append(_stage(ev["Stage Info"]))
                    elif kind == "SparkListenerTaskEnd":
                        reason = (ev.get("Task End Reason") or {}).get("Reason")
                        if reason and reason != "Success":
                            failed[ev["Stage ID"]] = failed.get(ev["Stage ID"], 0) + 1
        for st in self.stages:
            st.failed_tasks = failed.get(st.stage_id, 0)
        # job id -> id of the span it ran under (every span of the run), or None
        by_group = {s.job_group: s.span_id for s in spans}
        self.job_span: dict[int, int | None] = {}
        for job, group in job_group.items():
            if group in by_group:
                self.job_span[job] = by_group[group]
                continue
            open_ = [s for s in spans if s.start <= job_submit[job] <= s.end]
            self.job_span[job] = max(open_, key=lambda s: s.start).span_id if open_ else None

    def jobs(self, spans: list[Span]) -> int:
        """Jobs credited to ``spans``."""
        ids = {s.span_id for s in spans}
        return sum(1 for sid in self.job_span.values() if sid in ids)

    def layer_metrics(self, spans: list[Span]) -> dict[str, tuple]:
        """Spark scheduling numbers for the jobs of ``spans``."""
        ids = {s.span_id for s in spans}
        stage_ids = {
            sid for j, span_id in self.job_span.items() if span_id in ids
            for sid in self.job_stages.get(j, [])
        }
        done = [st for st in self.stages if st.stage_id in stage_ids]
        top = [s for s in spans if s.parent not in ids]
        wall = sum(s.end - s.start for s in top)
        cover = sum(
            _covered([(st.submit_s, st.complete_s) for st in done], s.start, s.end)
            for s in top
        )

        def acc(name: str) -> float:
            return sum(st.acc.get(name, 0.0) for st in done)

        return {
            "spark.jobs": (self.jobs(spans), "count", 1),
            "spark.stages": (len(done), "count", 1),
            "spark.tasks": (sum(st.n_tasks for st in done), "count", 1),
            "spark.failed_tasks": (sum(st.failed_tasks for st in done), "count", 1),
            "spark.stage_s": (sum(st.complete_s - st.submit_s for st in done), "s", 1),
            "spark.executor_cpu_s": (acc("internal.metrics.executorCpuTime") / 1e9, "s", 1),
            "spark.driver_gap_s": (wall - cover, "s", 1),
            "spark.shuffle_write_bytes": (
                acc("internal.metrics.shuffle.write.bytesWritten"), "bytes", 1),
            "spark.python_worker_bytes": (
                acc("data sent to Python workers") + acc("data returned from Python workers"),
                "bytes", 1),
        }


def _stage(info: dict) -> StageStats:
    acc: dict[str, float] = {}
    for a in info.get("Accumulables") or []:
        try:
            acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return StageStats(
        info["Stage ID"], info.get("Number of Tasks", 0),
        (info.get("Submission Time") or 0) / 1000.0,
        (info.get("Completion Time") or 0) / 1000.0, 0, acc,
    )


# --------------------------------------------------------- system state


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the Spark driver JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; Spark's .crc side files count too,
    since they are bytes the program leaves on disk."""
    total = n = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
            n += 1
    return total, n


def source_hash() -> str:
    """Content hash of the program and benchmark sources. The run
    checkout is not a git repository, so this stands in for the tree
    hash: sha256 over (relative path, file sha256) of every .py file
    under the package, the benchmark and tests/oracle_harness.py."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "insurance_helper_spark", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
        + [os.path.join(ROOT, "tests", "oracle_harness.py")]
    )
    h = hashlib.sha256()
    for p in files:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
