"""Measurement primitives: spans, process-tree CPU and memory from
/proc, host noise probes, Spark's per-job-group counters from the local
UI REST API, and the sample rules the runner reports by."""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.error
import urllib.request
import uuid
from dataclasses import dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RESULT_KEYS = ("correct", "attempted", "failed", "metrics")


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail_percentile(n: int, ladder=(99, 95, 90, 75, 50),
                    min_beyond: int = 10) -> int | None:
    """Highest percentile in ``ladder`` with at least ``min_beyond`` of
    ``n`` samples above it; None when even the median has fewer."""
    for p in ladder:
        if n * (100 - p) / 100 >= min_beyond:
            return p
    return None


def percentile(xs: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[k]


# --- spans ---------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing, so
    the untraced run pays only a context-manager call per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def to_json(self) -> list[dict]:
        """Finished spans, each with its self time."""
        spans = [
            {"run_id": self.run_id, "id": s.span_id, "parent": s.parent,
             "name": s.name, "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans if s.end is not None
        ]
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in spans:
            s["self_s"] = self_time(s, kids.get(s["id"], []))
        return spans


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(len(t.spans), self.name, parent,
                             time.perf_counter(), attrs=dict(self.attrs))
            t.spans.append(self.span)
            t._stack.append(self.span.span_id)
        return self

    def set(self, **attrs) -> None:
        if self.span is not None:
            self.span.attrs.update(attrs)

    def __exit__(self, *exc):
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()
        return False


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover (children
    may overlap, e.g. work on a second Python thread)."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


# --- /proc ---------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime+stime plus reaped children's time over the process tree:
    a worker that exits between two reads moves its time into its
    parent's cutime, so differences stay whole."""
    total = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (per-process peak resident set) over ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def jvm_pids(pids: list[int]) -> list[int]:
    """The java processes among ``pids``."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            continue
    return out


def host_cpu_s() -> tuple[float, float]:
    """System-wide (busy, steal) CPU seconds since boot: busy is all but
    idle and iowait; steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (sum(vals) - vals[3] - vals[4]) / _TICK, vals[7] / _TICK


def spin_s(n: int = 1_000_000) -> float:
    """Wall time of a fixed single-threaded loop: a clock-throttle and
    CPU-steal probe that no code change can move."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    if x < 0:
        raise AssertionError
    return time.perf_counter() - t0


# --- Spark UI REST counters ----------------------------------------------

STAGE_SUMS = {
    # metric -> (stage field, scale to the metric's unit)
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
}
_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "FAILED", "SKIPPED"}


class SparkCounters:
    """Reads jobs and stages of one application from the local UI REST
    API. Spark keeps only the latest 1000 jobs and stages, so callers
    read after every operation, never once at the end."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1].rstrip("/")
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.tracker = sc.statusTracker()
        self.last_job = -1
        self.mark()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _jobs_raw(self) -> list[dict]:
        return self._get("/jobs")

    def _stage(self, sid: int) -> list[dict]:
        """Attempts of one stage; none when the store no longer (or
        never) held it."""
        try:
            return self._get(f"/stages/{sid}?details=false")
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return []
            raise

    def mark(self) -> None:
        """Forget every job started so far."""
        self.last_job = max((j["jobId"] for j in self._jobs_raw()),
                            default=self.last_job)

    def collect(self, groups: list[str], timeout: float = 5.0) -> dict:
        """Counters of every job started since the previous call, by
        job group; waits until the listener has recorded each of them
        as finished and agrees with the status tracker's group count."""
        want = {g: len(self.tracker.getJobIdsForGroup(g)) for g in groups}
        deadline = time.perf_counter() + timeout
        while True:
            jobs = [j for j in self._jobs_raw() if j["jobId"] > self.last_job]
            by_group = {g: [j for j in jobs if j.get("jobGroup") == g]
                        for g in groups}
            settled = (all(j["status"] in _DONE_JOB for j in jobs)
                       and all(len(by_group[g]) == want[g] for g in groups))
            if settled or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for _ in range(int(timeout / 0.01)):
                attempts = self._stage(sid)
                if all(a["status"] in _DONE_STAGE for a in attempts):
                    break
                time.sleep(0.01)
            stages += [a for a in attempts if a["status"] != "SKIPPED"]
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(a["numCompleteTasks"] for a in stages),
            "jobs_by_group": {g: len(v) for g, v in by_group.items()},
            "jobs_unattributed": len(jobs) - sum(len(v) for v in
                                                 by_group.values()),
            "tracker_jobs_by_group": want,
            "settled": settled,
        }
        for metric, (fld, scale) in STAGE_SUMS.items():
            out[metric] = sum(a.get(fld, 0) for a in stages) * scale
        return out
