"""Measurement plumbing shared by every workload: op accounting, summary
statistics, process-tree memory sampling and the span tracer.

Nothing here imports Spark at module load; the tracer talks to a live
SparkContext only through the object handed to it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


# -- op accounting ----------------------------------------------------------

@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    error: str | None = None
    result: object = None


@dataclass
class OpLog:
    """Every op the benchmark attempts, failed ones included. An op that
    raises is recorded as failed with its exception class and the run goes
    on; a later failed output check marks the op failed too."""

    ops: list[Op] = field(default_factory=list)

    def run(self, kind: str, fn, *args, **kwargs) -> Op:
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — a failed op is data, not a crash
            op = Op(kind, t0, time.perf_counter(), False, f"{type(exc).__name__}: {exc}"[:300])
            traceback.print_exc(file=sys.stderr)
        else:
            op = Op(kind, t0, time.perf_counter(), True, result=result)
        self.ops.append(op)
        return op

    @staticmethod
    def fail(op: Op, reason: str) -> None:
        op.ok = False
        op.error = reason[:300]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    def by_kind(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for o in self.ops:
            d = out.setdefault(o.kind, {"attempted": 0, "failed": 0, "ok_s": [], "errors": set()})
            d["attempted"] += 1
            if o.ok:
                d["ok_s"].append(o.end - o.start)
            else:
                d["failed"] += 1
                d["errors"].add((o.error or "").split(":")[0])
        for d in out.values():
            d["p50_s"] = statistics.median(d["ok_s"]) if d["ok_s"] else None
            d["errors"] = sorted(d["errors"])
            del d["ok_s"]
        return out


# -- summary statistics -----------------------------------------------------

def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile, sample count). Below 21 samples that percentile is
    not above the median, so the maximum is reported, labelled 100."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return s[-1], 100.0, n
    k = n - 11  # ten samples strictly above index k
    return s[k], round(100.0 * (k + 1) / n, 1), n


# -- memory -----------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _proc_kb(pid: int, name: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _mem_kb(pid: int) -> int:
    """Resident memory of one process. Python processes count their
    proportional set (PSS): the workers are forks of one daemon, and plain
    RSS would count the pages they share once per worker. The JVM shares
    nothing with them, so its RSS is its PSS; reading its PSS would walk a
    multi-GB address space under the JVM's memory-map lock on every sample."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return 0
    if comm.startswith("python"):
        return _proc_kb(pid, "smaps_rollup", "Pss:")
    return _proc_kb(pid, "status", "VmRSS:")


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver JVM
    and the Python workers it forks), from /proc."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _mem_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background sampler of :func:`tree_rss_mb` for this process; ``peak``
    is the largest sum seen. Use as a context manager."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))


# -- tracing ----------------------------------------------------------------

@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op: str
    start: float  # epoch seconds
    end: float = 0.0
    on_path: bool = True
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Each span tags the Spark jobs its thread submits with a job group named
    after the span id. Jobs submitted from other threads (the pipeline's
    commit pools, the stream execution thread) carry no group and are
    attributed to the innermost span open at their submission time. Stage
    counters come from Spark's status REST API, read once at the end."""

    def __init__(self, sc, cores: int):
        self.sc = sc
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, op: str, on_path: bool = True):
        return _SpanCtx(self, name, op, on_path)

    # -- attribution ---------------------------------------------------------
    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    @staticmethod
    def _ts(s: str) -> float:
        return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
            tzinfo=timezone.utc
        ).timestamp()

    def _owner(self, job: dict, by_id: dict[str, Span]) -> Span | None:
        if job.get("jobGroup") in by_id:
            return by_id[job["jobGroup"]]
        t = self._ts(job["submissionTime"])
        inner = [s for s in self.spans if s.start <= t <= s.end]
        return min(inner, key=lambda s: s.dur) if inner else None

    def collect_spark(self) -> None:
        """Fill each span's ``spark`` counters from its jobs' completed stages."""
        deadline = time.time() + 10
        while time.time() < deadline:
            jobs = self._get("jobs")
            if not any(j["status"] == "RUNNING" for j in jobs):
                break
            time.sleep(0.2)
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("stages")
            if s["status"] == "COMPLETE"
        }
        for s in self.spans:
            s.spark = {"executor_run_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
                       "shuffle_write_bytes": 0, "task_count": 0, "stages": []}
        assigned: set = set()
        by_id = {s.id: s for s in self.spans}
        for job in jobs:
            owner = self._owner(job, by_id)
            if owner is None:
                continue
            for (sid, att), st in stages.items():
                if sid not in job["stageIds"] or (sid, att) in assigned:
                    continue
                assigned.add((sid, att))
                sp = owner.spark
                sp["stages"].append(sid)
                sp["executor_run_s"] += st["executorRunTime"] / 1000.0
                sp["gc_s"] += st["jvmGcTime"] / 1000.0
                sp["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                sp["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                sp["task_count"] += st["numCompleteTasks"]
        for s in self.spans:
            wall = max(s.dur, 1e-9)
            s.spark["core_busy_share"] = s.spark["executor_run_s"] / (wall * self.cores)

    def task_skew(self, span: Span) -> float:
        """Longest task over median task run time across the span's stages."""
        durs = []
        for sid in span.spark.get("stages", []):
            for att in self._get(f"stages/{sid}"):
                if att["status"] != "COMPLETE":
                    continue
                tasks = self._get(f"stages/{sid}/{att['attemptId']}/taskList?length=100000")
                durs += [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]
        if not durs:
            return 0.0
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else float(max(durs))

    # -- reduction -----------------------------------------------------------
    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it covered by its child spans."""
        kids = sorted(
            ((c.start, c.end) for c in self.spans if c.parent == span.id), key=lambda x: x[0]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, "self_s": self.self_time(s),
                "on_path": s.on_path, "counts": s.counts, "spark": s.spark,
                "error": s.error,
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str, on_path: bool):
        self.t, self.name, self.op, self.on_path = tracer, name, op, on_path

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1].id if t._stack else None
        s = Span(f"span-{len(t.spans)}", self.name, parent, self.op, time.time(), on_path=self.on_path)
        t.spans.append(s)
        t._stack.append(s)
        t.sc.setJobGroup(s.id, self.name, interruptOnCancel=False)
        self.span = s
        return s

    def __exit__(self, exc_type, exc, tb) -> None:
        t = self.t
        self.span.end = time.time()
        if exc is not None:
            self.span.error = f"{exc_type.__name__}: {exc}"[:300]
        t._stack.pop()
        if t._stack:
            t.sc.setJobGroup(t._stack[-1].id, t._stack[-1].name, interruptOnCancel=False)
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
