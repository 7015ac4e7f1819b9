"""Measurement plumbing for the benchmark: spans, call wrappers, the Spark
event-log fold, a streaming-query listener and a /proc RSS sampler.

Spans are kept in memory and written out when the run ends. In a traced
run every span also sets the calling thread's Spark job group to
``span-<id>``, so each Spark job in the event log maps to the innermost
span that submitted it; jobs with any other group (streaming queries set
their own, package thread pools set none) are attributed to spans by
time overlap and also summed as ``unattributed_task_s``.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "span-"


class Spans:
    """In-memory span recorder. With ``on=False`` every call is a no-op."""

    def __init__(self, on: bool):
        self.on = on
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @staticmethod
    def _set_group(rec: dict | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        """Record a span. ``root=True`` marks an op; a parentless span that
        is not a root (a call from a package thread pool) has no op."""
        if not self.on:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else (sid if root else None),
            "name": name,
            "thread": threading.get_ident(),
            "t0": time.time(),
            **attrs,
        }
        stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.records.append(rec)

    # -- wrappers ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> bool:
        """Replace ``owner.attr`` with a span-recording wrapper, and every
        ``from … import`` alias of it in loaded modules. ``before(rec,
        args, kwargs)`` returns the (args, kwargs) to call with and
        ``after(rec, result)`` may annotate the span. Returns False when
        the attribute does not exist."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return False

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                if before is not None:
                    args, kwargs = before(rec, args, kwargs)
                result = orig(*args, **kwargs)
                if after is not None:
                    after(rec, result)
                return result

        rebind(owner, attr, orig, wrapper)
        return True


def rebind(owner, attr: str, orig, new) -> None:
    """Set ``owner.attr = new`` and rebind module-level aliases of ``orig``."""
    setattr(owner, attr, new)
    if isinstance(owner, type):
        return
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if not d or mod is owner:
            continue
        for k, v in list(d.items()):
            if v is orig:
                setattr(mod, k, new)


# -- streaming listener ------------------------------------------------------


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self):
        super().__init__()
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        states = p.stateOperators or []
        rec = {
            "t": time.time(),
            "run_id": str(p.runId),
            "input_rows": int(p.numInputRows),
            "duration_ms": {k: int(v) for k, v in (p.durationMs or {}).items()},
            "state_rows": sum(int(s.numRowsTotal) for s in states),
            "state_memory_bytes": sum(int(s.memoryUsedBytes) for s in states),
            "state_commit_ms": sum(int(s.commitTimeMs) for s in states),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no progress event arrived for ``quiet_s`` (events
        are delivered asynchronously after a query returns)."""
        end = time.time() + limit_s
        seen = -1
        while time.time() < end and seen != len(self.batches):
            seen = len(self.batches)
            time.sleep(quiet_s)


# -- RSS sampler ---------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, int]]:
    """(children by parent pid, RSS bytes by pid, CPU ticks by pid) from
    /proc; a process's CPU ticks include those of its reaped children."""
    kids: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        kids[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * _PAGE
        cpu[pid] = sum(int(f) for f in fields[11:15])  # utime, stime, cutime, cstime
    return kids, rss, cpu


def descendants(root: int) -> list[int]:
    kids, _, _ = _proc_table()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _tree_sum(root: int, per_pid: dict[int, int], kids: dict[int, list[int]]) -> int:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += per_pid.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    kids, rss, _ = _proc_table()
    return _tree_sum(root, rss, kids)


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants (the
    driver Python, the JVM and the Python workers)."""
    kids, _, cpu = _proc_table()
    return _tree_sum(root, cpu, kids) / _TICK


class RssSampler:
    """Background thread tracking the peak summed RSS of this process tree."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# -- event-log fold --------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """(jobs, stage -> first job, tasks by stage) from every log in ``log_dir``."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    tasks: dict[tuple, list] = defaultdict(list)
    for fname in sorted(os.listdir(log_dir)):
        app = fname
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": [(app, s) for s in ev.get("Stage IDs", [])],
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault((app, s), key)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tasks[(app, ev["Stage ID"])].append(
                        {
                            "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "py_sent": _as_int(acc.get(_PY_SENT)),
                            "py_returned": _as_int(acc.get(_PY_RETURNED)),
                        }
                    )
    return jobs, stage_job, tasks


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per root (op) span: Spark engine totals of every job it caused."""
    jobs, stage_job, tasks = _read_event_log(log_dir)
    by_id = {s["id"]: s for s in spans}
    roots = sorted((s for s in spans if s["op"] == s["id"]), key=lambda s: s["t0"])
    starts = [s["t0"] for s in roots]
    out = {
        r["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                  "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "py_sent": 0,
                  "py_returned": 0, "unattributed_task_s": 0.0, "skew": 1.0, "_iv": [],
                  "_slowest": 0.0}
        for r in roots
    }

    def overlap_root(t0: float, t1: float):
        i = bisect.bisect_right(starts, t1) - 1
        best, best_ov = None, 0.0
        for r in roots[max(0, i - 4): i + 1]:
            ov = min(t1, r["t1"]) - max(t0, r["t0"])
            if ov > best_ov:
                best, best_ov = r, ov
        return best

    for job in jobs.values():
        t1 = job["t1"] if job["t1"] is not None else job["t0"]
        group = job["group"] or ""
        own = by_id.get(int(group[len(GROUP_PREFIX):])) if group.startswith(GROUP_PREFIX) else None
        if own is not None and own["op"] is None:
            own = None  # a span outside any op: attribute by time instead
        root = by_id[own["op"]] if own is not None else overlap_root(job["t0"], t1)
        if root is None or root["id"] not in out:
            continue
        acc = out[root["id"]]
        acc["jobs"] += 1
        acc["_iv"].append((job["t0"], t1))
        for st in job["stages"]:
            if stage_job.get(st) is not None and jobs.get(stage_job[st]) is not job:
                continue  # a stage shared by two jobs counts for its first job
            ts = tasks.get(st, [])
            if not ts:
                continue
            acc["stages"] += 1
            acc["tasks"] += len(ts)
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write", "spill",
                      "py_sent", "py_returned"):
                acc[k] += sum(t[k] for t in ts)
            if own is None:
                acc["unattributed_task_s"] += sum(t["run_s"] for t in ts)
            durs = [t["dur_s"] for t in ts]
            if sum(durs) > acc["_slowest"]:
                acc["_slowest"] = sum(durs)
                med = statistics.median(durs)
                acc["skew"] = max(durs) / med if med > 0 else 1.0
    for r in roots:
        acc = out[r["id"]]
        acc["driver_gap_s"] = max(0.0, (r["t1"] - r["t0"]) - _union_s(
            [(max(a, r["t0"]), min(b, r["t1"])) for a, b in acc.pop("_iv") if b > r["t0"] and a < r["t1"]]
        ))
        acc.pop("_slowest")
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - _union_s(kids.get(s["id"], [])) for s in spans}
