"""In-memory spans around the engine's public layer functions, and the
Spark event-log breakdown by operation.

A traced run installs wrappers from here; nothing in the engine is
edited. Every wrapped call records a span ``(name, start, end, parent,
op)``: ``parent`` is the enclosing span on the same thread, or the
current operation's span when the call comes from another thread (a
streaming ``foreachBatch`` callback); ``op`` is the operation id the
benchmark loop set. Counts (rows, files, bytes, retries) are recorded
at the same boundaries. Spans stay in memory and are written once at
exit.

Event-log jobs are attributed to operations by time interval (a job
belongs to the operation whose span contains the job's submission),
not by job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j: dict = defaultdict(lambda: [0, 0.0])  # op id -> [calls, s]
        self.counts: dict = defaultdict(float)           # layer counter totals
        self.op_counts: dict = defaultdict(lambda: defaultdict(float))
        self._local = threading.local()
        self._op: dict | None = None
        self._patched: list[tuple] = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------ ops

    def begin_op(self, kind: str) -> dict:
        op = {"id": len(self.ops), "kind": kind, "start": time.time(),
              "end": None, "span": None}
        self.ops.append(op)
        op["span"] = self._open(kind, op)
        self._op = op
        return op

    def end_op(self, op: dict) -> None:
        self._close(op["span"])
        op["end"] = time.time()
        self._op = None

    # ---------------------------------------------------------- spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, op: dict | None = None) -> int:
        op = op or self._op
        st = self._stack()
        if st:
            parent = st[-1]
        elif op is not None and op["span"] is not None:
            parent = op["span"]
        else:
            parent = None
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.time(),
                               "end": None, "parent": parent,
                               "op": op["id"] if op else None})
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n
            if self._op is not None:
                self.op_counts[self._op["id"]][key] += n

    # -------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, after=None,
             error=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(args, kwargs, result)`` and ``error(exc)`` record counts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            except Exception as e:
                if error is not None:
                    error(e)
                raise
            finally:
                tracer._close(idx)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    @contextlib.contextmanager
    def quiet(self):
        """py4j calls of this thread are not counted inside this scope (a
        harness wait on the JVM is not a bridge call of the engine)."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def wrap_py4j(self, conn_cls) -> None:
        orig = conn_cls.send_command
        tracer = self

        def send_command(conn, command):
            t0 = time.perf_counter()
            try:
                return orig(conn, command)
            finally:
                op = tracer._op
                # "m\n" memory commands release Python-side proxies when
                # Python's GC runs: their count follows GC timing, not the
                # engine's calls
                if (op is not None and not command.startswith("m\n")
                        and not getattr(tracer._local, "quiet", False)):
                    rec = tracer.py4j[op["id"]]
                    rec[0] += 1
                    rec[1] += time.perf_counter() - t0

        conn_cls.send_command = send_command
        self._patched.append((conn_cls, "send_command", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        payload = {"ops": self.ops, "spans": self.spans,
                   "self_time_s": layer_self_time(self.spans), **extra}
        with open(path, "w") as fh:
            json.dump(payload, fh)


# ---------------------------------------------------------------- math

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e > lo and s < hi]


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for i, sp in enumerate(spans):
        if sp["parent"] is not None:
            kids[sp["parent"]].append(i)
    out = []
    for i, sp in enumerate(spans):
        s, e = sp["start"], sp["end"]
        covered = union_length(clip(
            [(spans[k]["start"], spans[k]["end"]) for k in kids[i]], s, e))
        out.append((e - s) - covered)
    return out


def layer_of(name: str) -> str:
    """Span name -> layer: the name up to its last dot for function
    spans (``meta.store.commit`` -> ``meta.store``); op spans are their
    own layer (``op``)."""
    return name.rsplit(".", 1)[0] if "." in name else "op"


def layer_self_time(spans: list[dict]) -> dict:
    out: dict = defaultdict(float)
    for sp, st in zip(spans, self_times(spans)):
        out[layer_of(sp["name"])] += st
    return dict(out)


# ----------------------------------------------------------- event log

def read_event_log(evdir: str, app_id: str) -> list[dict]:
    """Events of one application, single-file or rolling (v2) layout."""
    v2 = os.path.join(evdir, "eventlog_v2_" + app_id)
    paths = []
    if os.path.isdir(v2):
        paths = [os.path.join(v2, f) for f in sorted(os.listdir(v2))
                 if f.startswith("events_")]
    else:
        for cand in (app_id, app_id + ".inprogress"):
            if os.path.exists(os.path.join(evdir, cand)):
                paths = [os.path.join(evdir, cand)]
                break
    events = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                events.append(json.loads(line))
    return events


# Spark 4.1 Python SQL metrics (pythonBootTime, pythonInitTime,
# pythonTotalTime, pythonDataSent, pythonDataReceived) by display name
PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}


def jobs_from_events(events: list[dict]) -> list[dict]:
    """One record per finished job: start/end (epoch s), task count,
    summed task GC ms and the Python worker metrics of its stages."""
    jobs: dict = {}
    stage_job: dict = {}
    for ev in events:
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            j = jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0, "end": None,
                "tasks": 0, "gc_ms": 0.0, "py": defaultdict(float)}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = j
        elif e == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"] / 1000.0
        elif e == "SparkListenerTaskEnd":
            j = stage_job.get(ev.get("Stage ID"))
            if j is not None:
                j["tasks"] += 1
                j["gc_ms"] += (ev.get("Task Metrics") or {}).get(
                    "JVM GC Time", 0)
        elif e == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            j = stage_job.get(info.get("Stage ID"))
            if j is None:
                continue
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    j["py"][key] += float(acc.get("Value") or 0)
    return [j for j in jobs.values() if j["end"] is not None]


def attribute_jobs(ops: list[dict], jobs: list[dict]) -> dict:
    """op id -> jobs whose submission falls inside that op's interval.
    Ops run one at a time, so the intervals do not overlap."""
    out = defaultdict(list)
    spans = sorted(((o["start"], o["end"], o["id"]) for o in ops
                    if o["end"] is not None))
    starts = [s for s, _, _ in spans]
    import bisect

    for j in jobs:
        i = bisect.bisect_right(starts, j["start"]) - 1
        if i >= 0 and j["start"] <= spans[i][1]:
            out[spans[i][2]].append(j)
    return out


def op_breakdown(op: dict, jobs: list[dict]) -> dict:
    """Jobs, summed job ms, gap ms (op time covered by no job), tasks and
    GC ms of one operation."""
    s, e = op["start"], op["end"]
    ivs = clip([(j["start"], j["end"]) for j in jobs], s, e)
    covered = union_length(ivs)
    return {
        "jobs": len(jobs),
        "job_ms": 1000.0 * sum(j["end"] - j["start"] for j in jobs),
        "gap_ms": 1000.0 * ((e - s) - covered),
        "tasks": sum(j["tasks"] for j in jobs),
        "gc_ms": sum(j["gc_ms"] for j in jobs),
    }
