"""Traced-run instrumentation, all from outside the program.

- :class:`Tracer` wraps calls into the program's public functions at
  runtime and records a span per call (name, start, end, parent span,
  thread).  Spans stay in memory and are written with their self time
  when the run ends.
- A counter on py4j's ``send_command`` gives driver→JVM round trips.
- :func:`read_event_log` parses the Spark event log and attributes jobs,
  stages and tasks to operations by time window: the benchmark drives
  one operation at a time, so every job submitted inside an operation's
  window belongs to it.  (Streams run their jobs in the stream thread's
  own job group, so a per-operation job group cannot be imposed from
  outside the program.)
- :func:`progress_rows` flattens Spark's streaming progress events.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: SQL metric names of Python nodes (``PythonSQLMetrics``)
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def begin(self, name: str) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            # a span opened on a thread with no open span of its own
            # (a driver pool thread, the stream's callback thread) hangs
            # under the innermost span open anywhere
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            idx = len(self.spans)
            self.spans.append({
                "name": name, "start": time.time(), "end": None,
                "parent": parent, "thread": threading.get_ident(),
            })
            self._open.append(idx)
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        with self._lock:
            self.spans[idx]["end"] = time.time()
            self._open.remove(idx)
        self._local.stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until :meth:`close`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        """Count every driver→JVM command from here on."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            fn = cls.send_command

            def counted(conn, command, *a, _fn=fn, **k):
                with self._lock:
                    self.py4j_calls += 1
                return _fn(conn, command, *a, **k)

            self._undo.append((cls, "send_command", fn))
            cls.send_command = counted

    def close(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # -- queries over recorded spans --------------------------------------
    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        """Write all spans with self time = duration minus the part of
        it covered by child spans (union of child intervals)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = s["end"] - s["start"]
            out.append({**s, "id": i, "dur_s": dur, "self_s": max(dur - covered, 0.0)})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Per-window Spark work from the event log.

    ``windows`` are (start, end) epoch seconds of each operation.  Each
    returned dict holds the window's jobs, stages, tasks, scheduler
    delay, executor run/CPU/GC time, shuffle bytes, spill, the worst
    stage's shuffle-read skew (max / median task read bytes), the bytes
    crossing into and out of Python workers, and the first SQL
    execution start time (epoch ms) seen in the window.
    """
    jobs, job_stages, stage_tasks = [], {}, {}
    sql_starts = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"] / 1000.0, ev["Job ID"]))
                    job_stages[ev["Job ID"]] = ev.get("Stage IDs", [])
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks.setdefault(ev["Stage ID"], []).append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_starts.append(ev["time"])
    owner: dict[int, int] = {}
    win_jobs: list[list[int]] = [[] for _ in windows]
    for t, job in sorted(jobs):
        for w, (a, b) in enumerate(windows):
            if a <= t <= b:
                win_jobs[w].append(job)
                for st in job_stages[job]:
                    owner.setdefault(st, w)
                break
    out = []
    for w, (a, b) in enumerate(windows):
        stages = [s for s, o in owner.items() if o == w and s in stage_tasks]
        r = {
            "jobs": len(win_jobs[w]), "stages": len(stages), "tasks": 0,
            "sched_delay_s": 0.0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_b": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0,
            "skew": 0.0, "to_py_b": 0.0, "from_py_b": 0.0,
            "sql_start_ms": min((t for t in sql_starts if a * 1000 <= t <= b * 1000), default=None),
        }
        for st in stages:
            reads = []
            for ev in stage_tasks[st]:
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                r["tasks"] += 1
                run = _num(m.get("Executor Run Time"))
                dur = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
                overhead = (
                    _num(m.get("Executor Deserialize Time"))
                    + _num(m.get("Result Serialization Time"))
                    + _num(info.get("Getting Result Time"))
                )
                r["sched_delay_s"] += max(dur - run - overhead, 0.0) / 1000.0
                r["run_s"] += run / 1000.0
                r["cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
                r["gc_s"] += _num(m.get("JVM GC Time")) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                read = _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
                reads.append(read)
                r["shuffle_read_b"] += read
                sw = m.get("Shuffle Write Metrics") or {}
                r["shuffle_write_b"] += _num(sw.get("Shuffle Bytes Written"))
                r["spill_b"] += _num(m.get("Memory Bytes Spilled")) + _num(
                    m.get("Disk Bytes Spilled")
                )
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _TO_PY:
                        r["to_py_b"] += _num(acc.get("Update"))
                    elif acc.get("Name") == _FROM_PY:
                        r["from_py_b"] += _num(acc.get("Update"))
            reads = [x for x in reads if x > 0]
            if reads:
                r["skew"] = max(r["skew"], max(reads) / statistics.median(reads))
        out.append(r)
    return out


def progress_rows(events: list[dict]) -> list[dict]:
    """One flat row per streaming progress event (a micro-batch)."""
    rows = []
    for p in events:
        d = p.get("durationMs", {}) or {}
        ops = p.get("stateOperators", []) or []
        rows.append({
            "batch": p.get("batchId"),
            "timestamp": p.get("timestamp"),
            "trigger_ms": _num(d.get("triggerExecution")),
            "add_batch_ms": _num(d.get("addBatch")),
            "planning_ms": _num(d.get("queryPlanning")),
            "wal_ms": _num(d.get("walCommit")),
            "input_rows": _num(p.get("numInputRows")),
            "state_commit_ms": sum(_num(o.get("commitTimeMs")) for o in ops),
            "state_rows": sum(_num(o.get("numRowsTotal")) for o in ops),
            "state_removed": sum(_num(o.get("numRowsRemoved")) for o in ops),
            "state_mem_b": sum(_num(o.get("memoryUsedBytes")) for o in ops),
        })
    return rows
