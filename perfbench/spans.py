"""In-memory spans around calls into the engine's public functions, plus
the Spark event-log roll-up per job group.

The tracer wraps module attributes from the outside (the engine itself is
not edited): every wrapped call records a span with its name, start, end,
parent span and the id of the operation (request, micro-batch or registry
entry) it belongs to. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record one span; `op` defaults to the enclosing span's op."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent["op"] if parent else None),
               "start": time.perf_counter(), "end": None, "attrs": dict(attrs)}
        stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, op_of=None, on_result=None,
             also=()):
        """Replace `owner.attr` (and the same object bound in each module of
        `also`) with a span-recording wrapper. `op_of(args, kwargs)` names a
        new operation; `on_result(attrs, result)` records counts."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = op_of(args, kwargs) if op_of else None
            with self.span(name, op=op) as attrs:
                out = fn(*args, **kwargs)
                if on_result is not None and self.enabled:
                    on_result(attrs, out)
                return out

        for target in (owner, *also):
            self._restore.append((target, attr, getattr(target, attr)))
            setattr(target, attr, wrapper)
        return wrapper

    def unwrap_all(self) -> None:
        for target, attr, orig in reversed(self._restore):
            setattr(target, attr, orig)
        self._restore.clear()


def layer_self_ms(spans: list[dict]) -> dict[str, dict[str, float]]:
    """{op: {span name: total self time in ms}} — a span's self time is its
    duration minus the union of its children's intervals."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        st = self_time((s["start"], s["end"]), children[s["id"]])
        out[s["op"]][s["name"]] += st * 1000.0
    return out


def spans_by_op(spans: list[dict]) -> dict[str, list[dict]]:
    out = defaultdict(list)
    for s in spans:
        out[s["op"]].append(s)
    return out


def event_log_rollup(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, executed stages, tasks, task executor-run ms,
    scheduler wait ms (task launch minus stage submission), input bytes
    scanned and shuffle bytes (read + written)."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    per = defaultdict(lambda: defaultdict(float))
    stages_run = defaultdict(set)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                per[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = stage_group.get(sid, "-")
                g = per[group]
                stages_run[group].add(sid)
                tinfo = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["task_ms"] += tm.get("Executor Run Time", 0)
                sub = stage_submit.get(sid)
                if sub and tinfo.get("Launch Time"):
                    g["sched_wait_ms"] += max(0, tinfo["Launch Time"] - sub)
                g["scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)
                                       + sw.get("Shuffle Bytes Written", 0))
    for group, sids in stages_run.items():
        per[group]["stages"] = len(sids)
    return {k: dict(v) for k, v in per.items()}
