"""Span tracing from outside the engine.

``Tracer.install`` wraps public methods of the engine's layers at class
level; every call records a span (name, start, end, parent, thread, run
id) in memory, and ``dump`` writes them out when the run ends. A span's
parent is the traced call open on the same thread, if any.
"""

from __future__ import annotations

import itertools
import json
import threading
import time


def _traced_methods():
    from th2_listener_mysql_binlog_go_spark.operators.apply import BatchApplier
    from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

    return [
        (BatchApplier, "apply", "operators.apply"),
        (LakeTable, "merge", "plans.merge"),
        (LakeTable, "compact", "plans.compact"),
        (LakeTable, "add_column", "plans.schema_change"),
        (LakeTable, "truncate", "plans.schema_change"),
    ]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.conflicts = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patched: list[tuple[type, str, object]] = []

    def install(self) -> None:
        from th2_listener_mysql_binlog_go_spark.plans.lake import ConcurrentCommitError

        for owner, attr, name in _traced_methods():
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name, ConcurrentCommitError))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, conflict_exc):
        tracer = self

        def traced(*args, **kwargs):
            stack = getattr(tracer._tls, "stack", None)
            if stack is None:
                stack = tracer._tls.stack = []
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            except conflict_exc:
                with tracer._lock:
                    tracer.conflicts += 1
                raise
            finally:
                t1 = time.monotonic()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append({
                        "id": sid, "name": name, "start": t0, "end": t1,
                        "parent": parent,
                        "thread": threading.current_thread().name,
                        "run": tracer.run_id})

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    # ---- queries over recorded spans ------------------------------------

    def within(self, name: str, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= t0 and s["end"] <= t1]

    def total(self, name: str, t0: float, t1: float) -> float:
        return sum(s["end"] - s["start"] for s in self.within(name, t0, t1))

    def self_time(self, name: str, t0: float, t1: float) -> float:
        """Sum over ``name`` spans of duration minus the part of it that
        child spans cover."""
        out = 0.0
        for s in self.within(name, t0, t1):
            kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in self.spans if c["parent"] == s["id"])
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out += (s["end"] - s["start"]) - covered
        return out

    def epoch_gaps(self, t0: float, t1: float) -> list[float]:
        """Idle gaps between consecutive ``apply`` spans: the streaming
        shell's per-epoch trigger, listing and planning time."""
        spans = sorted(self.within("operators.apply", t0, t1), key=lambda s: s["start"])
        return [b["start"] - a["end"] for a, b in zip(spans, spans[1:])]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
