"""Benchmark-side tracing: trigger progress from a listener, and spans
around the program's sink and store calls.

Nothing here goes inside the program. ``ProgressLog`` is a
``StreamingQueryListener`` (the surface ``streaming/metrics.py`` uses)
and is always on, because trigger end times are an end-to-end input.
``Tracer.install`` wraps ``sinks.apply_day_rollup_batch`` and the
``RedisKVStore`` store calls for a traced run only; ``uninstall``
restores them.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# durationMs components of one trigger that do not scale with the data:
# source listing, batch construction, planning, offset WAL, commit log.
FIXED_PARTS = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
               "commitOffsets")


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event that ran a batch, as parsed JSON."""

    def __init__(self) -> None:
        self._mu = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        if "addBatch" in (p.get("durationMs") or {}):
            with self._mu:
                self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id: str) -> list[dict]:
        with self._mu:
            return [p for p in self.events if p["id"] == query_id]


def trigger_window(p: dict) -> tuple[float, float]:
    """Wall-clock (start, end) seconds of one trigger."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


class Tracer:
    """In-memory spans: name, start, end, parent index and attributes.
    Spans opened on one thread nest under that thread's open span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._mu = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` wrapped in a span; ``attrs(args, kwargs, result)``
        returns fields to add to it once the call is over."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            span = {"name": name, "start": time.time(),
                    "parent": stack[-1] if stack else None}
            with self._mu:
                idx = len(self.spans)
                self.spans.append(span)
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.time()
            if attrs:
                span.update(attrs(args, kwargs, result))
            return result

        return traced

    def install(self) -> None:
        from steaminganalysis_spark.streaming import sinks

        def patch(owner, attr, name, attrs=None):
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(name, orig, attrs))

        patch(sinks, "apply_day_rollup_batch", "sinks.apply_day_rollup_batch",
              lambda a, kw, r: {"batch_id": a[1], "scope": kw.get("scope")})
        patch(sinks.RedisKVStore, "last_applied", "sinks.last_applied")
        patch(sinks.RedisKVStore, "apply_batch", "sinks.apply_batch",
              lambda a, kw, r: {
                  "increments": len(a[2]),
                  "args_bytes": len(str(a[1])) + sum(
                      len(k) + len(f) + len(str(int(d))) for k, f, d in a[2]),
                  "applied": bool(r)})

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def add_trigger(self, p: dict) -> None:
        """A trigger from its progress event, with one child span per
        ``durationMs`` component laid end to end (the components are
        sequential phases of one trigger)."""
        start, end = trigger_window(p)
        with self._mu:
            root = len(self.spans)
            self.spans.append({"name": "trigger", "start": start, "end": end,
                               "parent": None, "batch_id": p["batchId"],
                               "query_id": p["id"]})
            t = start
            for part, ms in p["durationMs"].items():
                if part == "triggerExecution":
                    continue
                self.spans.append({"name": f"trigger.{part}", "start": t,
                                   "end": t + ms / 1000.0, "parent": root})
                t += ms / 1000.0

    def self_times(self, name: str, since: float = 0.0) -> list[float]:
        """Self time (seconds) of every span called ``name`` that started
        at or after ``since``: its duration minus the time its child
        spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[i]
                for i, s in enumerate(self.spans)
                if s["name"] == name and "end" in s and s["start"] >= since]

    def of(self, name: str, since: float = 0.0) -> list[dict]:
        """Finished spans called ``name`` that started at or after ``since``."""
        return [s for s in self.spans
                if s["name"] == name and "end" in s and s["start"] >= since]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
