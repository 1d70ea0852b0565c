"""In-memory spans and the ``IceTable`` timing proxy.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions; the engine is not instrumented. A span has a
name, a start, an end and the span that was open when it started. They stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Collects spans. A disabled tracer records nothing and costs one
    attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of it
        its children cover (children of one span do not overlap: they run on
        the one driver thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


class TimedTable:
    """Stands in for an ``IceTable`` wherever the engine takes one, so that
    ``append`` and ``read`` inside ``run_extract`` and
    ``incremental_extract`` are timed, and counts what each append wrote."""

    def __init__(self, table, tracer: Tracer, role: str) -> None:
        self._table = table
        self._tracer = tracer
        self._role = role
        self.appends = 0
        self.files_written = 0
        self.bytes_written = 0
        self.append_s = 0.0
        self.read_s = 0.0

    def __getattr__(self, name):
        return getattr(self._table, name)

    def append(self, df) -> int:
        before = self._table.snapshot()
        old = set(before.files) if before else set()
        t0 = time.monotonic()
        with self._tracer.span(f"icetbl.{self._role}.append"):
            sid = self._table.append(df)
        self.append_s += time.monotonic() - t0
        new = [f for f in self._table.snapshot(sid).files if f not in old]
        self.appends += 1
        self.files_written += len(new)
        self.bytes_written += sum(os.path.getsize(f) for f in new)
        return sid

    def read(self, spark, snapshot_id=None):
        t0 = time.monotonic()
        with self._tracer.span(f"icetbl.{self._role}.read"):
            df = self._table.read(spark, snapshot_id)
        self.read_s += time.monotonic() - t0
        return df

    def log_bytes(self) -> int:
        """Size of the newest snapshot file: it lists every data file the
        table has, so it grows with table history."""
        sid = self._table.current_snapshot_id()
        if sid is None:
            return 0
        return os.path.getsize(self._table._snapshot_path(sid))


def commit_totals(tables: list[TimedTable]) -> dict:
    """Commit-layer numbers summed over the given proxies."""
    out: dict = {"commit.read_s": 0.0, "commit.appends": 0,
                 "commit.files_written": 0, "commit.bytes_written": 0,
                 "commit.log_bytes": 0}
    for t in tables:
        key = f"commit.{t._role}_append_s"
        out[key] = out.get(key, 0.0) + t.append_s
        out["commit.read_s"] += t.read_s
        out["commit.appends"] += t.appends
        out["commit.files_written"] += t.files_written
        out["commit.bytes_written"] += t.bytes_written
        out["commit.log_bytes"] = max(out["commit.log_bytes"], t.log_bytes())
    return out
