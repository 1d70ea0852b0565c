"""Spark's per-operator SQL metrics, read from the SQL status store.

The status store (``spark._jsparkSession.sharedState().statusStore()``)
keeps, for every SQL execution, the physical plan graph and the final value
of each node metric, also with ``spark.ui.enabled=false``. Values arrive as
the display strings the SQL tab prints, for example::

    100,000
    22.7 MiB
    3 ms
    total (min, med, max (stageId: taskId))
    13.6 s (0 ms, 3.2 s, 4.1 s (stage 12.0: task 40))

:func:`parse_metric` turns one of these into a number in a base unit
(milliseconds for times, bytes for sizes, a plain number for counts). It and
:func:`tail_percentile` are pure, so they are unit-tested without Spark.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "µs": 1e-3, "ms": 1.0, "s": 1e3,
            "m": 60e3, "min": 60e3, "h": 3600e3}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> tuple[float, str]:
    """Parse one SQL metric display string into ``(value, kind)``.

    ``kind`` is ``"ms"`` for a time (value in milliseconds), ``"bytes"`` for
    a size (value in bytes) and ``"count"`` otherwise. For the
    ``total (min, med, max ...)`` form the total is returned, for the
    ``(min, med, max ...)`` form without a total the max. Raises
    ``ValueError`` on a string that holds no number.
    """
    s = text.strip()
    if s.startswith("total"):
        # header line, then "<total> (<min>, <med>, <max> (stage: task))"
        _, _, s = s.partition("\n")
        if not s:
            raise ValueError(f"no total in metric string {text!r}")
    elif s.startswith("(min, med, max"):
        # no total (average-style metrics): "(<min>, <med>, <max> (...))";
        # the max is returned
        _, _, s = s.partition("\n")
        s = s.strip().lstrip("(").split(" (")[0].split(",")[-1]
    m = _VALUE_RE.match(s)
    if not m:
        raise ValueError(f"no number in metric string {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit], "bytes"
    if unit in _TIME_MS:
        return value * _TIME_MS[unit], "ms"
    if unit:
        raise ValueError(f"unknown unit {unit!r} in metric string {text!r}")
    return value, "count"


def tail_percentile(samples: list[float], min_beyond: int = 10,
                    levels=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """The highest percentile of ``levels`` with at least ``min_beyond``
    samples strictly above it, as ``(level, value, n_beyond)``; ``None``
    when even the lowest level has fewer than ``min_beyond`` beyond it.

    The percentile is the nearest-rank value: the smallest sample with at
    least ``level`` percent of the samples at or below it.
    """
    xs = sorted(samples)
    n = len(xs)
    for level in levels:
        if n == 0:
            break
        rank = max(1, math.ceil(level / 100.0 * n))
        value = xs[rank - 1]
        beyond = sum(1 for x in xs if x > value)
        if beyond >= min_beyond:
            return level, value, beyond
    return None


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution, or -1 when there is none."""
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids) if ids else -1


def collect(spark, after_id: int) -> tuple[list[int], dict]:
    """Sum every node metric over the executions with id > ``after_id``.

    Returns ``(execution_ids, totals)`` where ``totals`` maps
    ``(node_name, metric_name)`` to ``{"value", "kind", "nodes"}``; node
    names are taken without their codegen-stage suffix, so every ``Exchange``
    or ``Scan parquet`` node of the interval adds into one entry.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    execs = [e.executionId() for e in _seq(store.executionsList())
             if e.executionId() > after_id]
    totals: dict = defaultdict(lambda: {"value": 0.0, "kind": "count",
                                        "nodes": 0})
    for eid in execs:
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            name = re.sub(r"\s*\(\d+\)$", "", node.name()).strip()
            for metric in _seq(node.metrics()):
                shown = values.get(metric.accumulatorId())
                if not shown.isDefined():
                    continue
                value, kind = parse_metric(shown.get())
                entry = totals[(name, metric.name())]
                entry["value"] += value
                entry["kind"] = kind
                entry["nodes"] += 1
    return execs, dict(totals)


def pick(totals: dict, node_prefix: str, metric: str) -> float:
    """Sum of ``metric`` over the nodes whose name starts with
    ``node_prefix``."""
    return sum(v["value"] for (node, name), v in totals.items()
               if node.startswith(node_prefix) and name == metric)


def node_count(totals: dict, node_prefix: str, metric: str) -> int:
    return sum(v["nodes"] for (node, name), v in totals.items()
               if node.startswith(node_prefix) and name == metric)


def layers(totals: dict, execs: int, jobs: int | None = None,
           tasks: int | None = None) -> dict:
    """The per-layer numbers of one interval's SQL metrics (times in ms)."""

    def p(node, metric):
        return pick(totals, node, metric)

    return {
        "scan.time_ms": p("Scan", "scan time"),
        "scan.files": p("Scan", "number of files read"),
        "scan.bytes": p("Scan", "size of files read"),
        "scan.rows": p("Scan", "number of output rows"),
        "exchange.count": node_count(totals, "Exchange",
                                     "shuffle bytes written"),
        "exchange.shuffle_write_ms": p("Exchange", "shuffle write time"),
        "exchange.shuffle_bytes": p("Exchange", "shuffle bytes written"),
        "exchange.fetch_wait_ms": p("Exchange", "fetch wait time"),
        "dedup.sort_ms": p("Sort", "sort time"),
        "dedup.spill_bytes": p("Sort", "spill size")
        + p("Window", "spill size"),
        "dedup.rows_in": p("Exchange", "records read"),
        "dedup.rows_out": p("Filter", "number of output rows"),
        "ipc.boot_ms": p("MapInArrow", "time to start Python workers"),
        "ipc.init_ms": p("MapInArrow", "time to initialize Python workers"),
        "ipc.run_ms": p("MapInArrow", "time to run Python workers"),
        "ipc.bytes_sent": p("MapInArrow", "data sent to Python workers"),
        "ipc.bytes_received": p("MapInArrow",
                                "data returned from Python workers"),
        "write.rows": p("Execute InsertIntoHadoopFsRelationCommand",
                        "number of output rows"),
        "sql.executions": execs,
        **({"sql.jobs": jobs, "sql.tasks": tasks} if jobs is not None else {}),
    }


def jobs_and_tasks(spark, after_id: int) -> tuple[int, int]:
    """Spark jobs and tasks run by the executions with id > ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            continue
        jobs += e.jobs().size()
        stages = e.stages().toList()
        for j in range(stages.size()):
            info = tracker.getStageInfo(stages.apply(j))
            if info is not None:
                tasks += info.numTasks
    return jobs, tasks
