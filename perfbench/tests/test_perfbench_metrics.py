"""Unit tests of the benchmark's pure helpers: Spark metric strings, the
tail-percentile rule and span self time.

Run from the checkout root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import pytest

from perfbench.sparkmetrics import parse_metric, tail_percentile
from perfbench.spans import Tracer


@pytest.mark.parametrize("text, value, kind", [
    ("100,000", 100_000, "count"),
    ("0", 0, "count"),
    ("4", 4, "count"),
    ("22.7 MiB", 22.7 * 2**20, "bytes"),
    ("0.0 B", 0.0, "bytes"),
    ("1139.0 KiB", 1139.0 * 1024, "bytes"),
    ("1.5 GiB", 1.5 * 2**30, "bytes"),
    ("3 ms", 3.0, "ms"),
    ("13.6 s", 13_600.0, "ms"),
    ("2.5 m", 150_000.0, "ms"),
    ("total (min, med, max (stageId: taskId))\n"
     "13.6 s (0 ms, 3.2 s, 4.1 s (stage 12.0: task 40))", 13_600.0, "ms"),
    ("total (min, med, max (stageId: taskId))\n"
     "2.4 MiB (610.2 KiB, 633.0 KiB, 637.5 KiB (stage 66.0: task 99))",
     2.4 * 2**20, "bytes"),
    ("total (min, med, max (stageId: taskId))\n"
     "261 ms (56 ms, 69 ms, 71 ms (stage 66.0: task 97))", 261.0, "ms"),
    ("total (min, med, max (stageId: taskId))\n"
     "1,234 (300, 310, 320 (stage 1.0: task 2))", 1234, "count"),
    ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 63.0: task 92))",
     1, "count"),
    ("(min, med, max (stageId: taskId)):\n"
     "(0.5 ms, 1 ms, 2.5 ms (stage 3.0: task 7))", 2.5, "ms"),
])
def test_parse_metric(text, value, kind):
    got, got_kind = parse_metric(text)
    assert got == pytest.approx(value)
    assert got_kind == kind


@pytest.mark.parametrize("text", ["", "n/a", "total (min, med, max)",
                                  "12 parsecs"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_tail_percentile_needs_ten_beyond():
    # 19 samples: p50 leaves 9 beyond it, so there is no tail percentile
    assert tail_percentile(list(range(1, 20))) is None
    # 20 samples: p50 is the 10th value and 10 samples lie beyond it
    assert tail_percentile(list(range(1, 21))) == (50.0, 10, 10)


def test_tail_percentile_picks_highest_level():
    xs = list(range(1, 1001))
    # p99 = 990 has exactly 10 beyond it; p99.9 = 999 has 1
    assert tail_percentile(xs) == (99.0, 990, 10)
    # 200 samples: p95 = 190 leaves 10 beyond; p99 = 198 leaves 2
    assert tail_percentile(list(range(1, 201))) == (95.0, 190, 10)


def test_tail_percentile_ties_are_not_beyond():
    xs = [1.0] * 50 + [2.0] * 9
    assert tail_percentile(xs) is None
    assert tail_percentile(xs, min_beyond=9) == (75.0, 1.0, 9)


def test_tail_percentile_empty():
    assert tail_percentile([]) is None


def test_span_self_time(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 4.0, 10.0])
    monkeypatch.setattr("perfbench.spans.time.monotonic", lambda: next(clock))
    tr = Tracer(True)
    with tr.span("outer"):          # 0 .. 10
        with tr.span("inner"):      # 1 .. 3
            pass
        with tr.span("inner"):      # 4 .. 4
            pass
    assert tr.self_times() == {"outer": 8.0, "inner": 2.0}
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_spark_parquet_timestamps_past_2262(tmp_path):
    # Spark writes timestamps as INT96; the replicas of the high seed bands
    # capture pages ~300 years past corpus.BASE_TS, beyond what nanoseconds
    # hold
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.workloads import epoch_us, read_spark_parquet

    ts = dt.datetime(2318, 6, 1, 12, 0, 0, 7, tzinfo=dt.timezone.utc)
    path = str(tmp_path / "capture.parquet")
    pq.write_table(pa.table({"warc_ts": pa.array([ts], pa.timestamp("us"))}),
                   path, use_deprecated_int96_timestamps=True)
    col = read_spark_parquet(path, ["warc_ts"]).column("warc_ts")
    want = (ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc))
    assert epoch_us(col) == [want // dt.timedelta(microseconds=1)]
