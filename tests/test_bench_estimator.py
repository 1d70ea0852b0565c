"""Unit tests for bench.py's pure parts: the N→4N scaling estimator and
levels rule, the compact last line, and the extras list derived from
``queries()``. Pure Python — no Spark session."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _compact, scaling_estimate


def _detail_fixture(scaling: bool = True):
    detail = {
        "metric": "m",
        "value": 15.1,
        "unit": "sec",
        "sf": "/root/testdata/sf0.1",
        "queries": {f"q{i}": 1.0 for i in range(15)},
        "pages_rows": 476500,
        "extract": {
            "local[32]": {"docs": 476500, "secs": 4.0,
                          "docs_per_sec": 119125.0},
            "local[2]": {"best_docs_per_sec": 15682.0,
                         "runs": [15682.0, 14000.0]},
            "local[8]": {"best_docs_per_sec": 54000.0,
                         "runs": [54000.0, 50000.0]},
        },
        "scaling_efficiency": 0.862,
        "scaling_per_trial": [1.074, 0.862],
        "scaling_note": "x" * 1000,
        "bench_wall_secs": 600.0,
    }
    if not scaling:
        detail["extract"] = {"local[4]": detail["extract"]["local[32]"]}
        detail["scaling_efficiency"] = None
        detail["scaling_unmeasurable"] = "4 cores"
        del detail["scaling_per_trial"], detail["scaling_note"]
    return detail


def test_compact_line_fits_driver_tail():
    # Tail-limited readers keep a 2000-char stdout TAIL; BENCH_r04 parsed
    # null because the final line exceeded it. The compact line must stay
    # a complete object well inside that window.
    line = json.dumps(_compact(_detail_fixture(), extras_timed=46,
                               extras_skipped=0))
    assert len(line) < 1500
    obj = json.loads(line)
    assert obj["value"] == 15.1
    assert obj["extract_docs_per_sec"]["local[32]"] == 119125.0
    assert obj["extract_docs_per_sec"]["local[2]"] == 15682.0
    assert obj["scaling_efficiency"] == 0.862
    assert obj["extras_timed"] == 46 and obj["extras_skipped"] == 0
    assert "scaling_note" not in obj and "pages_rows" not in obj

    # below 8 cores: null efficiency, with the reason on the line
    obj = json.loads(json.dumps(_compact(_detail_fixture(scaling=False))))
    assert obj["scaling_efficiency"] is None
    assert obj["scaling_unmeasurable"] == "4 cores"
    assert obj["extract_docs_per_sec"] == {"local[4]": 119125.0}
    assert "scaling_per_trial" not in obj


def test_compact_drops_queries_rather_than_overflow():
    d = _detail_fixture()
    d["queries"] = {f"very_long_query_name_number_{i:04d}": 1.234
                    for i in range(200)}
    c = _compact(d)

    assert "queries" not in c
    assert len(json.dumps(c)) < 1500


def test_monotone_load_decay_order_bias_symmetry():
    # The per-trial ratio is direction-blind: the estimator itself cannot
    # tell which level ran first, which is why run_scaling alternates
    # order — this test just pins that the estimate only consumes
    # magnitudes.
    eff_ab, _ = scaling_estimate([40000.0, 60000.0], [12000.0, 17000.0])
    eff_ba, _ = scaling_estimate([60000.0, 40000.0], [17000.0, 12000.0])
    assert eff_ab == eff_ba == 0.857  # median of 0.833 and 0.882


def test_scaling_levels_from_cores():
    from bench import scaling_levels

    assert scaling_levels(4) is None
    assert scaling_levels(7) is None
    assert scaling_levels(8) == (2, 8)
    assert scaling_levels(32) == (8, 32)


def test_extras_are_registry_minus_headline():
    """The headline suite is a subset of queries(), and the extras are
    every other registry name, in registry order, each once — so a new
    query is timed without editing bench.py."""
    import __spark_entry__ as entry
    from bench import HEADLINE, extras

    names = list(entry.queries())
    assert set(HEADLINE) <= set(names)
    assert len(set(HEADLINE)) == len(HEADLINE)
    got = extras(names)
    assert sorted(got + list(HEADLINE)) == sorted(names)
    assert got == sorted(got, key=names.index)
    assert len(got) == len(set(got))
