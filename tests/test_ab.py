"""tools/ab.py's pairing and statistics (no Spark, no git)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import ab  # noqa: E402


def test_parse_seeds_ranges_and_lists():
    assert ab.parse_seeds("1-10") == list(range(1, 11))
    assert ab.parse_seeds("3") == [3]
    assert ab.parse_seeds("1-3, 7,9-10") == [1, 2, 3, 7, 9, 10]


def test_odd_seeds_run_a_first_even_seeds_b_first():
    orders = [ab.run_order(s) for s in ab.parse_seeds("1-10")]
    assert orders.count(("A", "B")) == orders.count(("B", "A")) == 5
    assert ab.run_order(1) == ("A", "B") and ab.run_order(2) == ("B", "A")


def test_parse_result_reads_the_last_stdout_line():
    last = {
        "correct": True, "attempted": 9, "failed": 0,
        "metrics": {"op_p50_ms": {"value": 938.0, "unit": "ms"}},
    }
    out = "# a comment line\nop_p50_ms 938 ms\n" + json.dumps(last) + "\n"
    assert ab.parse_result(out) == {"op_p50_ms": 938.0, "failed": 0}


def test_quartiles_inclusive():
    assert ab.quartiles([5.0]) == (5.0, 5.0, 5.0)
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)


def test_summarize_counts_wins_in_the_better_direction():
    a = [{"ms": 100.0, "rate": 10.0}, {"ms": 110.0, "rate": 11.0},
         {"ms": 120.0, "rate": 12.0}]
    b = [{"ms": 90.0, "rate": 12.0}, {"ms": 115.0, "rate": 11.0},
         {"ms": 100.0, "rate": 13.0}]
    rows = {r["metric"]: r for r in ab.summarize(list(zip(a, b)),
                                                  {"ms": "lower", "rate": "higher",
                                                   "absent": "lower"})}
    assert set(rows) == {"ms", "rate"}
    ms = rows["ms"]
    assert (ms["a_q1"], ms["a_median"], ms["a_q3"]) == (105.0, 110.0, 115.0)
    assert ms["b_median"] == 100.0
    assert (ms["b_wins"], ms["pairs"]) == (2, 3)
    # a tie is not a win
    assert (rows["rate"]["b_wins"], rows["rate"]["b_median"]) == (2, 12.0)
    lines = ab.format_rows(ab.summarize(list(zip(a, b)), {"ms": "lower"}))
    assert lines[1].split() == ["ms", "110", "(105-115)", "100", "-9.1%", "2/3"]
