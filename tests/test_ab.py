"""The pure helpers of scripts/ab.py, the paired A/B command: run order,
quartiles, wins and result parsing. No Spark, no subprocess."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _perfbench_stdout(correct=True, failed=0, p50=2.0):
    res = {
        "correct": correct,
        "attempted": 35,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": 36.5, "unit": "s"},
            "queries_per_s": {"value": 41.0, "unit": "1/s"},
            "search_p50_s": {"value": p50, "unit": "s"},
        },
    }
    return "perfbench: workload=batch_exact seed=911 trace=0 setup_s=36.5 s\n" + json.dumps(res) + "\n"


def test_run_order_alternates_per_pair():
    assert [ab.run_order(i) for i in range(4)] == [
        ("parent", "change"),
        ("change", "parent"),
        ("parent", "change"),
        ("change", "parent"),
    ]


@pytest.mark.parametrize(
    "values, want",
    [
        ([7.0], (7.0, 7.0, 7.0)),
        ([3.0, 1.0, 2.0], (1.5, 2.0, 2.5)),
        ([36.5, 36.8, 40.3, 35.0, 41.0], (36.5, 36.8, 40.3)),
        ([1.0, 2.0, 3.0, 4.0], (1.75, 2.5, 3.25)),
    ],
)
def test_quartiles(values, want):
    assert ab.quartiles(values) == pytest.approx(want)


def test_wins_ties_count_for_neither_side():
    parent = [1.0, 2.0, 3.0, 4.0, None]
    change = [0.5, 2.0, 3.5, 4.0, 1.0]
    # lower is better: pair 0 change, pair 2 parent; pairs 1 and 3 tie,
    # pair 4 has no parent value
    assert ab.wins(parent, change, "lower") == (1, 1)
    assert ab.wins(parent, change, "higher") == (1, 1)
    assert ab.wins([1.0, 1.0], [2.0, 3.0], "higher") == (0, 2)
    assert ab.wins([1.0, 1.0], [2.0, 3.0], "lower") == (2, 0)


def test_last_json_line_is_the_result():
    out = '{"stale": 1}\nnoise {\n' + _perfbench_stdout(p50=2.25) + "\n"
    values, problems = ab.perfbench_run(out, 0)
    assert values == {"setup_s": 36.5, "queries_per_s": 41.0, "search_p50_s": 2.25}
    assert problems == []


@pytest.mark.parametrize(
    "kw, problem",
    [
        ({"correct": False}, ["correct: false"]),
        ({"failed": 2}, ["failed: 2/35"]),
        ({"correct": False, "failed": 1}, ["correct: false", "failed: 1/35"]),
    ],
)
def test_bad_run_is_flagged_and_keeps_its_values(kw, problem):
    values, problems = ab.perfbench_run(_perfbench_stdout(**kw), 1)
    assert problems == problem
    assert values["search_p50_s"] == 2.0


def test_run_without_result_line_is_flagged():
    values, problems = ab.perfbench_run("perfbench: worker exited with 1\n", 4)
    assert values == {} and problems == ["no result line (exit 4)"]
    values, problems = ab.bench_run("", 1)
    assert values == {} and problems == ["no result line (exit 1)"]


def test_bench_child_result_lists_failed_keys():
    values, problems = ab.bench_run('{"timings": {"k22": 3.1}, "failed": ["k24"], "warmup_failed": 0}\n', 0)
    assert values == {"k22": 3.1} and problems == ["k24 failed"]
    _, problems = ab.bench_run('{"timings": {"k22": 3.1}, "failed": [], "warmup_failed": 2}\n', 0)
    assert problems == ["2 warm-up entries failed: timings are cold"]


def test_report_keeps_flagged_runs_and_skips_missing_ones():
    runs = {
        "parent": [{"m": 2.0}, {"m": 4.0}, {"m": 3.0}],
        "change": [{"m": 1.0}, None, {"m": 3.0}],
    }
    lines = ab.report("w", [("m", "s", "lower")], runs)
    assert lines[0].startswith("w  (3 pairs")
    assert "parent 2.5/3/3.5" in lines[1]
    assert "change 1.5/2/2.5" in lines[1]
    assert "change/parent median 0.667" in lines[1]
    assert "wins parent 0/3 change 1/3" in lines[1]


def test_parse_seeds():
    assert ab.parse_seeds("911-915") == [911, 912, 913, 914, 915]
    assert ab.parse_seeds("1,5-6") == [1, 5, 6]
