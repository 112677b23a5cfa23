"""Tests for the benchmark's metric code. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

import os
import random
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check import row_hash  # noqa: E402
from metrics import (Outcome, Span, beyond, coverage, error_text,  # noqa: E402
                     failed_ratio, percentile, self_times, tail_percentile)
from workloads import Workload, package  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 1.0) == 100
    assert percentile([7.0], 0.5) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile(xs, 0.0)


@pytest.mark.parametrize("n, q", [
    (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75),
    (100, 0.9), (199, 0.9), (200, 0.95), (999, 0.95), (1000, 0.99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    got = tail_percentile(xs)
    if q is None:
        assert got is None
        return
    assert got[0] == q
    # at least ten distinct samples lie above the reported value
    assert sum(x > got[1] for x in xs) >= 10
    assert beyond(n, q) >= 10


def test_failed_ratio_counts_errors_and_check_failures():
    outcomes = [
        Outcome("q_a", 0.5),
        Outcome("q_b", None, error="ValueError: boom"),
        Outcome("q_c", 0.7, check_ok=False),
        Outcome("q_d", None, error="RuntimeError: x", check_ok=False),
    ]
    assert [o.failed for o in outcomes] == [False, True, True, True]
    assert failed_ratio(outcomes) == 0.75
    assert failed_ratio(outcomes[:1]) == 0.0
    with pytest.raises(ValueError):
        failed_ratio([])


def test_error_text_is_class_and_first_line():
    assert error_text(ValueError("first\nsecond")) == "ValueError: first"
    assert error_text(KeyError("k")) == "KeyError: 'k'"
    assert error_text(RuntimeError()) == "RuntimeError"


def _tree():
    mk = lambda i, name, a, b, parent: Span(i, name, a, b, parent, "r")  # noqa: E731
    return [
        mk(0, "pass", 0.0, 10.0, None),
        mk(1, "query", 1.0, 4.0, 0),
        mk(2, "construct", 2.0, 3.0, 1),
        mk(3, "lineage.release", 3.0, 6.0, 0),  # overlaps query 3..4
        mk(4, "query", 8.0, 11.0, 0),           # runs past the pass end
    ]


def test_self_time_subtracts_union_of_children():
    own = self_times(_tree())
    # pass: 10 s minus children covering 1..6 and 8..10
    assert own["pass"] == pytest.approx(3.0)
    # both queries: 3 s each, minus the 1 s construct under the first
    assert own["query"] == pytest.approx(5.0)
    assert own["construct"] == pytest.approx(1.0)
    assert own["lineage.release"] == pytest.approx(3.0)


def test_coverage_of_direct_children():
    spans = _tree()
    assert coverage(spans[0], spans) == pytest.approx(0.7)
    assert coverage(spans[1], spans) == pytest.approx(1 / 3)
    assert coverage(spans[2], spans) == 0.0
    assert coverage(Span(9, "x", 5.0, 5.0, None, "r"), spans) == 1.0


def test_workload_resolves_names_then_modules():
    fn = lambda mod: SimpleNamespace(fn=SimpleNamespace(__module__=mod))  # noqa: E731
    specs = {"q_a": fn("etl_finance_spark.plans.finance"),
             "q_b": fn("etl_finance_spark.llm.dedup"),
             "q_c": fn("etl_finance_spark.plans.finance")}
    w = Workload(why="", names=("q_b", "q_a"), modules=("plans.finance",))
    assert w.resolve(specs) == ["q_b", "q_a", "q_c"]
    with pytest.raises(KeyError):
        Workload(why="", names=("q_missing",)).resolve(specs)
    assert package("etl_finance_spark.plans.finance") == "plans"


def test_row_hash_ignores_row_and_column_order():
    cols, rows = ["b", "a"], [(1, "x"), (2, "y")]
    same = row_hash(["a", "b"], [("y", 2), ("x", 1)])
    assert row_hash(cols, rows) == same
    assert row_hash(cols, [(1, "x"), (3, "y")]) != same
