"""Tests of the benchmark's own logic: digests, statistics, span self
time and the seeded sample. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import drift  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402
import stats  # noqa: E402
from digest import canon, digest  # noqa: E402


# --- digest canonicalisation -------------------------------------------------

def test_digest_ignores_row_and_column_order():
    a = digest(["k", "v"], [(1, "x"), (2, "y")])
    b = digest(["v", "k"], [("y", 2), ("x", 1)])
    assert a == b


def test_digest_numbers_compare_by_value_not_type():
    assert canon(5) == canon(5.0) == canon(decimal.Decimal("5.00")) == "5"
    assert canon(decimal.Decimal("0.10")) == canon(0.1)


def test_digest_tolerates_last_bit_float_differences():
    s1 = sum([0.1] * 10)           # 0.9999999999999999
    s2 = 1.0
    assert s1 != s2 and canon(s1) == canon(s2)
    assert canon(0.123456789012345) != canon(0.123456789099999)


def test_digest_nulls_nans_and_bools_are_distinct():
    vals = [None, float("nan"), True, False, 1, 0, "1", ""]
    assert len({canon(v) for v in vals}) == len(vals)


def test_digest_nested_values():
    from pyspark.sql import Row

    assert canon(Row(a=1, b=[1.0, None])) == canon({"b": [1, None], "a": 1})
    assert canon({"y": 1, "x": 2}) == canon({"x": 2, "y": 1})
    assert canon(bytearray(b"\x01\xff")) == "0x01ff"
    assert canon(dt.date(2024, 1, 2)) == "2024-01-02"
    assert canon(dt.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02 03:04:05"


def test_digest_detects_changed_or_missing_rows():
    base = digest(["k"], [(1,), (2,), (2,)])
    assert digest(["k"], [(1,), (2,)]) != base
    assert digest(["k"], [(1,), (2,), (3,)]) != base
    assert digest(["j"], [(1,), (2,), (2,)]) != base


# --- statistics ----------------------------------------------------------------

def test_median_and_geomean():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_geomean_weighs_every_query_the_same():
    # a fixed 0.5 s added to every query moves the geomean far more
    # than the sum when one long query dominates the sum
    base = [0.2, 0.2, 0.2, 20.0]
    worse = [x + 0.5 for x in base]
    assert sum(worse) / sum(base) < 1.11
    assert stats.geomean(worse) / stats.geomean(base) > 1.8


def test_supported_percentile_needs_ten_samples_above():
    assert stats.supported_percentile([1.0] * 10) is None
    xs = [float(i) for i in range(1, 101)]
    p, v = stats.supported_percentile(xs)
    assert p == 90 and v == 90.0       # 10 samples above the 90th
    p, _ = stats.supported_percentile([float(i) for i in range(1, 21)])
    assert p == 50


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.4, 9.9, 10.1, 10.3, 9.8, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


# --- span self time ------------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "query": "q",
            "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps span 1: union is 1..6
        _span(3, 1, 2.0, 3.0),   # grandchild: only its parent subtracts it
        _span(4, 0, 8.0, 12.0),  # runs past its parent: clipped to 8..10
    ]
    self_t = layers.self_times(spans)
    assert self_t[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_t[1] == pytest.approx(3.0 - 1.0)
    assert self_t[3] == pytest.approx(1.0)
    assert self_t[4] == pytest.approx(4.0)


def test_spans_nest_and_inherit_query():
    s = layers.Spans()
    with s.span("query", "q1"):
        with s.span("workload.build"):
            with s.span("streaming.drain"):
                pass
    names = [(r["name"], r["parent"], r["query"]) for r in s.rows]
    assert names == [("query", None, "q1"), ("workload.build", 0, "q1"),
                     ("streaming.drain", 1, "q1")]
    assert all(r["end"] >= r["start"] for r in s.rows)


# --- sampling and run length ---------------------------------------------------

FAMILY = {"sample": ["a", "b", "c", "d"]}


def test_sample_is_the_pinned_set_in_a_seeded_order():
    s = run.sample(FAMILY, 7)
    assert s == run.sample(FAMILY, 7)
    assert sorted(s) == FAMILY["sample"]
    assert FAMILY["sample"] == ["a", "b", "c", "d"]  # pin left untouched
    assert len({tuple(run.sample(FAMILY, k)) for k in range(20)}) > 1


def test_pass_count_is_bounded():
    assert run.pass_count([1.0, 1.0], 10) == 5
    assert run.pass_count([10.0], 10) == run.MIN_PASSES
    assert run.pass_count([0.01], 10) == run.MAX_PASSES


def test_warm_up_length_makes_the_timed_median_steady():
    assert drift.TIMED == run.MIN_PASSES
    assert drift.warm_needed([2.0, 1.5, 1.2, 1.0, 1.0, 1.0]) == 2
    # one slow pass among the timed ones does not move their median
    assert drift.warm_needed([2.0, 1.2, 1.0, 1.0, 1.0, 1.0]) == 1
    assert drift.warm_needed([1.0, 1.0, 1.5, 1.0, 1.0]) == 0
    assert math.isfinite(drift.TOLERANCE)


def test_setup_is_process_start_plus_median_session_setup():
    starts = [(7.0, 4.0), (6.0, 3.0), (9.0, 5.0)]   # (get_spark, warm-up job)
    assert run.setup_seconds(0.5, starts) == pytest.approx(0.5 + 11.0)
    assert run.setup_seconds(0.5, starts[:1]) == pytest.approx(11.5)


# --- repeatability check ---------------------------------------------------------

def _set(**medians):
    return {"workloads": {"w": {"metrics": {k: {"median": v}
                                            for k, v in medians.items()}}}}


def test_compare_allows_each_metric_to_worsen_by_its_bound_only():
    better = {"suite_s": "lower", "ok_ratio": "higher"}
    bounds = {"suite_s": 0.25, "ok_ratio": 0.05}
    first = _set(suite_s=4.0, ok_ratio=1.0)
    assert spread.compare(first, _set(suite_s=4.9, ok_ratio=0.96), better, bounds)
    assert not spread.compare(first, _set(suite_s=5.1, ok_ratio=1.0), better, bounds)
    assert not spread.compare(first, _set(suite_s=3.0, ok_ratio=0.9), better, bounds)
    # getting better by any amount is never a failure
    assert spread.compare(first, _set(suite_s=1.0, ok_ratio=1.0), better, bounds)


def test_spread_check_covers_setup_time():
    out = spread.summarize({"setup_s": [10.0, 10.0, 14.0, 14.0, 10.0, 14.0]},
                           {"setup_s": 0.25})
    assert not out["setup_s"]["ok"]
