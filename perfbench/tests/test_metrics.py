"""Pins the benchmark's own arithmetic. Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import random
import sys
from datetime import date, datetime, timezone
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
from run import make_plan  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


# --- tail percentile ------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 41))  # 40 samples: 1..40
    v, p, n = metrics.tail(values)
    assert n == 40
    assert p == 75.0
    assert v == 30
    assert sum(1 for x in values if x > v) == 10


def test_tail_is_highest_such_percentile():
    values = [float(x) for x in range(1, 101)]
    v, p, _ = metrics.tail(values)
    assert (v, p) == (90.0, 90.0)
    # one sample more and the same rule reaches further into the tail
    v2, p2, _ = metrics.tail(values + [101.0])
    assert p2 > p and sum(1 for x in values + [101.0] if x > v2) == 10


def test_tail_falls_back_to_median_with_few_samples():
    values = [5.0, 1.0, 3.0] * 5  # 15 samples
    assert metrics.tail(values) == (3.0, 50.0, 15)


def test_nearest_rank():
    assert metrics.nearest_rank([3, 1, 2, 4], 50) == 2
    assert metrics.nearest_rank([3, 1, 2, 4], 100) == 4
    assert metrics.nearest_rank([7], 1) == 7


# --- self time: union, not sum -----------------------------------------------

def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        {"id": "q", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "q", "start": 1.0, "end": 5.0},
        {"id": "b", "parent": "q", "start": 3.0, "end": 7.0},   # overlaps a
        {"id": "c", "parent": "q", "start": 6.5, "end": 12.0},  # runs past q
    ]
    selfs = metrics.self_times(spans)
    # children cover [1, 10] inside q: union 9, not the sum 4 + 4 + 5.5
    assert selfs["q"] == pytest.approx(1.0)
    assert selfs["a"] == pytest.approx(4.0)


def test_union_length_disjoint_nested_and_clipped():
    assert metrics.union_length([(0, 1), (2, 3)]) == 2
    assert metrics.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert metrics.union_length([(0, 10)], lo=2, hi=4) == 2
    assert metrics.union_length([(5, 6)], lo=0, hi=4) == 0
    assert metrics.union_length([]) == 0


# --- stage counting ------------------------------------------------------------

def test_skipped_and_never_run_stages_are_not_counted():
    stages = [
        {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "numTasks": 4, "submitted": 10.0},
        {"stageId": 2, "attemptId": 0, "status": "SKIPPED", "numTasks": 4},
        {"stageId": 3, "attemptId": 0, "status": "COMPLETE", "numTasks": 1, "submitted": 11.0},
        {"stageId": 4, "attemptId": 0, "status": "PENDING", "numTasks": 8},
        {"stageId": 5, "attemptId": 0, "status": "FAILED", "numTasks": 2, "submitted": 12.0},
    ]
    ran = metrics.counted_stages(stages, since=9.0)
    assert [s["stageId"] for s in ran] == [1, 3, 5]
    assert sum(s["numTasks"] for s in ran) == 7


def test_stage_listed_by_two_jobs_counts_once_and_old_stages_not_at_all():
    s1 = {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "submitted": 10.0}
    retry = {"stageId": 1, "attemptId": 1, "status": "COMPLETE", "submitted": 12.0}
    old = {"stageId": 0, "attemptId": 0, "status": "COMPLETE", "submitted": 5.0}
    ran = metrics.counted_stages([s1, dict(s1), retry, old], since=9.0)
    assert [(s["stageId"], s["attemptId"]) for s in ran] == [(1, 0), (1, 1)]


# --- failed_ratio ----------------------------------------------------------------

def _ex(p, name, lat, ok=True):
    return {"pass": p, "name": name, "latency_s": lat, "ok": ok}


def test_failed_ratio_counts_errors_and_mismatches_over_attempts():
    ex = [_ex(0, "a", 1.0), _ex(0, "b", 1.0, ok=False),
          _ex(1, "a", 1.0), _ex(1, "b", 1.0, ok=False)]
    assert metrics.failed_ratio(ex) == 0.5
    assert metrics.failed_ratio([_ex(1, "a", 1.0)]) == 0.0
    assert metrics.failed_ratio([]) == 0.0


def test_end_to_end_uses_warm_passes_only():
    ex = [_ex(0, "a", 9.0), _ex(0, "b", 9.0),
          _ex(1, "a", 1.0), _ex(1, "b", 4.0),
          _ex(2, "a", 1.0), _ex(2, "b", 4.0, ok=False)]
    e = metrics.end_to_end([3.0, 1.0, 2.0], ex, [18.0, 5.0, 5.0])
    assert e["setup_s"] == 2.0
    assert e["cold_pass_s"] == 18.0
    assert e["warm_qps"] == 4 / 10.0
    assert e["query_p50_s"] == 2.5
    assert e["query_geomean_s"] == pytest.approx(2.0)  # sqrt(1 * 4)
    assert e["failed_ratio"] == 1 / 6
    assert e["warm_samples"] == 4


# --- fingerprints match tests/_compare.py --------------------------------------

_ROWS = [
    (1, 2.5, "x", None, True, Decimal("1.25"), date(2024, 1, 2),
     datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc), [1, 2], {"b": 1, "a": 2.0},
     b"\x01\xff", float("nan")),
    (2, -0.1, "y|z", "w", False, Decimal("0"), date(1995, 1, 1),
     datetime(1995, 1, 1), [], {}, bytearray(b""), 0.30000000000000004),
]
_COLS = ["K", "f", "s", "n", "b", "d", "dt", "ts", "arr", "m", "bin", "nan"]


def test_canonical_rowset_matches_tests_compare():
    repo = os.path.dirname(os.path.dirname(HERE))
    compare = os.path.join(repo, "tests", "_compare.py")
    if not os.path.exists(compare):
        pytest.skip("tests/_compare.py is not in this checkout")
    sys.path.insert(0, os.path.join(repo, "tests"))
    import _compare

    cols = [c.lower() for c in _COLS]
    assert metrics.rowset(cols, _ROWS) == _compare._rowset(cols, _ROWS)
    for v in _ROWS[0] + _ROWS[1]:
        assert metrics.canon(v) == _compare._canon(v)


def test_fingerprint_ignores_row_and_column_order_and_case():
    fp = metrics.result_fingerprint(_COLS, _ROWS)
    perm = list(range(len(_COLS)))
    random.Random(0).shuffle(perm)
    cols2 = [_COLS[i].upper() for i in perm]
    rows2 = [tuple(r[i] for i in perm) for r in reversed(_ROWS)]
    assert metrics.result_fingerprint(cols2, rows2) == fp


def test_fingerprint_sees_values_rows_and_types():
    fp = metrics.result_fingerprint(["a"], [(1,), (2,)])
    assert metrics.result_fingerprint(["a"], [(1,), (3,)]) != fp
    assert metrics.result_fingerprint(["a"], [(1,), (2,), (2,)]) != fp
    assert metrics.result_fingerprint(["a"], [(1.0,), (2.0,)]) != fp  # i: vs f:
    assert metrics.result_fingerprint(["b"], [(1,), (2,)]) != fp


# --- plans ----------------------------------------------------------------------

def test_plan_is_same_work_for_every_seed():
    w = WORKLOADS["olap_sf0.1"]
    a, b = make_plan("olap_sf0.1", 1, 10), make_plan("olap_sf0.1", 2, 10)
    assert len(a) == len(b) >= 3
    assert all(sorted(p) == sorted(w["queries"]) for p in a + b)
    assert a[0] == b[0] == w["queries"]  # the cold pass keeps the listed order
    assert a[1:] != b[1:]
    assert make_plan("olap_sf0.1", 1, 10) == a
