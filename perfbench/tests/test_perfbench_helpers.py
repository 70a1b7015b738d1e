"""Unit tests of the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

import datetime
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pytest  # noqa: E402

import schedule  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402


def test_same_seed_same_schedule():
    assert schedule.sync_schedule(7) == schedule.sync_schedule(7)
    assert [c.body() for c in schedule.sync_schedule(7).cycles] == [
        c.body() for c in schedule.sync_schedule(7).cycles
    ]
    a = [schedule.calc_body(r, 1000 + r.index) for r in schedule.calc_schedule(7)]
    b = [schedule.calc_body(r, 1000 + r.index) for r in schedule.calc_schedule(7)]
    assert a == b


def test_other_seed_other_schedule():
    assert schedule.sync_schedule(7) != schedule.sync_schedule(8)
    assert [r.params for r in schedule.calc_schedule(7)] != [
        r.params for r in schedule.calc_schedule(8)
    ]


def test_seed_does_not_change_the_work_per_request():
    a, b = schedule.sync_schedule(7), schedule.sync_schedule(8)
    assert a.start_cursor == b.start_cursor
    assert [c.cursor for c in a.cycles] == [c.cursor for c in b.cycles]
    for c in a.cycles + b.cycles:
        lo, hi = c.update_keys
        assert hi - lo == schedule.UPDATE_KEYS
        assert lo < hi <= c.cursor  # updates touch keys already synced
        w_lo, w_hi = (datetime.date.fromisoformat(d) for d in c.window)
        assert (w_hi - w_lo).days == schedule.WINDOW_DAYS
    for r in schedule.calc_schedule(7) + schedule.calc_schedule(8):
        lo, hi = (datetime.date.fromisoformat(r.params[k]) for k in ("from_date", "to_date"))
        assert hi.year - lo.year == 2


def test_every_third_calc_promotes():
    calcs = schedule.calc_schedule(3)
    assert [r.promote for r in calcs[:6]] == [False, False, True] * 2
    # any whole round of the promote period holds exactly one promotion
    for start in range(3):
        assert sum(r.promote for r in calcs[start:start + schedule.PROMOTE_EVERY]) == 1


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100])
def test_tail_leaves_ten_samples_beyond(n):
    values = [float(v) for v in range(n, 0, -1)]  # distinct, unsorted
    value, pct = stats.tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_no_tail_below_eleven_samples():
    assert stats.tail([float(v) for v in range(10)]) is None
    assert stats.tail([]) is None


def _span(i, parent, layer, start, end):
    return Span(i, parent, f"s{i}", layer, start, end, "r")


def test_blocking_path_nested_spans_sum_to_wall():
    root = _span(1, None, "untraced", 0.0, 10.0)
    spans = [
        root,
        _span(2, 1, "api", 0.0, 1.0),
        _span(3, 1, "plans.scheduler", 1.0, 9.0),
        _span(4, 3, "store", 2.0, 5.0),
    ]
    split = stats.blocking_path(spans, root)
    assert split == pytest.approx({
        "untraced": 1.0, "api": 1.0, "plans.scheduler": 5.0, "store": 3.0,
    })
    assert sum(split.values()) == pytest.approx(10.0)


def test_blocking_path_follows_the_child_that_finished_last():
    # two parallel children: the longer one blocks; the other is off-path
    root = _span(1, None, "untraced", 0.0, 10.0)
    spans = [
        root,
        _span(2, 1, "operators.load_ops", 1.0, 8.0),
        _span(3, 1, "store", 2.0, 4.0),
        _span(4, 2, "store", 6.0, 7.0),
    ]
    split = stats.blocking_path(spans, root)
    assert split == pytest.approx({
        "untraced": 3.0, "operators.load_ops": 6.0, "store": 1.0,
    })


def test_blocking_path_clips_overlapping_children():
    # b starts while a still runs: a is on the path only until b starts
    root = _span(1, None, "untraced", 0.0, 10.0)
    spans = [
        root,
        _span(2, 1, "api", 0.0, 6.0),
        _span(3, 1, "store", 4.0, 10.0),
    ]
    split = stats.blocking_path(spans, root)
    assert split == pytest.approx({"untraced": 0.0, "api": 4.0, "store": 6.0})
    assert sum(split.values()) == pytest.approx(10.0)
