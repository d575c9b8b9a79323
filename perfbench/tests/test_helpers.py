"""Unit tests for the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

import measure  # noqa: E402
import oracle_diff  # noqa: E402
from tracing import Span, SpanTree, union_length  # noqa: E402

from kafka_jdbc_sink_connector_spark.config import SinkConfig  # noqa: E402
from tests.oracle import AUDIT_SENTINEL, replay  # noqa: E402

# -- tail percentile -----------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(40)]
    t = measure.tail(list(reversed(xs)))
    assert t["beyond"] == 10
    assert t["value"] == 29.0
    assert t["pct"] == 75.0
    assert sum(1 for x in xs if x > t["value"]) == 10


def test_tail_at_exactly_twenty_one_samples_is_the_median():
    t = measure.tail([float(i) for i in range(21)])
    assert t["value"] == 10.0 and t["beyond"] == 10


def test_tail_never_below_the_median_on_short_runs():
    t = measure.tail([5.0, 1.0, 4.0, 2.0, 3.0])
    assert t["value"] == 3.0
    assert t["beyond"] == 2
    t = measure.tail([1.0, 2.0, 3.0, 4.0])
    assert t["value"] == 3.0  # upper median


def test_tail_of_no_samples_raises():
    with pytest.raises(ValueError):
        measure.tail([])


def test_drift_compares_halves_in_run_order():
    assert measure.drift([1.0, 1.0, 2.0, 2.0]) == pytest.approx(1.0)
    assert measure.drift([1.0, 2.0, 3.0]) is None


# -- span self time --------------------------------------------------------


def _span(sid, parent, t0, t1, jobs=()):
    return Span(sid=sid, name=f"s{sid}", parent=parent, batch=0, t0=t0,
                t1=t1, jobs=list(jobs))


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-2, 1), (9, 12)], 0, 10) == 2
    assert union_length([], 0, 10) == 0


def test_self_time_nested_and_sibling_spans():
    root = _span(1, None, 0.0, 10.0)
    a = _span(2, 1, 1.0, 4.0)          # sibling of b
    b = _span(3, 1, 5.0, 8.0)
    a_child = _span(4, 2, 2.0, 3.5)    # nested under a
    tree = SpanTree([a_child, a, b, root])
    assert tree.self_time(root) == pytest.approx(10.0 - 3.0 - 3.0)
    assert tree.self_time(a) == pytest.approx(3.0 - 1.5)
    assert tree.self_time(b) == pytest.approx(3.0)
    assert tree.self_time(a_child) == pytest.approx(1.5)
    # grandchildren do not count twice against the root
    assert [s.sid for s in tree.roots()] == [1]
    assert tree.under(a_child, "s1") and not tree.under(root, "s1")


def test_idle_time_subtracts_jobs_of_the_whole_subtree():
    root = _span(1, None, 0.0, 10.0, jobs=[(1.0, 2.0, 4)])
    child = _span(2, 1, 3.0, 9.0, jobs=[(4.0, 6.0, 8), (5.0, 7.0, 8)])
    tree = SpanTree([root, child])
    assert tree.idle_time(root) == pytest.approx(10.0 - 1.0 - 3.0)
    assert sum(j[2] for j in tree.jobs(root)) == 20


# -- oracle diff -------------------------------------------------------------

_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_PAYLOAD = ["conv_id", "turn_idx", "role", "text", "ts"]


def _ev(off, op, conv, turn, text=None):
    return {"kafka_partition": 0, "kafka_offset": off, "op": op,
            "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "ts": _TS + dt.timedelta(seconds=off)}


_EVENTS = [
    _ev(0, "c", "a", 0, "one"), _ev(1, "c", "a", 1, "two"),
    _ev(2, "c", "b", 0, "three"), _ev(3, "u", "a", 0, "one'"),
    _ev(4, "d", "a", 1), _ev(5, "c", "b", 1, "four"),
]


def test_per_conversation_replay_equals_one_replay():
    cfg = SinkConfig()
    by_conv = oracle_diff.by_conversation(_EVENTS)
    assert oracle_diff.oracle_state(by_conv, cfg, _PAYLOAD) == \
        replay(_EVENTS, cfg, _PAYLOAD)
    upto = oracle_diff.oracle_state(by_conv, cfg, _PAYLOAD, ["a"], 3)
    assert set(upto) == {("a", 0), ("a", 1)}
    assert upto[("a", 1)]["op_type"] == "C"  # the delete at 4 is later


def test_diff_ignores_audit_and_timezone_representation():
    want = replay(_EVENTS, SinkConfig(), _PAYLOAD)
    assert all(r["audit_ts"] == AUDIT_SENTINEL for r in want.values())
    got = {}
    for key, row in want.items():
        g = dict(row, audit_ts=dt.datetime(2026, 1, 1))
        g["ts"] = row["ts"].replace(tzinfo=None)  # naive UTC
        got[key] = g
    assert oracle_diff.diff(got, want) == []


def test_diff_reports_missing_extra_and_changed_rows():
    want = replay(_EVENTS, SinkConfig(), _PAYLOAD)
    got = {k: dict(v) for k, v in want.items()}
    got[("a", 0)]["text"] = "stale"
    del got[("b", 1)]
    got[("z", 9)] = {"conv_id": "z"}
    out = oracle_diff.diff(got, want)
    assert any("only in oracle" in d and "'b', 1" in d for d in out)
    assert any("only in engine" in d and "'z', 9" in d for d in out)
    assert any("column text" in d for d in out)
    assert len(oracle_diff.diff(got, want, limit=1)) == 1
