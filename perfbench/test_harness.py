"""Tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    Tally, Tracer, closed_loop, parse_metric_total, self_time, tail_percentile,
)


def test_tail_needs_ten_samples_beyond():
    # 100 samples: p90 is the 90th value and has exactly 10 beyond it
    xs = list(range(1, 101))
    assert tail_percentile(xs) == (90.0, 90)
    # 99 samples: p90's rank is 90 (ceil 89.1), 9 beyond -> falls to p75
    assert tail_percentile(list(range(1, 100))) == (75.0, 75)


def test_tail_highest_qualifying_percentile():
    xs = list(range(1, 1001))
    assert tail_percentile(xs) == (99.0, 990)  # 10 beyond; p99.9 has 1
    assert tail_percentile(list(range(2000)), candidates=(99.5, 99.0)) == (99.5, 1989)


def test_tail_none_below_twenty_samples():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile([]) is None


def test_tail_ignores_input_order():
    xs = [5, 1, 4, 2, 3] * 20
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def test_self_time_no_children():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlap_once():
    # children [1,4] and [3,6] cover [1,6]: 5 s, not 6
    assert self_time(0.0, 10.0, [(3.0, 6.0), (1.0, 4.0)]) == pytest.approx(5.0)
    # a child nested in another adds nothing
    assert self_time(0.0, 10.0, [(1.0, 8.0), (2.0, 3.0)]) == pytest.approx(3.0)


def test_self_time_clips_children_to_the_span():
    assert self_time(2.0, 5.0, [(0.0, 3.0), (4.0, 9.0)]) == pytest.approx(1.0)
    assert self_time(2.0, 5.0, [(6.0, 7.0)]) == pytest.approx(3.0)


def test_tally_counts_attempts_and_failures():
    t = Tally()
    assert t.failed_ratio == 0.0
    assert t.record("a", True)
    assert not t.record("b", False, "checksum differs")
    t.record("c", True)
    t.record("d", False)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_ratio == 0.5
    assert t.problems == ["b: checksum differs", "d"]


def test_closed_loop_ends_when_every_call_raises():
    tally = Tally()

    def op(traced):
        raise RuntimeError("broken")

    # a traced loop past its deadline still stops after two attempts
    assert closed_loop(op, 0.0, True, lambda: tally.record("op", False)) == []
    assert (tally.attempted, tally.failed) == (2, 2)


def test_closed_loop_interleaves_untraced_and_traced():
    seen, failures = [], []

    def op(traced):
        seen.append(traced)
        time.sleep(0.001)
        if len(seen) == 3:
            raise RuntimeError("one failure")
        return len(seen)

    out = closed_loop(op, 0.2, True, lambda: failures.append(len(seen)))
    assert seen[:8] == [False, True, True, False, False, True, True, False]
    assert failures == [3]  # the failed call is counted, then the loop goes on
    assert out[:3] == [(False, 1), (True, 2), (False, 4)]


def test_closed_loop_untraced_may_attempt_nothing():
    assert closed_loop(lambda t: 1 / 0, 0.0, False, lambda: None) == []


@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 3.0: task 7))", 1500.0),
    ("total (min, med, max (stageId: taskId))\n12 ms (1 ms, 5 ms, 5 ms (stage 18.0: task 17))", 12.0),
    ("0 ms", 0.0),
    ("2.0 m", 120_000.0),
    ("total (min, med, max)\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)", 3072.0),
    ("1,024", 1024.0),
])
def test_parse_metric_total(text, value):
    assert parse_metric_total(text) == pytest.approx(value)


class _FakeSC:
    """Records the job group a real SparkContext would carry."""

    def __init__(self):
        self.group = None
        outer = self

        class _JSC:
            def clearJobGroup(self):
                outer.group = None

        self._jsc = _JSC()

    def setJobGroup(self, group, description):
        self.group = group


def test_tracer_nests_spans_and_restores_job_groups():
    sc = _FakeSC()
    tr = Tracer(sc, "r1", enabled=True)
    with tr.span("op") as op:
        assert sc.group == "r1-0"
        with tr.span("child") as child:
            assert sc.group == "r1-1"
        assert sc.group == "r1-0"  # back to the parent's group
    assert sc.group is None
    assert child.parent == op.sid and op.parent is None
    rec = {r["name"]: r for r in tr.records()}
    assert rec["op"]["self_s"] == pytest.approx(
        (op.end - op.start) - (child.end - child.start))
    assert rec["child"]["run_id"] == "r1"


def test_disabled_tracer_records_nothing():
    sc = _FakeSC()
    tr = Tracer(sc, "r1", enabled=False)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == [] and sc.group is None


def test_wait_exited_tells_running_from_ended():
    import subprocess

    from harness import _start_ticks, wait_exited

    proc = subprocess.Popen(["sleep", "30"])
    procs = {proc.pid: _start_ticks(proc.pid)}
    assert wait_exited(procs, 0.1) == procs
    proc.kill()  # a zombie until reaped: it has ended all the same
    assert wait_exited(procs, 5.0) == {}
    proc.wait()
    assert _start_ticks(proc.pid) is None
