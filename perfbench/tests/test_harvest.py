"""Tests of the benchmark's own bookkeeping (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from digest import digest  # noqa: E402
from harvest import Job, Stage, attribute  # noqa: E402
from tracing import Tracer  # noqa: E402


def _stage(sid, status="COMPLETE", tasks=4, run_ms=100):
    return Stage(sid, status, {"tasks": tasks, "run_ms": run_ms,
                               "cpu_ns": 0, "input_bytes": 0,
                               "shuffle_read_bytes": 0,
                               "shuffle_write_bytes": 10,
                               "spill_bytes": 0})


def _by_group(j):
    return j.group


def test_stage_reused_by_later_job_in_same_op_is_counted_once():
    # job 1 reuses the map stage job 0 ran: per-job summing would
    # charge stage 0 twice
    jobs = [Job(0, "a", (0,)), Job(1, "a", (0, 1))]
    stages = {0: _stage(0), 1: _stage(1, tasks=2, run_ms=30)}
    got = attribute(jobs, stages, _by_group)["a"]
    assert got.jobs == 2
    assert got.stages == 2
    assert got.counters["tasks"] == 6
    assert got.counters["run_ms"] == 130
    assert got.counters["shuffle_write_bytes"] == 20


def test_stage_reused_by_later_op_is_reported_skipped_there():
    jobs = [Job(0, "a", (0, 1)), Job(1, "b", (1, 2))]
    stages = {0: _stage(0), 1: _stage(1), 2: _stage(2, run_ms=7)}
    got = attribute(jobs, stages, _by_group)
    assert (got["a"].stages, got["a"].stages_skipped) == (2, 0)
    assert (got["b"].stages, got["b"].stages_skipped) == (1, 1)
    assert got["b"].counters["run_ms"] == 7
    assert got["a"].counters["run_ms"] == 200


def test_store_skipped_stage_adds_no_counters():
    # Spark 4 gives a map stage that a later job finds already computed
    # a new id with status SKIPPED
    jobs = [Job(0, "a", (0,)), Job(1, "a", (1, 2))]
    stages = {0: _stage(0), 1: _stage(1, status="SKIPPED", tasks=0,
                                      run_ms=0), 2: _stage(2, tasks=1)}
    got = attribute(jobs, stages, _by_group)["a"]
    assert (got.stages, got.stages_skipped) == (2, 1)
    assert got.counters["tasks"] == 5


def test_jobs_outside_any_op_are_ignored():
    jobs = [Job(0, None, (0,)), Job(1, "a", (1,))]
    stages = {0: _stage(0), 1: _stage(1)}
    got = attribute(jobs, stages, _by_group)
    assert set(got) == {"a"} and got["a"].counters["tasks"] == 4


def test_digest_ignores_row_and_column_order_but_not_types():
    a = pa.table({"x": [1, 2], "y": ["p", "q"]})
    b = pa.table({"y": ["q", "p"], "x": [2, 1]})
    c = pa.table({"x": [1.0, 2.0], "y": ["p", "q"]})
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer", op=7):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.span_id and inner.op == 7
    st = tr.self_times()
    assert abs(st["outer"] - ((outer.end - outer.start)
                              - (inner.end - inner.start))) < 1e-9


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []
