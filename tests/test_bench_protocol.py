"""Bench-protocol guards (no Spark needed).

The r9 driver bench failed its own ratio gate (rc=1) and its inflated
warm times landed in ``bench_detail.json`` — which is also the
round-over-round regression baseline, so the NEXT healthy run would
have diffed against a poisoned base (spurious "improvements", masked
real regressions). Since r10 the diff baselines against
``bench_detail_last_green.json``, written only by zero-offender runs.
"""

from __future__ import annotations

import json

from bench import load_regression_baseline


def _w(path, warm):
    path.write_text(json.dumps({"warm_sec": warm}))


def test_baseline_prefers_last_green(tmp_path):
    green = tmp_path / "green.json"
    detail = tmp_path / "detail.json"
    _w(detail, {"q1": 9.0})
    # no green file yet (bootstrap): fall back to the last run's detail
    assert load_regression_baseline(str(green), str(detail)) == {"q1": 9.0}
    # green present: it wins even when detail holds a newer (failed) run
    _w(green, {"q1": 1.0})
    assert load_regression_baseline(str(green), str(detail)) == {"q1": 1.0}


def test_baseline_skips_unreadable_files(tmp_path):
    green = tmp_path / "green.json"
    detail = tmp_path / "detail.json"
    green.write_text("{not json")
    _w(detail, {"q2": 2.0})
    assert load_regression_baseline(str(green), str(detail)) == {"q2": 2.0}
    # neither readable → empty map (first-ever run)
    assert load_regression_baseline(str(tmp_path / "a"),
                                    str(tmp_path / "b")) == {}


def test_baseline_skips_other_core_count(tmp_path):
    """The driver benches the suite at a lower SPARK_GRAFT_CPUS to
    measure scaling; warm times from a different core count must not
    become the regression-diff base (an 8-core draw of a compute-bound
    query is ~2-4x its 32-core time by scaling alone)."""
    green = tmp_path / "green.json"
    detail = tmp_path / "detail.json"
    green.write_text(json.dumps({"cpus": 32, "warm_sec": {"q1": 1.0}}))
    detail.write_text(json.dumps({"cpus": 8, "warm_sec": {"q1": 4.0}}))
    # 8-core run: the 32-core green record is incomparable, the 8-core
    # detail record matches
    assert load_regression_baseline(str(green), str(detail), 8) == {"q1": 4.0}
    # 32-core run: green matches directly
    assert load_regression_baseline(str(green), str(detail), 32) == {"q1": 1.0}
    # records that predate the cpus key stay comparable (bootstrap)
    green.write_text(json.dumps({"warm_sec": {"q1": 2.0}}))
    assert load_regression_baseline(str(green), str(detail), 32) == {"q1": 2.0}
    # cpus=None (caller did not resolve it) keeps the old behavior
    assert load_regression_baseline(str(green), str(detail)) == {"q1": 2.0}


def test_baseline_per_core_green_files(tmp_path):
    """r12: green baselines are kept PER CORE COUNT (a tuple of
    candidate green files, checked in order) so an alternating-cpus
    run sequence can never evict the other count's green record."""
    g32 = tmp_path / "green_c32.json"
    g8 = tmp_path / "green_c8.json"
    legacy = tmp_path / "green.json"
    detail = tmp_path / "detail.json"
    g32.write_text(json.dumps({"cpus": 32, "warm_sec": {"q1": 1.0}}))
    g8.write_text(json.dumps({"cpus": 8, "warm_sec": {"q1": 3.0}}))
    detail.write_text(json.dumps({"cpus": 8, "warm_sec": {"q1": 9.0}}))
    assert load_regression_baseline((str(g32), str(legacy)),
                                    str(detail), 32) == {"q1": 1.0}
    assert load_regression_baseline((str(g8), str(legacy)),
                                    str(detail), 8) == {"q1": 3.0}
    # missing per-core file, cpus-matching legacy green: bootstrap
    legacy.write_text(json.dumps({"cpus": 8, "warm_sec": {"q1": 2.0}}))
    assert load_regression_baseline((str(tmp_path / "nope"), str(legacy)),
                                    str(detail), 8) == {"q1": 2.0}


def test_failed_run_never_writes_green_baseline():
    """The write-green decision is a named function: a run with any
    ratio offender must not replace the regression baseline."""
    import inspect

    import bench

    assert bench.is_green_run([]) is True
    assert bench.is_green_run(["q40_ngram_jaccard_pairs"]) is False
    # and main() must actually route the write through it
    assert "is_green_run(offenders)" in inspect.getsource(bench.main)


class _Seq:
    """A Scala Seq as py4j exposes it: ``size()`` and ``apply(i)``."""

    def __init__(self, items):
        self.items = list(items)

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Opt:
    def __init__(self, v):
        self.v = v

    def isDefined(self):
        return self.v is not None

    def get(self):
        return self.v


class _Stage:
    def __init__(self, sid, run_ms):
        self.sid, self.run_ms = sid, run_ms

    def stageId(self):
        return self.sid

    def executorRunTime(self):
        return self.run_ms


class _Job:
    def __init__(self, desc, stage_ids):
        self.desc, self.sids = desc, stage_ids

    def description(self):
        return _Opt(self.desc)

    def stageIds(self):
        return _Seq(self.sids)


class _FakeSc:
    """Just enough SparkContext for ``_task_time_ms``: a status store
    listing ``stages`` and ``jobs``."""

    def __init__(self, stages, jobs):
        store = type("Store", (), {
            "stageList": lambda _s, *a: _Seq(stages),
            "jobsList": lambda _s, _status: _Seq(jobs),
        })()
        jsc_sc = type("JSc", (), {"statusStore": lambda _s: store})()
        self._jsc = type("Jsc", (), {"sc": lambda _s: jsc_sc})()
        self._gateway = type("Gw", (), {"new_array": lambda _s, *a: []})()
        self._jvm = type("Jvm", (), {"double": float})()


def test_task_time_counts_a_shared_stage_once():
    """Stage 1 ran once (1000 ms) and both reps' jobs list it — the
    second rep skipped it — so it counts once; a job outside the
    timed descriptions never counts."""
    from bench import _task_time_ms

    sc = _FakeSc(
        stages=[_Stage(1, 1000), _Stage(2, 30), _Stage(3, 40),
                _Stage(4, 500)],
        jobs=[_Job("q_r1", [1, 2]), _Job("q_r2", [1, 3]),
              _Job("other", [4]), _Job(None, [4])])
    assert _task_time_ms(sc, {"q_r1", "q_r2"}) == 1070
