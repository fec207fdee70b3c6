"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import catalog  # noqa: E402
import run as bench  # noqa: E402
from spans import Span, Tracer, covered, parse_event_log, percentile, reportable, self_times  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_reportable_needs_ten_samples_beyond():
    assert not reportable(99, 90)
    assert reportable(100, 90)
    assert reportable(20, 50) and not reportable(19, 50)
    assert not reportable(999, 99) and reportable(1000, 99)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0
    assert covered([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "op", "q", None, 0.0, 10.0),
        Span(2, "build", "q", 1, 1.0, 4.0),
        Span(3, "load", "q", 2, 1.5, 2.5),
        Span(4, "exec", "q", 1, 3.0, 8.0),  # overlaps build by 1 s
        Span(5, "other", "r", None, 0.0, 1.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 7.0)  # children cover [1, 8]
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(5.0)
    assert st[5] == pytest.approx(1.0)


def test_tracer_nests_and_inherits_trace():
    tracer = Tracer()
    with tracer.span("op", trace="q1") as outer:
        with tracer.span("build") as inner:
            pass
    with pytest.raises(RuntimeError):
        with tracer.span("exec"):
            raise RuntimeError("boom")
    assert inner.parent == outer.id and inner.trace == "q1"
    failed = tracer.spans[-1]
    assert failed.name == "exec" and failed.parent is None and failed.attrs["failed"]


def test_event_log_groups_jobs_tasks_and_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb-7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1250},
            "Task Metrics": {
                "Executor Run Time": 400,
                "Executor CPU Time": 300_000_000,
                "JVM GC Time": 20,
                "Memory Bytes Spilled": 1048576,
                "Disk Bytes Spilled": 1048576,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2097152},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {}, "Task Metrics": {"Executor Run Time": 100}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {}, "Task Metrics": {}},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 5000},
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = parse_event_log(str(path))
    g = groups["pb-7"]
    assert (g.jobs, g.tasks) == (1, 2)
    assert g.executor_run_s == pytest.approx(0.5)
    assert g.executor_cpu_s == pytest.approx(0.3)
    assert g.gc_s == pytest.approx(0.02)
    assert g.spill_mb == pytest.approx(2.0)
    assert g.shuffle_read_mb == pytest.approx(2.0)
    assert g.shuffle_write_mb == pytest.approx(1.0)
    assert g.sched_wait_s == pytest.approx(0.25)
    assert (groups[""].jobs, groups[""].tasks) == (1, 1)


# --- a planted wrong expected hash must show as failed operations ------------


class _Writer:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


class _Frame:
    columns = ["k", "v"]
    write = _Writer()

    def collect(self):
        return [(1, "a"), (2, "b")]


class _Rdds:
    def size(self):
        return 0

    def values(self):
        return []


class _Spark:
    class sparkContext:  # noqa: N801 - mimics the attribute path
        class _jsc:  # noqa: N801
            @staticmethod
            def getPersistentRDDs():
                return _Rdds()

    class catalog:  # noqa: N801
        @staticmethod
        def clearCache():
            return None


class _Ctx:
    spark, data_dir, tracer, seed, seconds = _Spark(), "unused", None, 3, 0.0

    def start_timed(self):
        pass

    def end_timed(self):
        pass


@pytest.fixture()
def fake_catalog(monkeypatch):
    from tools.check_oracle import value_hash

    import data_pipelines_worker_spark.queries as queries

    good = value_hash(_Frame().collect(), _Frame.columns)
    expected = {
        "scale": catalog.SCALE,
        "queries": {
            "q_good": {"columns": ["k", "v"], "rows": 2, "hash": good},
            "q_bad": {"columns": ["k", "v"], "rows": 2, "hash": "0" * 64},
        },
    }
    registry = {name: (lambda spark, d: _Frame(), "SELECT 1") for name in ("q_good", "q_bad")}
    monkeypatch.setattr(queries, "load_all", lambda: registry)
    monkeypatch.setattr(catalog, "load_expected", lambda: expected)
    return expected


def test_planted_wrong_hash_raises_failed_frac(fake_catalog):
    res = catalog.run(_Ctx(), ("q_good", "q_bad"))
    assert res["bad"] == {"q_bad": "value-hash mismatch"}
    assert sorted((name, ok) for name, _, ok in res["ops"]) == [("q_bad", False), ("q_good", True)]
    _, detail = bench.end_to_end(res, bench.Context(None, 3, 0.0, "unused", None, os.getpid()), 1.0)
    assert detail["failed_frac"] == pytest.approx(0.5)


def test_matching_hash_and_row_count_only_entries():
    exp = {"q": {"columns": ["v", "k"], "rows": 2, "hash": None}}
    assert catalog.check_result("q", ["k", "v"], [(1, "a"), (2, "b")], exp) is None
    assert catalog.check_result("q", ["k", "v"], [(1, "a")], exp) == "rows 1 != 2"
    assert catalog.check_result("missing", ["k"], [], exp) == "no expected value"


def test_op_p50_weighs_each_query_once():
    ops = [("a", 1.0, True), ("a", 1.0, True), ("a", 1.0, True), ("b", 3.0, True), ("c", 5.0, True), ("c", 9.0, False)]
    assert bench.op_p50(ops) == 3.0
    assert bench.op_p50([("start", 2.0, True), ("resume", 9.0, True), ("start", 4.0, True)]) == 3.0
    assert bench.op_p50([]) == 0.0
