"""The percentile rule, job attribution by time window, and the folding
of event-log, progress and span records into layer totals."""

from __future__ import annotations

import json

import pytest

from perfbench import stats, trace


@pytest.mark.parametrize("n", [1, 5, 10, 11, 20, 21, 30, 57, 99, 100, 101, 250, 1000])
def test_tail_percentile_has_ten_samples_beyond_it(n):
    level = stats.tail_level(n)
    if level is None:
        # Not even the p51 rank has ten samples beyond it.
        assert sum(1 for i in range(n) if i > 0.51 * (n - 1)) < stats.TAIL_SUPPORT
        return
    assert 0.5 < level <= stats.TAIL_MAX
    rank = level * (n - 1)
    beyond = sum(1 for i in range(n) if i > rank)
    assert beyond >= stats.TAIL_SUPPORT
    # ...and it is the highest such percentile, to the hundredth.
    if level < stats.TAIL_MAX:
        assert sum(1 for i in range(n) if i > (level + 0.01) * (n - 1)) < stats.TAIL_SUPPORT


def test_p90_needs_ten_samples_beyond_its_rank():
    # p90 of 91 samples sits at rank 81, with 9 samples beyond it.
    assert stats.tail_level(91) == 0.89
    assert stats.tail_level(92) == 0.9
    s = stats.summarize([float(i) for i in range(100)])
    assert s["tail_level"] == 0.9 and s["tail"] == pytest.approx(89.1)
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small["tail"] == 3.0 and small["tail_level"] == 1.0 and small["p50"] == 2.0


def test_jobs_attributed_to_ops_by_submission_time():
    jobs = [
        {"id": 0, "submit": 1_000_500, "stages": [0]},  # inside op 0
        {"id": 1, "submit": 1_002_000, "stages": [1]},  # between ops
        {"id": 2, "submit": 1_003_100, "stages": [2, 3]},  # inside op 1
        {"id": 3, "submit": 1_003_900, "stages": [4]},  # op 1, another thread's job
    ]
    windows = [(1000.0, 1001.0), (1003.0, 1004.0)]
    assert trace.attribute_jobs(jobs, windows) == {0: 0, 2: 1, 3: 1}


def _task(stage, launch, run_ms, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Accumulables": [
            {"ID": i, "Name": "x", "Update": u} for i, u in accums]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "JVM GC Time": 1, "Peak Execution Memory": 2 * 2**20,
                         "Input Metrics": {"Bytes Read": 100},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                         "Disk Bytes Spilled": 0},
    }


def test_exec_totals_from_an_event_log(tmp_path):
    plan = {"nodeName": "ArrowEvalPython", "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 11},
        {"name": "data returned from Python workers", "accumulatorId": 12},
        {"name": "number of output rows", "accumulatorId": 13}], "children": [
        {"nodeName": "Project", "metrics": [
            {"name": "number of output rows", "accumulatorId": 14}], "children": []}]}
    events = [
        {"Event": trace.SQL_START, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 10_010}},
        _task(0, 10_030, 40, accums=[(11, 1000), (12, 500), (13, 9), (14, 99)]),
        _task(0, 10_050, 60),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 50_000,
         "Stage IDs": [1]},
        _task(1, 50_001, 1000),
    ]
    sub = tmp_path / "eventlog_v2_app"
    sub.mkdir()
    (sub / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    log = trace.parse_event_log(str(tmp_path))
    tot = trace.exec_totals(log, [(9.0, 11.0)])
    assert (tot["jobs"], tot["stages"], tot["tasks"]) == (1, 1, 2)
    assert tot["run_ms"] == 100 and tot["wait_ms"] == 20 + 40
    assert tot["shuffle_read"] == 10 and tot["peak_mem"] == 2 * 2**20
    assert (tot["to_python"], tot["from_python"], tot["rows_from_python"]) == (1000, 500, 9)


def test_self_time_subtracts_overlapping_children():
    parent = trace.Span(0, None, "op", 0.0, 10.0)
    kids = [trace.Span(1, 0, "a", 1.0, 4.0), trace.Span(2, 0, "b", 3.0, 5.0),
            trace.Span(3, 0, "c", 9.0, 12.0)]
    assert trace.self_time(parent, kids) == pytest.approx(10 - 4 - 1)


def test_tracer_nests_and_a_disabled_tracer_records_nothing():
    t = trace.Tracer(True)
    with t.span("op", entry="q") as op:
        with t.span("build"):
            pass
    assert [s.name for s in t.children(op.id)] == ["build"]
    off = trace.Tracer(False)
    with off.span("op") as sp:
        assert sp is None
    assert off.spans == []


def test_streaming_totals_per_drain():
    drains = [{"start": 100.0, "end": 103.0, "progress": [
        {"start": 100.5, "rows": 40, "duration": {"triggerExecution": 1500, "addBatch": 1000,
                                                  "queryPlanning": 50, "walCommit": 20},
         "state_rows": 7, "state_mem": 2**20, "state_commit_ms": 30},
        {"start": 102.0, "rows": 0, "duration": {"triggerExecution": 500},
         "state_rows": 9, "state_mem": 2**20, "state_commit_ms": 10}]},
        {"start": 500.0, "end": 501.0, "progress": []}]
    tot = trace.streaming_totals(drains, [(99.0, 104.0)])
    assert tot["drain_s"] == 3.0 and tot["batches"] == 2 and tot["input_rows"] == 40
    assert tot["overhead_s"] == pytest.approx(1.0)
    assert tot["state_rows"] == 9 and tot["state_commit_ms"] == 40


def test_etl_stage_boundaries():
    class FakeJob:
        @staticmethod
        def memoized_write(df, path):
            return True

        @staticmethod
        def upsert_append(df, path, key, spark):
            return 0

        build_dimensions = build_fact = fk_integrity_report = staticmethod(lambda *a: None)

    probe = trace.EtlProbe(FakeJob)
    probe.calls = [("memoized_write", 1.0), ("memoized_write", 3.0), ("upsert_append", 6.0),
                   ("build_dimensions", 7.0), ("build_fact", 9.0), ("fk_integrity_report", 9.5)]
    assert probe.stage_seconds(0.5, 10.0) == {
        "ingest": 2.5, "summary": 3.0, "merge_upsert": 1.0, "dims": 2.0, "fact_upsert": 0.5,
        "fk_report": 0.5}


def test_figures_survive_a_failed_etl_op():
    from types import SimpleNamespace

    from perfbench import report

    failed = {"entry": "run_pipeline", "s": 1.0, "timed": True, "ok": False}
    run = SimpleNamespace(ops=[failed], timed=[failed])
    figures = report.workload_figures("etl_job", run, {})
    assert figures["failed_ratio"] == 1.0
    assert figures["etl_job_s"] == 0.0 and figures["fk_violations"] is None
