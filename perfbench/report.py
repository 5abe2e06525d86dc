"""Fold a finished run into its metrics.

End-to-end metrics have the same names on every workload, so every
workload reports every one of them; the workload's own named figures
(``query_p50_s``, ``fanout_drain_s``, ``etl_replay_s``, ...) go to the
run's detail line. Per-layer metrics are per timed op, so runs with
different pass counts compare; a layer a workload does not use reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import stats, trace

MB = 2**20
FANOUT = "run_topics_fanout"

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
)

TOPICS = (
    "transit_signals_by_state",
    "signals_vs_lesions",
    "weather_light_surface",
    "accidents_by_time",
    "lesions_by_county",
    "hospitals_schools_vs_lesions",
    "crossings_vs_lesions",
)
ETL_STAGE_NAMES = tuple(s for s, _, _ in trace.ETL_STAGES)

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.peak_rss_gb", "GB"),
    ("plans.build_s", "s"),
    ("plans.artifact_build_s", "s"),
    ("catalyst.plan_s", "s"),
    ("exec.action_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.task_wait_s", "s"),
    ("exec.core_busy_ratio", "ratio"),
    ("exec.input_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.peak_exec_mem_mb", "MB"),
    ("udf.mb_to_python", "MB"),
    ("udf.mb_from_python", "MB"),
    ("udf.rows_from_python", "count"),
    ("streaming.drain_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.overhead_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mem_mb", "MB"),
    ("streaming.state_commit_ms", "ms"),
    ("fanout.env_s", "s"),
    ("fanout.parse_s", "s"),
    ("fanout.drain_wall_s", "s"),
    ("fanout.merge_s", "s"),
    *((f"fanout.topic_s.{t}", "s") for t in TOPICS),
    *((f"etl.{s}_s", "s") for s in ETL_STAGE_NAMES),
    *((f"etl.replay.{s}_s", "s") for s in ETL_STAGE_NAMES),
    ("sinks.rows_written", "count"),
    ("sinks.files_written", "count"),
    ("sinks.mb_written", "MB"),
    ("sinks.novel_ratio", "ratio"),
)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def span_records(tracer) -> list[dict]:
    """Every span of a traced run with its self time (its duration minus
    the part its children cover)."""
    return [
        {"id": sp.id, "parent": sp.parent, "name": sp.name, "start": sp.start, "end": sp.end,
         "self_s": trace.self_time(sp, tracer.children(sp.id)), **sp.attrs}
        for sp in tracer.spans
    ]


def end_to_end(run, setup: dict) -> dict:
    """Set-up time and closed-loop throughput: timed ops per second of op
    time. Throughput stands in for the median: with one or two samples
    per catalog entry a run's median is one entry's sample, and it read
    0.30 IQR/median over ten seeds on a 4-core, 16 GB VM where throughput
    read 0.13. No percentile above the median has ten samples beyond it,
    so the tail is the slowest op, on catalog the one fan-out sample; it
    goes to the detail line with the median."""
    latencies = [o["s"] for o in run.timed]
    values = {
        "setup_s": setup["setup_s"],
        "ops_per_s": len(latencies) / sum(latencies),
    }
    return {name: _metric(values[name], unit) for name, unit in END_TO_END}


def workload_figures(workload: str, run, live: dict) -> dict:
    """The workload's own named figures, for the detail line."""
    timed = run.timed
    failed = sum(not o["ok"] for o in run.ops)
    out = {"samples": len(timed), "failed_ratio": failed / max(1, len(run.ops))}
    if not timed:
        return out
    op = stats.summarize([o["s"] for o in timed])
    out.update(op_p50_s=op["p50"], op_tail_s=op["tail"], op_tail_level=op["tail_level"])
    if workload == "catalog":
        drains = [o for o in timed if o["entry"].startswith("stream_") or o["entry"] == FANOUT]
        batch = [o["s"] for o in timed if o not in drains]
        rows = live.get("rows_per_entry", {})
        if batch:
            q = stats.summarize(batch)
            out.update(query_p50_s=q["p50"], query_tail_s=q["tail"], query_tail_level=q["tail_level"])
        if drains:
            d = stats.summarize([o["s"] for o in drains])
            out.update(
                drain_p50_s=d["p50"],
                drain_tail_s=d["tail"],
                fanout_drain_s=_median([o["s"] for o in drains if o["entry"] == FANOUT]),
                events_per_s=sum(rows.get(o["entry"], 0) for o in drains)
                / sum(o["s"] for o in drains),
            )
    elif workload == "etl_job":
        done = [o for o in timed if "fresh_s" in o]  # a failed op has no report
        out.update(
            etl_job_s=_median([o["fresh_s"] for o in done]),
            etl_replay_s=_median([o["replay_s"] for o in done]),
            fk_violations=done[-1]["fk_violations"] if done else None,
        )
    return out


def per_layer(run, setup: dict, live: dict, log_dir: str, cpus: int,
              peak_rss_gb: float) -> dict:
    timed = run.timed
    n = max(1, len(timed))
    windows = [o["window"] for o in timed]
    wall = sum(o["s"] for o in timed)
    drains = live.get("drains", [])
    v: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    v["session.start_s"] = setup["session_s"]
    v["session.peak_rss_gb"] = peak_rss_gb
    v["plans.artifact_build_s"] = sum(live.get("artifact_build_s", {}).values())
    for o in timed:
        for child in run.tracer.children(o["span"]):
            if child.name == "build":
                in_drains = trace.covered(trace.drain_intervals(drains, child.start, child.end),
                                          child.start, child.end)
                v["plans.build_s"] += (child.duration - in_drains) / n
            elif child.name == "plan":
                v["catalyst.plan_s"] += child.duration / n
            elif child.name in ("action", "fresh", "replay"):
                v["exec.action_s"] += child.duration / n

    ex = trace.exec_totals(trace.parse_event_log(log_dir), windows)
    v["exec.jobs"] = ex["jobs"] / n
    v["exec.stages"] = ex["stages"] / n
    v["exec.tasks"] = ex["tasks"] / n
    v["exec.task_run_s"] = ex["run_ms"] / 1000 / n
    v["exec.task_cpu_s"] = ex["cpu_ns"] / 1e9 / n
    v["exec.gc_s"] = ex["gc_ms"] / 1000 / n
    v["exec.task_wait_s"] = ex["wait_ms"] / 1000 / n
    v["exec.core_busy_ratio"] = ex["run_ms"] / 1000 / max(wall * cpus, 1e-9)
    v["exec.input_mb"] = ex["input"] / MB / n
    v["exec.shuffle_read_mb"] = ex["shuffle_read"] / MB / n
    v["exec.shuffle_write_mb"] = ex["shuffle_write"] / MB / n
    v["exec.spill_mb"] = ex["spill"] / MB / n
    v["exec.peak_exec_mem_mb"] = ex["peak_mem"] / MB
    v["udf.mb_to_python"] = ex["to_python"] / MB / n
    v["udf.mb_from_python"] = ex["from_python"] / MB / n
    v["udf.rows_from_python"] = ex["rows_from_python"] / n

    st = trace.streaming_totals(drains, windows)
    for key in ("drain_s", "batches", "input_rows", "trigger_ms", "add_batch_ms",
                "query_planning_ms", "wal_commit_ms", "overhead_s", "state_rows",
                "state_commit_ms"):
        v[f"streaming.{key}"] = st[key] / n
    v["streaming.state_mem_mb"] = st["state_mem"] / MB / n

    if run.fanout_meta:
        k = len(run.fanout_meta)
        for m in run.fanout_meta:
            v["fanout.env_s"] += m.get("env_sec", 0.0) / k
            v["fanout.parse_s"] += m.get("parse_sec", 0.0) / k
            v["fanout.drain_wall_s"] += m.get("drain_wall_sec", 0.0) / k
            v["fanout.merge_s"] += m.get("merge_sec", 0.0) / k
            for t, sec in m.get("topic_sec", {}).items():
                v[f"fanout.topic_s.{t}"] += sec / k

    fresh = [s for s in run.etl_stages if s["phase"] == "fresh"]
    replay = [s for s in run.etl_stages if s["phase"] == "replay"]
    for stage in ETL_STAGE_NAMES:
        v[f"etl.{stage}_s"] = _median([s[stage] for s in fresh])
        v[f"etl.replay.{stage}_s"] = _median([s[stage] for s in replay])
    etl_ops = max(1, len(fresh))
    v["sinks.rows_written"] = run.sink["rows"] / etl_ops
    v["sinks.files_written"] = run.sink["files"] / etl_ops
    v["sinks.mb_written"] = run.sink["bytes"] / MB / etl_ops
    v["sinks.novel_ratio"] = run.sink["upsert_rows"] / run.sink["offered"] if run.sink["offered"] else 0.0

    return {name: _metric(v[name], unit) for name, unit in PER_LAYER}
