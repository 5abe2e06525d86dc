"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 5 --trace 0

Run from the repository root. One single-threaded closed-loop client runs
the workload's ops one after another: a warm-up pass (part of set-up),
then seeded shuffled passes until ``--seconds`` of op time has run; the
pass in progress completes, so every op appears equally often. Every
op's output is checked after it returns, outside the timed region.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it holds the run's detail: host fingerprint, noise record, samples per
op and the workload's own named figures. Both are also written to
``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "traffic_accidents_airflow_kafka_spark"
#: Per-process, so two runs in one checkout never clobber each other.
WORK_DIR = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
RESULTS_DIR = os.path.join(ROOT, ".perfbench_results")

#: No new pass starts after this many seconds of process time, and the
#: process aborts at HARD_DEADLINE_S, so a run ends inside 180 s.
SOFT_DEADLINE_S = 110.0
HARD_DEADLINE_S = 170.0
#: An op slower than this counts as hung (failed), though it completed.
HUNG_OP_S = 150.0

GB = 2**30


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(cpus: int) -> dict[str, str]:
    """Keep the files the run writes inside the checkout, and let Python
    workers import the package whatever their working directory. Returns
    the session conf that goes with it."""
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
    }


def _watchdog(t_start: float) -> None:
    """Abort a run that would outlive its time limit. The driver JVM exits
    when this process does (it watches its stdin)."""
    time.sleep(max(0.0, HARD_DEADLINE_S - (time.perf_counter() - t_start)))
    print(f"perfbench: aborted after {HARD_DEADLINE_S:.0f} s", file=sys.stderr, flush=True)
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    os._exit(3)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; the Python
    workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)


class Run:
    """One benchmark run: the ops it ran, their timings and failures, and
    (when traced) the tracer, streaming listener and ETL probe."""

    def __init__(self, args, wl, t_start: float):
        from perfbench.trace import Tracer

        self.args = args
        self.wl = wl
        self.t_start = t_start
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(bool(args.trace))
        self.ops: list[dict] = []  # every op: entry, window, seconds, ok, timed
        self.failures: list[str] = []
        self.fanout_meta: list[dict] = []
        self.etl_stages: list[dict] = []
        self.sink = {"rows": 0, "files": 0, "bytes": 0, "upsert_rows": 0, "offered": 0}
        self.listener = None
        self.probe = None

    @property
    def timed(self) -> list[dict]:
        return [o for o in self.ops if o["timed"]]

    def one_op(self, entry: str, timed: bool) -> dict:
        wl, tracer = self.wl, self.tracer
        kwargs = {"probe": self.probe} if self.probe is not None else {}
        err, result = None, None
        with tracer.span("op", entry=entry) as sp:
            w0, t0 = time.time(), time.perf_counter()
            try:
                result = wl.run_op(entry, tracer, **kwargs)
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                err = f"{entry}: {type(exc).__name__}: {str(exc)[:300]}"
            dt, w1 = time.perf_counter() - t0, time.time()
        if err is None and dt > HUNG_OP_S:
            err = f"{entry}: hung ({dt:.1f} s)"
        rec = {"entry": entry, "s": dt, "window": (w0, w1), "timed": timed,
               "span": sp.id if sp is not None else None}
        if isinstance(result, dict) and "fresh_s" in result:
            rec.update(fresh_s=result["fresh_s"], replay_s=result["replay_s"],
                       fk_violations=result["fresh"]["fk_violations"])
        if err is None:
            if self.args.trace and timed:
                self._after_traced_op(entry, result)
            try:
                wl.check(entry, result)
            except Exception as exc:  # noqa: BLE001 — a wrong output is a failure
                err = f"{entry}: check: {str(exc)[:300]}"
        rec["ok"] = err is None
        if err:
            self.failures.append(err)
        self.ops.append(rec)
        return rec

    def _after_traced_op(self, entry: str, result) -> None:
        if entry == "run_topics_fanout":
            from traffic_accidents_airflow_kafka_spark.streaming.fanout import last_run_metadata

            self.fanout_meta.append(last_run_metadata())
        if self.probe is not None and isinstance(result, dict):
            for phase in ("fresh", "replay"):
                self.etl_stages.append({"phase": phase, **result[phase + "_stages"]})
                self.sink["offered"] += sum(df.count() for df in result[phase + "_offered"])
            for k, v in self.probe.take_written().items():
                self.sink[k] += v


def start_and_warm(run: Run, spark_conf: dict) -> tuple[object, dict]:
    """Set-up: import the engine, start the session, run the warm-up pass."""
    from perfbench import trace

    t0 = time.perf_counter()
    import traffic_accidents_airflow_kafka_spark.plans  # noqa: F401 — registers the catalog
    from traffic_accidents_airflow_kafka_spark.session import get_spark

    import_s = time.perf_counter() - t0
    conf = dict(spark_conf)
    if run.args.trace:
        conf.update(trace.event_log_conf(os.path.join(WORK_DIR, "eventlog")))
        os.makedirs(os.path.join(WORK_DIR, "eventlog"), exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{run.args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    run.wl.attach(spark, WORK_DIR)
    attach_s = time.perf_counter() - t0
    # The listener counts the rows each drain reads during the warm-up;
    # only the traced run keeps it for the timed passes.
    run.listener = trace.make_progress_listener()
    spark.streams.addListener(run.listener)
    if run.args.trace and run.args.workload == "etl_job":
        run.probe = trace.EtlProbe(run.wl.job).install()

    names = list(dict.fromkeys(run.wl.op_names())) if run.wl.warm_up else []
    warm_s = 0.0
    for entry in run.rng.sample(names, len(names)):
        warm_s += run.one_op(entry, timed=False)["s"]
        _between_ops(spark)
    run.listener.settle()
    drains = run.listener.drains()
    run.rows_per_entry = {
        o["entry"]: sum(p["rows"] for d in drains if o["window"][0] <= d["start"] <= o["window"][1]
                        for p in d["progress"])
        for o in run.ops
    }
    if not run.args.trace:
        spark.streams.removeListener(run.listener)
    return spark, {"import_s": import_s, "session_s": session_s, "attach_s": attach_s,
                   "warmup_s": warm_s, "setup_s": import_s + session_s + attach_s + warm_s}


def _between_ops(spark) -> None:
    """Session hygiene between ops, as ``bench.py`` does: drop cached
    relations and let the JVM free what dropped Python handles held."""
    spark.catalog.clearCache()
    gc.collect()


def measure(run: Run) -> float:
    """Closed loop over seeded shuffled passes until ``--seconds`` of op
    time has run; returns the wall time of the timed region."""
    names = run.wl.op_names()
    spent = 0.0
    t0 = time.perf_counter()
    while spent < run.args.seconds and time.perf_counter() - run.t_start < SOFT_DEADLINE_S:
        for entry in run.rng.sample(names, len(names)):
            spent += run.one_op(entry, timed=True)["s"]
            _between_ops(run.wl.spark)
    return time.perf_counter() - t0


def collect_live(run: Run, spark) -> dict:
    """Figures read from the live session before it stops."""
    from traffic_accidents_airflow_kafka_spark.plans.llm import artifact_build_times
    from traffic_accidents_airflow_kafka_spark.streaming.fanout import last_run_metadata

    out = {
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "artifact_build_s": artifact_build_times(),
        "rows_per_entry": run.rows_per_entry,
        "fanout_orders_join_path": last_run_metadata().get("orders_join_path"),
    }
    if run.args.trace:
        run.listener.settle()
        out["drains"] = run.listener.drains()
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    threading.Thread(target=_watchdog, args=(t_start,), daemon=True).start()
    os.makedirs(WORK_DIR)
    try:
        return _run(args, t_start)
    finally:
        shutil.rmtree(WORK_DIR, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(WORK_DIR))  # only when no other run uses it


def _run(args, t_start: float) -> int:
    cpus = len(os.sched_getaffinity(0))
    spark_conf = configure_environment(cpus)

    from perfbench import host, report, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.make(args.workload)
    t0 = time.perf_counter()
    prepared = wl.prepare(WORK_DIR, args.seed)
    gen_s = time.perf_counter() - t0

    counters0, wall0 = host.cpu_counters(), time.perf_counter()
    rss = host.RssSampler(os.getpid()).start()
    run = Run(args, wl, t_start)
    spark = None
    try:
        spark, setup = start_and_warm(run, spark_conf)
        timed_wall = measure(run)
        live = collect_live(run, spark)
    finally:
        peak_rss_gb = rss.stop() / GB
        if spark is not None:
            stop_spark(spark)
        wl.close()
    noise = host.noise_record(counters0, host.cpu_counters(), time.perf_counter() - wall0)

    e2e = report.end_to_end(run, setup)
    if args.trace:
        metrics = report.per_layer(run, setup, live, os.path.join(WORK_DIR, "eventlog"), cpus,
                                   peak_rss_gb)
    else:
        metrics = e2e
    timed = run.timed
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host.fingerprint(ROOT), "noise": noise,
        "inputs": prepared, "input_gen_s": gen_s, "setup": setup,
        "timed_wall_s": timed_wall, "peak_rss_gb": peak_rss_gb,
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        "figures": report.workload_figures(args.workload, run, live),
        "failures": run.failures,
        "samples": [{"entry": o["entry"], "s": round(o["s"], 4), "ok": o["ok"]} for o in timed],
        "warmup": [{"entry": o["entry"], "s": round(o["s"], 4), "ok": o["ok"]}
                   for o in run.ops if not o["timed"]],
        **{k: v for k, v in live.items() if k != "drains"},
    }
    failed = sum(not o["ok"] for o in run.ops)
    line = {
        "correct": failed == 0,
        "attempted": max(1, len(run.ops)),
        "failed": failed,
        "metrics": metrics,
    }
    os.makedirs(RESULTS_DIR, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(RESULTS_DIR, stem + ".json"), "w") as fh:
        json.dump({"detail": detail, "result": line, "spans": report.span_records(run.tracer)},
                  fh, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
