"""The two workloads. Each drives the engine only through its public
entry points: catalog ``QuerySpec.fn`` functions (batch entries and a
streaming drain), ``streaming.fanout.run_topics_fanout`` and
``pipeline.job.run_pipeline``.

A workload owns its inputs, its op list per pass, how one op runs and how
one op's output is checked. The op itself is what :mod:`run` times; the
check runs after it, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs
from .trace import Tracer

#: Catalog scale (sf0.001: 6,000 lineitems, 1,000 events, 500 documents
#: and embeddings). Most entries cost per-query overhead at this size.
CATALOG_SF = 0.001

#: Ops timed by ``catalog``: tier-0 entries, one per operator family of
#: the batch path (star dimension, statistics, aggregate, dashboard
#: topic, Arrow UDF), a windowed availableNow drain, and the 7-topic
#: dashboard fan-out (:data:`FANOUT_OP`). The list is short because a
#: run, warm-up included, must fit the benchmark's time budget.
FANOUT_OP = "run_topics_fanout"
CATALOG_OPS = (
    "star_dim_date",
    "summary_stats",
    "pricing_summary",
    "transit_signals_by_state",
    "multimodal_pixel_decode",
    "stream_window_counts",
    FANOUT_OP,
)

#: ETL inputs as a share of the paper's scale (209,306 accidents and
#: 512,816 OSM nodes at 1.0).
ETL_SCALE = 0.02


class CheckFailed(Exception):
    """An op ran but its output was wrong."""


class CatalogWorkload:
    """Ops are catalog entries: build the plan, let Catalyst plan it,
    execute and collect to the driver (Arrow ``toPandas``). Checked
    against the entry's DuckDB oracle, or its ``min_rows`` without one.

    The fan-out op calls ``streaming.fanout.run_topics_fanout`` (one
    availableNow drain feeding 7 sink jobs, then the merges) and collects
    the 7 dashboards; each is checked against the DuckDB oracle of the
    batch catalog entry of the same name."""

    #: Ops run once untimed before the timed passes (codegen, artifact
    #: memos, Python workers): catalog and dashboard queries serve from a
    #: long-lived session. A second untimed pass would not steady the
    #: timed one: over six seeds on a 4-core VM the throughput of the pass
    #: after two spread 0.23 IQR/median, that of the pass after one 0.08.
    warm_up = True

    def __init__(self, name: str, entries: tuple[str, ...], sf: float):
        self.name = name
        self.entries = entries
        self.sf = sf
        self.sf_dir = ""
        self._oracle_cache: dict[str, object] = {}
        self._duck = None

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work_dir, "tables")
        rows = inputs.write_catalog_tables(self.sf_dir, seed, self.sf)
        return {"sf": self.sf, "table_rows": rows}

    def attach(self, spark, work_dir: str) -> None:
        from traffic_accidents_airflow_kafka_spark.plans import QUERY_REGISTRY
        from traffic_accidents_airflow_kafka_spark.streaming.core import TOPICS

        names = [n for n in self.entries if n != FANOUT_OP]
        if FANOUT_OP in self.entries:
            names += [t for t in TOPICS if t not in names]
        self.specs = {n: QUERY_REGISTRY[n] for n in names}
        self.spark = spark
        if FANOUT_OP in self.entries:
            # Dashboard columns as the batch entries define them, read from
            # their DuckDB oracles (every topic has one), which the check
            # holds them to; planning the 7 entries here cost 7 s cold.
            self.topic_columns = {t: list(self._oracle(t).columns) for t in TOPICS}

    def op_names(self) -> list[str]:
        """One timed pass: every op twice, the fan-out once. The fan-out
        is more than half the time of a pass of each op once, so its one
        sample, which the host's load moves most, set most of the
        throughput. Doubling the other ops lowered the throughput's
        spread in each of four sets of five or six seeds on a 4-core VM
        (0.079 to 0.049 IQR/median in the steadiest), for about 7 s a
        run."""
        return [n for n in self.entries for _ in range(1 if n == FANOUT_OP else 2)]

    def _run_fanout(self, tracer: Tracer) -> dict:
        from traffic_accidents_airflow_kafka_spark.streaming.fanout import run_topics_fanout

        with tracer.span("build"):
            merged = run_topics_fanout(self.spark, self.sf_dir)
        dashboards = {t: merged[t].select(*cols) for t, cols in self.topic_columns.items()}
        with tracer.span("plan"):
            for df in dashboards.values():
                df._jdf.queryExecution().executedPlan()
        with tracer.span("action"):
            return {t: df.toPandas() for t, df in dashboards.items()}

    def run_op(self, entry: str, tracer: Tracer):
        if entry == FANOUT_OP:
            return self._run_fanout(tracer)
        spec = self.specs[entry]
        with tracer.span("build"):
            df = spec.fn(self.spark, self.sf_dir)
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("action"):
            return df.toPandas()

    def _oracle(self, entry: str):
        if entry not in self._oracle_cache:
            if self._duck is None:
                from tests.oracle_utils import duckdb_conn

                self._duck = duckdb_conn(self.sf_dir)
            self._oracle_cache[entry] = self._duck.execute(self.specs[entry].oracle).df()
        return self._oracle_cache[entry]

    def check(self, entry: str, result) -> None:
        if entry == FANOUT_OP:
            for topic, pdf in result.items():
                self.check(topic, pdf)
            return
        from tests.oracle_utils import assert_frames_match

        spec = self.specs[entry]
        if spec.oracle is None:
            if len(result) < spec.min_rows:
                raise CheckFailed(f"{entry}: {len(result)} rows < min_rows {spec.min_rows}")
            return
        try:
            assert_frames_match(result, self._oracle(entry), entry)
        except AssertionError as exc:
            raise CheckFailed(str(exc)[:300]) from None

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None


class EtlWorkload:
    """One op = ``run_pipeline`` into an empty ``out_dir`` (fresh run),
    then again over that same ``out_dir`` (replay)."""

    name = "etl_job"
    #: No warm-up: the job runs once per scheduled run in a fresh
    #: process, so its users pay the cold start every time.
    warm_up = False

    def __init__(self, scale: float = ETL_SCALE):
        self.scale = scale
        self.meta: dict = {}
        self._runs = 0

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.work_dir = work_dir
        self.meta = inputs.etl_inputs(os.path.join(work_dir, "etl_in"), seed, self.scale)
        return {"scale": self.scale, "accidents": self.meta["accidents"],
                "osm_nodes": self.meta["osm_nodes"]}

    def attach(self, spark, work_dir: str) -> None:
        from traffic_accidents_airflow_kafka_spark.pipeline import job

        self.spark = spark
        self.job = job
        self.geocode = spark.createDataFrame(
            self.meta["geocode_rows"],
            "bbox_label string, city string, county string, state string, postcode string",
        )

    def op_names(self) -> list[str]:
        return ["run_pipeline"]

    def _run(self, out_dir: str) -> dict:
        return self.job.run_pipeline(
            self.spark, self.meta["accidents_csv"], self.meta["osm_glob"], self.geocode, out_dir
        )

    def run_op(self, entry: str, tracer: Tracer, probe=None) -> dict:
        self._runs += 1
        out_dir = os.path.join(self.work_dir, "etl_out", f"run{self._runs}")
        shutil.rmtree(out_dir, ignore_errors=True)
        res = {"out_dir": out_dir}
        for phase in ("fresh", "replay"):
            with tracer.span(phase):
                if probe is not None:
                    probe.begin()
                w0, t0 = time.time(), time.perf_counter()
                res[phase] = self._run(out_dir)
                res[phase + "_s"] = time.perf_counter() - t0
                if probe is not None:
                    res[phase + "_offered"] = probe.end()
                    res[phase + "_stages"] = probe.stage_seconds(w0, time.time())
        return res

    def check(self, entry: str, result: dict) -> None:
        """Both reports must hold the generator's counts, and the replay
        must write nothing. The FK report is recorded, not checked: keys
        with a NULL part miss in the null-unsafe dimension joins."""
        import pyarrow.parquet as pq

        exp = self.meta["expected"]
        fresh, replay = result["fresh"], result["replay"]
        problems = []
        for key in ("ingest_rows", "ingest_parse_failures", "summary_rows", "final_rows",
                    "fact_rows", "dim_weather_rows", "dim_infrastructure_rows"):
            for label, rep in (("fresh", fresh), ("replay", replay)):
                if rep.get(key) != exp[key]:
                    problems.append(f"{label} {key}={rep.get(key)} want {exp[key]}")
        if not (fresh["ingest_wrote"] and fresh["summary_wrote"]):
            problems.append("fresh run skipped a memoized stage")
        if fresh["final_new_rows"] != exp["final_rows"] or fresh["fact_new_rows"] != exp["fact_rows"]:
            problems.append("fresh run wrote the wrong number of new rows")
        if replay["ingest_wrote"] or replay["summary_wrote"]:
            problems.append("replay rewrote a memoized stage")
        if replay["final_new_rows"] or replay["fact_new_rows"]:
            problems.append("replay wrote rows")
        summary = pq.read_table(os.path.join(result["out_dir"], "bbox_summary")).to_pandas()
        for col, want in exp["summary_totals"].items():
            got = int(summary[col].sum())
            if got != want:
                problems.append(f"summary {col}={got} want {want}")
        shutil.rmtree(result["out_dir"], ignore_errors=True)
        if problems:
            raise CheckFailed("; ".join(problems[:5]))

    def close(self) -> None:
        pass


def make(name: str):
    if name == "catalog":
        return CatalogWorkload(name, CATALOG_OPS, CATALOG_SF)
    if name == "etl_job":
        return EtlWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("catalog", "etl_job")
