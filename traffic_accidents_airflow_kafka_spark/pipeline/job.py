"""The end-to-end pipeline job — the reference's Airflow DAG wiring
(``dags/etl_crash_traffic.py:951-1005``: extract → transform →
api_transform → merge → star load) as driver-side orchestration of one
Spark application.

Task semantics match the scheduler contract the reference relied on
(``max_active_runs=1``, ``retries=1``):

- Every stage persists its output to parquet under ``out_dir`` — the
  task boundary the reference got from Postgres tables/XCom, so a rerun
  (Airflow retry, next daily run) resumes from materialized state
  instead of recomputing.
- Ingest and OSM-summary stages are **memoized** (skip if committed
  output exists, ``sources/sinks.py:is_committed``; written through
  ``memoized_write`` — the reference's ``os.path.exists`` guard; a
  killed write is redone).
- The wide-table and fact loads are **key-based upserts**
  (``upsert_append`` — the distributed ``INSERT … ON CONFLICT DO
  NOTHING``): replaying the same input writes zero new rows, so the
  whole job is idempotent end to end.
- Dimensions are rebuilt-and-overwritten each run they are loaded:
  they are deterministic functions of the wide table (dropDuplicates +
  row_number surrogate keys), so overwrite ≡ ON CONFLICT DO NOTHING
  at a fraction of the bookkeeping.

Every stage output costs one Spark job, its write, and the report's
counts ride that job: the ingest rows and parse failures, the summary
rows, each dimension's rows, the upserted rows and the FK misses are
Observations on the writes, never a re-read and an aggregate. Into a
missing target ``upsert_append`` writes the rows as they are, so the
table's row count is the rows it wrote. A stage read back for the next
task is read with the schema of the frame that wrote it, so no
footer-inference job runs.

The report values are **memoized on their stage files**, in three
groups: the ingest counts, the summary count, and tasks 5-7 (merge
upsert, dimension writes, fact upsert, FK report). Each group's marker
under ``out_dir`` (``StageMemo``: temp file, then rename) holds the
group's declared layout, a ``file_snapshot`` of every stage directory
its values describe, and the values. A committed source stage is not
written again: it reports what its marker recorded, and without one
(written before the marker existed, or the marker lost) it is counted
once from its file and recorded. Its plan is built only if the star
load reads the stage, since a glob scan lists its files when its plan
is built. When the star layout and every snapshot of tasks 5-7 still
match, the job returns the recorded values with zero new rows
(``star_loaded: False``). This is exact: the tasks are a deterministic
function of those files, and after a completed load
``accidents_final`` holds every merged id, so a re-run would append
nothing, rewrite identical dims and count the same
FK misses. A crash, rewrite, append or deleted ``_SUCCESS`` changes a
snapshot, and the full path runs. A replay over unchanged stage files
therefore runs no Spark job at all.

The DAG's two source branches, extract → transform (the accidents
ingest) and api_extract → api_transform (the OSM summary), share no
input and meet only at merge, so they run concurrently: one driver
thread each, both joined before merge. Each still ends on its own
materialized parquet.

The star load computes each of the 8 dimensions once (the reference's
``load_hechos``: build the lookups, then resolve every fact row): the
dims are cached and written concurrently (one thread each), and the
fact is resolved against the cached dims; its FK misses are counted as
the fact upsert consumes it. Everything cached is released before the
job returns.

Scale: each stage is one declarative plan (scan-project ingest,
one-aggregate enrichment, broadcast merge join,
broadcast star joins); the orchestration layer moves no data — it only
sequences actions and records row counts, exactly what an external
scheduler (Airflow, cron) would do around spark-submit.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cache, partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..session import release
from ..sources.sinks import (
    file_snapshot,
    is_committed,
    memoized_write,
    observed_metrics,
    upsert_append,
)
from . import ingest, merge, osm
from .star_domain import (
    DIMENSIONS,
    FACT_MEASURES,
    build_dimensions,
    build_fact,
    fk_integrity_report,
    fk_miss_counts,
)


@dataclass(frozen=True)
class StageMemo:
    """The memo of one stage group's report values: a marker file under
    ``out_dir`` keyed by the group's declared layout and the
    ``file_snapshot`` of every stage directory the values describe."""

    marker: str
    stages: tuple[str, ...]
    layout: dict

    def key(self, out_dir: str) -> dict | None:
        """The layout and the stages' snapshots (JSON-normalized, as the
        marker stores them); None when any stage is missing or
        uncommitted."""
        snapshot = {name: file_snapshot(f"{out_dir}/{name}") for name in self.stages}
        if None in snapshot.values():
            return None
        return json.loads(json.dumps({"layout": self.layout, "snapshot": snapshot}))

    def recorded(self, out_dir: str) -> dict | None:
        """The values the marker recorded, if its key matches the stages
        as they stand; None otherwise."""
        key = self.key(out_dir)
        if key is None:
            return None
        try:
            with open(os.path.join(out_dir, self.marker)) as fh:
                marker = json.load(fh)
        except (OSError, ValueError):
            return None
        return marker["values"] if marker.get("key") == key else None

    def record(self, out_dir: str, values: dict) -> None:
        """Write the marker atomically (temp file, then rename): a crash
        leaves the old marker or none, never a partial one."""
        key = self.key(out_dir)
        if key is None:
            return
        fd, tmp = tempfile.mkstemp(prefix=self.marker, dir=out_dir)
        with os.fdopen(fd, "w") as fh:
            json.dump({"key": key, "values": values}, fh)
        os.replace(tmp, os.path.join(out_dir, self.marker))

    def drop(self, out_dir: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(out_dir, self.marker))


#: The source stages' memos. Their layout is the report counts, as SQL
#: aggregates over the stage's rows, observed on its write.
INGEST_MEMO = StageMemo("_ingest.json", ("accidents_clean",), {
    "ingest_rows": "count(1)",
    "ingest_parse_failures": "coalesce(sum(crash_parse_failed), 0)",
})
SUMMARY_MEMO = StageMemo("_summary.json", ("bbox_summary",), {"summary_rows": "count(1)"})
#: Tasks 5-7: every stage they read or write.
STAR_MEMO = StageMemo(
    "_star_load.json",
    ("accidents_clean", "bbox_summary", "accidents_final", *DIMENSIONS, "fact_accidents"),
    {"dimensions": DIMENSIONS, "fact_measures": FACT_MEASURES,
     "final_columns": merge.FINAL_COLUMNS},
)


def run_pipeline(
    spark: SparkSession,
    accidents_csv: str,
    osm_glob: str,
    geocode_lookup: DataFrame,
    out_dir: str,
) -> dict:
    """Run the full DAG; return per-stage row counts + the FK report.

    ``geocode_lookup``: (bbox_label → city/county/state/postcode) — the
    S9 static lookup standing in for the reference's rate-limited
    Nominatim loop (dags/etl_crash_traffic.py:378-381).
    """
    # Tasks 1-4: the DAG's two source branches meet only at merge, so
    # they run side by side, one thread each. Tasks 1-2, extract +
    # transform: CSV → clean typed wide rows. Tasks 3-4, api_extract +
    # api_transform: OSM raw → enriched bbox summary.
    branches = (
        partial(_source_stage, spark, out_dir, INGEST_MEMO,
                lambda: ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))),
        partial(_source_stage, spark, out_dir, SUMMARY_MEMO,
                partial(osm.build_bbox_summary, spark, osm_glob, geocode_lookup)),
    )
    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        (cleaned, ingest_wrote, ingested), (summary, summary_wrote, summarized) = pool.map(
            lambda branch: branch(), branches
        )
    report: dict = {"ingest_wrote": ingest_wrote, **ingested,
                    "summary_wrote": summary_wrote, **summarized}

    # Tasks 5-7 are a deterministic function of their stage files: a
    # replay over unchanged files returns what the last completed load
    # recorded, and runs no Spark job.
    recorded = STAR_MEMO.recorded(out_dir)
    if recorded is not None:
        return {**report, "star_loaded": False, "final_new_rows": 0, "fact_new_rows": 0,
                **recorded}
    # The marker never outlives the files it describes: drop it before
    # the load touches any of them.
    STAR_MEMO.drop(out_dir)
    loaded = _star_load(spark, cleaned(), summary(), out_dir)
    STAR_MEMO.record(
        out_dir, {k: v for k, v in loaded.items() if not k.endswith("_new_rows")}
    )
    return {**report, "star_loaded": True, **loaded}


def _star_load(spark: SparkSession, cleaned: DataFrame, summary: DataFrame, out_dir: str) -> dict:
    """Tasks 5-7: merge + upsert of the wide table, the 8 dimension
    writes, the fact upsert and the FK report."""
    report: dict = {}
    # Task 5: merge (broadcast inner join) + incremental upsert of the
    # wide table (J4 + S6 — the ON CONFLICT DO NOTHING load).
    merged = merge.merge_accidents(cleaned, summary)
    final, report["final_new_rows"], report["final_rows"] = _upsert(
        spark, merged, f"{out_dir}/accidents_final"
    )

    # Task 6-7: star schema — dims overwritten (deterministic), fact
    # upserted on the degenerate key. Each dim is computed once.
    dims = {name: dim.persist() for name, dim in build_dimensions(final).items()}
    try:
        with ThreadPoolExecutor(max_workers=len(DIMENSIONS)) as pool:
            rows = pool.map(lambda name: _write_dim(dims[name], f"{out_dir}/{name}"), dims)
            for name, n in zip(dims, rows):
                report[f"{name}_rows"] = n
        # The FK-integrity check that replaced Postgres constraints: its
        # null-FK counts are observed below the upsert's anti-join, so
        # they cover every resolved fact row, new or already loaded.
        misses = Observation()
        fact = build_fact(final, dims).observe(misses, *fk_miss_counts())
        _, report["fact_new_rows"], report["fact_rows"] = _upsert(
            spark, fact, f"{out_dir}/fact_accidents"
        )
        report["fk_violations"] = fk_integrity_report(misses)
    finally:
        release(*dims.values())
    return report


def _upsert(spark: SparkSession, rows: DataFrame, path: str) -> tuple[DataFrame, int, int]:
    """``upsert_append`` of ``rows`` on ``id``; return the table read back
    (with ``rows``' schema), the rows written and the table's row count.
    A missing target takes ``rows`` as they are (``upsert_append``'s
    contract), so its count is the rows written and costs no job."""
    missing = not os.path.exists(path)
    new_rows = upsert_append(rows, path, "id", spark)
    table = spark.read.schema(rows.schema).parquet(path)
    return table, new_rows, new_rows if missing else table.count()


def _source_stage(
    spark: SparkSession, out_dir: str, memo: StageMemo, build: Callable[[], DataFrame]
) -> tuple[Callable[[], DataFrame], bool, dict]:
    """Write one source stage through ``memoized_write``; return a
    read-back of its file, whether it wrote, and the counts its memo's
    layout declares.

    The counts ride the write as an Observation. A committed stage is
    not written: it reports what ``memo`` recorded for the file as it
    stands, or, without a matching marker, is counted once from its file
    and recorded. ``build`` runs at most once: before the write, or for a
    committed stage only when the read-back needs its schema."""
    (name,) = memo.stages
    path = f"{out_dir}/{name}"
    plan = cache(build)
    observation = Observation()
    metrics = [F.expr(agg).alias(key) for key, agg in memo.layout.items()]
    wrote = False
    if not is_committed(path):
        wrote = memoized_write(plan().observe(observation, *metrics), path)

    def read_back() -> DataFrame:
        return spark.read.schema(plan().schema).parquet(path)

    values = None if wrote else memo.recorded(out_dir)
    if values is None:
        values = observation.get if wrote else read_back().agg(*metrics).first().asDict()
        memo.record(out_dir, values)
    return read_back, wrote, values


def _write_dim(dim: DataFrame, path: str) -> int:
    """Overwrite one dimension; its row count rides the write job."""
    return observed_metrics(
        dim,
        {"rows": F.count(F.lit(1))},
        action=lambda observed: observed.write.mode("overwrite").parquet(path),
    )["rows"]
