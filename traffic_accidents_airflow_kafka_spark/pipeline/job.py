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
  output exists, ``sources/sinks.py:memoized_write`` — the reference's
  ``os.path.exists`` guard; a killed write is redone).
- The wide-table and fact loads are **key-based upserts**
  (``upsert_append`` — the distributed ``INSERT … ON CONFLICT DO
  NOTHING``): replaying the same input writes zero new rows, so the
  whole job is idempotent end to end.
- Dimensions are rebuilt-and-overwritten each run they are loaded:
  they are deterministic functions of the wide table (dropDuplicates +
  row_number surrogate keys), so overwrite ≡ ON CONFLICT DO NOTHING
  at a fraction of the bookkeeping.
- Tasks 5-7 (merge upsert, dimension writes, fact upsert, FK report)
  are **memoized on their stage files**. A completed load writes
  ``_star_load.json`` under ``out_dir`` (temp file, then rename): the
  declared star layout, a ``file_snapshot`` of all 12 stage
  directories they read or write, and the report values they produced.
  When the layout and every snapshot still match, the job returns those
  values with zero new rows (``star_loaded: False``) and runs no Spark
  job for them. This is exact: the tasks are a deterministic function
  of those files, and after a completed load ``accidents_final`` holds
  every merged id, so a re-run would append nothing, rewrite identical
  dims and count the same FK misses. A crash, rewrite, append or
  deleted ``_SUCCESS`` changes a snapshot, and the full path runs.

The DAG's two source branches, extract → transform (the accidents
ingest) and api_extract → api_transform (the OSM summary), share no
input and meet only at merge, so they run concurrently: one driver
thread each, both joined before merge. Each still ends on its own
materialized parquet.

The star load computes each of the 8 dimensions once (the reference's
``load_hechos``: build the lookups, then resolve every fact row): the
dims are cached, written concurrently (one thread each, row counts
observed on the write itself), and the fact is resolved against the
cached dims and cached in turn, so the fact upsert and the FK report —
a null-FK count over that resolved fact — both read it. Everything
cached is released before the job returns.

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
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import release
from ..sources.sinks import file_snapshot, memoized_write, observed_metrics, upsert_append
from . import ingest, merge, osm
from .star_domain import (
    DIMENSIONS,
    FACT_MEASURES,
    build_dimensions,
    build_fact,
    fk_integrity_report,
)

#: The stage directories tasks 5-7 read or write; their snapshot keys the
#: star-load memo.
STAR_STAGES = ("accidents_clean", "bbox_summary", "accidents_final", *DIMENSIONS,
               "fact_accidents")

#: The star-load memo's marker file under ``out_dir``.
STAR_MEMO = "_star_load.json"


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
    # they run side by side, one thread each.
    branches = (
        partial(_ingest, spark, accidents_csv, f"{out_dir}/accidents_clean"),
        partial(_summarize, spark, osm_glob, geocode_lookup, f"{out_dir}/bbox_summary"),
    )
    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        (cleaned, ingested), (summary, summarized) = pool.map(lambda branch: branch(), branches)
    report: dict = {**ingested, **summarized}

    # Tasks 5-7 are a deterministic function of their stage files: a
    # replay over unchanged files returns what the last completed load
    # recorded, and runs no Spark job.
    recorded = _recorded_star_load(out_dir)
    if recorded is not None:
        return {**report, "star_loaded": False, "final_new_rows": 0, "fact_new_rows": 0,
                **recorded}
    # The marker never outlives the files it describes: drop it before
    # the load touches any of them.
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(out_dir, STAR_MEMO))
    loaded = _star_load(spark, cleaned, summary, out_dir)
    _record_star_load(out_dir, {k: v for k, v in loaded.items() if not k.endswith("_new_rows")})
    return {**report, "star_loaded": True, **loaded}


def _star_load(spark: SparkSession, cleaned: DataFrame, summary: DataFrame, out_dir: str) -> dict:
    """Tasks 5-7: merge + upsert of the wide table, the 8 dimension
    writes, the fact upsert and the FK report."""
    report: dict = {}
    # Task 5: merge (broadcast inner join) + incremental upsert of the
    # wide table (J4 + S6 — the ON CONFLICT DO NOTHING load).
    final_path = f"{out_dir}/accidents_final"
    merged = merge.merge_accidents(cleaned, summary)
    report["final_new_rows"] = upsert_append(merged, final_path, "id", spark)
    final = spark.read.parquet(final_path)
    report["final_rows"] = final.count()

    # Task 6-7: star schema — dims overwritten (deterministic), fact
    # upserted on the degenerate key. Each dim is computed once.
    dims = {name: dim.persist() for name, dim in build_dimensions(final).items()}
    try:
        with ThreadPoolExecutor(max_workers=len(DIMENSIONS)) as pool:
            rows = pool.map(lambda name: _write_dim(dims[name], f"{out_dir}/{name}"), dims)
            for name, n in zip(dims, rows):
                report[f"{name}_rows"] = n
        fact = build_fact(final, dims).persist()
        try:
            report["fact_new_rows"] = upsert_append(fact, f"{out_dir}/fact_accidents", "id", spark)
            report["fact_rows"] = spark.read.parquet(f"{out_dir}/fact_accidents").count()
            # The FK-integrity check that replaced Postgres constraints.
            report["fk_violations"] = fk_integrity_report(final, dims, fact=fact)
        finally:
            release(fact)
    finally:
        release(*dims.values())
    return report


def _star_key(out_dir: str) -> dict | None:
    """The star-load memo key: the declared star layout and a snapshot of
    every stage tasks 5-7 read or write (JSON-normalized, as the marker
    stores it); None when any stage is missing or uncommitted."""
    snapshot = {name: file_snapshot(f"{out_dir}/{name}") for name in STAR_STAGES}
    if None in snapshot.values():
        return None
    layout = {"dimensions": DIMENSIONS, "fact_measures": FACT_MEASURES,
              "final_columns": merge.FINAL_COLUMNS}
    return json.loads(json.dumps({"layout": layout, "snapshot": snapshot}))


def _recorded_star_load(out_dir: str) -> dict | None:
    """The values the marker recorded, if its key matches the stages as
    they stand; None otherwise."""
    key = _star_key(out_dir)
    if key is None:
        return None
    try:
        with open(os.path.join(out_dir, STAR_MEMO)) as fh:
            marker = json.load(fh)
    except (OSError, ValueError):
        return None
    return marker["values"] if marker.get("key") == key else None


def _record_star_load(out_dir: str, values: dict) -> None:
    """Write the marker atomically (temp file, then rename): a crash
    leaves the old marker or none, never a partial one."""
    key = _star_key(out_dir)
    if key is None:
        return
    fd, tmp = tempfile.mkstemp(prefix=STAR_MEMO, dir=out_dir)
    with os.fdopen(fd, "w") as fh:
        json.dump({"key": key, "values": values}, fh)
    os.replace(tmp, os.path.join(out_dir, STAR_MEMO))


def _ingest(spark: SparkSession, accidents_csv: str, path: str) -> tuple[DataFrame, dict]:
    """Tasks 1-2, extract + transform: CSV → clean typed wide rows, read
    back from ``path`` with its row and parse-failure counts."""
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    wrote = memoized_write(cleaned, path)
    cleaned = spark.read.parquet(path)
    counts = cleaned.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("crash_parse_failed").alias("failed")
    ).first()
    return cleaned, {
        "ingest_wrote": wrote,
        "ingest_rows": counts["rows"],
        "ingest_parse_failures": counts["failed"] or 0,
    }


def _summarize(
    spark: SparkSession, osm_glob: str, geocode_lookup: DataFrame, path: str
) -> tuple[DataFrame, dict]:
    """Tasks 3-4, api_extract + api_transform: OSM raw → enriched
    summary, read back from ``path`` with its row count."""
    wrote = memoized_write(osm.build_bbox_summary(spark, osm_glob, geocode_lookup), path)
    summary = spark.read.parquet(path)
    return summary, {"summary_wrote": wrote, "summary_rows": summary.count()}


def _write_dim(dim: DataFrame, path: str) -> int:
    """Overwrite one dimension; its row count rides the write job."""
    return observed_metrics(
        dim,
        {"rows": F.count(F.lit(1))},
        action=lambda observed: observed.write.mode("overwrite").parquet(path),
    )["rows"]
