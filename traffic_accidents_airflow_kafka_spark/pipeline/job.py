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
- Dimensions are rebuilt-and-overwritten each run: they are
  deterministic functions of the wide table (dropDuplicates +
  row_number surrogate keys), so overwrite ≡ ON CONFLICT DO NOTHING
  at a fraction of the bookkeeping.

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

from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.sinks import memoized_write, observed_metrics, upsert_append
from . import ingest, merge, osm
from .star_domain import DIMENSIONS, build_dimensions, build_fact, fk_integrity_report


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
            fact.unpersist()
    finally:
        for dim in dims.values():
            dim.unpersist()
    return report


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
