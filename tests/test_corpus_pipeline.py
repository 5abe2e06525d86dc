"""End-to-end corpus-curation pipeline: stage monotonicity, the
curation invariants (no exact dups, no contaminated docs, quality
floor), idempotent rerun, and shard-budget compliance."""

from __future__ import annotations

import pyspark.sql.functions as F

from traffic_accidents_airflow_kafka_spark.operators import dedup
from traffic_accidents_airflow_kafka_spark.pipeline.corpus_job import (
    QUALITY_MIN,
    SHARD_TOKENS,
    curated_quality_report,
    run_corpus_pipeline,
)


def test_corpus_pipeline_end_to_end_and_idempotent(spark, sf_dir, tmp_path):
    from tests.oracle_utils import persistent_rdd_ids

    out = str(tmp_path / "corpus")
    before = persistent_rdd_ids(spark)
    r1 = run_corpus_pipeline(spark, sf_dir, out)
    # Every stage reads back what it wrote: no cache or checkpoint
    # outlives the run.
    assert persistent_rdd_ids(spark) - before == set()

    # Stage monotonicity: every curation stage can only shrink the corpus.
    assert r1["ingest_rows"] > 0
    assert (
        r1["ingest_rows"] - r1["bench_rows"]
        >= r1["exact_rows"]
        >= r1["neardup_rows"]
        >= r1["surprisal_rows"]
        >= r1["dsir_rows"]
        >= r1["curated_rows"]
        > 0
    )
    # The two r7 selection stages each engage (drop something) at the
    # calibrated thresholds without emptying the corpus.
    assert r1["surprisal_rows"] < r1["neardup_rows"]
    assert r1["dsir_rows"] < r1["surprisal_rows"]
    assert r1["curated_new_rows"] == r1["curated_rows"]

    final = spark.read.parquet(f"{out}/docs_curated")

    # Invariant: exact-dup free (every md5(text) appears once).
    dup_texts = (
        final.select(dedup.text_hash("text").alias("h"))
        .groupBy("h")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_texts == 0

    # Invariant: the held-out bench slice never leaks into training data.
    assert final.filter(F.col("doc_id") % 97 == 0).count() == 0

    # Invariant: quality floor holds on every surviving row.
    assert final.filter(F.col("quality") < QUALITY_MIN).count() == 0

    # Invariant: every row carries a split and a positive token count.
    assert final.filter(
        ~F.col("split").isin("train", "val", "test") | (F.col("n_tokens") <= 0)
    ).count() == 0

    # Idempotence: the rerun resumes from materialized state and the
    # keyed upsert writes zero new rows.
    r2 = run_corpus_pipeline(spark, sf_dir, out)
    assert r2["ingest_wrote"] is False
    assert r2["curated_new_rows"] == 0
    assert r2["curated_rows"] == r1["curated_rows"]

    # Shard manifests: every shard stays within budget + one overflow doc.
    manifest = spark.read.parquet(f"{out}/shard_manifest")
    assert manifest.count() == r1["shard_count"] > 0
    max_doc = final.agg(F.max("n_tokens")).first()[0]
    over = manifest.filter(
        F.col("n_tokens") > SHARD_TOKENS + max_doc
    ).count()
    assert over == 0

    # Datasheet report covers the three splits with sane aggregates.
    rep = {r["split"]: r for r in curated_quality_report(spark, out).collect()}
    assert set(rep) <= {"train", "val", "test"} and "train" in rep
    assert rep["train"]["n_docs"] == max(r["n_docs"] for r in rep.values())
    assert all(r["min_quality"] >= QUALITY_MIN for r in rep.values())
