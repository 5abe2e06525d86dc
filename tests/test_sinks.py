"""Write-path tests (S4-S7, S12): roundtrips, upsert anti-join semantics,
idempotent skip, bucketed-table shuffle elimination."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from traffic_accidents_airflow_kafka_spark.session import scoped_conf
from traffic_accidents_airflow_kafka_spark.sources import sinks


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "t")
    sinks.write_parquet(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 10
    assert dict(back.dtypes) == {"id": "bigint", "v": "bigint"}


def test_csv_roundtrip_with_header(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    path = str(tmp_path / "c")
    sinks.write_csv(df, path)
    back = spark.read.option("header", "true").csv(path)
    assert {r["name"] for r in back.collect()} == {"a", "b"}


def test_upsert_append_inserts_only_novel_keys(spark, tmp_path):
    path = str(tmp_path / "u")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert sinks.upsert_append(first, path, "id", spark) == 2
    # Second batch overlaps on id=2; only id=3 is novel (ON CONFLICT DO NOTHING).
    second = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    assert sinks.upsert_append(second, path, "id", spark) == 1
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # first writer wins, like the reference


def test_upsert_append_leaves_a_caller_cached_batch_cached(spark, tmp_path):
    """A batch its caller cached (to reuse after the upsert) keeps its
    cache; only a batch the upsert cached itself is released."""
    from pyspark import StorageLevel

    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").persist()
    try:
        assert sinks.upsert_append(batch, str(tmp_path / "u"), "id", spark) == 2
        assert batch.storageLevel != StorageLevel.NONE
    finally:
        batch.unpersist()


def test_upsert_append_leaves_a_caller_checkpoint_readable(spark, tmp_path):
    """A checkpointed batch upserted into an empty path (so the batch
    itself is what gets counted and written) can still be read after:
    the upsert frees only the cache it took."""
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").localCheckpoint()
    assert sinks.upsert_append(batch, str(tmp_path / "u"), "id", spark) == 2
    assert batch.count() == 2


def test_upsert_append_writes_an_empty_batch_into_a_missing_path(spark, tmp_path):
    """An empty target takes the batch as it is, even an empty one: the
    path then holds its schema and reads back as an empty table. An empty
    batch upserted into a table that exists adds no file."""
    from traffic_accidents_airflow_kafka_spark.sources.sinks import file_snapshot

    path = str(tmp_path / "u")
    empty = spark.createDataFrame([], "id int, v string")
    assert sinks.upsert_append(empty, path, "id", spark) == 0
    back = spark.read.parquet(path)
    assert back.count() == 0 and back.schema.simpleString() == "struct<id:int,v:string>"
    snapshot = file_snapshot(path)
    assert sinks.upsert_append(empty, path, "id", spark) == 0
    assert file_snapshot(path) == snapshot


def test_memoized_write_skips_existing(spark, tmp_path):
    path = str(tmp_path / "m")
    df1 = spark.range(5)
    assert sinks.memoized_write(df1, path) is True
    df2 = spark.range(99)
    assert sinks.memoized_write(df2, path) is False  # skipped: data exists
    assert spark.read.parquet(path).count() == 5


def test_memoized_write_rewrites_an_uncommitted_dir(spark, tmp_path):
    """A stage killed mid-commit leaves part files without Spark's
    ``_SUCCESS`` marker; the retry must rewrite them, not trust them."""
    path = tmp_path / "m"
    spark.range(5).write.parquet(str(path))
    os.remove(path / "_SUCCESS")
    assert sinks.memoized_write(spark.range(7), str(path)) is True
    assert (path / "_SUCCESS").exists()
    assert spark.read.parquet(str(path)).count() == 7


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    left = spark.range(1000).withColumn("k", F.col("id") % 50).select(
        F.col("k").cast("long").alias("k"), F.col("id").alias("lv")
    )
    right = spark.range(1000).withColumn("k", F.col("id") % 50).select(
        F.col("k").cast("long").alias("k"), F.col("id").alias("rv")
    )
    sinks.save_bucketed(left, "bl", "k", num_buckets=8)
    sinks.save_bucketed(right, "br", "k", num_buckets=8)
    # Disable broadcast so the join would otherwise shuffle both sides.
    try:
        with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", -1):
            joined = spark.table("bl").join(spark.table("br"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
            assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bl")
        spark.sql("DROP TABLE IF EXISTS br")


def test_scan_projection_and_casts(spark, sf_dir):
    from traffic_accidents_airflow_kafka_spark.sources.tables import scan

    df = scan(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_quantity"],
        casts={"l_quantity": "decimal(10,2)"},
    )
    assert dict(df.dtypes) == {"l_orderkey": "bigint", "l_quantity": "decimal(10,2)"}
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Pruning reached the scan: only the two requested columns are read.
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from traffic_accidents_airflow_kafka_spark.sources import sinks
    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "pe")
    sinks.write_parquet(events, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # Partition pruning: the filter becomes a PartitionFilter, not a scan filter.
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert back.count() == events.filter(F.col("event_type") == "click").count()


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    from traffic_accidents_airflow_kafka_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 24 tiny files via per-row partitions.
    spark.range(240).repartition(24).write.parquet(path)
    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before == 24

    n_after = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n_after == len(files) == 1
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == list(range(240))

    # Idempotent: already compact → no rewrite, count reported unchanged.
    assert compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024) == 1


def test_observed_metrics_ride_the_consuming_action(spark, sf_dir):
    import pyspark.sql.functions as F

    from traffic_accidents_airflow_kafka_spark.sources.sinks import observed_metrics
    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    seen = {}

    def action(df):
        seen["rows"] = df.count()

    m = observed_metrics(
        li,
        {"n_rows": F.count(F.lit(1)), "max_qty": F.max("l_quantity")},
        action=action,
    )
    assert m["n_rows"] == seen["rows"] == li.count()
    assert m["max_qty"] == li.agg(F.max("l_quantity")).first()[0]


def test_jsonl_permissive_read_splits_clean_and_quarantine(spark, tmp_path):
    """Explicit-schema JSONL ingest: well-formed lines parse, malformed
    and schema-violating lines land in quarantine with the raw text
    preserved for replay; nothing is silently dropped."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from traffic_accidents_airflow_kafka_spark.sources.tables import (
        corrupt_record_audit,
        read_jsonl,
    )

    path = str(tmp_path / "docs.jsonl")
    lines = [
        '{"doc_id": 1, "text": "good row"}',
        '{"doc_id": "not-a-number", "text": "type drift"}',
        "{broken json",
        '{"doc_id": 2, "text": "also good"}',
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines))
    # No _corrupt_record field here on purpose: read_jsonl must inject
    # it (Spark only populates the corrupt column when the explicit
    # schema contains it — omitting it would turn malformed lines into
    # silent all-null "clean" rows).
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    # Cache the parsed batch before auditing: Spark disallows actions
    # whose referenced columns are ONLY _corrupt_record on a raw scan
    # (see corrupt_record_audit docstring) — caching is the documented
    # workaround, and a per-batch cache is the natural shape anyway
    # (parse once, then fan out to the clean sink and the quarantine).
    raw = read_jsonl(spark, path, schema).cache()
    try:
        clean, quarantine = corrupt_record_audit(raw)
        assert {r["doc_id"] for r in clean.collect()} == {1, 2}
        bad = [r["_corrupt_record"] for r in quarantine.collect()]
        assert len(bad) == 2 and "{broken json" in bad
        # Total conservation: every line is either clean or quarantined.
        assert clean.count() + quarantine.count() == len(lines)
    finally:
        raw.unpersist()
