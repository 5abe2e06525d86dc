"""Streaming-surface tests: the availableNow file-backed stream must equal
the batch computation; Kafka payload/config contracts checked broker-free."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from traffic_accidents_airflow_kafka_spark.sources.tables import load_table
from traffic_accidents_airflow_kafka_spark.streaming import core as streaming


def test_stream_window_counts_equal_batch(spark, sf_dir):
    events = streaming.stream_events(spark, sf_dir)
    out = streaming.run_available_now(
        streaming.windowed_event_counts(events, "1 hour", "2 hours"), spark
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_kafka_source_options_contract():
    opts = streaming.kafka_source_options()
    # kafka/consumer.py:17-24 — all 7 topics, earliest offsets.
    assert set(opts["subscribe"].split(",")) == set(streaming.TOPICS)
    assert len(streaming.TOPICS) == 7
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.bootstrap.servers"] == "localhost:9092"


def test_row_per_message_payload(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    msgs = streaming.to_kafka_payload(df, key_col="id").collect()
    assert sorted(m["key"] for m in msgs) == ["1", "2"]
    decoded = sorted(json.loads(m["value"])["v"] for m in msgs)
    assert decoded == ["x", "y"]


def test_array_envelope_payload(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    [msg] = streaming.to_kafka_array_envelope(df).collect()
    payload = json.loads(msg["value"])
    # kafka/consumer.py:33 — one message, a JSON array of row dicts.
    assert sorted(payload, key=lambda d: d["id"]) == [
        {"id": 1, "v": "x"},
        {"id": 2, "v": "y"},
    ]


def test_parse_kafka_messages_roundtrip(spark):
    schema = StructType(
        [StructField("id", IntegerType()), StructField("v", StringType())]
    )
    raw = spark.createDataFrame(
        [("t1", '{"id": 7, "v": "z"}')], "topic string, value string"
    ).withColumn("value", F.col("value").cast("binary"))
    out = streaming.parse_kafka_messages(raw, schema).collect()
    assert out[0]["topic"] == "t1" and out[0]["id"] == 7 and out[0]["v"] == "z"


def test_publisher_consumer_roundtrip(spark):
    """S11→S10 round-trip: a topic's published payload, decoded with the
    consumer path, reproduces the original query result exactly."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from traffic_accidents_airflow_kafka_spark.plans import QUERY_REGISTRY
    from traffic_accidents_airflow_kafka_spark.streaming import publisher

    sf = "/root/testdata/sf0.001"
    original = QUERY_REGISTRY["transit_signals_by_state"].fn(spark, sf)
    payload = publisher.publish_plan(spark, sf)["transit_signals_by_state"]
    # Simulate the broker hop: value bytes + topic metadata.
    wire = payload.select(
        F.lit("transit_signals_by_state").alias("topic"),
        F.col("value").cast("binary").alias("value"),
    )
    schema = StructType(
        [
            StructField("state_name", StringType()),
            StructField("n_orders", LongType()),
            StructField("sum_total", DoubleType()),
        ]
    )
    decoded = streaming.parse_kafka_messages(wire, schema).drop("topic")
    got = sorted(map(tuple, decoded.collect()))
    want = sorted(map(tuple, original.collect()))
    assert got == want


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """Streaming dedup (dropDuplicatesWithinWatermark): redelivered event
    ids across micro-batches collapse to one copy; state is evicted past
    the watermark."""
    import datetime as dt

    src = str(tmp_path / "dd_src")
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    # Original events + an in-batch duplicate of id 1.
    write([(1, t0, 1.0), (1, t0, 1.0), (2, t0.replace(minute=5), 2.0)])
    # A second file (second micro-batch under maxFilesPerTrigger=1)
    # redelivers id 2 and adds a novel id 3.
    write([(2, t0.replace(minute=5), 2.0), (3, t0.replace(minute=9), 3.0)])

    events = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = streaming.dedup_stream(events, ["event_id"], "ts", "2 hours")
    out = streaming.run_foreach_batch_collect(deduped, spark)
    ids = sorted(r["event_id"] for r in out)
    assert ids == [1, 2, 3]


def test_stream_interval_join_boundaries(spark, tmp_path):
    """Stream-stream interval join: inclusive [buy-30min, buy] bounds,
    per-user keying — boundary rows land exactly as the batch SQL would."""
    import datetime as dt

    src = str(tmp_path / "ij_src")
    buy = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # (user_id, ts, kind, value)
        (1, buy, "purchase", 0.0),
        (1, buy, "click", 1.0),  # at buy_ts — inclusive upper bound
        (1, buy - dt.timedelta(minutes=30), "click", 2.0),  # exact lower bound
        (1, buy - dt.timedelta(minutes=30, seconds=1), "click", 4.0),  # too old
        (1, buy + dt.timedelta(seconds=1), "click", 8.0),  # after purchase
        (2, buy, "click", 16.0),  # other user
    ]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, kind string, value double"
    ).coalesce(1).write.parquet(src)

    schema = "user_id long, ts timestamp, kind string, value double"
    clicks = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.col("kind") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), F.col("value"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.col("kind") == "purchase")
        .select(F.col("user_id").alias("buyer_id"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "1 hour")
    )
    joined = streaming.interval_join(
        purchases,
        clicks,
        key_expr="buyer_id = user_id",
        lower_bound_expr="click_ts >= buy_ts - INTERVAL 30 MINUTES",
        upper_bound_expr="click_ts <= buy_ts",
    )
    out = streaming.run_foreach_batch_collect(joined, spark)
    assert sorted(r["value"] for r in out) == [1.0, 2.0]


def test_foreach_batch_streaming_upsert(spark, tmp_path):
    """foreachBatch + key-based upsert_append = effectively-exactly-once
    streaming into a batch parquet sink: replaying the whole source
    through a fresh checkpoint writes no duplicate keys."""
    import datetime as dt

    from traffic_accidents_airflow_kafka_spark.sources.sinks import upsert_append

    src = str(tmp_path / "fb_src")
    sink = str(tmp_path / "fb_sink")
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [(i, t0.replace(minute=i), float(i)) for i in range(1, 6)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        events = spark.readStream.schema(
            "event_id long, ts timestamp, value double"
        ).parquet(src)
        streaming.run_foreach_batch(
            events,
            spark,
            lambda batch, _id: upsert_append(batch, sink, "event_id", spark),
        )

    run_once()
    run_once()  # fresh checkpoint → at-least-once redelivery of everything
    got = spark.read.parquet(sink)
    assert got.count() == 5  # idempotent sink absorbed the replay
    assert sorted(r["event_id"] for r in got.select("event_id").collect()) == [1, 2, 3, 4, 5]


def test_streaming_publish_roundtrip_equals_batch(spark, sf_dir):
    """The streaming S11 path end to end: a LIVE windowed aggregation,
    payload-encoded per micro-batch inside foreachBatch (exactly where the
    kafka write would attach), decoded with the consumer path — must equal
    the batch computation. Streaming/batch unification across the whole
    publish pipeline, not just the aggregate."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    events = streaming.stream_events(spark, sf_dir)
    windowed = streaming.windowed_event_counts(events, "1 hour", "2 hours")

    wire_rows = []
    streaming.run_foreach_batch(
        windowed,
        spark,
        lambda batch, _id: wire_rows.extend(
            streaming.to_kafka_payload(batch).collect()
        ),
        output_mode="complete",
    )
    wire = spark.createDataFrame(
        [("t", r["value"].encode()) for r in wire_rows], "topic string, value binary"
    )
    schema = StructType(
        [
            StructField("window_start", TimestampType()),
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    decoded = streaming.parse_kafka_messages(wire, schema).drop("topic")
    got = sorted(map(tuple, decoded.collect()))

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_enrich_with_static_is_stateless_broadcast(spark, sf_dir):
    """The stream-static join must plan a broadcast join on the stream
    side and produce exactly the batch join's row multiplicity."""
    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table
    from traffic_accidents_airflow_kafka_spark.streaming import core as streaming

    events = streaming.stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = streaming.enrich_with_static(events, dim, "user_id", "inner")
    got = streaming.run_available_now(
        enriched.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")),
        spark,
        state_partitions=4,
    )
    batch_events = load_table(spark, sf_dir, "events")
    want = {
        r["c_nationkey"]: r["n"]
        for r in batch_events.join(dim, "user_id")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["c_nationkey"]: r["n"] for r in got.collect()} == want


def test_streaming_observe_reports_per_batch_metrics(spark, sf_dir):
    """Dataset.observe on a STREAMING plan: metrics surface through
    StreamingQueryProgress.observedMetrics per micro-batch — the
    zero-extra-scan audit path for ingest streams (the streaming twin of
    sources/sinks.py:observed_metrics)."""
    import os
    import tempfile

    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table
    from traffic_accidents_airflow_kafka_spark.streaming import core as streaming

    events = streaming.stream_events(spark, sf_dir)
    observed = events.observe(
        "ingest_audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    )
    ckpt = tempfile.mkdtemp(
        prefix="ckpt_obs_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    q = (
        observed.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("obs_test")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = [
        p["observedMetrics"]["ingest_audit"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics") and "ingest_audit" in p["observedMetrics"]
    ]
    assert metrics, "no observed metrics surfaced in query progress"
    total_rows = sum(m["n_rows"] for m in metrics)
    batch = load_table(spark, sf_dir, "events")
    assert total_rows == batch.count()
    want_sum = batch.agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s")
    ).first()["s"]
    import decimal

    got_sum = sum(decimal.Decimal(str(m["sum_value"])) for m in metrics)
    assert got_sum == want_sum


def test_stream_table_source_handles_both_layouts(spark, sf_dir, tmp_path):
    """stream_table_source (r8): the driver's testdata stores tables as
    single files ({table}.parquet inside sf_dir, streamed via a parent-
    dir glob); Spark-written tables are DIRECTORIES of part files (the
    canonical streaming source). Both layouts must stream the identical
    rows — the sf1.0 scaling decade and any real deployment use the
    directory form."""
    import os
    import shutil

    from traffic_accidents_airflow_kafka_spark.streaming.core import (
        run_foreach_batch,
        stream_table_source,
    )

    src = f"{sf_dir}/nation.parquet"
    schema = spark.read.parquet(src).schema
    want = sorted(tuple(r) for r in spark.read.parquet(src).collect())

    # Directory layout: {dir}/nation.parquet/part-....parquet
    dir_sf = tmp_path / "dirsf"
    table_dir = dir_sf / "nation.parquet"
    os.makedirs(table_dir)
    shutil.copy(src, table_dir / "part-00000.parquet")

    for layout_sf in (sf_dir, str(dir_sf)):
        rows = []
        run_foreach_batch(
            stream_table_source(spark, layout_sf, "nation", schema),
            spark,
            lambda batch, _id: rows.extend(batch.collect()),
        )
        assert sorted(tuple(r) for r in rows) == want, layout_sf


def test_stream_asset_base_survives_missing_passwd_entry(spark, monkeypatch):
    """Minimal-container shape: getpass.getuser() raises KeyError on
    Python <= 3.12 when the uid has no passwd entry — the asset base
    must fall back to uid{N}, not crash (r10 review)."""
    import getpass

    from traffic_accidents_airflow_kafka_spark.plans import streaming_plans

    def boom():
        raise KeyError("getpwuid(): uid not found")

    monkeypatch.setattr(getpass, "getuser", boom)
    base = streaming_plans._stream_asset_base(spark)
    import os

    assert f"uid{os.getuid()}" in base
    assert spark.sparkContext.applicationId in base


def _write_events(path, unit: str) -> None:
    """A two-row events.parquet whose ``ts`` is stored at ``unit``."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), dt.datetime(2024, 1, 2, 8, 30)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["click", "view"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }),
        path,
    )


def test_events_schema_follows_a_rewrite_in_place(spark, tmp_path):
    """events.parquet rewritten at the same path with the other ``ts``
    unit: the sniffed stream schema follows the file, and the streamed
    timestamps stay exact (a stale type reads micros as nanos, 1000×
    off)."""
    import datetime as dt

    from pyspark.sql.types import LongType, TimestampNTZType

    sf = str(tmp_path)
    want = (dt.datetime(2024, 1, 1, 12, 0, 0, 123456), dt.datetime(2024, 1, 2, 8, 30))
    for unit, ts_type in (("ns", LongType()), ("us", TimestampNTZType())):
        _write_events(str(tmp_path / "events.parquet"), unit)
        events = streaming.stream_events(spark, sf)
        assert streaming._events_stream_schema(spark, sf)["ts"].dataType == ts_type, unit
        got = streaming.run_available_now(
            events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")), spark
        ).first()
        assert (got["lo"], got["hi"]) == want, unit


def test_table_schema_memo_follows_a_rewrite_in_place(spark, tmp_path):
    """The footer-sniff memo the fan-out reads its source schemas from is
    keyed on the file's state: a table rewritten in place with another
    column set is sniffed again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert streaming.table_schema(spark, str(tmp_path), "orders").names == ["o_orderkey"]
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_orderpriority": ["1-URGENT", "5-LOW"]}), path)
    assert streaming.table_schema(spark, str(tmp_path), "orders").names == [
        "o_orderkey", "o_orderpriority"
    ]
