"""Structured Streaming surface (SURVEY.md §2.1 S10/S11, §2.8).

Two layers:

1. **Reference parity** — the Kafka dashboard path: 7 result topics, JSON
   payloads, earliest offsets, consume-until-every-topic-seen
   (`kafka/consumer.py:6-36`). A live round-trip is DOUBLY impossible in
   this container (verified round 6): no broker ships, AND the
   spark-sql-kafka connector jar is absent from the bundled 286-jar
   distribution with no index access to fetch it — `format("kafka")`
   cannot even class-load. The Kafka read/write *configurations* and
   payload transforms are therefore plain functions over DataFrames —
   unit-tested against their contracts; on a real cluster the wiring is
   one `.format("kafka")` call plus the standard connector package.
2. **Event-mode extension** (flagged in SURVEY §2.8: a north-star
   addition, not reference behavior) — treat events as a stream:
   file-backed `readStream` + watermark + tumbling windows +
   `trigger(availableNow=True)`, which is also exactly how a backfill
   replays history at scale (bounded state via watermark; checkpointed
   progress; same code as the live stream).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import SHUFFLE_PARTITIONS, scoped_conf
from ..sources.memo import _artifact
from ..topic_specs import TOPIC_SPECS

#: The 7 result topics (kafka/consumer.py:6-14), in spec-table order.
TOPICS = tuple(spec.name for spec in TOPIC_SPECS)

#: Free tmpfs below which ephemeral streaming directories go to disk. A
#: fan-out run holds 46 KB of sinks plus a 1.3 KB checkpoint at sf0.01 and
#: 350 KB of sinks at sf0.1 (topic 6's part-grain partials grow with the
#: scale factor); 64 MiB is about 180x the sf0.1 figure, so the sinks fit
#: to about sf10 at that growth, and a nearly full tmpfs, which other
#: processes share, is left to them.
TMPFS_FLOOR_BYTES = 64 << 20


def ephemeral_dir(prefix: str) -> str:
    """A fresh directory for state that dies with its run (availableNow
    checkpoints, fan-out sinks): on ``/dev/shm`` when it has at least
    ``TMPFS_FLOOR_BYTES`` free, so per-batch commits never touch disk,
    else in the default temp dir."""
    base = None
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        if free >= TMPFS_FLOOR_BYTES:
            base = "/dev/shm"
        else:
            print(
                f"[streaming] /dev/shm has {free >> 20} MiB free, below the "
                f"{TMPFS_FLOOR_BYTES >> 20} MiB floor; {prefix}* goes to {tempfile.gettempdir()}",
                file=sys.stderr,
            )
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def table_schema(spark: SparkSession, sf_dir: str, table: str) -> StructType:
    """``{table}.parquet``'s schema as the batch reader resolves it
    (footer only, no data scan), held by the build-once memo: the sniff
    is a driver-side read of 0.14-0.26 s that ~12 streaming entries pay
    on every plan build and the fan-out on every run, and a table
    rewritten in place (e.g. with the other timestamp unit) is sniffed
    again."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    return _artifact(spark, sf_dir, f"schema-{table}", lambda: spark.read.parquet(path).schema)


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Streaming-read schema for events.parquet, derived from the file.

    readStream requires an explicit schema, but the generator's ``ts``
    physical type has varied across environments (TIMESTAMP(NANOS) → long
    under ``nanosAsLong``; TIMESTAMP(MICROS) → native timestamp_ntz).
    Hard-coding either silently corrupts the other by 1000× — so declare
    the ``ts`` type the batch reader resolves (``table_schema``).
    """
    ts_type = table_schema(spark, sf_dir, "events")["ts"].dataType
    fields = [
        StructField("event_id", LongType()),
        StructField("ts", ts_type),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
    return StructType(fields)


def stream_table_source(
    spark: SparkSession, sf_dir: str, table: str, schema
) -> DataFrame:
    """Layout-agnostic file-stream source for one table. The driver's
    testdata stores each table as a SINGLE FILE ``{table}.parquet``
    inside ``sf_dir`` — a bare file is not a valid streaming path, so
    it is streamed by glob-filtering the parent directory. Spark-written
    tables (the synthetic sf1.0 decade; any real deployment) are
    DIRECTORIES of part files — the canonical streaming source: watch
    the directory itself. Every file-source twin goes through here so
    both layouts stream identically."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-backed events stream (S10 substitute source; the Kafka variant
    swaps the source format only — downstream plan identical).

    Surfaces ``ts`` as session-zone TimestampType (UTC is pinned by
    ``sources.tables.load_table``) whatever the file stores — long nanos,
    timestamp_ntz micros, or a plain timestamp — so every downstream
    consumer (windows, watermarks, unix_micros) sees one type.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = _events_stream_schema(spark, sf_dir)
    raw = stream_table_source(spark, sf_dir, "events", schema)
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # Nanos-since-epoch long. Integer division: a double `/ 1000`
        # rounds the ns count (int64 at ~1e18 exceeds double precision)
        # and can land 1 us off the true truncation.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # Naive micros; reinterpret in UTC (identity under the pinned tz).
        return raw.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return raw


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts with a watermark bounding state.

    The watermark is what makes this run forever at scale: state for
    windows older than max(event time) − watermark is evicted; late rows
    beyond it are dropped (counted upstream if needed). 24×|types| live
    groups regardless of stream length.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def state_partitions(spark: SparkSession) -> int:
    """The state-store count of a drain: half the session's cores.

    Each store pays provider setup and a checkpoint fsync per
    micro-batch, and the count is fixed when a query first starts. A
    ``run_available_now`` drain is a whole query lifecycle on a fresh
    checkpoint, so nothing outlives the call and the count can follow
    the host. At sf0.01 on 4 cores, 2 stores matched or beat the old
    per-entry 4, 8 and 16 on all 12 stateful catalog entries, and 4
    stores on 9 of them; on 32 cores the rule gives the 16 that the r9
    sweep found best for ``stream_sessions``."""
    return max(1, spark.sparkContext.defaultParallelism // 2)


#: ``run_available_now``'s ``state_partitions`` argument shadows the rule.
_state_rule = state_partitions


def run_available_now(
    result: DataFrame,
    spark: SparkSession,
    state_partitions: int | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming plan to completion over the data available now
    (the consumer-termination contract, kafka/consumer.py:30-36: consume
    until everything pending is seen, then stop) and return the result as
    a batch DataFrame (memory sink, complete mode).

    The stateful-operator shuffle (= number of state stores) runs on
    :func:`state_partitions` partitions, or on ``state_partitions`` when
    given (sweeps and tests).
    """
    if state_partitions is None:
        state_partitions = _state_rule(spark)
    name = f"avnow_{uuid.uuid4().hex[:12]}"
    # availableNow pays checkpoint fsyncs on every micro-batch, and this
    # checkpoint is as ephemeral as the returned result.
    checkpoint = ephemeral_dir(f"ckpt_{name}_")
    try:
        with scoped_conf(spark, SHUFFLE_PARTITIONS, state_partitions):
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.table(name)
    finally:
        # The returned frame holds the memory sink's rows itself; neither
        # the checkpoint nor the sink's temp view outlives this call.
        shutil.rmtree(checkpoint, ignore_errors=True)
        spark.catalog.dropTempView(name)


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch dedup
    family (operators/dedup.py): drop redelivered events by key across
    micro-batches.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the first-seen event time, so state is bounded by
    (key cardinality within the watermark horizon), not stream length —
    the correct semantics for at-least-once sources like Kafka, where
    redeliveries arrive close to the original. Plain streaming
    ``dropDuplicates`` would keep every key forever.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_expr: str,
    lower_bound_expr: str,
    upper_bound_expr: str,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join (§2.8 extension; no
    reference analog — the reference's streams carry precomputed
    aggregates, never joinable event streams).

    Both inputs must already carry ``withWatermark`` on their event-time
    columns; the time-bound predicates are what let Spark compute how long
    each side's state must be retained (state horizon = watermark +
    interval width) and evict matched/expired rows instead of buffering
    the streams forever. Without the bounds a stream-stream join keeps
    ALL state — the classic unbounded-state trap.

    ``key_expr``/``*_bound_expr`` are SQL fragments over the two inputs'
    column names (which must not collide). Inner joins emit each match as
    soon as both sides arrive; outer variants additionally emit nulls
    when the watermark proves no match can come.
    """
    cond = F.expr(f"({key_expr}) AND ({lower_bound_expr}) AND ({upper_bound_expr})")
    return left.join(right, cond, how)


def run_foreach_batch(
    result: DataFrame,
    spark: SparkSession,
    batch_fn,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """Execute a streaming plan to completion (availableNow), delivering
    each micro-batch to ``batch_fn(batch_df, batch_id)`` — the
    foreachBatch bridge that reuses BATCH sinks (upsert_append, JDBC,
    bucketed writers) from a stream.

    Spark guarantees at-least-once delivery per batch id; pairing it with
    an idempotent batch sink (key-based upsert, overwrite-by-partition)
    yields effectively-exactly-once end to end — the standard production
    recipe for streaming into systems without native streaming writers.
    """
    # A caller-provided checkpoint persists across invocations — the
    # crash-recovery contract (replayed batch ids) depends on it; the
    # default ephemeral checkpoint serves single-shot drains.
    own_checkpoint = checkpoint is None
    if own_checkpoint:
        checkpoint = ephemeral_dir(f"ckpt_feb_{uuid.uuid4().hex[:12]}_")
    try:
        q = (
            result.writeStream.foreachBatch(batch_fn)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if own_checkpoint:
            shutil.rmtree(checkpoint, ignore_errors=True)


def run_foreach_batch_collect(result: DataFrame, spark: SparkSession) -> list:
    """Drain an APPEND-mode streaming plan (dedup, map-only transforms —
    shapes the complete-mode memory sink can't serve) to driver-side rows
    via foreachBatch. Bounded replays / tests only: collects every batch."""
    rows: list = []
    run_foreach_batch(result, spark, lambda batch, _id: rows.extend(batch.collect()))
    return rows


# ---------------------------------------------------------------------------
# Kafka wiring (S10/S11) — configuration + payload contracts, broker-free.
# ---------------------------------------------------------------------------


def kafka_source_options(
    bootstrap_servers: str = "localhost:9092",
    topics: tuple[str, ...] = TOPICS,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """S10 — the consumer's subscription config (kafka/consumer.py:17-24:
    all 7 topics, earliest; Spark checkpoints replace consumer-group
    offset commits)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(topics),
        "startingOffsets": starting_offsets,
    }


def kafka_sink_options(
    topic: str, bootstrap_servers: str = "localhost:9092"
) -> dict[str, str]:
    """S11 — per-topic producer config (the producer the reference never
    shipped; SURVEY load-bearing fact #1)."""
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def to_kafka_payload(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Row-per-message payload (idiomatic default, SURVEY §2.8): every row
    → one JSON message in a ``value`` column (+ optional ``key``)."""
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def to_kafka_array_envelope(df: DataFrame) -> DataFrame:
    """Array-envelope parity mode: the whole result set as ONE JSON-array
    message (`kafka/consumer.py:33` expects a list of dicts per message).
    Capped implicitly by driver memory — documented as parity-only; use
    row-per-message for real streams (SURVEY §7 hard parts)."""
    return df.agg(
        F.to_json(F.collect_list(F.struct(*df.columns))).alias("value")
    )


def parse_kafka_messages(raw: DataFrame, schema) -> DataFrame:
    """Consumer-side decode (F15): Kafka's binary ``value`` → typed columns
    (kafka/consumer.py:23 `json.loads`)."""
    return raw.select(
        F.col("topic"),
        F.from_json(F.col("value").cast("string"), schema).alias("payload"),
    ).select("topic", "payload.*")


def enrich_with_static(
    stream: DataFrame,
    static: DataFrame,
    on: str | list,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the standard Structured Streaming
    dimension lookup: the static side is a batch DataFrame re-planned
    (and, dim-sized, broadcast) per micro-batch, so dimension updates
    between batches are picked up automatically and the join is
    STATELESS — no watermark, no state store, unlike stream-stream joins.

    Scale: keep the static side dim-sized (broadcast) or pre-bucketed on
    the key; the stream side never shuffles for a broadcast dim. This is
    the streaming twin of the batch J1/J3 broadcast dim joins.
    """
    return stream.join(F.broadcast(static), on, how)
