"""Table reads (``sources/tables.py``): every ``load_table`` carries the
table's memoized footer schema, so a warm read submits no Spark job, a
table rewritten in place is read with its new columns, and ``events``
still surfaces a true timestamp."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, TimestampType

from traffic_accidents_airflow_kafka_spark.sources.tables import load_table, table_schema


def _jobs_in(spark, group: str, fn):
    """``fn()``'s value and the ids of the Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return value, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_submits_no_job(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), os.path.join(sf, "orders.parquet"))
    _, cold = _jobs_in(spark, f"cold-{tmp_path.name}", lambda: load_table(spark, sf, "orders"))
    assert cold, "the first read sniffs the footer in a job"
    df, warm = _jobs_in(spark, f"warm-{tmp_path.name}", lambda: load_table(spark, sf, "orders"))
    assert warm == [], warm
    assert sorted(r[0] for r in df.collect()) == [1, 2, 3]


def test_load_table_reads_a_column_added_in_place(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert load_table(spark, sf, "orders").columns == ["o_orderkey"]
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_orderpriority": ["1-URGENT", "5-LOW"]}), path)
    got = load_table(spark, sf, "orders")
    assert got.columns == ["o_orderkey", "o_orderpriority"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "1-URGENT"), (2, "5-LOW")]


def test_events_ts_is_a_timestamp_whatever_the_session_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts``: the events sniff sets ``nanosAsLong``
    itself, so the memoized schema (shared with the streaming reader)
    holds the long ``ts`` even when the session had the setting unset,
    and ``load_table`` surfaces it as a true ``TimestampType``, truncated
    to micros."""
    sf = str(tmp_path)
    nanos = [1_704_110_400_123_456_789, 1_704_184_200_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "event_type": ["click", "view"],
        }),
        os.path.join(sf, "events.parquet"),
    )
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert table_schema(spark, sf, "events")["ts"].dataType == LongType()
    events = load_table(spark, sf, "events")
    assert events.schema["ts"].dataType == TimestampType()
    got = events.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
    assert [r[0] for r in got] == [n // 1000 for n in nanos]
