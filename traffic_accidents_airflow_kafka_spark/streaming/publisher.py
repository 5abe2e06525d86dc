"""Topic publisher: the Kafka producer the reference never shipped
(SURVEY.md load-bearing fact #1 — kafka/producer.py is a byte-copy of the
consumer; only the 7 topic names specify the streaming side).

``publish_plan`` binds each topic to its catalog query and renders the
payload DataFrames (row-per-message default; array-envelope parity mode).
``publish`` attaches the Kafka sink — the one ``.format("kafka")`` call,
separated so everything upstream is testable without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import QUERY_REGISTRY
from .core import TOPICS, kafka_sink_options, to_kafka_array_envelope, to_kafka_payload


def publish_plan(
    spark: SparkSession, sf_dir: str, array_envelope: bool = False
) -> dict[str, DataFrame]:
    """Render every topic's payload DataFrame (no broker needed —
    this is the dry-run surface the tests drive). Each topic's catalog
    query is registered under the topic's name (plans/topics.py)."""
    out: dict[str, DataFrame] = {}
    for topic in TOPICS:
        result = QUERY_REGISTRY[topic].fn(spark, sf_dir)
        out[topic] = (
            to_kafka_array_envelope(result) if array_envelope else to_kafka_payload(result)
        )
    return out


def publish(
    spark: SparkSession,
    sf_dir: str,
    bootstrap_servers: str = "localhost:9092",
    array_envelope: bool = False,
) -> None:
    """Batch-publish all 7 result sets to their topics (S11). Each write
    is one small aggregate result — the expensive work happened in the
    catalog query; the Kafka write ships |groups| messages."""
    for topic, payload in publish_plan(spark, sf_dir, array_envelope).items():
        (
            payload.write.format("kafka")
            .options(**kafka_sink_options(topic, bootstrap_servers))
            .save()
        )
