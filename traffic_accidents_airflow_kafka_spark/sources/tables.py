"""Parquet table access for the driver's synthetic test tables.

Parquet is the engine's native storage (columnar, predicate-pushdown,
partition-prunable); the reference used PostgreSQL tables + CSV
intermediates (SURVEY.md §2.1 S1-S7). Reads stay lazy: column pruning and
filter pushdown reach the scan via Catalyst, so callers should never
pre-collect or cache here. Every read carries the table's memoized footer
schema (:func:`table_schema`), so no read runs a schema-inference job.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .memo import _artifact

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension-sized tables: always eligible for broadcast joins. At 100 TB the
# fact tables (lineitem/orders/events/documents) grow with SF; these do not.
SMALL_DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def table_schema(spark: SparkSession, sf_dir: str, table: str) -> StructType:
    """``{table}.parquet``'s schema as the batch reader resolves it
    (footer only, no data scan), held by the build-once memo: the sniff
    is a one-task inference job of 0.14-0.26 s that every batch read and
    every streaming plan build would otherwise pay, and a table rewritten
    in place (e.g. with another column set or timestamp unit) is sniffed
    again. ``events`` is sniffed under ``nanosAsLong``, the setting every
    events read runs under, so a TIMESTAMP(NANOS) ``ts`` resolves to a
    long here too."""
    path = os.path.join(sf_dir, f"{table}.parquet")

    def sniff() -> StructType:
        if table == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path).schema

    return _artifact(spark, sf_dir, f"schema-{table}", sniff)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a lazy DataFrame, read with its
    memoized :func:`table_schema`.

    ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which the
    vectorized reader rejects; we read it as nanos-since-epoch long
    (``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable) and surface
    a true ``TimestampType`` truncated to microseconds — Spark's native
    precision, matching what every downstream date-part function expects.
    """
    # Date-part extraction (hour/year/dayname) is session-timezone
    # dependent; the DuckDB oracle computes on naive timestamps. Pin UTC
    # here so catalog queries are correct even under a session this
    # engine's factory didn't build (runtime-settable conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = table_schema(spark, sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def scan(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
    casts: dict[str, str] | None = None,
) -> DataFrame:
    """S3 — projection + casts at the scan surface (the reference's
    hand-written column-pruned, cast-typed SQL extract,
    dags/etl_crash_traffic.py:266-290). Catalyst pushes the pruning into
    the parquet reader; casts run in the scan's codegen stage."""
    df = load_table(spark, sf_dir, name)
    if columns is not None:
        df = df.select(*columns)
    for col, dtype in (casts or {}).items():
        df = df.withColumn(col, F.col(col).cast(dtype))
    return df


def read_jsonl(
    spark: SparkSession, path: str, schema, multiline: bool = False
) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema and corrupt-record
    capture — the third ingest format after CSV (S1) and parquet (S2);
    web-scale corpus dumps (Common-Crawl-style WET/WARC derivatives,
    API exports) overwhelmingly arrive as JSONL.

    Schema inference is disabled by design: at 100 TB an inference pass
    is a full extra scan, and a drifting input schema should FAIL LOUDLY
    into ``_corrupt_record`` (PERMISSIVE mode) rather than silently
    reshape the table. Callers audit rejects via
    :func:`corrupt_record_audit` and route them to a quarantine sink.

    The ``_corrupt_record`` field is appended to the schema when absent:
    Spark only POPULATES columnNameOfCorruptRecord if the explicit
    schema contains it — without this, malformed lines would silently
    surface as all-null "clean" rows, the exact failure mode this
    reader exists to prevent.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    if "_corrupt_record" not in schema.fieldNames():
        schema = StructType(
            list(schema.fields) + [StructField("_corrupt_record", StringType())]
        )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", str(multiline).lower())
        .json(path)
    )


def corrupt_record_audit(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean, quarantine).

    ``quarantine`` carries the raw offending line (``_corrupt_record``)
    for replay after a parser fix — the production alternative to both
    FAILFAST (one bad line kills a 100 TB job) and DROPMALFORMED
    (silent data loss). The split is two lazy filters over ONE scan —
    Catalyst shares it when both sides are consumed in the same action.

    Spark restriction: an action whose projection prunes down to ONLY
    ``_corrupt_record`` (e.g. ``quarantine.count()``) raises
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN on a raw scan —
    consume quarantine with at least one data column in the projection
    (a sink write of all columns, or ``len(collect())``).
    """
    if "_corrupt_record" not in df.columns:
        return df, df.limit(0)
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = df.filter(F.col("_corrupt_record").isNotNull())
    return clean, quarantine
