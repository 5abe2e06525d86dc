"""One-pass streaming fan-out of the 7 dashboard topics.

The reference's production shape is ONE ETL pass publishing 7 result
topics (``kafka/producer.py`` + ``dags/etl_crash_traffic.py``: one job,
seven ``kafka_producer.send`` fan-outs). This module is that job as a
single Structured Streaming query, generated from the topic spec table
(``topic_specs.TOPIC_SPECS``) — the same table the batch catalog queries
come from, so the streaming form is not a second hand-written copy:

- **One source.** The accident facts (orders, lineitem, events) are read
  as file streams, JSON-encoded into a ``(src, payload)`` envelope and
  unioned into one streaming relation — the wire shape of a single Kafka
  topic carrying heterogeneous JSON records.
- **One availableNow drain, seven in-memory partial sets.**
  ``foreachBatch`` parses each micro-batch by record type, projects each
  source to the columns its specs read, and materializes every topic's
  generated ``partial`` (``localCheckpoint``) into a driver-side map
  keyed by batch id. A topic ``derived_from`` another is rolled up from
  that topic's partial of the same batch id instead of re-running its
  joins. A redelivered batch id REPLACES its entry, so it contributes
  identical partials once: with mergeable partials, redeliveries and
  multi-batch drains stay exact. That is all Structured Streaming asks
  of a sink — idempotence per batch id within the query's life — and
  the query's life is this call (its checkpoint is thrown away).
- **One merge per topic.** After the drain, the union of each topic's
  partials is reduced by the generated ``merge`` to exactly the batch
  query's schema, and every partial is released.
  ``stream_topics_fanout`` (``plans/streaming_plans.py``) compares the
  result multiset-exactly against the batch queries.

Scale: per-batch work is the topic queries' own shape (broadcast dim
joins, grid binning); partials are |groups|-sized, never raw facts, so
the map holds |groups| x batches rows per topic. Topic 3 joins the
lineitem stream to orders-at-rest saved bucketed on ``o_orderkey`` once
per (session, sf_dir), so the at-rest side has no Exchange in any
micro-batch; a broadcast join is the loud fallback when that table
cannot be written.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import release
from ..sources.memo import _artifact
from ..sources.tables import load_table, table_schema
from ..topic_specs import TOPIC_SPECS, TopicSpec, merge, partial, rollup
from . import core as streaming

#: The streamed fact sources and their envelope tags.
FANOUT_SOURCES = ("orders", "lineitem", "events")

#: Events on the wire: JSON has no timestamp type, so ``ts`` travels as
#: ``unix_micros`` (exact round trip).
_EVENTS_WIRE = (
    "event_id long, user_id long, event_type string, value double, "
    "props string, ts_us long"
)

#: Hash keys for respreading single-file sources: a keyless
#: ``repartition(n)`` sorts every row first (sortBeforeRepartition), while
#: hash keys are retry-deterministic and spread these ids evenly.
_RESPREAD_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey", "events": "event_id"}

#: Metadata of the LAST run_topics_fanout call in this process:
#: ``orders_join_path`` ("bucketed" | "broadcast": which topic-3 plan
#: ran), ``topic_sec`` (per-topic partial-job seconds summed over
#: micro-batches; the jobs run concurrently, so compare a topic with
#: itself across runs, never sum them), and the phase walls ``env_sec``,
#: ``parse_sec``, ``drain_wall_sec`` and ``merge_sec``.
_LAST_RUN_META: dict = {}


def last_run_metadata() -> dict:
    """Copy of the last fan-out run's metadata (empty if none ran)."""
    out = dict(_LAST_RUN_META)
    if "topic_sec" in out:
        out["topic_sec"] = {k: round(v, 4) for k, v in out["topic_sec"].items()}
    return out


def envelope_parts(spark: SparkSession) -> int:
    """Partition count of the cached envelope: wide enough that the JSON
    encode and the three parses use the cores, narrow enough that the
    seven concurrent topic jobs do not each schedule a core's worth of
    tasks per partition."""
    return min(16, max(4, spark.sparkContext.defaultParallelism // 3))


def envelope_stream(
    spark: SparkSession, sf_dir: str, schemas: dict | None = None
) -> DataFrame:
    """The single heterogeneous record stream: each fact table file-
    streamed, JSON-encoded, tagged, unioned — one topic, three record
    types. ``schemas`` ({source: StructType}) skips the footer reads for
    sources the caller already resolved.

    A single-file source has one row group, so its scan cannot split;
    the raw rows are hash-respread so the JSON encode runs wide and the
    drain's own respread finds the envelope wide enough already. A
    directory of part files arrives wide and is left alone."""
    per_source = max(2, -(-envelope_parts(spark) // len(FANOUT_SOURCES)))

    def respread(raw: DataFrame, src: str) -> DataFrame:
        if os.path.isdir(os.path.join(sf_dir, f"{src}.parquet")):
            return raw
        return raw.repartition(per_source, F.col(_RESPREAD_KEYS[src]))

    parts = []
    for src in ("orders", "lineitem"):
        schema = (schemas or {}).get(src) or table_schema(spark, sf_dir, src)
        raw = respread(streaming.stream_table_source(spark, sf_dir, src, schema), src)
        parts.append(raw.select(F.lit(src).alias("src"), F.to_json(F.struct(*raw.columns)).alias("payload")))
    ev = respread(streaming.stream_events(spark, sf_dir), "events")
    ev = ev.withColumn("ts_us", F.unix_micros("ts")).drop("ts")
    parts.append(ev.select(F.lit("events").alias("src"), F.to_json(F.struct(*ev.columns)).alias("payload")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _parse(batch: DataFrame, src: str, schema) -> DataFrame:
    rel = batch.filter(F.col("src") == src).select(F.from_json("payload", schema).alias("r")).select("r.*")
    return rel.withColumn("ts", F.timestamp_micros("ts_us")) if src == "events" else rel


def bucketed_orders_table(sf_dir: str) -> str:
    """Catalog name of the bucketed orders table for ONE sf_dir, scoped
    to the full normalized path (a session touching several scale dirs,
    or two dirs with the same leaf name, must never share one). The
    basename keeps catalogs readable; the path hash makes it unique."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    stem = re.sub(r"[^0-9A-Za-z]+", "_", norm.rsplit("/", 1)[-1])
    digest = hashlib.sha256(norm.encode()).hexdigest()[:8]
    return f"fanout_orders_bucketed_{stem}_{digest}"


def prepare_bucketed_orders(
    spark: SparkSession, sf_dir: str, num_buckets: int = 8
) -> str:
    """Save orders at rest bucketBy+sortBy ``o_orderkey``
    (``sources/sinks.py:save_bucketed``): the bucketing shuffle is paid
    once here, and every micro-batch join after reads the at-rest side
    co-located. Returns the (sf-scoped) table name.

    A managed table's directory outlives its session, and a fresh
    session's catalog then refuses ``saveAsTable`` with
    LOCATION_ALREADY_EXISTS even in overwrite mode. So the old location
    is removed first: asked of the catalog when it knows the table, else
    guessed from the managed layout (``<warehouse>/<table>``, or
    ``<warehouse>/<db>.db/<table>`` outside the default database)."""
    from ..sources.sinks import save_bucketed

    table = bucketed_orders_table(sf_dir)
    doomed = []
    if spark.catalog.tableExists(table):
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
            if r["col_name"] == "Location":
                p = urlparse(r["data_type"])
                if p.scheme in ("file", ""):
                    doomed.append(p.path)
                break
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if warehouse.scheme in ("file", "") and warehouse.path:
        db = spark.catalog.currentDatabase()
        if db and db != "default":
            doomed.append(os.path.join(warehouse.path, f"{db.lower()}.db", table.lower()))
        doomed.append(os.path.join(warehouse.path, table.lower()))
    for loc in doomed:
        if os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    save_bucketed(orders, table, "o_orderkey", num_buckets=num_buckets)
    return table


def _orders_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic 3's ``orders`` join table: the bucketed table, built once
    per (session, sf_dir) as a memoized artifact, or the plain table
    (broadcast by size) when the build fails. Records which in
    ``orders_join_path``."""
    # Imported outside the guard: an ImportError is a repo fault and must
    # not silently switch topic 3 to the fallback plan.
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    table = bucketed_orders_table(sf_dir)
    try:
        _artifact(spark, sf_dir, "fanout-orders-bucketed", lambda: prepare_bucketed_orders(spark, sf_dir))
        # The memo can outlive the table (a DROP mid-session): trust the
        # catalog, not the memo.
        if not spark.catalog.tableExists(table):
            prepare_bucketed_orders(spark, sf_dir)
    except (AnalysisException, OSError, Py4JJavaError) as exc:
        # The three ways an unwritable warehouse fails: a catalog refusal,
        # a local file op, a failed write job (IOException via Py4J).
        # Anything else propagates.
        print(
            f"[fanout] bucketed orders build failed ({exc}); "
            "falling back to the broadcast join for topic 3",
            file=sys.stderr,
        )
        _LAST_RUN_META["orders_join_path"] = "broadcast"
        return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    _LAST_RUN_META["orders_join_path"] = "bucketed"
    return spark.table(table)


def _meter(key: str, t0: float) -> None:
    _LAST_RUN_META[key] = _LAST_RUN_META.get(key, 0.0) + time.perf_counter() - t0


def run_topics_fanout(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Drain the envelope stream once into per-batch partial aggregates
    held in memory, merge each topic's partials and return {topic: merged
    DataFrame} with exactly the batch topic queries' schemas. Merged
    results are eagerly materialized (localCheckpoint), so every partial
    is released before the caller reads them, on failure as well."""
    wire = {src: table_schema(spark, sf_dir, src) for src in ("orders", "lineitem")}
    wire["events"] = _EVENTS_WIRE
    reads = {
        src: set().union(*(s.columns_read() for s in TOPIC_SPECS if s.source == src))
        for src in FANOUT_SOURCES
    }
    at_rest = {j.table: load_table(spark, sf_dir, j.table) for s in TOPIC_SPECS for j in s.joins if j.broadcast}
    _LAST_RUN_META.clear()
    _LAST_RUN_META["topic_sec"] = {t: 0.0 for t in streaming.TOPICS}
    # The one fact-fact join (topic 3's, not broadcast) reads orders at rest.
    at_rest["orders"] = _orders_at_rest(spark, sf_dir)
    derived = {r.name: [s for s in TOPIC_SPECS if s.derived_from and s.derived_from[0] == r.name] for r in TOPIC_SPECS}
    # A root with derived topics runs a chain of partial jobs, so it is
    # submitted first: the scheduler is FIFO across concurrent jobs.
    roots = sorted((s for s in TOPIC_SPECS if s.derived_from is None), key=lambda r: not derived[r.name])
    parts = envelope_parts(spark)
    # {topic: {batch_id: materialized partial}}; each topic's dict is
    # written only by its root's job thread.
    partials: dict[str, dict[int, DataFrame]] = {t: {} for t in streaming.TOPICS}

    def drain(batch: DataFrame, batch_id: int) -> None:
        # The topic jobs all read this micro-batch: cache the envelope once
        # and each source's parse once, projected to the columns its
        # topics read (the JSON parse hides column use from pruning).
        env = batch if batch.rdd.getNumPartitions() >= parts else batch.repartition(parts)
        t0 = time.perf_counter()
        env.persist().count()
        _meter("env_sec", t0)
        parsed = {}
        for src in FANOUT_SOURCES:
            rel = _parse(env, src, wire[src])
            parsed[src] = rel.select(*(c for c in rel.columns if c in reads[src])).persist()

        def job(root: TopicSpec) -> None:
            # Gated on its own source's parse only; the meter starts after
            # the gate, so it reads partial-job seconds, not parse wait.
            parses[root.source].result()
            for spec in (root, *derived[root.name]):
                t0 = time.perf_counter()
                if spec.derived_from:
                    df = rollup(spec, partials[spec.derived_from[0]][batch_id])
                else:
                    df = partial(spec, {**at_rest, spec.source: parsed[spec.source]})
                stale = partials[spec.name].get(batch_id)
                partials[spec.name][batch_id] = df.coalesce(1).localCheckpoint(eager=True)
                if stale is not None:  # a redelivered batch id
                    release(stale)
                _LAST_RUN_META["topic_sec"][spec.name] += time.perf_counter() - t0

        try:
            t_parse0 = time.perf_counter()
            with ThreadPoolExecutor(max_workers=len(parsed) + len(roots)) as pool:
                parses = {src: pool.submit(df.count) for src, df in parsed.items()}
                jobs = [pool.submit(job, root) for root in roots]
                for fut in parses.values():
                    fut.result()
                _meter("parse_sec", t_parse0)
                for fut in jobs:
                    fut.result()
        finally:
            # A failed drain must not leave four caches pinned for the
            # rest of the session.
            release(*parsed.values(), env)

    try:
        t0 = time.perf_counter()
        streaming.run_foreach_batch(envelope_stream(spark, sf_dir, wire), spark, drain)
        _meter("drain_wall_sec", t0)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(TOPIC_SPECS)) as pool:
            futs = {
                s.name: pool.submit(
                    merge(s, reduce(DataFrame.unionByName, partials[s.name].values())).localCheckpoint,
                    eager=True,
                )
                for s in TOPIC_SPECS
            }
            out = {name: fut.result() for name, fut in futs.items()}
        _meter("merge_sec", t0)
        return out
    finally:
        release(*(frame for by_batch in partials.values() for frame in by_batch.values()))
