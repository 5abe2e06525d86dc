"""Streaming catalog queries (SURVEY.md §2.8).

``stream_window_counts`` runs a REAL Structured Streaming job
(file-backed source → watermark → tumbling window → availableNow →
memory sink) and returns the terminal result, oracle-checked against the
equivalent batch SQL — streaming/batch unification is the point: the same
windowed plan serves the live stream and the backfill.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import Rounds, release
from ..sources.memo import _artifact
from ..streaming import core as streaming
from .registry import register


@register(
    "stream_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="§2.8 event-mode streaming (the flagged north-star extension): "
    "events replayed through readStream with a 2h watermark, 1h tumbling "
    "windows, trigger(availableNow=True) — the consumer-termination "
    "contract of kafka/consumer.py:30-36 — then compared against the "
    "batch equivalent (tumbling window ≡ date_trunc group). Scale: "
    "watermark bounds state to live windows; availableNow is also the "
    "backfill path (same code, bounded replay); state stores sized to "
    "the host's cores (streaming/core.py:state_partitions), not the "
    "batch shuffle default.",
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = streaming.stream_events(spark, sf_dir)
    windowed = streaming.windowed_event_counts(events, "1 hour", "2 hours")
    result = streaming.run_available_now(windowed, spark)
    return result.orderBy("window_start", "event_type")


@register(
    "stream_sliding_counts",
    tier=1,  # windowed-agg machinery judged via stream_window_counts; this adds the slide
    oracle="""
    WITH contrib AS (
      SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800)
               AT TIME ZONE 'UTC' AS window_start,
             event_type
      FROM events
      UNION ALL
      SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                          - 1800) AT TIME ZONE 'UTC' AS window_start,
             event_type
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM contrib
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="§2.8 sliding windows (the second north-star window shape, "
    "SURVEY.md:265): 1h windows sliding every 30min — each event lands "
    "in 2 overlapping windows, whose starts are the event's slide-grid "
    "bucket and the bucket before it; the oracle replays exactly that "
    "expansion in batch SQL. Scale: window(ts, 1h, 30m) expands each "
    "row to window_len/slide rows BEFORE the shuffle (2x here) — state "
    "is still bounded by the watermark; keep the expansion factor in "
    "mind when sizing slides.",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = streaming.stream_events(spark, sf_dir)
    windowed = (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    result = streaming.run_available_now(windowed, spark)
    return result.orderBy("window_start", "event_type")


#: Batch-SQL replay of gap+timeout sessionization: the oracle of
#: `stream_sessions` (applyInPandasWithState).
SESSIONS_ORACLE = """
    WITH marks AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ),
    agg AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS INT) AS n_events,
             ROUND(SUM(value), 4) AS sum_value
      FROM sess GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(ts) AS m FROM events),
    lastsid AS (SELECT user_id, MAX(sid) AS msid FROM agg GROUP BY user_id)
    SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.sum_value,
           CASE WHEN a.sid < l.msid THEN 'gap' ELSE 'timeout' END AS closed_by
    FROM agg a
    JOIN lastsid l ON a.user_id = l.user_id, mx
    WHERE a.sid < l.msid
       OR epoch_ms(a.session_end) + 1800000 < epoch_ms(m) - 7200000
    ORDER BY a.user_id, a.session_start
    """


@register(
    "stream_sessions",
    oracle=SESSIONS_ORACLE,
    doc="Custom stateful streaming op on the judged surface: gap-based "
    "sessionization via applyInPandasWithState (streaming/stateful.py), "
    "run availableNow. Emits sessions closed by a 30-min gap OR by the "
    "event-time timeout (watermark 2h passing last_ts + gap). The oracle "
    "replays BOTH rules in batch SQL — lag/cumsum session ids for the "
    "gap closes; the final watermark = floor_ms(max ts) - delay decides "
    "the timeout closes (Spark state timeouts compare in ms, hence the "
    "epoch_ms truncation). Scale: state is per-user and watermark-"
    "evicted; the same code serves the live stream.",
)
def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import stateful

    events = streaming.stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    sessions = stateful.sessionize(
        events.select("user_id", "ts", "value"), gap_seconds=1800
    )
    out = streaming.run_available_now(sessions, spark, output_mode="append")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        "closed_by",
    ).orderBy("user_id", "session_start")


@register(
    "stream_native_sessions",
    tier=1,  # extended streaming surface; custom sessionization judged via stream_sessions
    oracle="""
    WITH marks AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ),
    agg AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 1800 SECOND AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM agg, mx
    WHERE epoch_ms(session_end) < epoch_ms(m) - 7200000
    ORDER BY user_id, session_start
    """,
    doc="Built-in session windows (F.session_window, the native "
    "counterpart to stream_sessions' applyInPandasWithState): per-user "
    "gap-based sessions with a 30-min gap, 2h watermark, availableNow, "
    "append mode. Gap semantics match the custom op — TOUCHING windows "
    "merge (an event at exactly last+gap extends the session; splits "
    "need gap > 30min; pinned by test_native_session_window_merges_"
    "touching_windows) — but emission differs, replayed in the oracle: "
    "sessions emit ONLY when the final ms-truncated watermark passes the "
    "window end (last_ts + gap); there is no early gap-close emission, "
    "and session_end is the window end (last_ts + gap), not last_ts. "
    "Scale: state merges/evicts "
    "JVM-side with no Python boundary — prefer this whenever plain "
    "per-session aggregates suffice; the custom op exists for semantics "
    "beyond it (emission labels, early closes, custom state).",
)
def stream_native_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = streaming.stream_events(spark, sf_dir)
    sessions = (
        events.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    out = streaming.run_available_now(sessions, spark, output_mode="append")
    return out.orderBy("user_id", "session_start")


@register(
    "stream_interval_join",
    # r4 rotation: promoted to the judged window (stream-stream join rep)
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS click_ts, value FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts AS buy_ts FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(hour(buy_ts) AS INT) AS buy_hour,
           COUNT(*) AS n_attributed,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_click_value
    FROM p JOIN c ON p.user_id = c.user_id
                  AND c.click_ts >= p.buy_ts - INTERVAL 30 MINUTE
                  AND c.click_ts <= p.buy_ts
    GROUP BY 1
    ORDER BY 1
    """,
    doc="§2.8 stream-stream interval join (streaming/core.py:"
    "interval_join): click->purchase attribution — purchases joined to "
    "same-user clicks in the preceding 30 minutes, both sides watermarked "
    "2h, drained availableNow in append mode, then rolled up per purchase "
    "hour in batch. The time bounds are load-bearing at scale: they give "
    "Spark a finite state horizon (watermark + 30 min) per side, so join "
    "state is evicted as the watermark advances instead of buffering both "
    "streams forever. The oracle replays the identical interval join as "
    "batch SQL — streaming/batch unification again. Scale: state keyed by "
    "user_id; the hot path is the stream-stream state-store lookup, no "
    "shuffle beyond the join keys.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        streaming.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        streaming.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("buyer_id"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "2 hours")
    )
    joined = streaming.interval_join(
        purchases,
        clicks,
        key_expr="buyer_id = user_id",
        lower_bound_expr="click_ts >= buy_ts - INTERVAL 30 MINUTES",
        upper_bound_expr="click_ts <= buy_ts",
    )
    drained = streaming.run_available_now(joined, spark, output_mode="append")
    return (
        drained.groupBy(F.hour("buy_ts").cast("int").alias("buy_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.sum(F.col("click_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_click_value"),
        )
        .orderBy("buy_hour")
    )


@register(
    "stream_interval_join_outer",
    tier=1,  # extended streaming surface; inner interval join is the judged-able twin
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts AS buy_ts FROM events WHERE event_type = 'purchase'
    ), m0 AS (
      SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                   (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
               AS m
    ),
    matched AS (
      SELECT p.user_id, p.buy_ts, c.click_ts
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.click_ts >= p.buy_ts - INTERVAL 30 MINUTE
        AND c.click_ts <= p.buy_ts
    ),
    unmatched AS (
      SELECT p.user_id, p.buy_ts, CAST(NULL AS TIMESTAMP) AS click_ts
      FROM p, m0
      WHERE NOT EXISTS (
        SELECT 1 FROM c WHERE c.user_id = p.user_id
          AND c.click_ts >= p.buy_ts - INTERVAL 30 MINUTE
          AND c.click_ts <= p.buy_ts
      )
      AND epoch_ms(p.buy_ts) < epoch_ms(m) - 7200000
    ),
    unioned AS (
      SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    )
    SELECT CAST(hour(buy_ts) AS INT) AS buy_hour,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_attributed
    FROM unioned
    GROUP BY 1
    ORDER BY 1
    """,
    doc="LEFT-OUTER stream-stream interval join: purchases with no "
    "attributable click emit a null row — but only once the join can "
    "PROVE no match is coming, which is a watermark statement, not a "
    "batch LEFT JOIN. Two subtleties, both measured (at sf0.001 AND "
    "sf0.01) and replayed in the oracle: (1) the join watermark is the "
    "MIN across both input streams, and each stream's watermark tracks "
    "the max event time of its FILTERED events (clicks-only / "
    "purchases-only — the filter sits below withWatermark), not of the "
    "raw source; (2) a null row for purchase P surfaces when that final "
    "ms-truncated watermark strictly passes P's own event time (future "
    "clicks all arrive past the watermark and cannot be <= buy_ts). "
    "Purchases younger than the horizon stay in state unemitted — "
    "correct streaming semantics, NOT missing data. Scale: same bounded "
    "state horizon as the inner join plus the outer-null bookkeeping.",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        streaming.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        streaming.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("buyer_id"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "2 hours")
    )
    joined = streaming.interval_join(
        purchases,
        clicks,
        key_expr="buyer_id = user_id",
        lower_bound_expr="click_ts >= buy_ts - INTERVAL 30 MINUTES",
        upper_bound_expr="click_ts <= buy_ts",
        how="left_outer",
    )
    drained = streaming.run_available_now(joined, spark, output_mode="append")
    return (
        drained.groupBy(F.hour("buy_ts").cast("int").alias("buy_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)).alias(
                "n_attributed"
            ),
        )
        .orderBy("buy_hour")
    )


@register(
    "stream_dedup_unique_counts",
    tier=1,  # extended streaming surface; windowed/stateful machinery judged via tier-0 twins
    oracle="""
    WITH k AS (
      SELECT DISTINCT user_id, event_type,
             to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800)
               AT TIME ZONE 'UTC' AS bucket
      FROM events
    )
    SELECT event_type, COUNT(*) AS n_unique
    FROM k
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Streaming exact dedup on the judged-able surface: "
    "dropDuplicatesWithinWatermark on (user_id, event_type, 30-min "
    "bucket) collapses redeliveries/repeat activity keys as they "
    "stream (streaming/core.py:dedup_stream), then a batch-side count "
    "per type over the drained result. The availableNow replay is a "
    "single micro-batch, so state sees every duplicate before any "
    "eviction and the result equals exact DISTINCT — the oracle. On a "
    "live stream the within-watermark contract bounds state by (keys "
    "within horizon), the correct semantics for at-least-once sources. "
    "Scale: state keyed on small tuples, watermark-evicted.",
)
def stream_dedup_unique_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = streaming.stream_events(spark, sf_dir)
    keyed = events.select(
        "user_id",
        "event_type",
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 1800).cast("bigint") * 1800
        ).alias("bucket"),
        "ts",
    )
    deduped = streaming.dedup_stream(
        keyed, ["user_id", "event_type", "bucket"], ts_col="ts", watermark="2 hours"
    ).select("user_id", "event_type", "bucket")
    drained = streaming.run_available_now(deduped, spark, output_mode="append")
    return (
        drained.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


@register(
    "stream_static_enrichment",
    tier=1,  # windowed-agg machinery judged via stream_window_counts; this adds the dim join
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           n.n_name AS nation,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Stream-static dimension enrichment "
    "(streaming/core.py:enrich_with_static): the events stream joins the "
    "customer→nation dim chain per micro-batch — the Structured "
    "Streaming dimension-lookup idiom (stateless; the static side is "
    "re-planned and broadcast each batch, picking up dim updates "
    "automatically) — then watermarked tumbling windows roll up per "
    "nation. Scale: broadcast dims mean the stream never shuffles for "
    "the join; watermark bounds window state exactly as in "
    "stream_window_counts.",
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    events = streaming.stream_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    enriched = streaming.enrich_with_static(events, dim, "user_id", "inner")
    windowed = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "nation", "n_events", "sum_value")
    )
    result = streaming.run_available_now(windowed, spark)
    return result.orderBy("window_start", "nation")


@register(
    "stream_anomaly_flags",
    tier=1,  # stateful machinery judged via stream_sessions; this adds the online-detector pattern
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             COUNT(*) OVER w AS prior_n,
             COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                      OVER w, 0) AS prior_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prior_n >= 3 AND cents * prior_n > 3 * prior_s
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM seq
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Streaming running-mean anomaly flags "
    "(streaming/stateful.py:anomaly_flags): the online-monitoring "
    "stateful pattern — per-key (count, sum) state in integer cents, "
    "events flagged when value > 3x the running mean of >= 3 prior "
    "events. The integer-cents contract makes state folds and the flag "
    "comparison order-independent integer arithmetic, so the oracle "
    "replays them exactly as decimal window sums. Scale: O(1) state per "
    "key, flags emitted in-stream (append mode).",
)
def stream_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import stateful

    events = streaming.stream_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    flags = stateful.anomaly_flags(events)
    out = streaming.run_available_now(flags, spark, output_mode="append")
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("is_anomaly").cast("int")).cast("bigint").alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_pyds_replay",
    tier=1,  # source-API twin; the windowed-agg semantics are judged via stream_window_counts
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="The windowed-count plan of stream_window_counts fed through a "
    "PYTHON STREAMING DATA SOURCE (sources/pyds.py:EventReplayDataSource, "
    "Spark 4 SimpleDataSourceStreamReader): real offset bookkeeping — "
    "initialOffset / read / readBetweenOffsets over a (ts, event_id) "
    "total order — so checkpoint recovery replays EXACTLY the committed "
    "row ranges. Same oracle as the file-source twin: the source "
    "mechanism changes, the answer must not. Scale: the simple-reader "
    "API ships rows driver->executors (the rate-source idiom, right for "
    "replay/testing harnesses); production volumes use the file/Kafka "
    "readStream paths.",
)
def stream_pyds_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.pyds import EventReplayDataSource

    try:
        spark.dataSource.register(EventReplayDataSource)
    except Exception as exc:  # tolerate ONLY double-registration
        if "EXISTS" not in str(exc).upper():
            raise
    raw = (
        spark.readStream.format("eventreplay")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        # r10 (guide §4 — pass only the columns the function needs):
        # the simple-reader path has no engine column pruning, so every
        # field pays driver fetch + pickle + per-row Python→JVM
        # conversion; the windowed aggregate reads 3 of the 6 replay
        # fields, and pruning the rest (event_id, user_id, props) cut
        # the driver fetch 0.52 → 0.08 s and the pickle payload
        # 4.8 → 2.9 MB per drain at sf0.1. The (ts, event_id) replay
        # order is computed on SOURCE columns, so offsets and the
        # windowed result are unchanged.
        .option("columns", "ts_us,event_type,value")
        .load()
        # ts travels as int64 micros through the Python source (see
        # sources/pyds.py:EVENTS_REPLAY_SCHEMA) — re-typed here with the
        # exact expression the batch file-twin uses, so the windowed
        # plan below is unchanged.
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .drop("ts_us")
    )
    windowed = streaming.windowed_event_counts(raw, "1 hour", "2 hours")
    result = streaming.run_available_now(windowed, spark)
    return result.orderBy("window_start", "event_type")


@register(
    "stream_cms_cells",
    tier=1,  # extended streaming surface; windowed-agg machinery judged via stream_window_counts
    oracle="""
    WITH depths AS (SELECT UNNEST(generate_series(0, 3)) AS depth),
    cells AS (
      SELECT date_trunc('hour', ts) AS window_start, depth,
             CAST(list_reduce(list_transform(generate_series(1, 13),
               j -> CAST(instr('0123456789abcdef', substr(md5('cms-v1-'
               || CAST(depth AS VARCHAR) || '|'
               || CAST(user_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) AS BIGINT) % 256 AS bucket
      FROM events CROSS JOIN depths
    ),
    grid AS (
      SELECT window_start, depth, bucket, COUNT(*) AS wt
      FROM cells GROUP BY 1, 2, 3
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_nonzero_cells,
           CAST(SUM(wt) AS BIGINT) AS total_mass,
           CAST(MAX(wt) AS BIGINT) AS max_cell_weight
    FROM grid GROUP BY 1 ORDER BY 1
    """,
    doc="Streaming count-min sketch — the mergeable-sketch family run as "
    "a LIVE windowed aggregation (operators/sketch.py:cms_bucket buckets "
    "inside the stream): per hour window the state is the depth x width "
    "CELL GRID (<= 1024 counters), so streaming frequency tracking costs "
    "BOUNDED state per window regardless of key cardinality — the "
    "contrast with per-key streaming counts whose state grows with "
    "distinct keys; watermark eviction completes the bound across "
    "windows. The drained terminal relation rolls up per-window sketch "
    "health (nonzero cells, total mass = rows x depth, hottest cell); "
    "the same oracle replays the identical md5 buckets in batch SQL — "
    "source mechanism changes, answer must not (the file-source-twin "
    "discipline). Persisted per-window grids merge by addition into "
    "any-range sketches downstream, exactly like the batch per-day "
    "variant in cms_heavy_hitters.",
)
def stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_bucket

    events = streaming.stream_events(spark, sf_dir)
    buckets = F.array(*[cms_bucket("user_id", i, 256, "cms-v1") for i in range(4)])
    cells = (
        events.withWatermark("ts", "2 hours")
        .select(F.col("ts"), F.posexplode(buckets).alias("depth", "bucket"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "depth", "bucket")
        .agg(F.count(F.lit(1)).alias("wt"))
        .select(F.col("w.start").alias("window_start"), "depth", "bucket", "wt")
    )
    grid = streaming.run_available_now(cells, spark)
    return (
        grid.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nonzero_cells"),
            F.sum("wt").cast("bigint").alias("total_mass"),
            F.max("wt").cast("bigint").alias("max_cell_weight"),
        )
        .orderBy("window_start")
    )


#: Fixed Derby location for the streaming-JDBC round-trip query (static
#: oracle SQL needs no path, but the reset logic does; single-writer per
#: host like every sink).
STREAM_JDBC_DB = "/tmp/spark_graft_stream_derby/db"


@register(
    "stream_jdbc_rollup",
    tier=0,  # r6 rotation INTO the judged window (r5 flagship):
    # exactly-once streaming→JDBC delivery under the value-hash oracle
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id % 29 = 0
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming -> JDBC exactly-once delivery, end to end UNDER "
    "ORACLE (streaming/jdbc_sink.py:exactly_once_jdbc_batch_fn): the "
    "user_id%29 slice of events is replayed through readStream "
    "(availableNow), every micro-batch lands in an embedded Apache "
    "Derby table via the transactional batch-id recipe (marker probe "
    "-> DELETE leftovers -> executor-parallel batched INSERT -> marker "
    "commit; crash-injection replay proven in "
    "tests/test_jdbc_stream_sink.py), the table is read BACK over JDBC "
    "with a partition-capable reader, and the rollup must value-hash "
    "against DuckDB aggregating the original parquet — any dropped, "
    "duplicated, or corrupted row across the stream->DB->scan chain "
    "breaks the hash. The reference's consumer wrote exactly this "
    "shape into Postgres (kafka/consumer.py); Derby stands in as the "
    "in-container database, the recipe is URL-swappable. Scale: "
    "delivery is per-batch parallel batched INSERTs; the database is "
    "the bottleneck by design — this entry sizes its slice "
    "accordingly, the parquet sinks remain the analytics path.",
)
def stream_jdbc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..sources import jdbc as jdbc_mod
    from ..streaming import jdbc_sink

    # Idempotent rerun: shut the cached Derby instance down (the engine
    # holds booted databases open in-JVM) and clear its files.
    try:
        jdbc_sink._driver_connection(
            spark, f"jdbc:derby:{STREAM_JDBC_DB};shutdown=true"
        )
    except Exception:  # noqa: BLE001 — shutdown SUCCESS raises by contract
        pass
    shutil.rmtree(STREAM_JDBC_DB, ignore_errors=True)

    url = f"jdbc:derby:{STREAM_JDBC_DB};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    events = streaming.stream_events(spark, sf_dir)
    sliced = events.filter(F.col("user_id") % 29 == 0).select(
        "event_id", "user_id", "event_type", F.col("value").cast("double")
    )
    fn = jdbc_sink.exactly_once_jdbc_batch_fn(
        spark, url, "stream_rows", properties=props
    )
    streaming.run_foreach_batch(sliced, spark, fn)
    back = jdbc_mod.jdbc_reader(spark, url, "stream_rows", properties=props).load()
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


def _stream_asset_base(spark: SparkSession) -> str:
    """Materialization base for the streaming-decode entry's landed drop
    directory — scoped per USER (a fixed world-shared /tmp name is
    squattable on a multi-user host) and per SESSION via the Spark
    applicationId (the landing is memoized per session, so two
    concurrent sessions on the same sf_dir — pytest during a bench run —
    must not race overwrite-vs-stream on a shared path; r9 ADVICE). The
    sf_dir hash appended by the caller keeps cross-scale isolation
    within a session."""
    import getpass
    import re as _re
    import tempfile

    try:
        user = getpass.getuser()
    except (OSError, KeyError):
        # No passwd entry for the uid (minimal containers): Python
        # <= 3.12 surfaces this as KeyError from pwd.getpwuid, 3.13+
        # as OSError.
        user = f"uid{os.getuid()}"
    user = _re.sub(r"[^0-9A-Za-z_.-]", "_", user)
    app = spark.sparkContext.applicationId
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_assets_{user}_{app}"
    )


@register(
    "stream_multimodal_decode",
    tier=0,  # r7 rotation INTO the judged window (r6 flagship): binary file
    # stream -> stateless real header decode judged directly
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                ELSE 'image/bmp' END AS mime,
           COUNT(*) AS n_assets,
           CAST(SUM(16 + doc_id % 48) AS BIGINT) AS total_width,
           CAST(MAX(16 + (doc_id * 7) % 32) AS INT) AS max_height
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    doc="Streaming ingestion of BINARY assets — the missing intersection "
    "of the streaming and multimodal families: genuine PNG/BMP files "
    "(operators/multimodal.py:synth_image_assets) land in a parquet "
    "drop directory, a file stream reads them with an explicit binary "
    "schema, the REAL header parser (decode_image_meta) runs as a "
    "stateless Arrow mapInPandas stage INSIDE the stream, and a "
    "complete-mode aggregate rolls up per mime — executed to completion "
    "with availableNow (streaming/core.py:run_available_now). The "
    "oracle recomputes the rollup from doc_id arithmetic, so the "
    "whole path — encode, file-stream discovery, in-stream decode, "
    "streaming aggregation — is under value-hash. Scale: decode is "
    "per-file-batch and stateless (no state store); only the per-mime "
    "aggregate keeps state, bounded by |mime types|; a production "
    "deployment swaps the drop directory for the Kafka/object-store "
    "source with the identical downstream plan.",
)
def stream_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal
    from ..sources.tables import load_table

    # The landed drop directory is corpus PREP, not the streaming query —
    # build it once per (session, sf_dir) like every other input artifact
    # (r9; the cost is disclosed in bench's artifact_build_sec). Each run
    # still re-streams every file from scratch (fresh availableNow
    # checkpoint), so the timed number measures discovery + in-stream
    # decode + the stateful aggregate — the path a deployment actually
    # pays per drain.
    import hashlib

    # sf-scoped drop directory: the memo is keyed per (session, sf_dir),
    # so the landed path must be too — a shared path would serve one
    # scale's assets to another scale's stream after a cross-sf session
    # (the fanout bucketed-table lesson, applied here).
    digest = hashlib.sha256(
        os.path.normpath(os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:8]
    asset_path = f"{_stream_asset_base(spark)}_{digest}"

    def _land() -> str:
        import atexit
        import shutil

        docs = load_table(spark, sf_dir, "documents")
        multimodal.synth_image_assets(docs).write.mode("overwrite").parquet(
            asset_path
        )
        # Session-scoped paths are never reused by a later process —
        # reclaim them at interpreter exit instead of littering /tmp.
        atexit.register(shutil.rmtree, asset_path, ignore_errors=True)
        return asset_path

    _artifact(spark, sf_dir, "stream-image-assets", _land)
    assets = spark.readStream.schema(multimodal.ASSET_SCHEMA).parquet(
        asset_path
    )
    meta = multimodal.extract_asset_meta(
        assets, decode=multimodal.decode_image_meta
    )
    agg = meta.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("width").cast("bigint").alias("total_width"),
        F.max("height").cast("int").alias("max_height"),
    )
    result = streaming.run_available_now(agg, spark)
    return result.orderBy("mime")


def _fanout_oracle() -> str:
    """One row per topic: the batch topic oracle's row count plus a
    pinned-true parity flag — the Spark side sets rows_match by a
    multiset-exact comparison of the streamed+merged result against the
    batch plan, so any divergence value-hash-mismatches."""
    from .registry import QUERY_REGISTRY

    selects = [
        f"""SELECT '{name}' AS topic,
               (SELECT COUNT(*) FROM ({QUERY_REGISTRY[name].oracle}) q)
                 AS n_rows,
               true AS rows_match"""
        for name in streaming.TOPICS
    ]
    return "\n    UNION ALL ".join(selects) + "\n    ORDER BY topic"


#: Ceiling on rows any parity check may collect to the driver. The
#: dashboard topics are dimension-bounded (|states|, |suppliers|, |grid
#: cells| — thousands at most), so this is ~50x headroom; a topic that
#: ever grows a fact-sized key fails LOUDLY here instead of silently
#: OOMing the driver (r8 VERDICT #6: enforce the contract, don't assume
#: it).
PARITY_COLLECT_CEILING = 100_000


def _bounded_collect(df: DataFrame, name: str) -> list:
    """Driver-side collect with the dimension-bounded contract enforced
    in ONE job: collect at most ceiling+1 rows — the limit hard-caps
    driver memory at ceiling+1 rows even when the query would produce
    billions (a count-then-collect order would both run the pipeline
    twice and only refuse AFTER learning the count)."""
    rows = df.limit(PARITY_COLLECT_CEILING + 1).collect()
    if len(rows) > PARITY_COLLECT_CEILING:
        raise ValueError(
            f"parity collect of topic {name!r} exceeds "
            f"{PARITY_COLLECT_CEILING} rows; dashboard topics must stay "
            "dimension-bounded — check the topic's group-by keys before "
            "raising the ceiling"
        )
    return rows


@register(
    "stream_topics_fanout",
    tier=0,  # r7 flagship: the reference's one-job/seven-topics fan-out
    # as a single Structured Streaming pass (VERDICT r6 #7)
    oracle=_fanout_oracle(),
    doc="The reference's production job — ONE ETL pass publishing all 7 "
    "dashboard topics (kafka/producer.py fan-out) — as a single "
    "Structured Streaming query (streaming/fanout.py): orders, lineitem "
    "and events file-streamed, JSON-enveloped and UNIONED into one "
    "heterogeneous record stream (the wire shape of one Kafka topic), "
    "drained with trigger(availableNow=True) through foreachBatch into "
    "seven in-memory partial sets keyed by batch id. The per-batch "
    "partials, the topic-1 roll-up from topic 5's partial and the final "
    "merges are generated from the "
    "same spec table as the batch topic queries (topic_specs.py): counts "
    "and exact decimal sums add across micro-batches, and the one "
    "distinct count keeps (brand, partkey)-grain partials and "
    "re-distincts at merge. Each merged dashboard is then compared "
    "multiset-exactly (row-tuple Counter equality over the dim-bounded "
    "dashboards) against its batch topic query, and the per-topic row "
    "count + parity flag is what the oracle value-hashes. Scale: "
    "partials are |groups|-sized, never raw facts; topic 3 joins the "
    "lineitem stream to orders-at-rest bucketed on o_orderkey (no "
    "Exchange above the at-rest scan; broadcast only as the "
    "warehouse-unwritable fallback), and every parity collect is capped "
    "by PARITY_COLLECT_CEILING.",
)
def stream_topics_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    from ..streaming.fanout import run_topics_fanout
    from .registry import QUERY_REGISTRY

    # The 7 BATCH baselines are the parity ground truth — a build-once
    # artifact holding each dashboard as a COLLECTED row multiset
    # (column order + Counter of row tuples). Dashboards are dim-bounded
    # (|states|, |suppliers|, |grid cells| — never fact-sized) and every
    # collect goes through _bounded_collect, which REFUSES past the
    # ceiling — so the per-run parity check is 7 small collect jobs
    # against in-memory multisets instead of 21 Spark jobs (count +
    # exceptAll both directions per topic), and the artifact build needs
    # no localCheckpoint blocks at all. Multiset equality of exact
    # values is the same contract exceptAll enforced.
    baselines = _artifact(
        spark,
        sf_dir,
        "topics-batch-baseline",
        lambda: {
            name: (
                tuple(df.columns),
                Counter(tuple(r) for r in _bounded_collect(df, name)),
            )
            for name, df in (
                (n, QUERY_REGISTRY[n].fn(spark, sf_dir))
                for n in streaming.TOPICS
            )
        },
    )

    merged = run_topics_fanout(spark, sf_dir)

    def compare(name: str) -> tuple:
        cols, want = baselines[name]
        got = Counter(
            tuple(r)
            for r in _bounded_collect(merged[name].select(*cols), name)
        )
        return (name, sum(got.values()), got == want)

    # 7 independent tiny collect jobs over checkpointed dashboards —
    # submitted concurrently rather than paying sequential job latency.
    # The result is built on the driver, so the dashboards are released.
    try:
        with ThreadPoolExecutor(max_workers=len(streaming.TOPICS)) as pool:
            rows = list(pool.map(compare, streaming.TOPICS))
    finally:
        release(*merged.values())
    return spark.createDataFrame(
        rows, "topic string, n_rows long, rows_match boolean"
    ).orderBy("topic")


#: Fixed materialization path for the streaming DSIR scorer's arrival
#: slice (static oracle SQL must agree on provenance a priori;
#: overwritten per run).
STREAM_DSIR_PATH = "/tmp/spark_graft_stream_dsir_arrivals"


def _stream_dsir_oracle(n_buckets: int = 64, limit: int = 150) -> str:
    """The frozen-model arrival scorer replayed in DuckDB: the raw
    model's smoothed integer bit costs fit on the HISTORY slice
    (doc_id%5<>0 — the model-freeze input), the shipped target literal,
    and the per-arrival (raw - target) bit delta — the join-based twin
    of the Spark side's literal-array in-row fold."""
    from ..operators import dsir

    tgt = dsir.target_cost_model(n_buckets)
    tlit = "[" + ", ".join(str(int(c)) for c in tgt) + "]"
    bucket = (
        "list_reduce(list_transform(generate_series(1, 8), "
        "j -> CAST(instr('0123456789abcdef', substr(md5(t), j, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )
    from .llm import DSIR_SELECT_CENTIBITS

    return f"""
    WITH atoks AS MATERIALIZED (
      SELECT doc_id, lang, ({bucket} % {n_buckets}) AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id % 5 = 0)
    ),
    htoks AS (
      SELECT ({bucket} % {n_buckets}) AS bucket
      FROM (SELECT unnest(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id % 5 <> 0)
    ),
    dom AS (SELECT unnest(generate_series(0, {n_buckets - 1})) AS bucket),
    rawc AS (
      SELECT d.bucket, CAST(COUNT(h.bucket) + 1 AS BIGINT) AS s
      FROM dom d LEFT JOIN htoks h ON d.bucket = h.bucket
      GROUP BY d.bucket
    ),
    rt AS (SELECT SUM(s) AS t FROM rawc),
    costs AS (
      SELECT r.bucket,
             CAST(length(bin(rt.t // r.s)) AS BIGINT) AS raw_cost,
             CAST(({tlit})[CAST(r.bucket + 1 AS INT)] AS BIGINT) AS tgt_cost
      FROM rawc r, rt
    )
    SELECT a.doc_id, a.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c.raw_cost - c.tgt_cost) AS BIGINT) AS score_bits,
           (SUM(c.raw_cost - c.tgt_cost) * 100 >
            {DSIR_SELECT_CENTIBITS} * COUNT(*)) AS selected
    FROM atoks a JOIN costs c USING (bucket)
    GROUP BY a.doc_id, a.lang
    ORDER BY score_bits DESC, a.doc_id
    LIMIT {limit}
    """


@register(
    "stream_dsir_scores",
    tier=1,  # extended streaming surface: DSIR machinery judged via
    # dsir_importance_weights; stateless stream map via
    # stream_multimodal_decode
    oracle=_stream_dsir_oracle(),
    doc="STREAMING DSIR — scoring arrivals as they land, the deployment "
    "shape of the batch dsir_importance_weights entry: the raw bucket "
    "model is re-fit on HISTORY (doc_id%5<>0) and FROZEN to 64 integer "
    "costs (operators/dsir.py:freeze_raw_costs — a model-sized collect, "
    "the nightly model-refresh step), then the arrival slice "
    "(doc_id%5=0) is file-streamed and scored per row by a pure codegen "
    "fold with BOTH models as plan literals "
    "(operators/dsir.py:inline_score): md5 bucket → literal-array "
    "lookup → running integer sum. ZERO shuffle, zero streaming state "
    "(append mode, no watermark, no state store) — a scorer that "
    "trivially sustains any ingest rate. The oracle replays the "
    "frozen-model fit AND the arrival scoring join-side in SQL; the "
    "integer-bit contract makes the literal-fold and join forms "
    "provably identical. Scale: the model collect is 64 longs "
    "regardless of history size; per-arrival cost is O(tokens) map "
    "work; selection thresholds the per-token rate cross-multiplied "
    "(no division).",
)
def stream_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dsir
    from ..sources.tables import load_table
    from .llm import DSIR_SELECT_CENTIBITS

    docs = load_table(spark, sf_dir, "documents")
    frozen = _artifact(
        spark,
        sf_dir,
        "dsir-frozen-raw",
        lambda: dsir.freeze_raw_costs(
            docs.filter(F.col("doc_id") % 5 != 0), n_buckets=64
        ),
    )
    arrivals = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", "text"
    )
    arrivals.write.mode("overwrite").parquet(STREAM_DSIR_PATH)
    stream = spark.readStream.schema(
        "doc_id long, lang string, text string"
    ).parquet(STREAM_DSIR_PATH)
    scored = stream.select(
        "doc_id",
        "lang",
        *dsir.inline_score(
            "text",
            frozen,
            dsir.target_cost_model(64),
            select_centibits_per_token=DSIR_SELECT_CENTIBITS,
        ),
    )
    rows = streaming.run_foreach_batch_collect(scored, spark)
    return (
        spark.createDataFrame(
            rows,
            "doc_id long, lang string, n_tokens long, score_bits long, "
            "selected boolean",
        )
        .orderBy(F.desc("score_bits"), "doc_id")
        .limit(150)
    )


#: Fixed materialization path for the streaming CDC change feed.
STREAM_CDC_PATH = "/tmp/spark_graft_stream_cdc_changes"


@register(
    "stream_cdc_apply",
    tier=1,  # extended streaming surface: batch MERGE semantics judged
    # via cdc_apply_user_state's local oracle; stateful stream machinery
    # via stream_sessions (driver)
    oracle="""
    WITH snap AS (
      SELECT user_id, value AS state_value, CAST(-1 AS BIGINT) AS last_seq
      FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_id % 2 = 0
      ) WHERE rn = 1
    ),
    latest AS (
      SELECT user_id, value, CAST(event_id AS BIGINT) AS last_seq,
             CASE WHEN event_type = 'unknown' THEN 'd' ELSE 'u' END AS op
      FROM (
        SELECT user_id, value, event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 1
      ) WHERE rn = 1
    )
    SELECT user_id, state_value, last_seq FROM (
      SELECT s.user_id, s.state_value, s.last_seq
      FROM snap s LEFT JOIN latest l USING (user_id)
      WHERE l.user_id IS NULL
      UNION ALL
      SELECT user_id, value AS state_value, last_seq
      FROM latest WHERE op <> 'd'
    )
    ORDER BY user_id
    """,
    doc="STREAMING CDC apply — the Debezium-feed-to-lakehouse-table "
    "job: a change feed (odd-id events; 'unknown' type = delete) is "
    "file-streamed in 4 ARBITRARILY-partitioned micro-batches "
    "(maxFilesPerTrigger=1, round-robin files — seqs deliberately "
    "interleaved across batches) and folded into a keyed state table "
    "per batch by the VERSION-GUARDED merge "
    "(operators/scd.py:apply_changes_versioned): per key keep the "
    "max-seq row, deletes retained as TOMBSTONES. The guard is what a "
    "streaming sink needs under at-least-once foreachBatch: replay is "
    "idempotent (max-seq no-op), batch ORDER is irrelevant (max is "
    "commutative — which this entry exercises for real, since its "
    "batches interleave seqs), and tombstones stop a late stale upsert "
    "from resurrecting a deleted key — the three properties the "
    "eager-delete batch form (cdc_apply_user_state) does not need but "
    "a stream does. Oracle: final current state (snapshot for "
    "untouched keys, latest non-delete change otherwise) in batch SQL. "
    "Scale: each round shuffles |state| + |batch| on the key with "
    "state key-bounded; on a lakehouse table the identical contract is "
    "MERGE INTO ... WHEN MATCHED AND source.seq > target.seq; lineage "
    "truncated per round (localCheckpoint).",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.scd import apply_changes_versioned, current_state
    from ..sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    state = (
        events.filter(F.col("event_id") % 2 == 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("state_value"),
            F.lit(-1).cast("long").alias("last_seq"),
            F.lit("u").alias("op"),
        )
    )
    changes = events.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        F.col("value").alias("state_value"),
        F.col("event_id").cast("long").alias("last_seq"),
        F.when(F.col("event_type") == "unknown", "d")
        .otherwise("u")
        .alias("op"),
    )
    # Round-robin into 4 files: each micro-batch carries an arbitrary
    # seq mix, so convergence genuinely depends on the version guard,
    # not on lucky file ordering.
    changes.repartition(4).write.mode("overwrite").parquet(STREAM_CDC_PATH)
    feed = (
        spark.readStream.schema(
            "user_id long, state_value double, last_seq long, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(STREAM_CDC_PATH)
    )
    with Rounds() as rounds:
        holder = {"state": rounds.checkpoint(state)}

        def merge_batch(batch: DataFrame, batch_id: int) -> None:
            holder["state"] = rounds.checkpoint(
                apply_changes_versioned(holder["state"], batch, ["user_id"], "last_seq", "op")
            )

        streaming.run_foreach_batch(feed, spark, merge_batch)
    return (
        current_state(holder["state"], "op")
        .select("user_id", "state_value", "last_seq")
        .orderBy("user_id")
    )
