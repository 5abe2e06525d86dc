"""OSM enrichment: raw bbox extracts → pivoted infrastructure summary.

Spark-native re-expression of ``transform_bbox_data``
(dags/etl_crash_traffic.py:363-494): tags parse (F11) → fillna 'unknown'
(F9) → category isin filter (P4) → enum normalization (F7) → per-bbox
counts under the PINNED 16-column vocabulary with fill 0 (A1 + A2) →
geocode lookup join (S9, broadcast).

Where the reference loops file-by-file in pandas, this reads ALL bbox
files in one scan (Spark's CSV source globs; the per-file bbox label is
recovered from the scan's ``_metadata.file_name``). The reference's three
group-counts → union → pivot collapse into one pass: the kept nodes are
scanned once, their tags parsed once, and one aggregate counts each
node under its summary column.

Geocoding (Nominatim, 1 req/s — dags/etl_crash_traffic.py:377-381) stays
out of the engine per SURVEY §2.1 S9: the lookup table (36 keys) arrives
as a static DataFrame and broadcast-joins on bbox_label, never a per-row
HTTP call.

Scale: the aggregate is a map-side partial over bbox_label, so the
shuffle moves |bboxes| × 16 counts; the geocode join broadcasts 36 rows.
At 1000 executors the only real data motion is the raw scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import scalar as fn
from ..schemas import BBOX_COUNT_COLUMNS, OSM_RAW_SCHEMA

#: Categories the pipeline keeps (dags/etl_crash_traffic.py:431).
KEPT_CATEGORIES = ("school", "hospital", "traffic_signals", "crossing")


def read_osm_raw(spark: SparkSession, path_glob: str) -> DataFrame:
    """One scan over every bbox CSV; bbox_label derived from the FILENAME
    (``bbox_35.0_-81.0_osm.csv`` → ``bbox_35.0_-81.0``), matching the
    reference's per-file loop (:401-402) — the in-file bbox_label column
    lacks the prefix and is ignored, as in the reference.

    The label comes from the deterministic ``_metadata.file_name`` column
    (not ``input_file_name()``), so a downstream filter on ``category``
    is pushed into the CSV scan."""
    raw = (
        spark.read.schema(OSM_RAW_SCHEMA)
        .option("header", "true")
        # RFC-4180 doubled-quote escaping (pandas to_csv convention in the
        # reference's files); Spark's default escape is backslash.
        .option("escape", '"')
        .csv(path_glob)
    )
    label = F.regexp_replace(F.col("_metadata.file_name"), "_osm\\.csv$", "")
    return raw.select(
        *[c for c in raw.columns if c != "bbox_label"], label.alias("bbox_label")
    )


def bbox_counts(raw: DataFrame) -> DataFrame:
    """One row per bbox with at least one kept node, one int column per
    PINNED summary column (dags/etl_crash_traffic.py:434-490).

    Each kept node gets its summary column name from one CASE —
    ``category_<school|hospital>``, ``traffic_signals_<class>`` or
    ``crossing_<class>`` — and one aggregate counts the nodes under each
    name. This equals the reference's three group-counts → union →
    pivot_table → subset-to-pinned-columns with fill 0 (SURVEY §7 pivot
    determinism): a class no node maps to counts 0, and a name outside
    the vocabulary is counted nowhere.

    The reference expands ALL tag keys then fills NaN with 'unknown'
    (:427-430); only the 'traffic_signals' and 'crossing' keys matter for
    counting, so the map-getItem + coalesce('unknown') is semantically
    identical without materializing a column per key.

    Uses :func:`parse_tags_exact` (the Arrow-batched ast.literal_eval
    escape hatch), once per kept node — the golden-file gate requires
    parity on tag values that embed quote characters, which the native
    translate+from_json path cannot express (SURVEY §2.7).
    """
    kept = raw.filter(F.col("category").isin(*KEPT_CATEGORIES)).select(
        "bbox_label", "category", fn.parse_tags_exact("tags").alias("tags")
    )

    def tag(key: str):
        return F.coalesce(fn.map_key("tags", key), F.lit("unknown"))

    category = F.col("category")
    col_name = (
        F.when(
            category == "traffic_signals",
            F.concat(F.lit("traffic_signals_"), fn.map_traffic_signal(tag("traffic_signals"))),
        )
        .when(category == "crossing", F.concat(F.lit("crossing_"), fn.map_crossing(tag("crossing"))))
        .otherwise(F.concat(F.lit("category_"), category))
    )
    named = kept.select("bbox_label", col_name.alias("col_name"))
    return named.groupBy("bbox_label").agg(
        *[F.count(F.when(F.col("col_name") == c, 1)).cast("int").alias(c) for c in BBOX_COUNT_COLUMNS]
    )


def attach_geocode(
    summary: DataFrame, geocode_lookup: DataFrame
) -> DataFrame:
    """S9 — broadcast left join of the (bbox_label → city/county/state/
    postcode) lookup; misses → 'unknown'/'' per the reference's fillna
    (:471-474)."""
    out = summary.join(F.broadcast(geocode_lookup), "bbox_label", "left")
    return (
        out.withColumn("city", F.coalesce("city", F.lit("unknown")))
        .withColumn("county", F.coalesce("county", F.lit("unknown")))
        .withColumn("state", F.coalesce("state", F.lit("unknown")))
        .withColumn("postcode", F.coalesce("postcode", F.lit("")))
    )


def build_bbox_summary(
    spark: SparkSession, path_glob: str, geocode_lookup: DataFrame
) -> DataFrame:
    """The full OSM enrichment stage (the api_transform task, one plan)."""
    return attach_geocode(bbox_counts(read_osm_raw(spark, path_glob)), geocode_lookup)
