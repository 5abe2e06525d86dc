"""The merge stage: accidents × bbox infrastructure summary
(``merge_accidents_with_api``, dags/etl_crash_traffic.py:560-654).

Spark-native shape:

1. Grid-bin coordinates (F12 — Python ``//`` floor semantics) and build
   the bbox label (F13 — ``str(float)`` rendering parity).
2. INNER broadcast join on bbox_label (J1/J2 — the summary is ≤36 rows;
   the 100 TB accident side never shuffles).
3. Incremental anti-filter against already-loaded ids (J4/P6/S6) and
   append, in ``sources/sinks.py:upsert_append`` — replacing the
   reference's per-row ``INSERT … ON CONFLICT DO NOTHING`` loop
   (:647-653), its O(n) round-trip bottleneck (SURVEY §3.1 step 5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import scalar as fn
from ..schemas import BBOX_COUNT_COLUMNS

#: accidentes_final column order (dags/etl_crash_traffic.py:627-638).
FINAL_COLUMNS = (
    "id",
    "crash_date",
    "traffic_control_device",
    "weather_condition",
    "lighting_condition",
    "first_crash_type",
    "trafficway_type",
    "alignment",
    "roadway_surface_cond",
    "road_defect",
    "crash_type",
    "intersection_related",
    "damage",
    "prim_contributory_cause",
    "num_units",
    "most_severe_injury",
    "injuries_total",
    "injuries_fatal",
    "injuries_incapacitating",
    "injuries_non_incapacitating",
    "injuries_reported_not_evident",
    "injuries_no_indication",
    "crash_hour",
    "crash_day_of_week",
    "crash_month",
    "start_lat",
    "start_lng",
    "lat_bin",
    "lng_bin",
    "bbox_label",
    *BBOX_COUNT_COLUMNS,
    "aprox_city",
    "aprox_county",
    "aprox_state",
    "aprox_postcode",
)


def with_bbox_label(accidents: DataFrame) -> DataFrame:
    """Half-degree grid binning + label (dags/etl_crash_traffic.py:607-611)."""
    lat_bin = fn.floor_bin(F.col("start_lat").cast("double"), 0.5)
    lng_bin = fn.floor_bin(F.col("start_lng").cast("double"), 0.5)
    return (
        accidents.withColumn("lat_bin", lat_bin)
        .withColumn("lng_bin", lng_bin)
        .withColumn("bbox_label", fn.bbox_label("lat_bin", "lng_bin"))
    )


def prepare_summary(summary: DataFrame) -> DataFrame:
    """The api_df preprocessing (:581-604): geo columns renamed aprox_*,
    counts null→0 int, empty geo strings → null."""
    out = (
        summary.withColumnRenamed("city", "aprox_city")
        .withColumnRenamed("county", "aprox_county")
        .withColumnRenamed("state", "aprox_state")
        .withColumnRenamed("postcode", "aprox_postcode")
    )
    for c in BBOX_COUNT_COLUMNS:
        if c in out.columns:
            out = out.withColumn(c, F.coalesce(F.col(c).cast("int"), F.lit(0)))
    for c in ("aprox_city", "aprox_county", "aprox_state", "aprox_postcode"):
        out = out.withColumn(c, fn.empty_to_null(c))
    return out


def merge_accidents(accidents: DataFrame, summary: DataFrame) -> DataFrame:
    """INNER broadcast join on bbox_label (:614-616) — accidents outside
    the covered bboxes drop, per the reference's how='inner'."""
    labeled = with_bbox_label(accidents)
    return labeled.join(F.broadcast(prepare_summary(summary)), "bbox_label", "inner").select(
        *FINAL_COLUMNS
    )

