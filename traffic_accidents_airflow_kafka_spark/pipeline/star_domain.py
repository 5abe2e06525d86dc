"""The reference's 8-dimension star schema over ``accidentes_final``
(dags/etl_crash_traffic.py:50-147 DDL; loads :693-787; FK resolution
:811-885).

Dimensions (reference name → natural key):

- dim_fecha          → (day, month, year, day_name, time)
- dim_ubicacion      → (lat DECIMAL(10,6), lng DECIMAL(10,6),
                        intersection, city, county, state, postcode)
- dim_clima          → (weather_condition)
- dim_iluminacion    → (lighting_condition)
- dim_condicion_camino → (roadway_surface_cond, road_defect)
- dim_tipo_accidente → (first_crash_type, trafficway_type, alignment,
                        most_severe_injury)
- dim_contribuyente_principal → (prim_contributory_cause)
- dim_infraestructura → (bbox_label UNIQUE + the 16 counts)

Fact: id + the 8 surrogate FKs + num_units + 6 injury measures
(:121-146). Postgres FK constraints (:138-145) become a null-FK count
over the resolved fact (``fk_integrity_report``).

Every dimension build is a dropDuplicates + dim-sized row_number window;
every fact join is a broadcast left join — the fact table never shuffles
(SURVEY §2.3 J3). The job (``pipeline/job.py``) computes each dimension
once: it caches the 8 frames of ``build_dimensions``, writes them
concurrently, resolves the fact against the cached frames, and counts FK
misses on that same resolved fact as its upsert consumes it — the
reference's ``load_hechos`` shape (build the 8 lookups once, probe every
fact row against them).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation

from ..functions import scalar as fn
from ..operators.star import build_dimension
from ..schemas import BBOX_COUNT_COLUMNS, LOCATION_DECIMAL

#: dimension name → (natural-key source expressions, id column).
#: Keys are derived once on the enriched fact (``_with_dim_keys``).
DIMENSIONS: dict[str, tuple[tuple[str, ...], str]] = {
    "dim_date": (("f_day", "f_month", "f_year", "f_day_name", "f_time"), "date_id"),
    "dim_location": (
        ("f_lat", "f_lng", "intersection_related", "aprox_city", "aprox_county",
         "aprox_state", "aprox_postcode"),
        "location_id",
    ),
    "dim_weather": (("weather_condition",), "weather_id"),
    "dim_lighting": (("lighting_condition",), "lighting_id"),
    "dim_road_condition": (("roadway_surface_cond", "road_defect"), "road_condition_id"),
    "dim_accident_type": (
        ("first_crash_type", "trafficway_type", "alignment", "most_severe_injury"),
        "accident_type_id",
    ),
    "dim_primary_cause": (("prim_contributory_cause",), "primary_cause_id"),
    "dim_infrastructure": (("bbox_label",) + BBOX_COUNT_COLUMNS, "infrastructure_id"),
}

FACT_MEASURES = (
    "num_units",
    "injuries_total",
    "injuries_fatal",
    "injuries_incapacitating",
    "injuries_non_incapacitating",
    "injuries_reported_not_evident",
    "injuries_no_indication",
)


def _with_dim_keys(final: DataFrame) -> DataFrame:
    """Derive the dimension natural-key columns once on the wide table
    (F2/F3/F4 date parts, DECIMAL(10,6) coordinates per the dim DDL
    :62-63 — raw coordinates stay double, SURVEY §1.2)."""
    return (
        final.withColumn("f_day", F.dayofmonth("crash_date"))
        .withColumn("f_month", F.month("crash_date"))
        .withColumn("f_year", F.year("crash_date"))
        .withColumn("f_day_name", fn.day_name("crash_date"))
        .withColumn("f_time", fn.time_of_day("crash_date"))
        .withColumn("f_lat", F.col("start_lat").cast(LOCATION_DECIMAL))
        .withColumn("f_lng", F.col("start_lng").cast(LOCATION_DECIMAL))
    )


def build_dimensions(final: DataFrame) -> dict[str, DataFrame]:
    """All 8 dims from the wide table (the reference's dedup-by-constraint
    batch inserts, :693-787)."""
    keyed = _with_dim_keys(final)
    return {
        name: build_dimension(keyed, list(cols), id_col)
        for name, (cols, id_col) in DIMENSIONS.items()
    }


def build_fact(final: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """hechos_accidentes: id + 8 broadcast-resolved FKs + measures
    (:855-903). Misses → null FK (dict.get semantics)."""
    fact = _with_dim_keys(final)
    for name, (cols, _id) in DIMENSIONS.items():
        fact = fact.join(F.broadcast(dims[name]), on=list(cols), how="left")
    id_cols = [id_col for _, (_c, id_col) in DIMENSIONS.items()]
    return fact.select("id", *id_cols, *FACT_MEASURES)


def fk_miss_counts() -> list[Column]:
    """One aggregate per dimension, named after it: the resolved fact
    rows whose FK is null."""
    return [
        F.count(F.when(F.col(id_col).isNull(), 1)).alias(name)
        for name, (_cols, id_col) in DIMENSIONS.items()
    ]


def fk_integrity_report(misses: Observation) -> dict[str, int]:
    """Violations per dimension (the replacement for the Postgres FK
    constraints :138-145). All-zero ⇔ the star is referentially sound.

    ``misses`` is an Observation of :func:`fk_miss_counts` on the resolved
    fact (``build_fact``), attached below an action that consumed every
    fact row (the job's fact upsert), so the report costs no job of its
    own. The null-FK count equals the per-dimension anti-join count
    (``operators/star.py:fk_violations``) under the invariant that every
    dimension has unique natural keys and non-null ids — which
    ``build_dimension`` guarantees (dropDuplicates + row_number): each
    fact row then meets at most one dimension row in the left join, and a
    null id means no row matched. Both joins are null-unsafe, so a key
    with a NULL part is a miss in either form.
    """
    counts = misses.get
    return {name: int(counts[name]) for name in DIMENSIONS}
