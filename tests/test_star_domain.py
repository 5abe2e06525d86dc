"""End-to-end domain star schema over a merged fixture (SURVEY.md §5 smoke
item 4): dims built, fact FK-resolved, referential integrity by anti-join."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation

from traffic_accidents_airflow_kafka_spark.pipeline import ingest, merge, star_domain
from traffic_accidents_airflow_kafka_spark.schemas import BBOX_COUNT_COLUMNS

from .test_pipeline import ACC_CSV_HEADER  # shared fixture schema


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    rows = [
        '1,07/29/2023 01:45:00 PM,SIGNAL,RAIN,DAYLIGHT,REAR END,DIVIDED,LEVEL,'
        'WET,NONE,INJURY,Y,OVER $1500,FOLLOWED TOO CLOSELY,2,INCAPACITATING INJURY,'
        "1.0,0.0,1.0,0.0,0.0,1.0,13,7,7,35.2,-80.9",
        '3,07/30/2023 09:15:00 AM,SIGNAL,CLEAR,DAYLIGHT,TURNING,DIVIDED,LEVEL,'
        "DRY,NONE,NO INJURY,N,$500 OR LESS,NOT APPLICABLE,2,NO INDICATION OF INJURY,"
        "0.0,0.0,0.0,0.0,0.0,2.0,9,1,7,35.3,-80.6",
    ]
    p = tmp_path_factory.mktemp("star") / "acc.csv"
    p.write_text(ACC_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, str(p)))
    counts = {c: i for i, c in enumerate(BBOX_COUNT_COLUMNS)}
    summary = spark.createDataFrame(
        [{"bbox_label": "bbox_35.0_-81.0", **counts, "city": "Gastonia",
          "county": "Gaston County", "state": "North Carolina", "postcode": "28052"}]
    )
    return merge.merge_accidents(cleaned, summary)


def test_dimensions_built_with_deterministic_keys(spark, merged):
    dims = star_domain.build_dimensions(merged)
    assert set(dims) == set(star_domain.DIMENSIONS)
    weather = {r["weather_condition"]: r["weather_id"] for r in dims["dim_weather"].collect()}
    # Two distinct weather values, surrogate ids 1..2 ordered by natural key.
    assert weather == {"CLEAR": 1, "RAIN": 2}
    infra = dims["dim_infrastructure"].collect()
    assert len(infra) == 1 and infra[0]["infrastructure_id"] == 1
    # Date dim: two crash dates → two rows with full day names.
    dnames = {r["f_day_name"] for r in dims["dim_date"].collect()}
    assert dnames == {"Saturday", "Sunday"}


def test_fact_resolves_all_fks(spark, merged):
    dims = star_domain.build_dimensions(merged)
    fact = star_domain.build_fact(merged, dims)
    rows = {r["id"]: r for r in fact.collect()}
    assert set(rows) == {1, 3}
    id_cols = [idc for _, (_c, idc) in star_domain.DIMENSIONS.items()]
    for r in rows.values():
        for c in id_cols:
            assert r[c] is not None, f"unresolved FK {c}"
    assert rows[1]["injuries_total"] == 1.0 and rows[1]["num_units"] == 2


def _fk_report(merged, dims) -> dict[str, int]:
    """The FK report observed on a job that consumes the resolved fact."""
    misses = Observation()
    star_domain.build_fact(merged, dims).observe(misses, *star_domain.fk_miss_counts()).count()
    return star_domain.fk_integrity_report(misses)


def test_fk_integrity_clean(spark, merged):
    dims = star_domain.build_dimensions(merged)
    report = _fk_report(merged, dims)
    assert report == {name: 0 for name in star_domain.DIMENSIONS}


def test_fk_integrity_detects_missing_dim_rows(spark, merged):
    dims = star_domain.build_dimensions(merged)
    # Sabotage: drop RAIN from the weather dim → fact row 1 violates.
    import pyspark.sql.functions as F

    dims["dim_weather"] = dims["dim_weather"].filter(F.col("weather_condition") != "RAIN")
    report = _fk_report(merged, dims)
    assert report["dim_weather"] == 1
    assert sum(v for k, v in report.items() if k != "dim_weather") == 0
