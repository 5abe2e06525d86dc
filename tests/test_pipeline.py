"""Domain-pipeline tests.

The golden-file test runs our OSM enrichment over the reference's 26
committed raw bbox CSVs (read-only inputs at /root/reference/data/raw/)
and diffs the pivoted counts against its committed output
``data/processed/combined_bbox_summary_final.csv`` — the only golden data
the reference ships (SURVEY.md §5 test plan item 2). Geocode columns come
from that same committed file (the S9 static-lookup contract), so only
the 16 count columns are computed and compared. Those tests skip when
the reference checkout is absent;
``test_bbox_summary_matches_pandas_reference_transform`` runs everywhere
and diffs the summary against a pandas re-implementation of the
reference's ``transform_bbox_data`` over planted edge cases.
"""

from __future__ import annotations

import csv
import os

import pyspark.sql.functions as F
import pytest

from traffic_accidents_airflow_kafka_spark.pipeline import ingest, merge, osm
from traffic_accidents_airflow_kafka_spark.schemas import BBOX_COUNT_COLUMNS

RAW_GLOB = "/root/reference/data/raw/bbox_*_osm.csv"
GOLDEN = "/root/reference/data/processed/combined_bbox_summary_final.csv"

needs_reference_data = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference golden file not available"
)


def _golden_rows() -> dict[str, dict[str, int]]:
    with open(GOLDEN, newline="") as fh:
        rows = list(csv.DictReader(fh))
    return {
        r["bbox_label"]: {c: int(float(r[c])) for c in BBOX_COUNT_COLUMNS}
        for r in rows
    }


@needs_reference_data
def test_bbox_summary_matches_reference_golden_file(spark):
    summary = osm.bbox_counts(osm.read_osm_raw(spark, RAW_GLOB))
    got = {
        r["bbox_label"]: {c: r[c] for c in BBOX_COUNT_COLUMNS}
        for r in summary.collect()
    }
    golden = _golden_rows()
    # Only the 26 committed raw files are comparable (10 more summary rows
    # came from raw files the reference repo ships as MISSING_LARGE_BLOBS).
    assert len(got) == 26
    mismatches = []
    for label, ours in got.items():
        assert label in golden, f"{label} missing from golden summary"
        for c in BBOX_COUNT_COLUMNS:
            if ours[c] != golden[label][c]:
                mismatches.append((label, c, ours[c], golden[label][c]))
    assert not mismatches, f"count mismatches vs golden file: {mismatches[:10]}"


@needs_reference_data
def test_geocode_lookup_attach(spark):
    summary = osm.bbox_counts(osm.read_osm_raw(spark, RAW_GLOB))
    lookup = (
        spark.read.option("header", "true")
        .csv(GOLDEN)
        .select("bbox_label", "city", "county", "state", "postcode")
    )
    out = osm.attach_geocode(summary, lookup)
    rows = {r["bbox_label"]: r for r in out.collect()}
    # Spot-check against the committed file's own values.
    with open(GOLDEN, newline="") as fh:
        golden = {r["bbox_label"]: r for r in csv.DictReader(fh)}
    r = rows["bbox_35.0_-81.0"]
    g = golden["bbox_35.0_-81.0"]
    assert r["county"] == g["county"] and r["state"] == g["state"]
    # Every row has non-null geo strings after the fillna contract.
    assert all(x["city"] is not None and x["postcode"] is not None for x in rows.values())


#: Planted OSM nodes per bbox file: (category, tags cell). Tags carry
#: quote-embedding, padded, mixed-case and malformed values; the
#: crossings include ';' combinations and a known class outside the
#: pinned vocabulary (pelican); parking_entrance and bus_stop nodes are
#: not kept.
_PLANTED_BBOXES = {
    "bbox_35.0_-81.0": [
        ("school", "{'amenity': 'school', 'name': 'Test School'}"),
        ("school", "{'amenity': 'school'}"),
        ("hospital", "{'amenity': 'hospital', 'name': 'St. Mary\\'s'}"),
        ("traffic_signals", "{'highway': 'traffic_signals', 'traffic_signals': 'signal'}"),
        ("traffic_signals", "{'highway': 'traffic_signals', 'traffic_signals': ' TRAFFIC_lights '}"),
        ("traffic_signals", "{'traffic_signals': 'Pedestrian_Crossing'}"),
        ("traffic_signals", "{'note': 'say \"stop\"', 'traffic_signals': 'emergency'}"),
        ("traffic_signals", "{'traffic_signals': 'continuous_green'}"),
        ("traffic_signals", "{'traffic_signals': 'signal;traffic_lights'}"),
        ("traffic_signals", "{'traffic_signals': '\"signal\"'}"),
        ("crossing", "{'highway': 'crossing', 'crossing': 'marked;unmarked'}"),
        ("crossing", "{'crossing': ' Zebra ; Marked '}"),
        ("crossing", "{'crossing': 'Zebra'}"),
        ("crossing", "{'crossing': 'UNMARKED '}"),
        ("crossing", "{'crossing': 'uncontrolled', 'name': 'O\\'Hare \"Gate\"'}"),
        ("crossing", "{'crossing': 'pelican'}"),
        ("crossing", "{'crossing': 'marked'"),
        ("parking_entrance", "{'amenity': 'parking_entrance'}"),
        ("bus_stop", "{'highway': 'bus_stop', 'crossing': 'zebra'}"),
    ],
    # Every kept node maps to an 'unknown' class.
    "bbox_26.0_-80.5": [
        ("traffic_signals", "{'highway': 'traffic_signals'}"),
        ("traffic_signals", "{'traffic_signals': 'blinker'}"),
        ("traffic_signals", "not a dict"),
        ("crossing", "{'highway': 'crossing'}"),
        ("crossing", "['crossing', 'zebra']"),
        ("crossing", ""),
        ("bus_stop", "{'highway': 'bus_stop'}"),
    ],
    # Only a class outside the pinned vocabulary: a row of zeros.
    "bbox_-33.5_151.0": [
        ("crossing", "{'crossing': 'pelican'}"),
        ("parking_entrance", "{'amenity': 'parking_entrance'}"),
    ],
    # No kept node: absent from the summary.
    "bbox_41.5_-88.5": [
        ("parking_entrance", "{'amenity': 'parking_entrance'}"),
        ("bus_stop", "{'highway': 'bus_stop'}"),
    ],
}


def _reference_transform_bbox_data(paths: list[str]):
    """The reference's ``transform_bbox_data`` counts in pandas, one file
    at a time (dags/etl_crash_traffic.py:397-490): ``ast.literal_eval``
    the tags, expand them to columns, ``fillna('unknown')``, keep four
    categories, three group-counts, union, ``pivot_table``, then subset
    to the pinned columns with fill 0. A cell ``ast.literal_eval`` cannot
    read as a dict parses to ``{}``, the contract of ``parse_tags_exact``."""
    import ast

    import pandas as pd

    from traffic_accidents_airflow_kafka_spark.functions.scalar import (
        CROSSING_CLASSES,
        TRAFFIC_SIGNAL_CLASSES,
    )

    def literal_dict(cell):
        try:
            d = ast.literal_eval(cell) if isinstance(cell, str) else {}
        except (ValueError, SyntaxError):
            return {}
        return d if isinstance(d, dict) else {}

    def map_traffic_signal(x):
        x = str(x).strip().lower()
        return x if x in TRAFFIC_SIGNAL_CLASSES else "unknown"

    def map_crossing(x):
        x = str(x).strip().lower()
        if ";" in x:
            return "combinations"
        return x if x in CROSSING_CLASSES else "unknown"

    def group_count(df, group, value):
        counts = df.groupby(value).size().reset_index(name="count")
        return counts.rename(columns={value: "value"}).assign(group=group)

    parts = []
    for path in paths:
        df = pd.read_csv(path)
        tags = df["tags"].apply(literal_dict).apply(pd.Series)
        df = pd.concat([df.drop(columns=["tags", "bbox_label"]), tags], axis=1)
        df = df.reindex(columns=df.columns.union(["traffic_signals", "crossing"], sort=False))
        df = df.fillna("unknown")
        df = df[df["category"].isin(osm.KEPT_CATEGORIES)]
        ts = df[df["category"] == "traffic_signals"].copy()
        ts["traffic_signals"] = ts["traffic_signals"].apply(map_traffic_signal)
        cr = df[df["category"] == "crossing"].copy()
        cr["crossing"] = cr["crossing"].apply(map_crossing)
        combined = pd.concat([
            group_count(df[df["category"].isin(["school", "hospital"])], "category", "category"),
            group_count(ts, "traffic_signals", "traffic_signals"),
            group_count(cr, "crossing", "crossing"),
        ])
        combined["bbox_label"] = os.path.basename(path).removesuffix("_osm.csv")
        parts.append(combined)
    pivot = pd.concat(parts).pivot_table(
        index="bbox_label", columns=["group", "value"], values="count", fill_value=0
    )
    pivot.columns = [f"{g}_{v}" for g, v in pivot.columns]
    return pivot.reindex(columns=list(BBOX_COUNT_COLUMNS), fill_value=0).astype(int)


def test_bbox_summary_matches_pandas_reference_transform(spark, tmp_path):
    """In-repo parity for the OSM summary: ``build_bbox_summary`` equals
    the pandas re-implementation of the reference's transform on planted
    edge cases, with int count columns and the geocode fill contract."""
    import pandas as pd

    from pyspark.sql.types import IntegerType

    paths = []
    for label, nodes in _PLANTED_BBOXES.items():
        path = tmp_path / f"{label}_osm.csv"
        pd.DataFrame(
            [(label.removeprefix("bbox_"), cat, 35.0, -80.0, tags) for cat, tags in nodes],
            columns=["bbox_label", "category", "latitude", "longitude", "tags"],
        ).to_csv(path, index=False)
        paths.append(str(path))
    geocode = spark.createDataFrame(
        [("bbox_35.0_-81.0", "Gastonia", "Gaston County", "North Carolina", "28054")],
        "bbox_label string, city string, county string, state string, postcode string",
    )

    summary = osm.build_bbox_summary(spark, str(tmp_path / "bbox_*_osm.csv"), geocode)
    assert all(summary.schema[c].dataType == IntegerType() for c in BBOX_COUNT_COLUMNS)
    rows = {r["bbox_label"]: r for r in summary.collect()}
    want = _reference_transform_bbox_data(paths)

    assert sorted(rows) == sorted(want.index) == [
        "bbox_-33.5_151.0", "bbox_26.0_-80.5", "bbox_35.0_-81.0"
    ]
    for label, counts in want.iterrows():
        assert {c: rows[label][c] for c in BBOX_COUNT_COLUMNS} == counts.to_dict(), label
    assert want.loc["bbox_26.0_-80.5"].to_dict() == {
        c: {"traffic_signals_unknown": 3, "crossing_unknown": 3}.get(c, 0)
        for c in BBOX_COUNT_COLUMNS
    }
    assert not want.loc["bbox_-33.5_151.0"].any()
    assert (rows["bbox_35.0_-81.0"]["city"], rows["bbox_35.0_-81.0"]["postcode"]) == (
        "Gastonia", "28054"
    )
    assert (rows["bbox_26.0_-80.5"]["city"], rows["bbox_26.0_-80.5"]["postcode"]) == (
        "unknown", ""
    )

ACC_CSV_HEADER = (
    "id,crash_date,traffic_control_device,weather_condition,lighting_condition,"
    "first_crash_type,trafficway_type,alignment,roadway_surface_cond,road_defect,"
    "crash_type,intersection_related,damage,prim_contributory_cause,num_units,"
    "most_severe_injury,injuries_total,injuries_fatal,injuries_incapacitating,"
    "injuries_non_incapacitating,injuries_reported_not_evident,injuries_no_indication,"
    "crash_hour,crash_day_of_week,crash_month,start_lat,start_lng"
)


@pytest.fixture()
def accidents_csv(tmp_path):
    rows = [
        # id=1: clean row inside bbox_35.0_-81.0, UNKNOWN weather → OTHER.
        '1,07/29/2023 01:45:00 PM,SIGNAL,UNKNOWN,DAYLIGHT,REAR END,DIVIDED,LEVEL,'
        'DRY,NONE,INJURY,Y,OVER $1500,FOLLOWED TOO CLOSELY,2,INCAPACITATING INJURY,'
        "1.0,0.0,1.0,0.0,0.0,1.0,13,7,7,35.2,-80.9",
        # id=2: bad timestamp, negative coords → floor-bin edge, N flag.
        '2,not a date,STOP SIGN,RAIN,DARKNESS,ANGLE,UNDIVIDED,CURVE,WET,RUT,'
        "NO INJURY,N,$500 OR LESS,WEATHER,1,NO INDICATION OF INJURY,"
        "0.0,0.0,0.0,0.0,0.0,2.0,3,2,1,-80.3,35.2",
    ]
    p = tmp_path / "acc.csv"
    p.write_text(ACC_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    return str(p)


def test_ingest_clean_accidents(spark, accidents_csv):
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    rows = {r["id"]: r for r in cleaned.collect()}
    r1, r2 = rows[1], rows[2]
    assert r1["crash_date"].hour == 13  # 01:45 PM
    assert r1["crash_day_name"] == "Saturday" and r1["crash_time"] == "13:45:00"
    assert r1["weather_condition"] == "OTHER"  # UNKNOWN→OTHER (README.md:30)
    assert r1["intersection_flag"] == 1 and r2["intersection_flag"] == 0
    assert r1["severity_rank"] == 3 and r2["severity_rank"] == 0
    assert r2["crash_date"] is None and r2["crash_parse_failed"] == 1
    assert ingest.parse_failure_count(cleaned) == 1


def test_merge_bins_labels_and_joins(spark, accidents_csv):
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    # Minimal 2-bbox summary; id=1 lands in bbox_35.0_-81.0, id=2 in
    # bbox_-80.5_35.0 (floor semantics on the negative latitude).
    counts = {c: 0 for c in BBOX_COUNT_COLUMNS}
    summary = spark.createDataFrame(
        [
            {"bbox_label": "bbox_35.0_-81.0", **counts, "city": "Gastonia",
             "county": "Gaston County", "state": "North Carolina", "postcode": ""},
        ]
    )
    merged = merge.merge_accidents(cleaned, summary)
    out = merged.collect()
    # INNER join: only id=1 falls in a covered bbox; id=2 drops.
    assert [r["id"] for r in out] == [1]
    r = out[0]
    assert r["lat_bin"] == 35.0 and r["lng_bin"] == -81.0
    assert r["bbox_label"] == "bbox_35.0_-81.0"
    assert r["aprox_postcode"] is None  # '' → null (F9)
    assert list(merged.columns) == list(merge.FINAL_COLUMNS)

    # Incremental anti-filter: nothing new once id=1 is "loaded" (J4).
    existing = spark.createDataFrame([(1,)], "id int")
    assert merge.incremental_new_rows(merged, existing).count() == 0


def test_negative_coord_floor_binning(spark, accidents_csv):
    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, accidents_csv))
    labeled = merge.with_bbox_label(cleaned)
    r2 = {r["id"]: r for r in labeled.collect()}[2]
    # Python parity: -80.3 // 0.5 * 0.5 == -80.5 (never truncation to -80.0).
    assert r2["lat_bin"] == -80.5
    assert r2["bbox_label"] == "bbox_-80.5_35.0"


def _osm_and_geocode(spark, tmp_path, postcode="28054"):
    """One OSM raw file for bbox_35.0_-81.0 (the filename carries the
    label, matching the reference's per-file loop) and its geocode row."""
    osm_dir = tmp_path / "osm"
    osm_dir.mkdir()
    (osm_dir / "bbox_35.0_-81.0_osm.csv").write_text(
        "bbox_label,category,latitude,longitude,tags\n"
        '35.0_-81.0,traffic_signals,35.1,-80.9,"{\'highway\': \'traffic_signals\'}"\n'
        '35.0_-81.0,school,35.2,-80.8,"{\'amenity\': \'school\'}"\n'
    )
    geocode = spark.createDataFrame(
        [("bbox_35.0_-81.0", "Gastonia", "Gaston County", "North Carolina", postcode)],
        "bbox_label string, city string, county string, state string, postcode string",
    )
    return str(osm_dir / "bbox_*_osm.csv"), geocode



def test_osm_reader_pushes_the_category_filter_into_the_scan(spark, tmp_path):
    """The bbox label comes from the scan's deterministic file metadata, so
    the kept-category filter reaches the CSV scan rather than running
    above a per-row label projection."""
    osm_glob, _ = _osm_and_geocode(spark, tmp_path)
    raw = osm.read_osm_raw(spark, osm_glob)
    assert raw.columns[-1] == "bbox_label"
    kept = raw.filter(F.col("category").isin(*osm.KEPT_CATEGORIES))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(category," in plan, plan
    assert {r["bbox_label"] for r in kept.collect()} == {"bbox_35.0_-81.0"}

def test_run_pipeline_end_to_end_and_idempotent(spark, accidents_csv, tmp_path):
    """The DAG-equivalent job: ingest → OSM summary → merge → star, twice
    through the same out_dir — the second run must be a no-op (memoized
    stages skip, upserts insert zero)."""
    from traffic_accidents_airflow_kafka_spark.pipeline.job import run_pipeline

    osm_glob, geocode = _osm_and_geocode(spark, tmp_path)
    out = str(tmp_path / "warehouse")

    r1 = run_pipeline(spark, accidents_csv, osm_glob, geocode, out)
    assert r1["ingest_wrote"] and r1["summary_wrote"]
    assert r1["ingest_rows"] == 2 and r1["ingest_parse_failures"] == 1
    assert r1["summary_rows"] == 1
    assert r1["final_new_rows"] == 1 and r1["final_rows"] == 1  # id=2 outside bbox
    assert r1["fact_new_rows"] == 1 and r1["fact_rows"] == 1
    assert all(v == 0 for v in r1["fk_violations"].values())
    assert r1["dim_weather_rows"] == 1 and r1["dim_date_rows"] == 1

    r2 = run_pipeline(spark, accidents_csv, osm_glob, geocode, out)
    assert not r2["ingest_wrote"] and not r2["summary_wrote"]  # memoized skip
    assert r2["final_new_rows"] == 0 and r2["fact_new_rows"] == 0  # upsert no-op
    assert r2["final_rows"] == 1 and r2["fact_rows"] == 1
    assert all(v == 0 for v in r2["fk_violations"].values())


@pytest.fixture()
def star_csv(tmp_path):
    """Four accidents inside bbox_35.0_-81.0: id=2 has an unparseable
    crash_date (NULL date-key parts), id=3 an empty alignment (a NULL
    accident-type part); ids 1 and 4 share their date and accident type."""
    rows = [
        '1,07/29/2023 01:45:00 PM,SIGNAL,RAIN,DAYLIGHT,REAR END,DIVIDED,LEVEL,'
        'WET,NONE,INJURY,Y,OVER $1500,FOLLOWED TOO CLOSELY,2,INCAPACITATING INJURY,'
        "1.0,0.0,1.0,0.0,0.0,1.0,13,7,7,35.2,-80.9",
        '2,not a date,STOP SIGN,CLEAR,DARKNESS,ANGLE,UNDIVIDED,CURVE,DRY,NONE,'
        "NO INJURY,N,$500 OR LESS,WEATHER,1,NO INDICATION OF INJURY,"
        "0.0,0.0,0.0,0.0,0.0,2.0,3,2,1,35.3,-80.6",
        '3,07/30/2023 09:15:00 AM,SIGNAL,CLEAR,DAYLIGHT,TURNING,DIVIDED,,'
        "DRY,NONE,NO INJURY,N,$500 OR LESS,NOT APPLICABLE,2,NO INDICATION OF INJURY,"
        "0.0,0.0,0.0,0.0,0.0,2.0,9,1,7,35.4,-80.7",
        '4,07/29/2023 01:45:00 PM,SIGNAL,SNOW,DAYLIGHT,REAR END,DIVIDED,LEVEL,'
        'SNOW,NONE,INJURY,Y,OVER $1500,FOLLOWED TOO CLOSELY,2,INCAPACITATING INJURY,'
        "1.0,0.0,1.0,0.0,0.0,1.0,13,7,7,35.1,-80.8",
    ]
    p = tmp_path / "star.csv"
    p.write_text(ACC_CSV_HEADER + "\n" + "\n".join(rows) + "\n")
    return str(p)


def test_fact_fks_resolve_to_the_written_dims(spark, star_csv, tmp_path):
    """Every non-null FK in ``fact_accidents`` names a row of the written
    ``dim_*`` parquet, and that row carries the fact row's own natural key:
    the concurrently written dims and the cached dims the fact was resolved
    against are the same rows."""
    from traffic_accidents_airflow_kafka_spark.pipeline import star_domain
    from traffic_accidents_airflow_kafka_spark.pipeline.job import run_pipeline

    osm_glob, geocode = _osm_and_geocode(spark, tmp_path)
    out = str(tmp_path / "warehouse")
    report = run_pipeline(spark, star_csv, osm_glob, geocode, out)
    assert report["fact_rows"] == 4

    keyed = star_domain._with_dim_keys(spark.read.parquet(f"{out}/accidents_final")).collect()
    fact = spark.read.parquet(f"{out}/fact_accidents").collect()
    unresolved = {}
    for name, (cols, id_col) in star_domain.DIMENSIONS.items():
        own = {r["id"]: tuple(r[c] for c in cols) for r in keyed}
        dim_rows = spark.read.parquet(f"{out}/{name}").collect()
        dim = {r[id_col]: tuple(r[c] for c in cols) for r in dim_rows}
        assert len(dim) == len(dim_rows) == report[f"{name}_rows"]
        for r in fact:
            if r[id_col] is None:
                unresolved.setdefault(name, []).append(r["id"])
            else:
                assert dim[r[id_col]] == own[r["id"]], (name, r["id"])
    assert unresolved == {"dim_date": [2], "dim_accident_type": [3]}
    assert report["fk_violations"] == {
        name: len(unresolved.get(name, [])) for name in star_domain.DIMENSIONS
    }


def test_fk_report_matches_anti_join_counts_with_null_key_parts(spark, star_csv):
    """The single-aggregate FK report equals one anti-join count per
    dimension when natural keys carry NULL parts (unparseable date, empty
    postcode, empty alignment). Both are null-unsafe: a key with a NULL
    part matches no dimension row, even the dimension's own NULL row."""
    from traffic_accidents_airflow_kafka_spark.operators.star import fk_violations
    from traffic_accidents_airflow_kafka_spark.pipeline import star_domain

    cleaned = ingest.clean_accidents(ingest.read_accidents_csv(spark, star_csv))
    summary = spark.createDataFrame(
        [{"bbox_label": "bbox_35.0_-81.0", **{c: 0 for c in BBOX_COUNT_COLUMNS},
          "city": "Gastonia", "county": "Gaston County", "state": "North Carolina",
          "postcode": ""}]
    )
    merged = merge.merge_accidents(cleaned, summary)
    dims = star_domain.build_dimensions(merged)
    keyed = star_domain._with_dim_keys(merged)
    anti = {
        name: fk_violations(keyed, dims[name], list(cols)).count()
        for name, (cols, _id) in star_domain.DIMENSIONS.items()
    }
    assert anti == {
        name: {"dim_date": 1, "dim_location": 4, "dim_accident_type": 1}.get(name, 0)
        for name in star_domain.DIMENSIONS
    }
    assert star_domain.fk_integrity_report(merged, dims) == anti
    fact = star_domain.build_fact(merged, dims)
    assert star_domain.fk_integrity_report(merged, dims, fact=fact) == anti


def _marker_job_id(sc, group: str) -> int:
    """Submit a one-task job under ``group`` and read its id back from the
    status store. Job ids are sequential, so two markers bracket the number
    of jobs submitted between them."""
    import time

    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return max(ids)


#: Spark jobs one replay of the fixture pipeline may submit (local[4],
#: 8 shuffle partitions). With each dimension computed once and cached the
#: replay measured 66 jobs; the ceiling is that plus 10%. Recomputing the
#: dimensions for the fact join and again for 8 per-dimension FK
#: anti-joins measured 129.
REPLAY_JOB_CEILING = 72

#: Spark jobs the OSM summary's memoized write may submit on the fixture
#: (local[4], 8 shuffle partitions). The one-aggregate summary measured 3;
#: three group-counts unioned and pivoted measured 7.
SUMMARY_WRITE_JOBS = 3


def test_run_pipeline_replay_job_count(spark, accidents_csv, tmp_path):
    """Guard against dimension recomputation creeping back into the star
    load: count the Spark jobs the replay submits."""
    import uuid

    from traffic_accidents_airflow_kafka_spark.pipeline.job import run_pipeline

    osm_glob, geocode = _osm_and_geocode(spark, tmp_path)
    out = str(tmp_path / "warehouse")
    run_pipeline(spark, accidents_csv, osm_glob, geocode, out)
    sc, tag = spark.sparkContext, uuid.uuid4().hex
    before = _marker_job_id(sc, f"before-{tag}")
    report = run_pipeline(spark, accidents_csv, osm_glob, geocode, out)
    jobs = _marker_job_id(sc, f"after-{tag}") - before - 1
    assert report["fact_new_rows"] == 0
    assert 0 < jobs <= REPLAY_JOB_CEILING, f"replay submitted {jobs} Spark jobs"


def test_bbox_summary_write_job_count(spark, tmp_path):
    """Guard the one-pass OSM summary: count the Spark jobs its memoized
    write submits on the fixture files."""
    import uuid

    from traffic_accidents_airflow_kafka_spark.pipeline.job import memoized_write

    osm_glob, geocode = _osm_and_geocode(spark, tmp_path)
    summary = osm.build_bbox_summary(spark, osm_glob, geocode)
    sc, tag = spark.sparkContext, uuid.uuid4().hex
    before = _marker_job_id(sc, f"before-{tag}")
    assert memoized_write(summary, str(tmp_path / "bbox_summary"))
    jobs = _marker_job_id(sc, f"after-{tag}") - before - 1
    assert 0 < jobs <= SUMMARY_WRITE_JOBS, f"summary write submitted {jobs} Spark jobs"
