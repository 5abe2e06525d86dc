"""Seeded input generators: the catalog tables and the ETL job's raw files.

Everything here is a pure function of ``(seed, scale)``: the same seed
writes byte-identical files. Nothing imports Spark, so generation runs
before the session starts and outside every timed region.

Catalog tables mirror the shapes of the read-only TPC-H-ish testdata the
catalog was written against (``region nation customer supplier part
orders lineitem events documents embeddings``, one parquet file each),
with row counts proportional to the scale factor ``sf``.

The ETL inputs mirror the paper's raw files: one accidents CSV, one
``bbox_{lat}_{lng}_osm.csv`` per half-degree cell of a 6 x 6 grid, and a
36-row geocode lookup. The generator plants the edge cases the pipeline
must survive and returns the row counts a correct run produces.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Catalog tables
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_TS_US = pa.timestamp("us")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf0.01 → 60,000 lineitems)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(150, round(1_500_000 * sf)),
        "lineitem": max(600, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every catalog table in memory (one RNG stream per table, so
    the tables do not shift when one table's size changes)."""
    n = table_rows(sf)
    streams = np.random.SeedSequence(seed).spawn(len(n))
    rng = dict(zip(n, (np.random.default_rng(s) for s in streams)))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, k = rng["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, len(SEGMENTS), k)],
        }
    )

    r, k = rng["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )

    r, k = rng["part"], n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": np.array(names)[r.integers(0, len(names), k)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
            "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), k)],
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
        }
    )

    r, k = rng["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, k),
            "o_orderdate": pa.array(
                _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k), _TS_US
            ),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)],
        }
    )

    r, k = rng["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, k),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
            "l_shipdate": pa.array(
                _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k), _TS_US
            ),
        }
    )

    r, k = rng["events"], n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, k)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, _TS_US),
            "user_id": pa.array(r.integers(0, max(1, n["customer"] // 10), k), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
            "value": _money(r, 0.01, 490.0, k),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
        }
    )

    r, k = rng["documents"], n["documents"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[r.integers(0, len(WORDS), r.integers(10, 101))]) for _ in range(k)]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), k, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r, k = rng["embeddings"], n["embeddings"]
    vecs = r.standard_normal((k, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, k), pa.int32()),
        }
    )
    return out


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{table}.parquet`` files under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# ETL job inputs
# --------------------------------------------------------------------------

#: Rows at the paper's own scale: accidents in the CSV and OSM nodes over
#: all bbox files. ``etl_inputs(scale=1.0)`` reproduces these sizes.
PAPER_ACCIDENTS = 209_306
PAPER_OSM_NODES = 512_816

#: The 6 x 6 half-degree grid the OSM extract covers (south-west corners).
GRID_LAT = tuple(35.0 + 0.5 * i for i in range(6))
GRID_LNG = tuple(-81.0 + 0.5 * j for j in range(6))

ACCIDENT_COLUMNS = (
    "id crash_date traffic_control_device weather_condition lighting_condition "
    "first_crash_type trafficway_type alignment roadway_surface_cond road_defect "
    "crash_type intersection_related damage prim_contributory_cause num_units "
    "most_severe_injury injuries_total injuries_fatal injuries_incapacitating "
    "injuries_non_incapacitating injuries_reported_not_evident "
    "injuries_no_indication crash_hour crash_day_of_week crash_month "
    "start_lat start_lng"
).split()

_VOCAB = {
    "traffic_control_device": ("TRAFFIC SIGNAL", "STOP SIGN/FLASHER", "NO CONTROLS", "UNKNOWN"),
    "weather_condition": ("CLEAR", "RAIN", "SNOW", "CLOUDY/OVERCAST", "FOG/SMOKE/HAZE", "UNKNOWN"),
    "lighting_condition": ("DAYLIGHT", "DARKNESS", "DARKNESS, LIGHTED ROAD", "DUSK", "DAWN"),
    "first_crash_type": ("REAR END", "ANGLE", "TURNING", "SIDESWIPE SAME DIRECTION", "PEDESTRIAN"),
    "trafficway_type": ("DIVIDED - W/MEDIAN", "NOT DIVIDED", "ONE-WAY", "FOUR WAY"),
    "alignment": ("STRAIGHT AND LEVEL", "CURVE, LEVEL", "STRAIGHT ON GRADE"),
    "roadway_surface_cond": ("DRY", "WET", "SNOW OR SLUSH", "ICE", "UNKNOWN"),
    "road_defect": ("NO DEFECTS", "RUT, HOLES", "WORN SURFACE", "UNKNOWN"),
    "crash_type": ("NO INJURY / DRIVE AWAY", "INJURY AND / OR TOW DUE TO CRASH"),
    "intersection_related": ("Y", "N"),
    "damage": ("$500 OR LESS", "$501 - $1,500", "OVER $1,500"),
    "prim_contributory_cause": (
        "UNABLE TO DETERMINE", "FOLLOWING TOO CLOSELY", "FAILING TO YIELD RIGHT-OF-WAY",
        "IMPROPER OVERTAKING/PASSING", "WEATHER",
    ),
}
_SEVERITY = (
    "NO INDICATION OF INJURY", "REPORTED, NOT EVIDENT", "NONINCAPACITATING INJURY",
    "INCAPACITATING INJURY", "FATAL", " FATAL ", "",
)

#: (category, tags cell, pivot column it must count under). Mixed-case,
#: padded and quote-embedding values, a malformed cell and a missing key
#: are all planted; each maps to exactly one of the 16 summary columns.
_OSM_KINDS = (
    ("school", "{'amenity': 'school'}", "category_school"),
    ("hospital", "{'amenity': 'hospital', 'name': 'St. Mary\\'s'}", "category_hospital"),
    ("traffic_signals", "{'highway': 'traffic_signals', 'traffic_signals': 'signal'}",
     "traffic_signals_signal"),
    ("traffic_signals", "{'highway': 'traffic_signals', 'traffic_signals': ' TRAFFIC_lights '}",
     "traffic_signals_traffic_lights"),
    ("traffic_signals", "{'highway': 'traffic_signals', 'traffic_signals': 'Pedestrian_Crossing'}",
     "traffic_signals_pedestrian_crossing"),
    ("traffic_signals", "{'highway': 'traffic_signals', 'traffic_signals': 'ramp_meter'}",
     "traffic_signals_ramp_meter"),
    ("traffic_signals", "{'note': 'say \"stop\"', 'traffic_signals': 'emergency'}",
     "traffic_signals_emergency"),
    ("traffic_signals", "{'highway': 'traffic_signals'}", "traffic_signals_unknown"),
    ("traffic_signals", "{'traffic_signals': 'blinker'}", "traffic_signals_unknown"),
    ("crossing", "{'highway': 'crossing', 'crossing': 'marked;unmarked'}", "crossing_combinations"),
    ("crossing", "{'highway': 'crossing', 'crossing': 'Zebra'}", "crossing_zebra"),
    ("crossing", "{'highway': 'crossing', 'crossing': 'uncontrolled'}", "crossing_uncontrolled"),
    ("crossing", "{'highway': 'crossing', 'crossing': 'marked'}", "crossing_marked"),
    ("crossing", "{'highway': 'crossing', 'crossing': 'UNMARKED '}", "crossing_unmarked"),
    ("crossing", "{'highway': 'crossing'}", "crossing_unknown"),
    ("crossing", "not a dict", "crossing_unknown"),
    ("parking_entrance", "{'amenity': 'parking_entrance'}", None),
    ("bus_stop", "{'highway': 'bus_stop'}", None),
)
_OSM_WEIGHTS = np.array([6, 2, 10, 4, 2, 1, 1, 2, 1, 3, 3, 3, 5, 3, 2, 1, 3, 3], dtype=float)

BAD_DATE_SHARE = 0.002
OUTSIDE_SHARE = 0.10


def _crash_date_strings(rng, n: int) -> list[str]:
    start = dt.datetime(2018, 1, 1)
    secs = rng.integers(0, 8 * 365 * 86_400, n)
    return [(start + dt.timedelta(seconds=int(s))).strftime("%m/%d/%Y %I:%M:%S %p") for s in secs]


def _outside_coords(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Points in no grid cell. A third sit just west of the grid, where
    floor binning gives -81.5 (outside) but truncation would give -81.0
    (inside); a third in the southern hemisphere (negative latitude
    bins); the rest north of the grid."""
    lat = np.empty(n)
    lng = np.empty(n)
    kind = rng.integers(0, 3, n)
    west, south, north = kind == 0, kind == 1, kind == 2
    lat[west] = rng.uniform(35.0, 38.0, west.sum())
    lng[west] = rng.uniform(-81.49, -81.01, west.sum())
    lat[south] = rng.uniform(-2.0, -0.01, south.sum())
    lng[south] = rng.uniform(-81.0, -78.0, south.sum())
    lat[north] = rng.uniform(38.01, 40.0, north.sum())
    lng[north] = rng.uniform(-81.0, -78.0, north.sum())
    return lat, lng


def etl_inputs(out_dir: str, seed: int, scale: float) -> dict:
    """Write the ETL job's raw inputs under ``out_dir``.

    Returns the paths plus ``expected``: the counts a correct
    ``run_pipeline`` report must hold, and the per-column totals of the
    OSM summary it must write.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    n_acc = max(200, round(PAPER_ACCIDENTS * scale))
    n_osm = max(len(GRID_LAT) * len(GRID_LNG) * 20, round(PAPER_OSM_NODES * scale))

    # Accidents: a fixed share outside every cell, the rest inside one.
    outside = rng.random(n_acc) < OUTSIDE_SHARE
    lat = rng.uniform(GRID_LAT[0], GRID_LAT[-1] + 0.5, n_acc)
    lng = rng.uniform(GRID_LNG[0], GRID_LNG[-1] + 0.5, n_acc)
    lat[outside], lng[outside] = _outside_coords(rng, int(outside.sum()))
    lat, lng = np.round(lat, 6), np.round(lng, 6)
    # Keep inside points off the exact upper cell edge after rounding.
    lat[~outside] = np.minimum(lat[~outside], GRID_LAT[-1] + 0.499999)
    lng[~outside] = np.minimum(lng[~outside], GRID_LNG[-1] + 0.499999)

    dates = _crash_date_strings(rng, n_acc)
    bad = rng.random(n_acc) < BAD_DATE_SHARE
    for i in np.flatnonzero(bad):
        dates[i] = ("not a date", "13/45/2020 99:00:00 XM", "2020-01-01")[i % 3]

    cols = {c: np.array(v)[rng.integers(0, len(v), n_acc)] for c, v in _VOCAB.items()}
    severity = np.array(_SEVERITY)[rng.integers(0, len(_SEVERITY), n_acc)]
    injuries = rng.integers(0, 4, (6, n_acc)).astype(float)
    injuries[0, rng.random(n_acc) < 0.01] = 12.0  # the > 10 filter fixture
    injuries_null = rng.random(n_acc) < 0.02
    ids = rng.permutation(n_acc) + 1

    acc_path = os.path.join(out_dir, "accidents.csv")
    with open(acc_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(ACCIDENT_COLUMNS)
        for i in range(n_acc):
            inj = ["" if injuries_null[i] else f"{x:.1f}" for x in injuries[:, i]]
            w.writerow(
                [ids[i], dates[i], *(cols[c][i] for c in list(_VOCAB)[:12]),
                 int(rng.integers(1, 5)), severity[i], *inj,
                 int(rng.integers(0, 24)), int(rng.integers(1, 8)), int(rng.integers(1, 13)),
                 f"{lat[i]:.6f}", f"{lng[i]:.6f}"]
            )

    # OSM nodes, spread over the 36 cells; every cell gets at least one
    # kept node so every cell appears in the summary.
    osm_dir = os.path.join(out_dir, "osm")
    os.makedirs(osm_dir, exist_ok=True)
    cells = [(a, b) for a in GRID_LAT for b in GRID_LNG]
    kinds = rng.choice(len(_OSM_KINDS), n_osm, p=_OSM_WEIGHTS / _OSM_WEIGHTS.sum())
    cell_of = rng.integers(0, len(cells), n_osm)
    cell_of[: len(cells)] = np.arange(len(cells))
    kinds[: len(cells)] = 0
    totals = {}
    for kind in kinds:
        column = _OSM_KINDS[kind][2]
        if column is not None:
            totals[column] = totals.get(column, 0) + 1
    for c, (a, b) in enumerate(cells):
        idx = np.flatnonzero(cell_of == c)
        path = os.path.join(osm_dir, f"bbox_{a}_{b}_osm.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["bbox_label", "category", "latitude", "longitude", "tags"])
            for i in idx:
                category, tags, _ = _OSM_KINDS[kinds[i]]
                w.writerow([f"{a}_{b}", category, f"{a + rng.random() / 2:.7f}",
                            f"{b + rng.random() / 2:.7f}", tags])

    geocode = [
        (f"bbox_{a}_{b}", f"City{c}", f"County{c % 9}", ("North Carolina", "Virginia")[c % 2],
         "" if c % 5 == 0 else f"{27000 + c}")
        for c, (a, b) in enumerate(cells)
    ]

    weather_final = {
        "OTHER" if w == "UNKNOWN" else w
        for w, o in zip(cols["weather_condition"], outside) if not o
    }
    inside = int((~outside).sum())
    expected = {
        "ingest_rows": n_acc,
        "ingest_parse_failures": int(bad.sum()),
        "summary_rows": len(cells),
        "final_rows": inside,
        "fact_rows": inside,
        "dim_weather_rows": len(weather_final),
        "dim_infrastructure_rows": len(
            {c for c, o in zip(zip(lat // 0.5, lng // 0.5), outside) if not o}
        ),
        "summary_totals": totals,
    }
    return {
        "accidents_csv": acc_path,
        "osm_glob": os.path.join(osm_dir, "bbox_*_osm.csv"),
        "geocode_rows": geocode,
        "accidents": n_acc,
        "osm_nodes": n_osm,
        "expected": expected,
    }
