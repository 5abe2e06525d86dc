"""The input generators are deterministic per seed, plant the edge cases,
and their expected counts agree with an independent recount of the files."""

from __future__ import annotations

import ast
import csv
import datetime as dt
import glob
import hashlib
import math
import os

from perfbench import inputs


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(os.path.basename(p).encode() + fh.read())
    return h.hexdigest()


def test_catalog_tables_deterministic_per_seed():
    a = inputs.catalog_tables(7, 0.001)
    b = inputs.catalog_tables(7, 0.001)
    c = inputs.catalog_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_catalog_table_shapes():
    rows = inputs.table_rows(0.01)
    assert rows["lineitem"] == 60_000 and rows["orders"] == 15_000
    tables = inputs.catalog_tables(1, 0.001)
    assert {t: tables[t].num_rows for t in tables} == inputs.table_rows(0.001)
    ev = tables["events"].to_pandas()
    assert ev["ts"].is_monotonic_increasing
    emb = tables["embeddings"].column("embedding").to_pylist()
    assert all(len(v) == inputs.EMBED_DIM for v in emb)
    assert math.isclose(sum(x * x for x in emb[0]), 1.0, rel_tol=1e-5)


def test_etl_inputs_deterministic_per_seed(tmp_path):
    a = inputs.etl_inputs(str(tmp_path / "a"), 5, 0.002)
    b = inputs.etl_inputs(str(tmp_path / "b"), 5, 0.002)
    c = inputs.etl_inputs(str(tmp_path / "c"), 6, 0.002)
    files = lambda root: glob.glob(os.path.join(root, "**", "*.csv"), recursive=True)  # noqa: E731
    assert _digest(files(tmp_path / "a")) == _digest(files(tmp_path / "b"))
    assert _digest(files(tmp_path / "a")) != _digest(files(tmp_path / "c"))
    assert a["expected"] == b["expected"]
    assert a["geocode_rows"] == b["geocode_rows"]
    assert c["accidents"] == a["accidents"]


def _bin_label(lat: float, lng: float) -> str:
    return f"bbox_{math.floor(lat / 0.5) * 0.5}_{math.floor(lng / 0.5) * 0.5}"


def test_etl_expected_counts_match_a_recount(tmp_path):
    meta = inputs.etl_inputs(str(tmp_path), 3, 0.005)
    exp = meta["expected"]
    with open(meta["accidents_csv"], newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == exp["ingest_rows"] == meta["accidents"]

    bad = 0
    for r in rows:
        try:
            dt.datetime.strptime(r["crash_date"], "%m/%d/%Y %I:%M:%S %p")
        except ValueError:
            bad += 1
    assert bad == exp["ingest_parse_failures"] > 0

    cells = {f"bbox_{a}_{b}" for a in inputs.GRID_LAT for b in inputs.GRID_LNG}
    labels = [_bin_label(float(r["start_lat"]), float(r["start_lng"])) for r in rows]
    inside = [lab in cells for lab in labels]
    assert sum(inside) == exp["final_rows"] == exp["fact_rows"]
    outside_share = 1 - sum(inside) / len(rows)
    assert 0.05 < outside_share < 0.15
    # Floor binning, not truncation, keeps the west-edge points outside.
    west = [float(r["start_lng"]) for r in rows if -81.5 < float(r["start_lng"]) < -81.0]
    assert west and all(math.floor(x / 0.5) * 0.5 == -81.5 for x in west)
    assert any(float(r["start_lat"]) < 0 for r in rows)
    weather = {("OTHER" if r["weather_condition"] == "UNKNOWN" else r["weather_condition"])
               for r, ok in zip(rows, inside) if ok}
    assert len(weather) == exp["dim_weather_rows"] and "OTHER" in weather
    assert any(r["road_defect"] == "UNKNOWN" for r in rows)

    totals: dict[str, int] = {}
    categories = set()
    for path in glob.glob(meta["osm_glob"]):
        with open(path, newline="") as fh:
            for r in csv.DictReader(fh):
                categories.add(r["category"])
                column = _classify(r["category"], r["tags"])
                if column:
                    totals[column] = totals.get(column, 0) + 1
    assert totals == exp["summary_totals"]
    assert {"parking_entrance", "school", "crossing"} <= categories
    assert len(glob.glob(meta["osm_glob"])) == exp["summary_rows"] == 36
    assert any(pc == "" for *_, pc in meta["geocode_rows"])


def _classify(category: str, tags: str) -> str | None:
    """The pipeline's OSM classification, restated in plain Python."""
    try:
        d = ast.literal_eval(tags)
    except (ValueError, SyntaxError):
        d = {}
    d = d if isinstance(d, dict) else {}
    if category in ("school", "hospital"):
        return f"category_{category}"
    if category == "traffic_signals":
        v = str(d.get("traffic_signals", "unknown")).strip().lower()
        known = ("bridge", "emergency", "level_crossing", "pedestrian_crossing",
                 "ramp_meter", "signal", "traffic_lights")
        return f"traffic_signals_{v if v in known else 'unknown'}"
    if category == "crossing":
        v = str(d.get("crossing", "unknown")).strip().lower()
        if ";" in v:
            return "crossing_combinations"
        known = ("uncontrolled", "marked", "unmarked", "zebra", "pelican", "puffin", "toucan")
        return f"crossing_{v if v in known else 'unknown'}"
    return None
