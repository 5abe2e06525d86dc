"""Scalar function library (SURVEY.md §2.6 F1-F15).

Every transform the reference applies row-at-a-time in pandas
(`dags/etl_crash_traffic.py`, `notebooks/001_extract.ipynb`,
`notebooks/002_EDA_csv.ipynb`) re-expressed as a native Spark column
expression. Policy (SURVEY §2.7): native expressions first — everything here
stays inside whole-stage codegen; no Python UDFs anywhere in this module.

Each helper returns a :class:`pyspark.sql.Column` so callers compose them
inside ``select``/``withColumn`` and Catalyst folds constants, prunes
columns, and pushes compatible predicates to the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import MapType, StringType

# ---------------------------------------------------------------------------
# F1-F4: timestamp parse + date parts
# ---------------------------------------------------------------------------

#: The reference's crash_date format (`pd.to_datetime(..., format='%m/%d/%Y
#: %I:%M:%S %p')`, notebooks/001_extract.ipynb:655) in Spark pattern syntax.
CRASH_TS_FORMAT = "MM/dd/yyyy hh:mm:ss a"


def parse_timestamp(col: Column | str, fmt: str = CRASH_TS_FORMAT) -> Column:
    """F1 — timestamp parse; null on mismatch (pandas raised instead; pair
    with :func:`parse_failures` to surface bad rows, SURVEY §7).
    ``try_to_timestamp`` because Spark 4 ANSI mode makes plain
    ``to_timestamp`` throw on malformed input."""
    return F.try_to_timestamp(_c(col), F.lit(fmt))


def parse_failures(raw: Column | str, fmt: str = CRASH_TS_FORMAT) -> Column:
    """1 where the raw string failed to parse, else 0 — aggregate with SUM
    to get the parse-failure counter SURVEY §7 calls for."""
    raw_c = _c(raw)
    return F.when(raw_c.isNotNull() & F.try_to_timestamp(raw_c, F.lit(fmt)).isNull(), 1).otherwise(0)


def date_parts(ts: Column | str) -> dict[str, Column]:
    """F2 — year/month/day/hour extraction (`.dt.year` etc.,
    notebooks/002_EDA_csv.ipynb:731-734)."""
    t = _c(ts)
    return {
        "year": F.year(t),
        "month": F.month(t),
        "day": F.dayofmonth(t),
        "hour": F.hour(t),
    }


def day_name(ts: Column | str) -> Column:
    """F3 — full day name ('EEEE'). The reference mixes `%a`/`%A`
    (dags/etl_crash_traffic.py:298 vs :701); we standardize on the loader's
    full form per SURVEY §7 (the transform path's output is dead code)."""
    return F.date_format(_c(ts), "EEEE")


def time_of_day(ts: Column | str) -> Column:
    """F4 — 'HH:mm:ss' string (no TimeType pre-Spark-4; SURVEY §1.2)."""
    return F.date_format(_c(ts), "HH:mm:ss")


# ---------------------------------------------------------------------------
# F5-F8: string normalization, enum mapping, indicators
# ---------------------------------------------------------------------------


#: Python's ``str.strip()`` set as a Java regex: Unicode White_Space
#: (``(?U)\s``) plus U+001C-U+001F, which ``str.isspace`` also counts.
#: Spark's ``trim`` strips only U+0020.
_PY_STRIP = r"(?U)^[\s\x1C-\x1F]+|[\s\x1C-\x1F]+$"


def norm_str(col: Column | str) -> Column:
    """F5 — `str(v).strip().lower()` (dags/etl_crash_traffic.py:386, 392):
    strips every whitespace character, tabs and newlines included."""
    return F.lower(F.regexp_replace(_c(col), _PY_STRIP, ""))


#: Known traffic-signal classes (dags/etl_crash_traffic.py:383-389).
TRAFFIC_SIGNAL_CLASSES = (
    "bridge",
    "emergency",
    "level_crossing",
    "pedestrian_crossing",
    "ramp_meter",
    "signal",
    "traffic_lights",
)

#: Known crossing classes (dags/etl_crash_traffic.py:389-391 —
#: uncontrolled/marked/unmarked/zebra/pelican/puffin/toucan; 'unknown'
#: reaches the same value via the fallback).
CROSSING_CLASSES = (
    "uncontrolled",
    "marked",
    "unmarked",
    "zebra",
    "pelican",
    "puffin",
    "toucan",
)


def map_traffic_signal(col: Column | str) -> Column:
    """F7 — trim+lower then keep the 7 known signal classes else 'unknown'
    (dags/etl_crash_traffic.py:383-389; exact pairs in test/test_bbox.py:7-9:
    'signal'→'signal', ' TRAFFIC_lights '→'traffic_lights')."""
    v = norm_str(col)
    return F.when(v.isin(*TRAFFIC_SIGNAL_CLASSES), v).otherwise(F.lit("unknown"))


def map_crossing(col: Column | str) -> Column:
    """F6+F7 — ';' in value → 'combinations', else keep known classes else
    'unknown' (dags/etl_crash_traffic.py:391-395; test/test_bbox.py:10-12:
    'marked;unmarked'→'combinations', 'Zebra'→'zebra')."""
    v = norm_str(col)
    return (
        F.when(v.contains(";"), F.lit("combinations"))
        .when(v.isin(*CROSSING_CLASSES), v)
        .otherwise(F.lit("unknown"))
    )


def enum_normalize(col: Column | str, allowed: Sequence[str], fallback: str = "unknown") -> Column:
    """F7 generalized — keep values in ``allowed`` (after trim+lower) else
    ``fallback``."""
    v = norm_str(col)
    return F.when(v.isin(*allowed), v).otherwise(F.lit(fallback))


def binary_indicator(col: Column | str, truthy: str = "Y") -> Column:
    """F8 — `1 if x == 'Y' else 0` (notebooks/002_EDA_csv.ipynb:451)."""
    return F.when(_c(col) == truthy, 1).otherwise(0).cast("int")


# ---------------------------------------------------------------------------
# F9: sentinel replacement
# ---------------------------------------------------------------------------


def unknown_to_other(col: Column | str) -> Column:
    """F9 — README.md:30 rule: 'UNKNOWN' → 'OTHER' (weather/road_defect)."""
    v = _c(col)
    return F.when(v == "UNKNOWN", F.lit("OTHER")).otherwise(v)


def empty_to_null(col: Column | str) -> Column:
    """F9 — `replace({'': None})` (dags/etl_crash_traffic.py:603-604)."""
    v = _c(col)
    return F.when(F.trim(v) == "", F.lit(None)).otherwise(v)


# ---------------------------------------------------------------------------
# F11: semi-structured map parse + key expansion
# ---------------------------------------------------------------------------


def parse_tags(col: Column | str) -> Column:
    """F11 — parse a stringified-dict cell (single quotes:
    ``"{'highway': 'traffic_signals'}"``) into ``map<string,string>`` —
    the NATIVE fast path (translate quotes + ``from_json``; codegen,
    zero Python).

    Caveat: values that embed quote characters (≈0.0006% of the
    reference's OSM extract, e.g. ``'opening_hours': '"during Parade
    hours"'``) break the quote translation and parse to null. When exact
    parity with ``ast.literal_eval`` (dags/etl_crash_traffic.py:427)
    matters, use :func:`parse_tags_exact` — the documented pandas_udf
    escape hatch (SURVEY §2.7).
    """
    jsonish = F.translate(_c(col), "'", '"')
    return F.from_json(jsonish, MapType(StringType(), StringType()))


@F.pandas_udf(MapType(StringType(), StringType()))
def parse_tags_exact(tags: pd.Series) -> pd.Series:
    """F11 exact path — ``ast.literal_eval`` per cell, Arrow-batched
    (SURVEY §2.7: the one sanctioned pandas_udf — stringified-Python-dict
    quote edge cases are not expressible natively). Malformed cells → {}
    like the reference's ``isinstance`` guard
    (dags/etl_crash_traffic.py:427)."""
    import ast

    def parse(v):
        if not isinstance(v, str):
            return {}
        try:
            d = ast.literal_eval(v)
        except (ValueError, SyntaxError):
            return {}
        return {str(k): str(x) for k, x in d.items()} if isinstance(d, dict) else {}

    return tags.map(parse)


def map_key(col: Column | str, key: str) -> Column:
    """F11 — expand one map key to a column (`.apply(pd.Series)` analog —
    static getItem, never an explode, so no row multiplication)."""
    return _c(col).getItem(key)


# ---------------------------------------------------------------------------
# F12-F13: grid binning + bbox label build/parse
# ---------------------------------------------------------------------------


def floor_bin(col: Column | str, width: float = 0.5) -> Column:
    """F12 — `(x // w) * w` with true floor semantics for negatives
    (Python floor-division parity: -80.3 // 0.5 → -161 → -80.5; SURVEY §2.3
    J2 trap — never integer-cast truncation)."""
    return F.floor(_c(col) / width) * width


def bbox_label(lat_bin: Column | str, lng_bin: Column | str) -> Column:
    """F13 — `'bbox_' + str(lat_bin) + '_' + str(lng_bin)`
    (dags/etl_crash_traffic.py:611). Spark's double→string cast renders
    `35.0` / `-81.5` exactly like Python `str(float)` for half-degree bins."""
    return F.concat(
        F.lit("bbox_"),
        _c(lat_bin).cast("double").cast("string"),
        F.lit("_"),
        _c(lng_bin).cast("double").cast("string"),
    )


def bbox_label_parse(label: Column | str) -> tuple[Column, Column]:
    """F13 inverse — `split('_') → float` (dags/etl_crash_traffic.py:401-404)."""
    parts = F.split(_c(label), "_")
    return parts.getItem(1).cast("double"), parts.getItem(2).cast("double")


# ---------------------------------------------------------------------------
# F15: JSON encode/decode (Kafka payload shape)
# ---------------------------------------------------------------------------


def json_encode_row(*cols: str) -> Column:
    """F15 — one JSON object per row (`json.dumps` analog; the Kafka sink's
    row-per-message value, SURVEY §2.8)."""
    return F.to_json(F.struct(*cols))


def json_decode(col: Column | str, schema) -> Column:
    """F15 — `json.loads` analog (kafka/consumer.py:23)."""
    return F.from_json(_c(col), schema)


# ---------------------------------------------------------------------------
# Severity rank (ordered categorical, SURVEY §1.1/§7)
# ---------------------------------------------------------------------------

#: notebooks/002_EDA_csv.ipynb:429-433 — 5 ordered injury levels.
SEVERITY_ORDER = (
    "NO INDICATION OF INJURY",
    "REPORTED, NOT EVIDENT",
    "NONINCAPACITATING INJURY",
    "INCAPACITATING INJURY",
    "FATAL",
)


def ordinal_rank(col: Column | str, levels: tuple[str, ...]) -> Column:
    """Ordered-categorical rank 0..len(levels)-1 (unknown → null). Spark
    has no ordered categorical type; an explicit CASE rank is the
    scale-safe encoding — pure whole-stage-codegen, broadcast-free."""
    v = _c(col)
    expr = F.lit(None).cast("int")
    for rank, level in reversed(list(enumerate(levels))):
        expr = F.when(v == level, rank).otherwise(expr)
    return expr


def severity_rank(col: Column | str) -> Column:
    """The reference's ordered injury-severity categorical as a CASE rank
    (notebooks/002_EDA_csv.ipynb:429-433)."""
    return ordinal_rank(col, SEVERITY_ORDER)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec2(col: Column | str) -> Column:
    """Cast to DECIMAL(18,2) — the exact-money-arithmetic cast every
    oracle-parity aggregate applies BEFORE summing (float sums are
    order-dependent; decimal sums are not). One definition so the batch
    topic plans and their streaming twins can never drift apart on
    precision."""
    return _c(col).cast("decimal(18,2)")
