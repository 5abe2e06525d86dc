"""Local replica of the driver's t2 correctness gate: run a catalog query on
Spark and its oracle SQL on DuckDB over the same parquet tables, then compare
order-insensitively with columns sorted by name."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from traffic_accidents_airflow_kafka_spark.sources.tables import TESTDATA_TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    # Normalize cell values to comparable primitives.
    for c in out.columns:
        col = out[c]
        if col.dtype == object:
            out[c] = col.map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    if len(out):
        # Sort on rounded float keys so sub-tolerance engine differences
        # can't reorder rows relative to the isclose comparison (a raw
        # float sort could interleave rows differently per engine).
        sort_keys = []
        for c in out.columns:
            if pd.api.types.is_float_dtype(out[c]):
                key = f"__sort_{c}"
                out[key] = out[c].round(6)
                sort_keys.append(key)
            else:
                sort_keys.append(c)
        out = out.sort_values(by=sort_keys, kind="mergesort").reset_index(drop=True)
        out = out[[c for c in out.columns if not c.startswith("__sort_")]]
    return out


def _cell_equal(a, b, rel_tol=1e-9, abs_tol=1e-9) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=rel_tol, abs_tol=abs_tol)
        except (TypeError, ValueError):
            return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
    return a == b


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to a comparison class. The driver's value-hash
    is exact, so an int64 Spark column vs a float64 oracle column (the DuckDB
    HUGEINT -> float64 trap that sank 5 queries in round 2) must FAIL here
    even though every value compares isclose-equal."""
    kind = getattr(dtype, "kind", "O")
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    return "object"


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    s, o = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    assert list(s.columns) == list(o.columns), (
        f"{name}: column mismatch spark={list(s.columns)} oracle={list(o.columns)}"
    )
    for c in s.columns:
        ks, ko = _dtype_kind(s[c].dtype), _dtype_kind(o[c].dtype)
        # An empty or all-null column degrades to object/float on either
        # engine; only enforce the kind match when both sides carry values.
        if s[c].notna().any() and o[c].notna().any():
            assert ks == ko, (
                f"{name}: dtype-kind mismatch col {c}: spark={s[c].dtype} "
                f"oracle={o[c].dtype} (driver hash is exact — cast the oracle)"
            )
    assert len(s) == len(o), f"{name}: row count spark={len(s)} oracle={len(o)}"
    for i in range(len(s)):
        for c in s.columns:
            a, b = s.at[i, c], o.at[i, c]
            assert _cell_equal(a, b), (
                f"{name}: value mismatch row {i} col {c}: spark={a!r} oracle={b!r}"
            )


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the session holds blocks for: caches and
    checkpoints alike."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def read_rdd_ids(df) -> set[int]:
    """Ids of the RDDs under the ``LogicalRDD`` leaves of ``df``'s
    analyzed plan: the checkpoints (and micro-batches) it reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        int(leaf.rdd().id())
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }
