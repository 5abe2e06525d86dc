"""The 7 Kafka dashboard topics, each defined once (SURVEY.md §2.9).

Topic names come from the reference consumer (``kafka/consumer.py:6-14``);
the semantics were reconstructed in SURVEY §2.9 from the star schema and the
dashboard charts. Each is re-expressed on the synthetic test tables:

- ``orders`` / ``lineitem``  → the accident-fact analogs (measures)
- ``customer → nation → region`` → the geography dims (state / county)
- ``supplier`` / ``part``    → the infrastructure dims (signals / hospitals)
- ``events``                 → the temporal stream (crash_date parts)

A ``TopicSpec`` is data: one source fact, its joins (each marked broadcast
or not), the group keys and the aggregates. Every form the engine runs is
generated from it:

- ``batch_query`` — the registered catalog query (``plans/topics.py``);
- ``partial`` — one micro-batch's mergeable partial aggregate, which the
  fan-out (``streaming/fanout.py``) writes per batch id;
- ``merge`` — the final aggregate over all of a topic's partials;
- ``rollup`` — the partial of a topic ``derived_from`` another topic's
  partial, with a key rename, instead of re-running the joins.

Aggregate kinds, as batch / partial / merge:

- ``count``: ``count(1)`` / ``count(1)`` / ``sum``;
- ``sum`` of a column ``x`` (or of a decimal expression):
  ``sum(dec2(x))`` as double / ``sum(dec2(x))`` / ``sum`` as double;
- ``count_distinct`` of a column ``c``: ``countDistinct(c)`` / ``c`` kept
  as an extra group key / ``countDistinct(c)``.

Partials merge exactly: counts and DECIMAL sums add, and a distinct count
re-distincts over partials kept at (keys, c) grain. Dim-side joins are
broadcast (SURVEY §2.3 J1-J3): the dims stay dimension-sized while the fact
scales, so the fact side never shuffles. Topic 3's lineitem ⨝ orders is
the one fact-fact join and is not broadcast.

This module imports neither ``plans`` nor ``streaming``: both read it, and
``plans`` reads ``streaming.TOPICS`` at import time.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Mapping
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .functions.scalar import dec2

#: A column name, or a builder whose parameter names are the columns it
#: reads (each is passed as ``F.col(name)``).
Expr = str | Callable[..., Column]


def _columns(expr: Expr) -> tuple[str, ...]:
    return (expr,) if isinstance(expr, str) else tuple(inspect.signature(expr).parameters)


def _col(expr: Expr) -> Column:
    return F.col(expr) if isinstance(expr, str) else expr(*map(F.col, _columns(expr)))


@dataclass(frozen=True)
class Join:
    table: str
    left: str
    right: str
    broadcast: bool = True


@dataclass(frozen=True)
class Agg:
    kind: str  # "count" | "sum" | "count_distinct"
    alias: str
    #: ``sum``: a column (summed as DECIMAL(18,2)) or a builder returning
    #: a decimal; ``count_distinct``: a column name.
    expr: Expr | None = None


@dataclass(frozen=True)
class TopicSpec:
    name: str
    source: str
    joins: tuple[Join, ...]
    #: A column name, or ``(alias, expr)``.
    keys: tuple[str | tuple[str, Expr], ...]
    aggs: tuple[Agg, ...]
    oracle: str
    doc: str
    tier: int = 1
    #: ``(topic, {its key: this key})``: this topic's partial is rolled up
    #: from that topic's partial. Exact only when that topic reads the same
    #: fact rows (its extra joins are FK-complete), its keys refine ours,
    #: and our aggregates are counts and sums it also computes.
    derived_from: tuple[str, Mapping[str, str]] | None = None

    @property
    def key_names(self) -> list[str]:
        return [k if isinstance(k, str) else k[0] for k in self.keys]

    @property
    def tables(self) -> tuple[str, ...]:
        return (self.source, *(j.table for j in self.joins))

    def columns_read(self) -> set[str]:
        """Every column the keys, joins and aggregates name."""
        exprs = [j.left for j in self.joins]
        exprs += [k if isinstance(k, str) else k[1] for k in self.keys]
        exprs += [a.expr for a in self.aggs if a.expr is not None]
        return {c for e in exprs for c in _columns(e)}


def _key(k: str | tuple[str, Expr]) -> Column:
    return F.col(k) if isinstance(k, str) else _col(k[1]).alias(k[0])


def _joined(spec: TopicSpec, tables: Mapping[str, DataFrame]) -> DataFrame:
    rel = tables[spec.source]
    for j in spec.joins:
        dim = tables[j.table]
        rel = rel.join(F.broadcast(dim) if j.broadcast else dim, F.col(j.left) == F.col(j.right))
    return rel


def _partial_col(a: Agg) -> Column:
    if a.kind == "count":
        return F.count(F.lit(1))
    return F.sum(dec2(a.expr) if isinstance(a.expr, str) else _col(a.expr))


def _combine(a: Agg, sum_type: object = "double") -> Column:
    """Aggregate a partial column across partials."""
    if a.kind == "count_distinct":
        return F.countDistinct(a.expr).alias(a.alias)
    c = F.sum(a.alias)
    return (c.cast(sum_type) if a.kind == "sum" else c).alias(a.alias)


def _batch_col(a: Agg) -> Column:
    if a.kind == "count_distinct":
        return F.countDistinct(a.expr)
    c = _partial_col(a)
    return c.cast("double") if a.kind == "sum" else c


def batch_query(spec: TopicSpec, tables: Mapping[str, DataFrame]) -> DataFrame:
    """The whole topic in one aggregate, ordered by its keys."""
    return (
        _joined(spec, tables)
        .groupBy(*map(_key, spec.keys))
        .agg(*(_batch_col(a).alias(a.alias) for a in spec.aggs))
        .orderBy(*spec.key_names)
    )


def partial(spec: TopicSpec, tables: Mapping[str, DataFrame]) -> DataFrame:
    """One batch's partial aggregate: DECIMAL sums stay decimal, and each
    distinct-counted column joins the grouping grain."""
    grain = [a.expr for a in spec.aggs if a.kind == "count_distinct"]
    return (
        _joined(spec, tables)
        .groupBy(*map(_key, spec.keys), *grain)
        .agg(*(_partial_col(a).alias(a.alias) for a in spec.aggs if a.kind != "count_distinct"))
    )


def rollup(spec: TopicSpec, source_partial: DataFrame) -> DataFrame:
    """``spec``'s partial from its ``derived_from`` topic's partial. Sums
    keep the source partial's decimal type, so every batch file of the
    sink has one schema."""
    _, rename = spec.derived_from
    return source_partial.groupBy(*(F.col(s).alias(d) for s, d in rename.items())).agg(
        *(_combine(a, source_partial.schema[a.alias].dataType) for a in spec.aggs)
    )


def merge(spec: TopicSpec, partials: DataFrame) -> DataFrame:
    """The final dashboard from all of a topic's partials (batch schema)."""
    return partials.groupBy(*spec.key_names).agg(*map(_combine, spec.aggs))


def _bbox_label(value: Column, user_id: Column) -> Column:
    val_bin = (F.floor(value / 50.0) * 50.0).cast("int")
    uid_bin = (F.floor(user_id / 10) * 10).cast("int")
    return F.concat(F.lit("bbox_"), val_bin.cast("string"), F.lit("_"), uid_bin.cast("string"))


_CUSTOMER = Join("customer", "o_custkey", "c_custkey")
_NATION = Join("nation", "c_nationkey", "n_nationkey")
_ORDER_TOTALS = (Agg("count", "n_orders"), Agg("sum", "sum_total", "o_totalprice"))

TOPIC_SPECS: tuple[TopicSpec, ...] = (
    TopicSpec(
        "transit_signals_by_state",
        source="orders",
        joins=(_CUSTOMER, _NATION),
        keys=(("state_name", "n_name"),),
        aggs=_ORDER_TOTALS,
        derived_from=("lesions_by_county", {"county_name": "state_name"}),
        tier=0,
        oracle="""
    SELECT
      n.n_name AS state_name,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
        doc="Topic 1 'transit_signals_by_state' (kafka/consumer.py:7): "
        "infrastructure totals per state → orders ⨝ customer ⨝ nation rollup. "
        "SURVEY §2.3 J1/J3: both dim joins are broadcast (customer/nation do "
        "not scale with fact volume) — the fact table is never shuffled; the "
        "only exchange carries |nations|=25 aggregate rows.",
    ),
    TopicSpec(
        "signals_vs_lesions",
        source="lineitem",
        joins=(Join("supplier", "l_suppkey", "s_suppkey"),),
        keys=(("supplier_name", "s_name"),),
        aggs=(
            Agg("count", "n_items"),
            Agg("sum", "sum_qty", "l_quantity"),
            Agg("sum", "sum_price", "l_extendedprice"),
        ),
        oracle="""
    SELECT
      s.s_name AS supplier_name,
      COUNT(*) AS n_items,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
        doc="Topic 2 'signals_vs_lesions' (kafka/consumer.py:8): signal density "
        "vs injuries per bbox → per-supplier measures. SURVEY §2.3 J1: the "
        "supplier dim is broadcast and joined map-side ahead of the partial "
        "aggregate, so only per-supplier partial rows shuffle, never lineitem.",
    ),
    TopicSpec(
        "weather_light_surface",
        source="lineitem",
        joins=(Join("orders", "l_orderkey", "o_orderkey", broadcast=False),),
        keys=("o_orderpriority", "l_returnflag", "l_linestatus"),
        aggs=(
            Agg("count", "n_items"),
            Agg(
                "sum",
                "sum_disc_price",
                lambda l_extendedprice, l_discount: dec2(l_extendedprice)
                * (F.lit(1).cast("decimal(18,2)") - dec2(l_discount)),
            ),
        ),
        oracle="""
    SELECT
      o.o_orderpriority,
      l.l_returnflag,
      l.l_linestatus,
      COUNT(*) AS n_items,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        AS sum_disc_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 3
    """,
        doc="Topic 3 'weather_light_surface' (kafka/consumer.py:9): three-way "
        "condition rollup → lineitem ⨝ orders on orderkey, grouped on three "
        "categorical dims. Scale: deliberate big-big equi-join — both sides "
        "shuffle-partition on the join key (sort-merge / shuffled-hash under "
        "AQE); at 100 TB co-locating via bucketing on orderkey removes the "
        "shuffle entirely (see sources/sinks.py bucketed writer).",
    ),
    TopicSpec(
        "accidents_by_time",
        source="events",
        joins=(),
        keys=(
            ("event_hour", lambda ts: F.hour(ts).cast("int")),
            ("event_dow", lambda ts: F.weekday(ts).cast("int")),
        ),
        aggs=(Agg("count", "n_events"),),
        oracle="""
    SELECT
      CAST(hour(ts) AS INT) AS event_hour,
      CAST(isodow(ts) - 1 AS INT) AS event_dow,
      COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
        doc="Topic 4 'accidents_by_time' (kafka/consumer.py:10): crash counts "
        "by hour/day-of-week (SURVEY §2.9, EDA cells 39/41; F2 date parts). "
        "Day-of-week convention: Monday=0..Sunday=6 (Spark weekday() == "
        "DuckDB isodow()-1). Scale: 24×7 groups, codegen date-part exprs.",
    ),
    TopicSpec(
        "lesions_by_county",
        source="orders",
        joins=(_CUSTOMER, _NATION, Join("region", "n_regionkey", "r_regionkey")),
        keys=(("county_name", "n_name"), ("state_name", "r_name")),
        aggs=_ORDER_TOTALS,
        oracle="""
    SELECT
      n.n_name AS county_name,
      r.r_name AS state_name,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
        doc="Topic 5 'lesions_by_county' (kafka/consumer.py:11): injuries per "
        "county+state → three chained broadcast dim joins (J3 — the reference "
        "resolved these through hand-built Python dict probes, "
        "dags/etl_crash_traffic.py:811-850). The fact never shuffles.",
    ),
    TopicSpec(
        "hospitals_schools_vs_lesions",
        source="lineitem",
        joins=(Join("part", "l_partkey", "p_partkey"),),
        keys=("p_brand",),
        aggs=(
            Agg("count", "n_items"),
            Agg("count_distinct", "n_parts", "p_partkey"),
            Agg("sum", "sum_qty", "l_quantity"),
            Agg("sum", "sum_price", "l_extendedprice"),
        ),
        oracle="""
    SELECT
      p.p_brand,
      COUNT(*) AS n_items,
      COUNT(DISTINCT p.p_partkey) AS n_parts,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
        doc="Topic 6 'hospitals_schools_vs_lesions' (kafka/consumer.py:12): "
        "facility counts vs injuries per bbox → per-brand part/lineitem rollup "
        "with a distinct-count. SURVEY §2.3 J1: broadcast part dim; the "
        "distinct-count adds a partial-dedup stage Catalyst plans as a "
        "two-phase aggregate.",
    ),
    TopicSpec(
        "crossings_vs_lesions",
        source="events",
        joins=(),
        keys=(("bbox_label", _bbox_label),),
        aggs=(Agg("count", "n_events"), Agg("sum", "sum_value", "value")),
        oracle="""
    SELECT
      'bbox_' || CAST(CAST(floor(value / 50.0) * 50.0 AS INT) AS VARCHAR)
              || '_'
              || CAST(CAST(user_id // 10 * 10 AS INT) AS VARCHAR) AS bbox_label,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
        doc="Topic 7 'crossings_vs_lesions' (kafka/consumer.py:13): per-bbox "
        "crossing counts vs injuries → grid-binned rollup. SURVEY §2.3 J2 / "
        "§2.6 F12/F13: floor-division binning (floor(x/50)*50 — true floor, "
        "matching Python // semantics for negatives) + string bbox label "
        "build. Scale: binning is a codegen expression; |bins| groups shuffle.",
    ),
)
