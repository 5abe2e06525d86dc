"""The 7 dashboard topics as catalog entries: one batch query per
``topic_specs.TOPIC_SPECS`` entry, registered in table order with the
spec's oracle, doc and tier."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table
from ..topic_specs import TOPIC_SPECS, TopicSpec, batch_query
from .registry import register


def _query(spec: TopicSpec):
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return batch_query(spec, {t: load_table(spark, sf_dir, t) for t in spec.tables})

    query.__name__ = spec.name
    return query


for _spec in TOPIC_SPECS:
    register(_spec.name, oracle=_spec.oracle, doc=_spec.doc, tier=_spec.tier)(_query(_spec))
