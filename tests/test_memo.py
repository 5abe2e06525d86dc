"""The build-once memo (``sources/memo.py``): a value is served while the
tables under its sf dir are unchanged, and rebuilt after a rewrite in
place."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from traffic_accidents_airflow_kafka_spark.sources import memo


def _write_docs(sf: str, texts: list[str]) -> None:
    pq.write_table(pa.table({"text": texts}), os.path.join(sf, "documents.parquet"))


def test_artifact_is_rebuilt_after_a_rewrite_in_place(spark, tmp_path):
    sf = str(tmp_path)
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(os.path.join(sf, "documents.parquet")).cache()

    _write_docs(sf, ["a b"])
    first = memo._artifact(spark, sf, "docs", build)
    assert memo._artifact(spark, sf, "docs", build) is first
    assert len(builds) == 1

    _write_docs(sf, ["a b", "c d e"])
    second = memo._artifact(spark, sf, "docs", build)
    assert len(builds) == 2
    assert not first.is_cached, "the stale value is unpersisted"
    assert second.count() == 2
    assert memo._artifact(spark, sf, "docs", build) is second
    assert len(builds) == 2
    assert f"{tmp_path.name}:docs" in memo.artifact_build_times()
    memo.evict_artifacts(sf)
    assert not second.is_cached


def test_artifact_over_an_uncommitted_table_dir_is_not_stored(spark, tmp_path):
    """A table directory without ``_SUCCESS`` has no trusted snapshot."""
    sf = str(tmp_path)
    os.mkdir(os.path.join(sf, "documents.parquet"))
    builds = []
    for _ in range(2):
        memo._artifact(spark, sf, "docs", lambda: builds.append(1))
    assert len(builds) == 2
    assert "docs" not in memo.artifact_keys()
