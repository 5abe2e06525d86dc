"""Write path (SURVEY.md §2.1 S4-S7, S12).

The reference's sinks are CSV files and row-at-a-time / executemany
Postgres inserts with ``ON CONFLICT DO NOTHING``
(dags/etl_crash_traffic.py:222-223, 492-494, 641-654, 693-787). Spark-native
equivalents:

- Parquet is the engine default (columnar, splittable, statistics for
  pushdown); CSV kept for reference-format parity.
- Upsert/insert-if-absent (S6) = left-anti against existing keys, then
  append — the idiom the reference itself uses as a pre-filter (:619-621).
  Single-writer assumption documented (same as the DAG's
  ``max_active_runs=1``).
- ``save_bucketed`` is the 100 TB lever for the catalog's one big-big join
  (lineitem ⨝ orders on orderkey): co-bucketing both sides by the join key
  removes the shuffle entirely.
- ``memoized_write`` (S12) = idempotent skip-if-committed, replacing the
  reference's os.path.exists guards (:170-173, 369-372).
- ``file_snapshot`` keys the memos over files (the ETL job's stage
  memos, the build-once memo in ``sources/memo.py``), so a rewritten file
  is never served from a stale entry.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import release


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S5 — batch write. ``partition_by`` low-cardinality columns only
    (each value becomes a directory; date/region-style keys, never ids)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 — reference-format CSV sink (header on, like to_csv)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink — parquet's Hive-estate sibling (splittable,
    statistics-bearing, predicate pushdown; stores timestamps at nanos,
    a superset of Spark's micros). Oracled round-trip:
    plans/pyext.py:orc_roundtrip_summary."""
    df.write.mode(mode).orc(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Newline-delimited JSON sink — the event-bus interchange format
    (the reference's Kafka payload shape, kafka/producer.py:23-27).
    Ingest/export edge only; convert to parquet at rest. Oracled
    round-trip: plans/pyext.py:jsonl_roundtrip_summary."""
    df.write.mode(mode).json(path)


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """S7 + co-location — saveAsTable bucketed+sorted by the join key.

    Two tables bucketed identically on their join key join with ZERO
    shuffle (SortMergeJoin reads co-located buckets). At 100 TB this is
    how the lineitem ⨝ orders class of joins drops its dominant exchange:
    pay the bucketing once at write, save it on every join after.
    """
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def upsert_append(
    new_rows: DataFrame, path: str, key: str, spark: SparkSession
) -> int:
    """S6 — insert-if-absent: anti-join the incoming batch against keys
    already at ``path``, append only the novel rows. Returns rows written.

    Matches ``INSERT … ON CONFLICT (id) DO NOTHING`` under the single-writer
    assumption (reference ``max_active_runs=1``); for transactional
    multi-writer upserts use a table format with MERGE (Delta/Iceberg).
    The anti-join probe reads only the key column (column pruning), so the
    existing-data scan stays narrow at scale.

    An empty target (no data file at ``path``) has no key to anti-join
    against: the batch is written as it is, in one job that also counts
    it (an Observation on the write), with no cache. So after an upsert
    into a missing ``path`` the table holds exactly the rows written. An
    empty batch still writes one part file holding the schema, so a table
    that starts empty reads back as an empty table, not a missing path.

    A non-empty target counts the novel rows first and appends only when
    there are some: Spark's append of an empty frame still adds an empty
    part file, which would change the directory's ``file_snapshot`` and
    make an idempotent replay look like a rewrite. Its existing keys are
    read with the batch's key type, so the probe runs no footer-inference
    job: the batch's ``key`` column must have the type stored at ``path``
    (every caller upserts batches of one plan into its own target), or
    the Parquet read fails on the type mismatch.
    """
    if not _path_has_data(path):
        return observed_metrics(
            new_rows,
            {"rows": F.count(F.lit(1))},
            action=lambda observed: observed.write.mode("append").parquet(path),
        )["rows"]
    existing_keys = spark.read.schema(StructType([new_rows.schema[key]])).parquet(path)
    novel = new_rows.join(existing_keys, key, "left_anti")
    # Count once, write what was counted (avoid double computation). A
    # batch the caller already cached stays cached: its owner releases it.
    # The cache is taken on a projection of our own, so releasing it never
    # frees a checkpoint the caller passed in as ``new_rows``.
    owned = novel.storageLevel == StorageLevel.NONE
    if owned:
        novel = novel.select("*").persist()
    try:
        n = novel.count()
        if n:
            novel.write.mode("append").parquet(path)
    finally:
        if owned:
            release(novel)
    return n


def memoized_write(
    df: DataFrame, path: str, fmt: str = "parquet"
) -> bool:
    """S12 — idempotent skip: write only if ``path`` holds no committed
    output yet. Returns True when a write happened. (The reference's
    ``os.path.exists`` guard, made format-aware.)

    Committed is :func:`is_committed`: part files without Spark's
    ``_SUCCESS`` marker are the leftovers of a killed write and get
    overwritten, never trusted."""
    if is_committed(path):
        return False
    if fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "csv":
        df.write.mode("overwrite").option("header", "true").csv(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    return True


def file_snapshot(path: str) -> tuple | None:
    """The memo key for what is stored at ``path``: ``(name, size,
    mtime_ns)`` of the file itself, or of every data file under a
    directory. Any rewrite, append or delete changes it.

    ``None`` — a miss, never stored as a key — when ``path`` is missing or
    is a directory without Spark's ``_SUCCESS`` marker: uncommitted
    output is never trusted (:func:`is_committed`)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    if not is_committed(path):
        return None
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if not name.startswith(("_", ".")):
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def is_committed(path: str) -> bool:
    """Whether the directory ``path`` holds committed output: Spark's job
    commit writes the ``_SUCCESS`` marker last, so its presence means the
    write completed."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _path_has_data(path: str) -> bool:
    if not os.path.exists(path):
        return False
    return any(
        not name.startswith(("_", "."))
        for name in os.listdir(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files maintenance: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files. Returns the new file
    count (0 = nothing to do).

    Streaming sinks and incremental appends accrete files far below the
    efficient scan size; at 100 TB the resulting open/seek overhead and
    footer storms dominate scan cost long before data volume does —
    periodic compaction back to ~128 MB files (the classic HDFS-block
    target; size to your store's sweet spot) is the standard maintenance
    job.

    The rewrite goes through a temp directory next to ``path`` and swaps
    via rename, so a crash leaves either the old or the new layout, never
    a mix. Local-filesystem sizing/rename (matching this repo's file://
    deployment); an object-store deployment swaps the os calls for the
    Hadoop FileSystem API — the plan (read → repartition(n) → write) is
    identical. Single-writer assumption, same as the reference's
    max_active_runs=1.
    """
    import math
    import shutil

    sizes = [
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    if not sizes:
        return 0
    total = sum(sizes)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if n_target >= len(sizes):
        return len(sizes)  # already at-or-under target granularity

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    df.repartition(n_target).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_target


def observed_metrics(
    df: "DataFrame",
    metrics: dict[str, "Column"],
    action=None,
):
    """Inline scan observability via ``Dataset.observe``: named aggregate
    metrics ride the SAME job as whatever action consumes ``df`` — no
    second scan, no separate audit query. The production use: every
    ingest/write job reports row counts, null counts, and checksums as a
    side effect of the work it was already doing (the Spark-native form
    of the reference's load-time row counting,
    dags/etl_crash_traffic.py:908-941).

    ``action(observed_df)`` runs the consuming job (defaults to a
    ``count()``); returns the metrics dict from the Observation.
    At 100 TB this is the difference between auditing for free and
    paying a full extra pass per audit.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    if action is None:
        observed.count()
    else:
        action(observed)
    return obs.get
