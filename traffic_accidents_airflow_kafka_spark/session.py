"""SparkSession factory.

The reference runs single-process pandas (no session concept); here every
entry point funnels through one tuned SparkSession. Defaults are chosen for
correctness-first local runs but scale-out safe:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion at runtime).
- ``spark.sql.session.timeZone=UTC`` — day-name/date-part determinism
  (SURVEY.md §7 "Locale").
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- Shuffle partitions default to the local core count; on a real cluster pass
  ``shuffle_partitions`` ≈ 2-3× total executor cores (or rely on AQE to
  coalesce from a higher initial number).

Code that needs a session conf for the length of one job (a graph loop's
shuffle width, a drain's state-store count) sets it through
:func:`scoped_conf`, the one writer of temporary session conf.

Materialized frames are freed through :func:`release`, the one way to
drop a cache or a checkpoint's blocks, and a round loop's checkpoints
through :class:`Rounds`. An operator releases every checkpoint it made
that its result does not read, on success and on failure.
"""

from __future__ import annotations

import os
import threading
import warnings
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

DEFAULT_APP_NAME = "traffic-accidents-spark-engine"

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


#: Temporary confs in force: key -> (value, previous value or None if
#: the key was unset, number of holders). Session conf is shared by
#: every thread of the process, so the holds are too.
_HOLDS: dict[str, tuple[str, str | None, int]] = {}
_HOLDS_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: object) -> Iterator[None]:
    """Set session conf ``key`` to ``value`` for the body, then restore it.

    Threads that enter with the value already held share it: the last to
    leave restores the previous value, or unsets a key that was unset,
    also when its body raises. Entering with a different value raises
    ``RuntimeError`` and leaves the held value in force, so two jobs that
    disagree on a session-wide setting fail instead of running one of
    them with the other's value. The lock covers only this bookkeeping;
    bodies run concurrently.
    """
    value = str(value)
    with _HOLDS_LOCK:
        held, prev, holders = _HOLDS.get(key, (value, None, 0))
        if held != value:
            raise RuntimeError(
                f"{key} is held at {held!r}; cannot scope it to {value!r}"
            )
        if not holders:
            prev = spark.conf.get(key, None)
            spark.conf.set(key, value)
        _HOLDS[key] = (value, prev, holders + 1)
    try:
        yield
    finally:
        with _HOLDS_LOCK:
            _, prev, holders = _HOLDS.pop(key)
            if holders > 1:
                _HOLDS[key] = (value, prev, holders - 1)
            elif prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def release(*frames: DataFrame) -> None:
    """Free each frame's materialized blocks now, not when JVM GC lets
    the ContextCleaner notice the handle died.

    ``unpersist()`` drops a cache-manager entry (``persist``/``cache``).
    A ``localCheckpoint`` is not one: its blocks belong to the RDD under
    the frame's ``LogicalRDD`` plan, which only ``unpersist`` on that RDD
    frees. A frame can be both (a ``foreachBatch`` micro-batch is a
    ``LogicalRDD`` and may also be persisted), so every frame gets both.
    Release only frames whose blocks the caller made: a released
    checkpoint can no longer be read. Releasing a frame twice is
    harmless."""
    for df in frames:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


class Rounds:
    """The lineage checkpoints of one round loop.

    :meth:`checkpoint` materializes a frame with ``localCheckpoint`` and
    releases the checkpoint before the previous one: the last two stay
    alive, so a convergence probe can still join the previous round
    after the current one materializes. A normal exit releases every
    held checkpoint but the newest, which the loop may return; an exit
    by exception releases all of them."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def __enter__(self) -> Rounds:
        return self

    def checkpoint(self, df: DataFrame) -> DataFrame:
        df = df.localCheckpoint()
        self._held.append(df)
        if len(self._held) > 2:
            release(self._held.pop(0))
        return df

    def __exit__(self, exc_type, exc, tb) -> None:
        stale = self._held if exc_type is not None else self._held[:-1]
        self._held = []
        release(*stale)


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a cluster pass ``yarn``/``k8s://…`` or leave it to spark-submit.
    """
    cores = _default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # PySpark's own applyInPandasWithState serializer pd.concat()s state
    # output frames in a way pandas has deprecated (FutureWarning from
    # pyspark/sql/pandas/serializers.py — upstream code, not ours; our
    # stateful operator already filters empty frames). Scope an ignore to
    # that module ONLY, in the worker processes where it fires. Local-mode
    # workers inherit os.environ; executorEnv covers cluster deploys.
    _pyspark_warn_filter = "ignore::FutureWarning:pyspark.sql.pandas.serializers"
    existing = os.environ.get("PYTHONWARNINGS", "")
    if _pyspark_warn_filter not in existing.split(","):
        os.environ["PYTHONWARNINGS"] = (
            f"{existing},{_pyspark_warn_filter}" if existing else _pyspark_warn_filter
        )

    # getOrCreate() silently reuses an existing session, ignoring master /
    # memory (static confs). Surface that instead of hiding it.
    active = SparkSession.getActiveSession()
    if active is not None and active.sparkContext.master != master:
        warnings.warn(
            f"get_spark(master={master!r}) is reusing the existing session "
            f"(master={active.sparkContext.master!r}); static configs from "
            "this call are ignored",
            stacklevel=2,
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config(SHUFFLE_PARTITIONS, str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Let Python DataSources (sources/pyds.py) receive pushFilters —
        # partition pruning at the source, off by default in 4.1.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Local-mode niceties; harmless on a cluster.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Local mode runs all 32 executor threads inside the driver JVM, so
        # the driver heap IS the executor heap: 8g showed late-session GC
        # inflation on long catalog runs (ngram_jaccard_pairs read 7.4 s
        # in-catalog vs 3.0 s isolated; 24g normalized it to 3.2 s and cut
        # the 66-query total ~10%). 16g is the local default; cluster
        # deploys size the driver via spark-submit as usual.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.executorEnv.PYTHONWARNINGS", os.environ["PYTHONWARNINGS"])
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
