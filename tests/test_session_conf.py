"""``session.scoped_conf`` is the one writer of temporary session conf:
holders of the same value share it, a different value fails loudly, and
the last exit restores what was there before."""

from __future__ import annotations

import ast
import sys
import threading
import time
from pathlib import Path

import pytest

from traffic_accidents_airflow_kafka_spark.session import (
    SHUFFLE_PARTITIONS,
    scoped_conf,
)
from traffic_accidents_airflow_kafka_spark.streaming import core

PACKAGE = "traffic_accidents_airflow_kafka_spark"
ROOT = Path(__file__).resolve().parent.parent


class _RecordingConf:
    """A session conf that records every write."""

    def __init__(self, values: dict[str, str]):
        self.values = dict(values)
        self.writes: list[tuple[str, str | None]] = []
        self._lock = threading.Lock()

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        with self._lock:
            self.writes.append((key, value))
            self.values[key] = value

    def unset(self, key):
        with self._lock:
            self.writes.append((key, None))
            self.values.pop(key, None)


class _Session:
    def __init__(self, values: dict[str, str]):
        self.conf = _RecordingConf(values)


def test_threads_holding_the_same_value_share_it():
    """More threads than cores enter with one value and all sit inside
    at once: the conf is written once on entry and restored once, after
    the last exit."""
    key = "spark.graft.test.shared"
    session = _Session({key: "8"})
    n_threads = 8
    inside = threading.Barrier(n_threads, timeout=30)
    seen: list[str] = []
    errors: list[BaseException] = []

    def hold():
        try:
            with scoped_conf(session, key, 2):
                inside.wait()
                seen.append(session.conf.get(key))
                inside.wait()
        except BaseException as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hold) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert seen == ["2"] * n_threads
    assert session.conf.writes == [(key, "2"), (key, "8")]
    assert session.conf.get(key) == "8"


def test_a_different_value_while_held_raises(spark):
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    with scoped_conf(spark, SHUFFLE_PARTITIONS, 3):
        with pytest.raises(RuntimeError, match=r"shuffle\.partitions.*'3'.*'5'"):
            with scoped_conf(spark, SHUFFLE_PARTITIONS, 5):
                pass
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "3"
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before


def test_a_raising_body_restores_the_previous_value(spark):
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    with pytest.raises(ZeroDivisionError):
        with scoped_conf(spark, SHUFFLE_PARTITIONS, 1):
            1 / 0
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before
    # The hold is gone: another value may be scoped now.
    with scoped_conf(spark, SHUFFLE_PARTITIONS, 2):
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "2"


def test_an_unset_key_is_unset_again(spark):
    key = "spark.graft.test.unset"
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, key, "on"):
        assert spark.conf.get(key) == "on"
    assert spark.conf.get(key, None) is None


def _is_shuffle_partitions(arg: ast.expr) -> bool:
    return (
        (isinstance(arg, ast.Constant) and arg.value == SHUFFLE_PARTITIONS)
        or (isinstance(arg, ast.Name) and arg.id == "SHUFFLE_PARTITIONS")
        or (isinstance(arg, ast.Attribute) and arg.attr == "SHUFFLE_PARTITIONS")
    )


def test_only_session_sets_shuffle_partitions():
    """Every temporary shuffle width goes through ``scoped_conf``: no
    ``<x>.conf.set(<shuffle partitions>, …)`` outside ``session.py``."""
    sources = [
        ROOT / "bench.py",
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / PACKAGE).rglob("*.py")),
    ]
    offenders = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in sources
        if path != ROOT / PACKAGE / "session.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
        and node.args
        and _is_shuffle_partitions(node.args[0])
    ]
    assert not offenders, offenders


def test_drain_runs_on_the_state_rule_and_restores_the_conf(spark, sf_dir):
    from pyspark.sql.streaming import StreamingQueryListener

    class StateParts(StreamingQueryListener):
        def __init__(self):
            self.parts: list[int] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [
                s.numShufflePartitions for s in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    before = spark.conf.get(SHUFFLE_PARTITIONS)
    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        events = core.stream_events(spark, sf_dir)
        core.run_available_now(
            core.windowed_event_counts(events, "1 hour", "2 hours"), spark
        ).collect()
        deadline = time.monotonic() + 30
        while not listener.parts and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before
    assert listener.parts
    assert set(listener.parts) == {core.state_partitions(spark)}
    assert str(core.state_partitions(spark)) != before
