"""Topic fan-out streaming job (streaming/fanout.py): convergence under
at-least-once redelivery — the guarantee the batch-id-keyed partial map
exists for — exact merging of partials across micro-batches, and no
partial left pinned after a run, failed or not.
The value-hash parity of the normal path is pinned by the
stream_topics_fanout catalog oracle; these tests exercise the paths the
oracle can't: a replayed batch id, and one micro-batch split into two."""

from __future__ import annotations

import pytest


@pytest.mark.parametrize("delivery", ["replay", "split"])
def test_fanout_converges_under_redelivery(spark, sf_dir, monkeypatch, delivery):
    """``replay``: deliver every micro-batch TWICE (foreachBatch's
    at-least-once contract made concrete) — a redelivered batch id must
    replace its in-memory partials instead of adding a second copy, so
    the merged dashboards still equal the batch topic plans exactly.

    ``split``: deliver every micro-batch as two disjoint batch ids (on
    ``pmod(hash(payload), 2)``), so each topic's merge adds partials of
    different batches: topic 6 re-distincts partkeys both halves share,
    and topic 1 rolls up from each half's own topic-5 partial. All 7
    dashboards must equal their DuckDB oracles."""
    import pyspark.sql.functions as F

    from tests.oracle_utils import assert_frames_match, duckdb_conn
    from traffic_accidents_airflow_kafka_spark.plans.registry import (
        QUERY_REGISTRY,
    )
    from traffic_accidents_airflow_kafka_spark.streaming import fanout

    orig = fanout.streaming.run_foreach_batch

    def redelivering(result, spark_, batch_fn, **kw):
        def twice(batch, batch_id):
            batch_fn(batch, batch_id)
            batch_fn(batch, batch_id)  # the redelivery

        def halves(batch, batch_id):
            half = F.pmod(F.hash("payload"), F.lit(2))
            for h in (0, 1):
                batch_fn(batch.filter(half == h), 2 * batch_id + h)

        return orig(result, spark_, twice if delivery == "replay" else halves, **kw)

    monkeypatch.setattr(fanout.streaming, "run_foreach_batch", redelivering)
    merged = fanout.run_topics_fanout(spark, sf_dir)

    if delivery == "replay":
        # One dim-join topic and one binned-events topic cover both
        # partial shapes (additive sums and grain-partial re-distinct
        # included via hospitals below).
        for topic in (
            "transit_signals_by_state",
            "accidents_by_time",
            "hospitals_schools_vs_lesions",
        ):
            batch_df = QUERY_REGISTRY[topic].fn(spark, sf_dir)
            got = sorted(
                tuple(r)
                for r in merged[topic].select(*batch_df.columns).collect()
            )
            want = sorted(tuple(r) for r in batch_df.collect())
            assert got == want, f"{topic} diverged under redelivery"
    else:
        con = duckdb_conn(sf_dir)
        try:
            assert set(merged) == set(fanout.streaming.TOPICS)
            for topic, df in merged.items():
                want = con.execute(QUERY_REGISTRY[topic].oracle).df()
                assert_frames_match(df.select(*want.columns).toPandas(), want, topic)
        finally:
            con.close()

    # Run metadata records WHICH topic-3 join path was active (the r9
    # silent-fallback lesson: a failed bucketed build must be visible
    # to gates, not just a stderr line) and carries a per-topic timing
    # breakdown for every sink.
    meta = fanout.last_run_metadata()
    assert meta["orders_join_path"] == "bucketed", meta
    assert set(meta["topic_sec"]) == set(fanout.streaming.TOPICS)
    assert all(v > 0 for v in meta["topic_sec"].values()), meta


def test_full_tmpfs_keeps_streaming_dirs_on_disk(spark, sf_dir, monkeypatch, capfd):
    """A tmpfs below the free-space floor must not receive any streaming
    checkpoint: they go to the default temp dir instead, with one stderr
    line saying so. The fan-out's partials stay in memory, so it makes
    no directory of its own."""
    import os
    import tempfile

    from traffic_accidents_airflow_kafka_spark.streaming import core, fanout

    real_statvfs, real_mkdtemp = os.statvfs, tempfile.mkdtemp

    def statvfs(path):
        st = real_statvfs(path)
        if not str(path).startswith("/dev/shm"):
            return st
        full = list(st)
        full[3] = full[4] = 0  # f_bfree, f_bavail: no free blocks
        return os.statvfs_result(full)

    made: list[str] = []

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(os, "statvfs", statvfs)
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    merged = fanout.run_topics_fanout(spark, sf_dir)
    events = core.stream_events(spark, sf_dir)
    counted = core.run_available_now(events.groupBy("event_type").count(), spark)
    assert merged["accidents_by_time"].count() > 0 and counted.count() > 0

    names = [os.path.basename(p) for p in made]
    assert not any(n.startswith("fanout_") for n in names), made
    assert sum(n.startswith("ckpt_") for n in names) >= 2, made
    assert not [p for p in made if p.startswith("/dev/shm")], made
    assert "below the" in capfd.readouterr().err


@pytest.mark.parametrize("failing_topic", [None, "lesions_by_county"])
def test_fanout_releases_every_partial(spark, sf_dir, monkeypatch, failing_topic):
    """After a run, the session's persistent RDDs grow by exactly the 7
    returned merges: every per-batch partial, env and parse cache is
    released. A run whose topic-5 partial raises (topic 1 rolls up from
    it) fails and leaves nothing pinned."""
    from tests.oracle_utils import persistent_rdd_ids
    from traffic_accidents_airflow_kafka_spark.session import release
    from traffic_accidents_airflow_kafka_spark.streaming import fanout

    fanout._orders_at_rest(spark, sf_dir)  # build the artifact outside the count
    if failing_topic is not None:
        real = fanout.partial

        def partial(spec, rels):
            if spec.name == failing_topic:
                raise RuntimeError(f"{spec.name} partial failed (synthetic)")
            return real(spec, rels)

        monkeypatch.setattr(fanout, "partial", partial)

    before = persistent_rdd_ids(spark)
    if failing_topic is not None:
        with pytest.raises(Exception, match="synthetic"):
            fanout.run_topics_fanout(spark, sf_dir)
        assert persistent_rdd_ids(spark) - before == set()
        return
    merged = fanout.run_topics_fanout(spark, sf_dir)
    held = {df._jdf.queryExecution().analyzed().rdd().id() for df in merged.values()}
    try:
        assert persistent_rdd_ids(spark) - before == held
        assert len(held) == len(fanout.streaming.TOPICS)
    finally:
        release(*merged.values())


def test_parity_collect_refuses_high_cardinality(spark, monkeypatch):
    """The parity baselines are driver-side row multisets, legal ONLY
    because dashboards are dimension-bounded. _bounded_collect enforces
    that contract (r8 VERDICT #6): a topic that grows a fact-sized key
    must fail loudly BEFORE the collect, not OOM the driver."""
    import pytest

    from traffic_accidents_airflow_kafka_spark.plans import streaming_plans

    monkeypatch.setattr(streaming_plans, "PARITY_COLLECT_CEILING", 50)
    small = spark.range(50)  # at the ceiling: allowed
    assert len(streaming_plans._bounded_collect(small, "ok_topic")) == 50
    big = spark.range(51)  # one past: refused
    with pytest.raises(ValueError, match="dimension-bounded"):
        streaming_plans._bounded_collect(big, "runaway_topic")


def test_bucketed_enrichment_no_exchange_on_orders_side(spark, sf_dir, tmp_path):
    """The SCALE.md promise at the fanout module head, made concrete:
    topic-3's per-batch lineitem-orders enrichment run against the
    BUCKETED orders table inside foreachBatch. Asserts (a) the at-rest
    orders side scans its co-located buckets with NO Exchange above it
    — only the arrival micro-batch shuffles — and (b) the merged
    partials still equal the batch topic plan exactly."""
    import os

    import pyspark.sql.functions as F

    from traffic_accidents_airflow_kafka_spark.plans.registry import (
        QUERY_REGISTRY,
    )
    from traffic_accidents_airflow_kafka_spark.session import scoped_conf
    from traffic_accidents_airflow_kafka_spark.streaming import fanout
    from traffic_accidents_airflow_kafka_spark.streaming.core import (
        run_foreach_batch,
    )
    from traffic_accidents_airflow_kafka_spark.topic_specs import (
        TOPIC_SPECS,
        partial,
    )

    table = fanout.prepare_bucketed_orders(spark, sf_dir, num_buckets=8)
    li_schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    li_stream = (
        spark.readStream.schema(li_schema)
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(sf_dir)
    )
    sink = str(tmp_path / "t3_bucketed")
    plans: list[str] = []

    def drain(batch, batch_id):
        enriched = partial(
            next(s for s in TOPIC_SPECS if s.name == "weather_light_surface"),
            {"lineitem": batch, "orders": spark.table(table)},
        )
        plans.append(
            enriched._jdf.queryExecution().executedPlan().toString()
        )
        enriched.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={batch_id}")
        )

    # Disable broadcast so the join would otherwise shuffle BOTH sides —
    # the assert below then isolates what bucketing saves.
    try:
        with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", -1):
            run_foreach_batch(li_stream, spark, drain)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    assert plans, "stream delivered no batches"
    for plan in plans:
        # The bucketed orders scan is co-located: the bucket-selection
        # marker must be present...
        assert "SelectedBucketsCount" in plan, plan
        # ...and the only join-input Exchange is the micro-batch side's
        # shuffle into the bucket layout, plus the final partial-agg
        # exchange: an unbucketed orders side would add a third.
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges <= 2, f"orders side still shuffles:\n{plan}"

    merged = (
        spark.read.parquet(sink)
        .groupBy("o_orderpriority", "l_returnflag", "l_linestatus")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("sum_disc_price").cast("double").alias("sum_disc_price"),
        )
    )
    batch_df = QUERY_REGISTRY["weather_light_surface"].fn(spark, sf_dir)
    got = sorted(tuple(r) for r in merged.select(*batch_df.columns).collect())
    want = sorted(tuple(r) for r in batch_df.collect())
    assert got == want, "bucketed enrichment diverged from the batch plan"


def test_fanout_broadcast_fallback_is_loud_and_correct(spark, sf_dir, monkeypatch, capfd):
    """When the bucketed build fails with one of the guarded classes,
    the drain must (a) still produce all 7 dashboards equal to their
    DuckDB oracles through the broadcast join, (b) say so on stderr, and
    (c) record orders_join_path='broadcast' in the run metadata — the r9
    silent-fallback bug, pinned from the failure side."""
    from pyspark.errors import AnalysisException

    from tests.oracle_utils import assert_frames_match, duckdb_conn
    from traffic_accidents_airflow_kafka_spark.plans.registry import (
        QUERY_REGISTRY,
    )
    from traffic_accidents_airflow_kafka_spark.streaming import fanout

    def refuse(spark_, sf_dir_, num_buckets=8):
        raise AnalysisException("LOCATION_ALREADY_EXISTS (synthetic)")

    monkeypatch.setattr(fanout, "prepare_bucketed_orders", refuse)
    # Self-contained regardless of test order: clear the session memo
    # and the table so run_topics_fanout must actually call the
    # (refusing) build instead of reusing an earlier test's artifact.
    from traffic_accidents_airflow_kafka_spark.plans.llm import evict_artifacts

    evict_artifacts(sf_dir)
    spark.sql(
        f"DROP TABLE IF EXISTS {fanout.bucketed_orders_table(sf_dir)}"
    )
    merged = fanout.run_topics_fanout(spark, sf_dir)
    assert fanout.last_run_metadata()["orders_join_path"] == "broadcast"
    assert "falling back to the broadcast join" in capfd.readouterr().err
    topic = "weather_light_surface"  # the topic the join path feeds
    batch_df = QUERY_REGISTRY[topic].fn(spark, sf_dir)
    got = sorted(
        tuple(r) for r in merged[topic].select(*batch_df.columns).collect()
    )
    want = sorted(tuple(r) for r in batch_df.collect())
    assert got == want
    con = duckdb_conn(sf_dir)
    try:
        assert set(merged) == set(fanout.streaming.TOPICS)
        for topic, df in merged.items():
            want = con.execute(QUERY_REGISTRY[topic].oracle).df()
            assert_frames_match(df.select(*want.columns).toPandas(), want, topic)
    finally:
        con.close()
