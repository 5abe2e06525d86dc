"""Salted-join equivalence, two-phase aggregation equivalence, join
cardinality prediction, and ANN recall against the exact cosine baseline
(multi-probe LSH, PQ shortlist re-rank)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from traffic_accidents_airflow_kafka_spark.operators import similarity, skew
from traffic_accidents_airflow_kafka_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of fact rows share one hot key.
    fact = spark.range(1000).select(
        F.when(F.col("id") < 900, 7).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame([(i, f"name_{i}") for i in range(10)], "k long, name string")
    return fact, dim


def test_salted_join_matches_plain_join(spark, skewed):
    fact, dim = skewed
    plain = fact.join(dim, "k").groupBy("name").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    salted = (
        skew.salted_join(fact, dim, "k", salt_buckets=8)
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salt_actually_spreads_hot_key(spark, skewed):
    fact, _ = skewed
    spread = (
        skew.with_salt(fact, "k", 8)
        .filter(F.col("k") == 7)
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(spread) == 8  # the 900 hot rows occupy all salt buckets
    assert max(r["count"] for r in spread) < 900


def test_two_phase_agg_matches_single_phase(spark, skewed):
    fact, _ = skewed
    direct = {
        (r["k"],): (r["n"], r["s"])
        for r in fact.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
    }
    two = {
        (r["k"],): (r["n"], r["s"])
        for r in skew.two_phase_agg(
            fact, ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")}, salt_buckets=8
        ).collect()
    }
    assert direct == two


def test_join_cardinality_prediction_matches_reality(spark):
    """The guard's join_rows must equal the ACTUAL row count of the
    join it predicts — exact, not an estimate — including a planted
    hot-key blowup and keys private to each side."""
    left = spark.createDataFrame(
        [(k,) for k in [1] * 100 + [2] * 3 + [7]], "k long"
    )
    right = spark.createDataFrame(
        [(k,) for k in [1] * 50 + [2] * 2 + [9]], "k long"
    )
    [st] = skew.join_cardinality_stats("t", left, "k", right, "k").collect()
    actual = left.join(right, "k").count()
    assert st.join_rows == actual == 100 * 50 + 3 * 2
    assert st.top_pair_rows == 100 * 50
    assert st.n_left == 104 and st.n_right == 53  # private keys counted
    assert st.n_common_keys == 2


def test_multiprobe_lsh_recall_at_least_single_probe(spark, sf_dir):
    """Probing the 6 Hamming-1 buckets on top of the home bucket can only
    ADD candidates, so top-1 recall vs the exact baseline must be >= the
    single-probe operator's — and queries that single-probe LSH leaves
    without candidates (lone vector in its bucket) get answers."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 100)
    exact_top1 = {
        r["qid"]: r["nid"]
        for r in similarity.cosine_topk(emb, qids, k=1).collect()
    }
    single = {
        r["qid"]: r["nid"]
        for r in similarity.lsh_ann_topk(emb, n_planes=6, k=1).collect()
        if r["qid"] < 100
    }
    multi = {
        r["qid"]: r["nid"]
        for r in similarity.lsh_ann_topk(
            emb, query_ids=qids, n_planes=6, k=1, multiprobe=True
        ).collect()
    }
    hits_single = sum(1 for q, n in exact_top1.items() if single.get(q) == n)
    hits_multi = sum(1 for q, n in exact_top1.items() if multi.get(q) == n)
    assert hits_multi >= hits_single
    assert set(multi) >= set(single)  # multiprobe never loses a query


def test_pq_rerank_beats_plain_pq_recall(spark, sf_dir):
    """Exact re-ranking of a PQ shortlist must recover recall: top-1
    agreement with the exact baseline is >= plain PQ's, and with a
    generous shortlist it should be near-perfect."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 60)
    exact_top1 = {
        r["qid"]: r["nid"] for r in similarity.cosine_topk(emb, qids, k=1).collect()
    }
    # One lattice ADC pass: its rank-1 rows are plain PQ's answer, and
    # all 50 ranks are the re-rank shortlist.
    shortlist = similarity.pq_ann_topk_exact(
        emb, qids, m=32, n_codes=64, k=50
    ).localCheckpoint(eager=True)
    plain = {
        r["qid"]: r["nid"]
        for r in shortlist.filter(F.col("rank") == 1).collect()
    }
    rerank = {
        r["qid"]: r["nid"]
        for r in similarity.pq_rerank_topk(emb, qids, shortlist, k=1).collect()
    }
    assert set(rerank) == set(exact_top1)
    hits_plain = sum(1 for q, n in exact_top1.items() if plain.get(q) == n)
    hits_rerank = sum(1 for q, n in exact_top1.items() if rerank.get(q) == n)
    assert hits_rerank >= hits_plain
    assert hits_rerank / len(exact_top1) > 0.8


def test_winsorize_and_scale_transform_composition(spark, sf_dir):
    """The consume side of the fit queries: clamp at the fitted bounds,
    then z-score with the fitted moments — every value lands in the
    clamp interval and standardized outliers are bounded."""
    from traffic_accidents_airflow_kafka_spark.plans.stats import (
        scaler_fit,
        winsorize_stats,
    )

    events = load_table(spark, sf_dir, "events")
    cuts = winsorize_stats(spark, sf_dir).select("event_type", "p01", "p99")
    fit = scaler_fit(spark, sf_dir).select("event_type", "mean_value", "std_value")
    out = (
        events.join(F.broadcast(cuts), "event_type")
        .join(F.broadcast(fit), "event_type")
        .withColumn(
            "clamped", F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
        )
        .withColumn("z", (F.col("clamped") - F.col("mean_value")) / F.col("std_value"))
    )
    bad = out.filter(
        (F.col("clamped") < F.col("p01")) | (F.col("clamped") > F.col("p99"))
    ).count()
    assert bad == 0
    zmax = out.agg(F.max(F.abs("z"))).first()[0]
    assert zmax < 6  # clamped-then-scaled tail is bounded
