"""Catalog-wide physical-plan tripwires: the perf regressions that creep
in silently (cartesian products, Python row-UDFs in SQL-expressible
queries, non-broadcast dim joins) fail here before they hit the bench."""

from __future__ import annotations

import pytest

from traffic_accidents_airflow_kafka_spark.plans import QUERY_REGISTRY

#: Queries allowed a BroadcastNestedLoopJoin: the brute-force cosine
#: baselines genuinely crossJoin a deliberately-tiny broadcast query set;
#: mixture_plan crossJoins a ONE-ROW broadcast scalar (the ordered-fold
#: denominator) onto an O(|sources|) relation.
CROSS_JOIN_OK = {
    "embedding_topk",
    # jl_ann_topk: cosine_topk's broadcast bounded-query crossJoin, over
    # the 16-d projected vectors.
    "jl_ann_topk",
    "multimodal_embed_ann",
    "mixture_plan",
    # hard_negatives: cosine_topk's broadcast bounded-query crossJoin with
    # the label-mismatch predicate.
    "hard_negatives",
    # leakfree_split_stats: the straddle PROOF column is a ONE-ROW
    # broadcast scalar crossJoined onto the |splits|-row rollup.
    "leakfree_split_stats",
    # approx_aggregates (r10): the distinct-free sketch/percentile
    # aggregate and the two exact count-distincts are separate ONE-ROW
    # aggregates crossJoined back together — splitting them avoids the
    # Expand that replicated every input row per distinct group
    # (measured 2.48 -> 0.49 s); both BNLJ sides are single rows.
    "approx_aggregates",
    # feature_drift_psi: the decile-edge array is a ONE-ROW broadcast
    # scalar crossJoined onto the snapshot union; binning is a map-side
    # fold over that array, never a range join.
    "feature_drift_psi",
    # target_encoding_oof: the global target mean is a ONE-ROW broadcast
    # scalar crossJoined onto the |categories| x k stats table.
    "target_encoding_oof",
    # hybrid_rrf_retrieval: the semantic list reuses cosine_topk's
    # broadcast bounded-query crossJoin (here a SINGLE query vector).
    "hybrid_rrf_retrieval",
    # embedding_pq_ann (r8 lattice form): the ADC ranking is the same
    # broadcast bounded-query crossJoin as embedding_sq8_ann — exact
    # query side vs the dequantized reconstruction relation.
    "embedding_pq_ann",
    # embedding_pq_rerank (r8): its shortlist stage is the same lattice
    # ADC crossJoin; the re-rank itself is an id-keyed hash join.
    "embedding_pq_rerank",
    # mergeable_uniques: the global HLL-union estimate is a ONE-ROW
    # broadcast scalar crossJoined onto the |days|-row relation.
    "mergeable_uniques",
    # temporal_split_audit: the percentile cutoff and the straddle-user
    # count are ONE-ROW broadcast scalars crossJoined onto the events
    # tag pass / the 2-row split rollup.
    "temporal_split_audit",
    # mergeable_quantiles: the min/max calibration bounds are a ONE-ROW
    # broadcast scalar crossJoined onto events (binning is then a
    # map-side expression), and bracket extraction theta-joins the
    # 4-row quantile targets against the <= 64-row cumulative histogram.
    "mergeable_quantiles",
    # bloom_dedup_prefilter: the whole filter is a ONE-ROW broadcast
    # set-bit array crossJoined onto the arrival batch; the probe is a
    # per-row array lookup, so the probed corpus never shuffles.
    "bloom_dedup_prefilter",
    # span_excision_audit: two ONE-ROW aggregates crossed to assemble
    # the audit row — both sides scalar by construction.
    "span_excision_audit",
    # bitext_mining_pairs: two bounded broadcast-query crossJoins (the
    # cosine_topk pattern, pool-to-pool); scale path is LSH/IVF-bucketed.
    "bitext_mining_pairs",
    # curriculum_phases: the corpus total is a ONE-ROW broadcast scalar
    # crossJoined onto the ranked (key, count) relation.
    "curriculum_phases",
    # ts_profile_similarity: the query profile's sufficient statistics
    # are a ONE-ROW broadcast scalar crossJoined onto per-user stats.
    "ts_profile_similarity",
    # embedding_sq8_ann: ONE-ROW broadcast calibration bounds crossJoin
    # (encode pass) + the bounded-query brute-force crossJoin baseline.
    "embedding_sq8_ann",
    # incremental_sq8_arrivals: same two bounded crossJoins, history pool.
    "incremental_sq8_arrivals",
    # retrieval_metrics: cosine_topk's bounded broadcast-query crossJoin
    # feeding the metric pass.
    "retrieval_metrics",
    # unigram tokenizer: the vocabulary total is a ONE-ROW broadcast
    # scalar crossJoined onto the (vocab-sized) piece table for costing.
    "unigram_seed_vocab",
    "unigram_viterbi_segment",
    "unigram_doc_token_counts",
    # unigram_surprisal_filter: same ONE-ROW vocabulary-total crossJoin
    # (with_costs) behind the shared vocab artifact.
    "unigram_surprisal_filter",
    # dsir_importance_weights: the raw-model token total is a ONE-ROW
    # broadcast scalar crossJoined onto the 64-row bucket table.
    "dsir_importance_weights",
    # semantic_decontamination: the bounded benchmark collapses to a
    # ONE-ROW broadcast struct array crossJoined onto the corpus; the
    # per-row fold is the whole scoring pass (zero shuffle).
    "semantic_decontamination",
}

#: Streaming entries build a streaming plan — skipped here (their shape is
#: asserted in the streaming tests).
STREAMING = {"stream_window_counts"}

#: Queries allowed Arrow-batched Python stages (mapInPandas/pandas_udf):
#: the documented escape hatches, never row-at-a-time BatchEvalPython.
#: embedding_ivf_ann: the integer-lattice cell assignment is one Arrow
#: pass (an int64 matmul over |corpus| × n_centroids distances, which an
#: interpreted higher-order-function fold would make the bottleneck).
ARROW_OK = {
    "multimodal_meta",
    # Real-bytes decode twins: encode + header-parse are both Arrow map
    # passes by design (imperative byte surgery).
    "multimodal_real_decode",
    "multimodal_audio_meta",
    # Flat-JPEG encode + SOF-marker walk (r10): Arrow map passes by
    # design, same imperative byte surgery as the other decode twins.
    "multimodal_jpeg_meta",
    # Baseline JPEG full pixel decode + full-codec audit (r10): same
    # imperative byte-surgery shape.
    "multimodal_jpeg_pixel_decode",
    "multimodal_jpeg_codec_audit",
    # FULL pixel decode (r9): encode + inflate/unfilter/palette-resolve
    # are Arrow map passes by design — imperative byte surgery over the
    # payload column, reduced to per-asset integer stats in the worker.
    "multimodal_pixel_decode",
    "multimodal_embed_ann",
    "embedding_ivf_ann",
    # Same lattice assignment Arrow pass, frozen-index incremental form.
    "incremental_lattice_arrivals",
    # One Arrow pass scoring all elbow candidates (per-batch partials).
    "embedding_elbow_curve",
    # PQ encode + ADC search are Arrow map passes by design (the whole
    # point is numpy code-matrix arithmetic over compressed codes).
    "embedding_pq_ann",
    # IVF-PQ: one fused Arrow assign+encode pass; the search joins
    # query probes to cell members.
    "embedding_ivfpq_ann",
    # PQ shortlist stage reuses pq_exact_recon's Arrow encode pass.
    "embedding_pq_rerank",
    # Span excision: broadcast work-list + one Arrow pass of imperative
    # token-window surgery (no declarative overlap-resolving form).
    "span_excision_stats",
    # §2.7 UDTF surface: Arrow-batched Python table function
    # (ArrowEvalPythonUDTF), pinned row-for-row against the native
    # word_shingles path in test_pyext.py.
    "udtf_ngram_topk",
    # §2.7 applyInArrow surface: per-group numpy rank-weighting
    # (FlatMapGroupsInArrow) — per-group imperative logic by design.
    "lang_length_gini",
    # Reuses span_excision_stats' sanctioned Arrow excision pass to
    # compute the banded audit columns.
    "span_excision_audit",
}


@pytest.mark.parametrize("name", sorted(set(QUERY_REGISTRY) - STREAMING))
def test_plan_has_no_scale_killers(spark, sf_dir, name):
    df = QUERY_REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in CROSS_JOIN_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"
    # Row-at-a-time Python is banned everywhere; Arrow stages only where
    # sanctioned.
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    if name not in ARROW_OK:
        assert (
            "ArrowEvalPython" not in plan
            and "MapInPandas" not in plan
            and "FlatMapGroupsInArrow" not in plan
        ), f"{name} has an unsanctioned Python stage"


#: Dim-join queries that MUST plan broadcast hash joins (SURVEY §2.3
#: J1/J3): name → minimum BroadcastHashJoin count (one per dim side).
BROADCAST_REQUIRED = {
    "transit_signals_by_state": 2,
    "signals_vs_lesions": 1,
    "lesions_by_county": 3,
    "hospitals_schools_vs_lesions": 1,
    "binned_label_join": 1,
    "star_fact_rollup": 3,
    # bands explode to |intervals| × (width/band + 1) rows — still dim-sized
    "range_band_join": 1,
    # customer dim side of the per-nation leaderboard
    "topk_with_ties": 1,
}


@pytest.mark.parametrize("name", sorted(BROADCAST_REQUIRED))
def test_dim_joins_stay_broadcast(spark, sf_dir, name):
    """A dim join silently degrading to sort-merge shuffles the fact side
    — the single worst scale regression a join can take."""
    df = QUERY_REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = plan.count("BroadcastHashJoin")
    assert got >= BROADCAST_REQUIRED[name], (
        f"{name}: {got} BroadcastHashJoin, need {BROADCAST_REQUIRED[name]}"
    )


def test_flagship_scan_prunes_and_pushes(spark, sf_dir):
    """The shipdate filter and the 6-column projection must reach the
    parquet scan — a scan reading all 16 lineitem columns for a 6-column
    aggregate is reading 100 TB to use 40."""
    df = QUERY_REGISTRY["pricing_summary"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan.split("PushedFilters")[-1]
    read_cols = scan.split("FileScan parquet [")[1].split("]")[0]
    cols = {c.split("#")[0] for c in read_cols.split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, f"scan reads {sorted(cols)}"
