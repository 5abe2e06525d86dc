"""Planted-fixture tests for dedup clustering (connected components) and
the deterministic split/sampling operators."""

from __future__ import annotations

import pyspark.sql.functions as F

from traffic_accidents_airflow_kafka_spark.operators import dedup, sampling


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "d1 long, d2 long")


class TestConnectedComponents:
    def test_two_components_and_chain(self, spark):
        # Component A: chain 1-2-3-4 (diameter 3 — needs >1 round).
        # Component B: triangle 10-11-12.
        pairs = _pairs(
            spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
        )
        got = {
            (r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
        }

    def test_pair_order_irrelevant(self, spark):
        # Edges listed high-to-low still propagate the global minimum.
        pairs = _pairs(spark, [(8, 9), (7, 8), (6, 7), (5, 6)])
        comp = dedup.connected_components(pairs)
        assert {r["component"] for r in comp.collect()} == {5}

    def test_empty_pairs(self, spark):
        comp = dedup.connected_components(_pairs(spark, []))
        assert comp.count() == 0

    def test_long_chain_converges(self, spark):
        # 41-node path 100-101-...-140: worst-case diameter for min
        # propagation, 40 label rounds. A loop that stops at a fixed
        # round count r labels node 100 + i with 100 + max(0, i - r);
        # only running to the fixpoint labels every node 100.
        pairs = _pairs(spark, [(i, i + 1) for i in range(100, 140)])
        comp = dedup.connected_components(pairs)
        rows = comp.collect()
        assert len(rows) == 41
        assert all(r["component"] == 100 for r in rows)


class TestHashSplit:
    def test_partition_is_total_and_disjoint(self, spark):
        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        out = sampling.hash_split(
            df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        counts = dict(
            out.groupBy("split").count().rdd.map(tuple).collect()
        )
        assert sum(counts.values()) == 2000
        # Binomial(2000, 0.8) is within ±5% of the mean w.h.p.
        assert 1480 <= counts["train"] <= 1720
        assert counts["val"] > 0 and counts["test"] > 0

    def test_membership_stable_under_growth(self, spark):
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
        small = sampling.hash_split(
            spark.range(100).withColumnRenamed("id", "doc_id"), "doc_id", weights
        )
        large = sampling.hash_split(
            spark.range(1000).withColumnRenamed("id", "doc_id"), "doc_id", weights
        )
        small_map = dict(small.select("doc_id", "split").rdd.map(tuple).collect())
        large_map = dict(large.select("doc_id", "split").rdd.map(tuple).collect())
        # The contamination guard: ids keep their split as the corpus grows.
        assert all(large_map[k] == v for k, v in small_map.items())

    def test_seed_changes_assignment(self, spark):
        df = spark.range(500).withColumnRenamed("id", "doc_id")
        w = {"a": 0.5, "b": 0.5}
        s1 = dict(
            sampling.hash_split(df, "doc_id", w, seed="s1")
            .select("doc_id", "split").rdd.map(tuple).collect()
        )
        s2 = dict(
            sampling.hash_split(df, "doc_id", w, seed="s2")
            .select("doc_id", "split").rdd.map(tuple).collect()
        )
        assert s1 != s2  # astronomically unlikely to match on 500 ids

    def test_no_shuffle_in_plan(self, spark):
        df = spark.range(100).withColumnRenamed("id", "doc_id")
        out = sampling.hash_split(df, "doc_id", {"train": 0.9, "test": 0.1})
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


class TestStratifiedSample:
    def test_exact_counts_per_stratum(self, spark):
        df = spark.createDataFrame(
            [(i, "a" if i % 3 else "b") for i in range(90)], "doc_id long, lang string"
        )
        out = sampling.stratified_sample(df, "lang", 7, "doc_id")
        counts = dict(out.groupBy("lang").count().rdd.map(tuple).collect())
        assert counts == {"a": 7, "b": 7}

    def test_small_stratum_returned_whole(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (2, "x"), (3, "y")], "doc_id long, lang string"
        )
        out = sampling.stratified_sample(df, "lang", 10, "doc_id")
        assert out.count() == 3

    def test_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, str(i % 5)) for i in range(200)], "doc_id long, lang string"
        )
        a = sorted(map(tuple, sampling.stratified_sample(df, "lang", 3, "doc_id").collect()))
        b = sorted(map(tuple, sampling.stratified_sample(df, "lang", 3, "doc_id").collect()))
        assert a == b


class TestTokenShards:
    def test_budget_overflow_bounded_by_one_doc(self, spark):
        df = spark.createDataFrame(
            [(i, "x", 10 + (i % 7)) for i in range(100)],
            "doc_id long, lang string, n_tokens int",
        )
        out = sampling.token_shards(df, "doc_id", "n_tokens", 50, "lang")
        per_shard = (
            out.groupBy("shard_id")
            .agg(F.sum("n_tokens").alias("t"), F.max("n_tokens").alias("mx"))
            .collect()
        )
        # A shard opens while under budget, so it exceeds 50 by at most
        # its last doc's tokens.
        assert all(r["t"] <= 50 + r["mx"] for r in per_shard)

    def test_shards_are_contiguous_id_ranges(self, spark):
        df = spark.createDataFrame(
            [(i, "a" if i < 50 else "b", 9) for i in range(100)],
            "doc_id long, lang string, n_tokens int",
        )
        out = sampling.token_shards(df, "doc_id", "n_tokens", 45, "lang")
        rows = out.select("lang", "doc_id", "shard_id").collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append((r["doc_id"], r["shard_id"]))
        for pairs in by_lang.values():
            pairs.sort()
            shard_seq = [s for _, s in pairs]
            assert shard_seq == sorted(shard_seq)  # monotone along doc order

    def test_total_tokens_preserved(self, spark):
        df = spark.createDataFrame(
            [(i, "x", i % 13 + 1) for i in range(200)],
            "doc_id long, lang string, n_tokens int",
        )
        out = sampling.token_shards(df, "doc_id", "n_tokens", 64, "lang")
        total = out.agg(F.sum("n_tokens")).first()[0]
        assert total == sum(i % 13 + 1 for i in range(200))


class TestGroupCentroids:
    def test_planted_centroids(self, spark):
        from traffic_accidents_airflow_kafka_spark.operators import similarity

        df = spark.createDataFrame(
            [
                ("a", [1.0, 2.0]),
                ("a", [3.0, 4.0]),
                ("b", [10.0, 0.0]),
            ],
            "g string, vec array<double>",
        )
        rows = {
            (r["g"], r["pos"]): r["centroid"]
            for r in similarity.group_centroids(df, "g", "vec").collect()
        }
        assert rows == {
            ("a", 1): 2.0, ("a", 2): 3.0,
            ("b", 1): 10.0, ("b", 2): 0.0,
        }


class TestComponentsVsUnionFind:
    def test_seeded_random_graph_matches_union_find(self, spark):
        import random

        rng = random.Random(42)
        nodes = list(range(60))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        # Min-id per component, only for nodes that appear in an edge.
        expected = {}
        edge_nodes = {n for e in edges for n in e}
        for n in edge_nodes:
            root = find(n)
            expected[n] = min(
                m for m in edge_nodes if find(m) == root
            )

        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == expected


class TestGlobalCumsum:
    def test_matches_naive_window(self, spark):
        from pyspark.sql import Window

        df = spark.createDataFrame(
            [(i * 7 % 1000, (i % 17) + 1) for i in range(1000)],
            "k long, v long",
        )
        two_phase = sampling.global_cumsum(df, "k", "v", out_col="c")
        w = Window.orderBy("k")
        naive = df.withColumn("c", F.sum("v").over(w) - F.col("v"))
        assert sorted(map(tuple, two_phase.select("k", "v", "c").collect())) == \
            sorted(map(tuple, naive.select("k", "v", "c").collect()))

    def test_no_global_single_partition_sort(self, spark):
        df = spark.range(1000).withColumn("v", F.lit(1))
        plan = (
            sampling.global_cumsum(df, "id", "v")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # The data-path window partitions by __bkt; only the tiny offsets
        # relation may use an unpartitioned window.
        assert "windowspecdefinition(__bkt" in plan
        # r6 single-shuffle contract for numeric keys: exactly ONE
        # corpus exchange (the window's hash on __bkt) — no range
        # exchange, no second full-data shuffle.
        import re

        assert len(re.findall(r"Exchange rangepartitioning", plan)) == 0

    def test_string_order_falls_back_to_range_partitioning(self, spark):
        """Non-numeric order keys (compaction's file paths) keep the
        range-partition bucketing and stay correct."""
        from pyspark.sql import Window

        df = spark.createDataFrame(
            [(f"file-{i:04d}", (i % 9) + 1) for i in range(500)],
            "k string, v long",
        )
        two_phase = sampling.global_cumsum(df, "k", "v", out_col="c")
        w = Window.orderBy("k")
        naive = df.withColumn("c", F.sum("v").over(w) - F.col("v"))
        assert sorted(map(tuple, two_phase.collect())) == sorted(
            map(tuple, naive.collect())
        )

    def test_skewed_and_negative_numeric_keys(self, spark):
        """Arithmetic bucketing must stay exact under skewed, negative,
        and duplicate-free float keys — contiguity relies only on
        monotonicity of the bucket function."""
        from pyspark.sql import Window

        vals = (
            [(-(10 ** 6) + i, 2) for i in range(50)]
            + [(i * i, 3) for i in range(200, 260)]
            + [(10 ** 12 + i * 13, 1) for i in range(50)]
        )
        df = spark.createDataFrame(vals, "k long, v long")
        two_phase = sampling.global_cumsum(df, "k", "v", out_col="c")
        w = Window.orderBy("k")
        naive = df.withColumn("c", F.sum("v").over(w) - F.col("v"))
        assert sorted(map(tuple, two_phase.collect())) == sorted(
            map(tuple, naive.collect())
        )


class TestGlobalCumsumNaN:
    def test_nan_double_keys_match_naive_window(self, spark):
        """A double order column containing NaN must still match the
        naive global window: NaN sorts LAST in Spark but the arithmetic
        bucket formula would clamp it to bucket 0, so float/double keys
        route to the range-partition path (r6 ADVICE)."""
        from pyspark.sql import Window

        vals = [(float(i), 1) for i in range(100)] + [
            (float("nan"), 5),
            (float("nan"), 7),
        ]
        df = spark.createDataFrame(vals, "k double, v long")
        two_phase = sampling.global_cumsum(df, "k", "v", out_col="c")
        w = Window.orderBy("k")
        naive = df.withColumn("c", F.sum("v").over(w) - F.col("v"))
        # NaN != NaN in tuple comparison; compare on a stable projection.
        key = lambda r: (str(r["k"]), r["v"], r["c"])  # noqa: E731
        assert sorted(map(key, two_phase.collect())) == sorted(
            map(key, naive.collect())
        )


class TestSplitThresholds:
    def test_boundaries_are_monotone_hex_and_proportional(self):
        from hypothesis import given, strategies as st

        @given(
            st.lists(
                st.floats(min_value=0.01, max_value=10.0, allow_nan=False),
                min_size=2,
                max_size=6,
            )
        )
        def check(ws):
            weights = {f"s{i}": w for i, w in enumerate(ws)}
            bounds = sampling.split_thresholds(weights)
            assert [n for n, _ in bounds] == list(weights)
            hexes = [b for _, b in bounds[:-1]]
            assert bounds[-1][1] is None
            assert all(len(h) == 32 for h in hexes)
            assert hexes == sorted(hexes)  # cumulative → monotone
            # Fractional position of each boundary matches the cumulative
            # weight to float precision.
            total = sum(ws)
            cum = 0.0
            for h, w in zip(hexes, ws):
                cum += w / total
                frac = int(h, 16) / (1 << 128)
                assert abs(frac - cum) < 1e-12

        check()


class TestWeightedSample:
    def test_deterministic_and_exact_k(self, spark):
        df = spark.range(500).select(
            F.col("id"), (F.col("id") % 7 + 1).cast("double").alias("w")
        )
        a = sorted(r["id"] for r in sampling.weighted_sample(df, 50, "id", "w").collect())
        b = sorted(r["id"] for r in sampling.weighted_sample(df, 50, "id", "w").collect())
        assert a == b and len(a) == 50

    def test_heavy_weights_dominate(self, spark):
        """A-ES inclusion probability rises with weight: rows weighted
        100x should take the overwhelming share of a small sample."""
        df = spark.range(1000).select(
            F.col("id"),
            F.when(F.col("id") < 100, 100.0).otherwise(1.0).alias("w"),
        )
        samp = sampling.weighted_sample(df, 50, "id", "w").collect()
        n_heavy = sum(1 for r in samp if r["id"] < 100)
        # Heavy rows are 10% of the population but carry ~92% of the mass.
        assert n_heavy > 35

    def test_nonpositive_weights_excluded(self, spark):
        df = spark.range(100).select(
            F.col("id"),
            F.when(F.col("id") < 90, F.lit(0.0))
            .otherwise(F.lit(1.0))
            .alias("w"),
        )
        samp = sampling.weighted_sample(df, 50, "id", "w").collect()
        assert len(samp) == 10  # only the 10 positive-weight rows qualify
        assert all(r["id"] >= 90 for r in samp)

    def test_seed_changes_sample(self, spark):
        df = spark.range(2000).select(F.col("id"), F.lit(1.0).alias("w"))
        a = {r["id"] for r in sampling.weighted_sample(df, 20, "id", "w", seed="s1").collect()}
        b = {r["id"] for r in sampling.weighted_sample(df, 20, "id", "w", seed="s2").collect()}
        assert a != b


class TestStarConnectedComponents:
    """Union-find cross-checks of :func:`dedup.connected_components`."""

    def _union_find_labels(self, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        edge_nodes = {n for e in edges for n in e}
        return {
            n: min(m for m in edge_nodes if find(m) == find(n)) for n in edge_nodes
        }

    def test_matches_min_label_and_union_find_on_random_graph(self, spark):
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        label = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert label == self._union_find_labels(edges)

    def test_two_components_and_isolated_pair(self, spark):
        pairs = spark.createDataFrame(
            [(5, 3), (3, 9), (20, 21)], "d1 long, d2 long"
        )
        got = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}


def test_pack_sequences_spans_and_conservation(spark):
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    # Stream: 300 + 200 + 600 + 0 + 24 tokens, seq_len=256.
    df = spark.createDataFrame(
        [(1, 300), (2, 200), (3, 600), (4, 0), (5, 24)],
        "doc_id long, n_tokens long",
    )
    spans = sampling.pack_sequences(df, "doc_id", "n_tokens", seq_len=256).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # Doc 1: [0,300) -> seqs 0,1 (split at 256).
    assert [(r["seq_id"], r["offset"], r["span_tokens"]) for r in sorted(by_doc[1], key=lambda r: r["seq_id"])] == [
        (0, 0, 256), (1, 0, 44)
    ]
    assert all(r["is_split"] for r in by_doc[1])
    # Doc 2: [300,500) sits inside seq 1 at offset 44.
    assert [(r["seq_id"], r["offset"], r["span_tokens"]) for r in by_doc[2]] == [(1, 44, 200)]
    assert not by_doc[2][0]["is_split"]
    # Doc 3: [500,1100) -> seqs 1..4.
    assert sorted(r["seq_id"] for r in by_doc[3]) == [1, 2, 3, 4]
    # Zero-token doc emits nothing.
    assert 4 not in by_doc
    # Token conservation: spans sum to the corpus token count.
    assert sum(r["span_tokens"] for r in spans) == 300 + 200 + 600 + 24
    # Offsets+spans never exceed seq_len.
    assert all(r["offset"] + r["span_tokens"] <= 256 for r in spans)


def test_temperature_mixture_generic_alpha_path(spark):
    """alpha != 0.5 exercises the pow() branch: shares still normalize
    and low-resource upweighting strengthens as alpha drops."""
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    per = spark.createDataFrame(
        [("big", 1_000_000), ("small", 1_000)], "source string, tokens long"
    )
    half = {
        r["source"]: r["mix_share"]
        for r in sampling.temperature_mixture(per, "source", "tokens", 10**6).collect()
    }
    cold = {
        r["source"]: r["mix_share"]
        for r in sampling.temperature_mixture(
            per, "source", "tokens", 10**6, alpha=0.2
        ).collect()
    }
    assert abs(sum(half.values()) - 1.0) < 1e-5
    assert abs(sum(cold.values()) - 1.0) < 1e-5
    assert cold["small"] > half["small"]  # lower temperature, more upweight


def test_pack_sequences_ignores_nonpositive_token_counts(spark):
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, 0), (4, 10)], "doc_id long, n_tokens long"
    )
    spans = sampling.pack_sequences(df, "doc_id", "n_tokens", 16).collect()
    assert sorted({r["doc_id"] for r in spans}) == [1, 4]
    # The stream is contiguous over the VALID docs only: doc 4 starts at
    # global offset 10 (doc 1's tokens), NOT shifted by the dropped rows,
    # so it splits across the seq-16 boundary as [10,16) + [16,20).
    doc4 = sorted(
        ((r["seq_id"], r["offset"], r["span_tokens"]) for r in spans if r["doc_id"] == 4)
    )
    assert sum(r["span_tokens"] for r in spans) == 20
    assert doc4 == [(0, 10, 6), (1, 0, 4)]


def test_temperature_mixture_stable_under_repartitioning(spark):
    """The ordered-fold denominator must make mix_share BIT-identical
    regardless of physical partitioning — the property a parallel SUM
    of doubles does not have."""
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    per = spark.createDataFrame(
        [(f"s{i}", 1000 + 7 * i * i) for i in range(40)], "source string, tokens long"
    )
    base = {
        r["source"]: r["mix_share"]
        for r in sampling.temperature_mixture(per, "source", "tokens", 10**6).collect()
    }
    for parts in (1, 7, 32):
        again = {
            r["source"]: r["mix_share"]
            for r in sampling.temperature_mixture(
                per.repartition(parts), "source", "tokens", 10**6
            ).collect()
        }
        assert again == base  # exact float equality, not isclose


def test_pack_context_blocks_hand_computed(spark):
    """B=10, three docs of 3 tokens (+1 EOD = 4 each): stream is 12
    tokens, so doc 2 must SPLIT across the block boundary — exact
    hand-computed manifest."""
    docs = spark.createDataFrame(
        [(0, 3), (1, 3), (2, 3)], "doc_id long, n_tok long"
    )
    rows = sorted(
        sampling.pack_context_blocks(
            docs, "doc_id", "n_tok", block_tokens=10
        ).collect(),
        key=lambda r: (r.block_idx, r.doc_id),
    )
    got = [
        (r.block_idx, r.doc_id, r.start_in_block, r.end_in_block, r.is_whole)
        for r in rows
    ]
    assert got == [
        (0, 0, 0, 4, True),
        (0, 1, 4, 8, True),
        (0, 2, 8, 10, False),  # head of the straddler
        (1, 2, 0, 2, False),  # its tail
    ]


def test_pack_context_blocks_reassembles_every_doc(spark, sf_dir):
    """Per doc: its block spans sum to exactly tokens+sep and every
    block is full except the last — packing loses and pads nothing."""
    from traffic_accidents_airflow_kafka_spark.operators import text as text_ops
    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text_ops.bpe_ish_token_count("text").cast("long").alias("n_tok")
    )
    cells = sampling.pack_context_blocks(
        docs, "doc_id", "n_tok", block_tokens=512
    )
    per_doc = (
        cells.groupBy("doc_id")
        .agg(F.sum(F.col("end_in_block") - F.col("start_in_block")).alias("got"))
        .join(docs, "doc_id")
        .filter(F.col("got") != F.col("n_tok") + 1)
    )
    assert per_doc.isEmpty()
    fills = (
        cells.groupBy("block_idx")
        .agg(F.sum(F.col("end_in_block") - F.col("start_in_block")).alias("fill"))
        .orderBy("block_idx")
        .collect()
    )
    assert all(r.fill == 512 for r in fills[:-1])
    assert 0 < fills[-1].fill <= 512


class TestQuotaCap:
    """quota_cap: the two-phase salted top-N must be output-identical to
    the naive single-window form it replaced (VERDICT r4 finding #2)."""

    def _naive(self, df, key_col, order_col, max_per_key, tiebreak_col):
        from pyspark.sql import Window

        ordering = [F.col(order_col).desc(), F.col(tiebreak_col).asc()]
        w = Window.partitionBy(key_col).orderBy(*ordering)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_per_key)
            .drop("__rn")
        )

    def _skewed_df(self, spark, n_hot=500, n_cold=7):
        # One mega-domain (the 100 TB failure mode) + a few tiny ones.
        hot = spark.range(n_hot).select(
            F.lit("megadomain").alias("src"),
            (F.col("id") * 37 % 101).cast("double").alias("q"),
            F.col("id").alias("doc_id"),
        )
        cold = spark.range(n_cold).select(
            F.concat(F.lit("d"), F.col("id")).alias("src"),
            F.col("id").cast("double").alias("q"),
            (F.col("id") + 10_000).alias("doc_id"),
        )
        return hot.unionByName(cold)

    def test_identical_to_single_window(self, spark):
        df = self._skewed_df(spark)
        got = sampling.quota_cap(df, "src", "q", 5, tiebreak_col="doc_id")
        want = self._naive(df, "src", "q", 5, "doc_id")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_salt_bucket_count_never_changes_result(self, spark):
        df = self._skewed_df(spark)
        base = sorted(
            map(
                tuple,
                sampling.quota_cap(
                    df, "src", "q", 7, tiebreak_col="doc_id", salt_buckets=1
                ).collect(),
            )
        )
        for s in (2, 16, 64):
            got = sorted(
                map(
                    tuple,
                    sampling.quota_cap(
                        df, "src", "q", 7, tiebreak_col="doc_id", salt_buckets=s
                    ).collect(),
                )
            )
            assert got == base, f"salt_buckets={s} changed the result"

    def test_under_cap_keys_kept_whole(self, spark):
        df = self._skewed_df(spark, n_hot=3, n_cold=4)
        got = sampling.quota_cap(df, "src", "q", 50, tiebreak_col="doc_id")
        assert got.count() == df.count()

    def test_duplicate_order_values_respect_tiebreak(self, spark):
        # Every row of a key ties on q: the doc_id tiebreak alone decides.
        df = spark.range(20).select(
            F.lit("only").alias("src"),
            F.lit(1.0).alias("q"),
            F.col("id").alias("doc_id"),
        )
        got = sampling.quota_cap(
            df, "src", "q", 4, tiebreak_col="doc_id", salt_buckets=8
        )
        assert sorted(r.doc_id for r in got.collect()) == [0, 1, 2, 3]
