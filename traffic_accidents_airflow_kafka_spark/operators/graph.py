"""Graph centrality over candidate-pair relations.

Connected components (``operators/dedup.py``) answers "which docs form a
duplicate cluster"; PageRank answers "which doc is the cluster's natural
canonical representative" — the node most linked-to by near-duplicates,
mirrors, and partial copies. Production curation pipelines use exactly
this to pick the keeper inside large duplicate families (and, on citation
or hyperlink graphs, to weight documents for sampling).

Design: classic damped power iteration over one prepared
:class:`PairGraph`, driver-coordinated like the connected-components
loop — per round ONE join (edges × ranks, keyed on the 8-byte node id)
and one groupBy-sum, with :class:`session.Rounds` checkpoints truncating
lineage and releasing every round the next one no longer reads. The
float :func:`pagerank` is a library path; its int64 twin
:func:`pagerank_fixedpoint` replays bit-for-bit in SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..session import SHUFFLE_PARTITIONS, Rounds, release, scoped_conf


class PairGraph:
    """The loop-invariant relations of a symmetrized, self-loop-free pair
    graph, which both PageRank variants iterate over: edges carrying
    their source's out-degree, the node set and the two counts.
    Symmetrized means every node is an edge source, so the node set is
    the source side and no node dangles (every node has out- and
    in-edges). Built once by :func:`prepare_pair_graph`; one graph
    serves any number of rank loops."""

    __slots__ = ("edges_deg", "nodes", "n_nodes", "n_edges")

    def __init__(self, edges_deg: DataFrame, nodes: DataFrame, n_nodes: int, n_edges: int):
        self.edges_deg = edges_deg
        self.nodes = nodes
        self.n_nodes = n_nodes
        self.n_edges = n_edges


def prepare_pair_graph(
    pairs: DataFrame, src: str = "d1", dst: str = "d2"
) -> PairGraph:
    """Materialize the :class:`PairGraph` of an undirected pair relation:
    both directions of every pair, self-loops and duplicates dropped.
    Edges, nodes and degrees derive from one ``localCheckpoint`` of the
    edge relation, so the (possibly expensive) upstream candidate-pair
    plan runs once (measured 44 s → ~6 s at sf0.1 on the Jaccard-pair
    input against replaying it per relation). That checkpoint is released
    once the graph's two relations are materialized; the caller releases
    ``edges_deg`` and ``nodes`` when no result reads them. A rank loop of
    at least one round returns a relation that reads neither: its last
    round's checkpoint, or an empty relation built on the driver."""
    edges = (
        pairs.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .union(pairs.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst")))
        .filter(F.col("e_src") != F.col("e_dst"))
        .distinct()
        .localCheckpoint()
    )
    try:
        nodes = edges.select(F.col("e_src").alias("id")).distinct().localCheckpoint()
        out_deg = edges.groupBy("e_src").agg(F.count(F.lit(1)).alias("__deg"))
        edges_deg = edges.join(out_deg, "e_src").localCheckpoint()
    finally:
        release(edges)
    return PairGraph(edges_deg, nodes, nodes.count(), edges_deg.count())


def _no_ranks(g: PairGraph, rank: StructField) -> DataFrame:
    """The rank relation of a graph without nodes, built on the driver,
    so it stays readable after the graph is released."""
    schema = StructType([*g.nodes.schema.fields, rank])
    return g.nodes.sparkSession.createDataFrame([], schema)


def loop_partitions(spark: SparkSession, n_edges: int) -> int:
    """The shuffle-partition count for an iterative graph loop: one
    partition per 500k edges, capped at the session default. Candidate-
    pair graphs are orders of magnitude smaller than the corpus that
    produced them, and a round's fixed cost grows with its task count
    (2 min-label rounds over a few hundred edges: 1.07 s at 32
    partitions, 0.55 s at 1). Both PageRank variants and the
    connected-components loop run their rounds under ``scoped_conf`` at
    this count.

    The width is a session-conf scope, not a per-round ``repartition``
    or AQE coalescing alone: a ``repartition(n, key)`` of the rank
    relation adds an Exchange every round (the groupBy output already
    satisfies the join's distribution), and AQE alone waits for one
    re-planning per shuffle stage per round. Both measured ~30% slower
    on dedup_pagerank_exact (1.04-1.10 s scoped → 1.34-1.46 s
    repartition → 1.38-1.40 s AQE-only, min of 3 warm at sf0.1)."""
    session_parts = int(spark.conf.get(SHUFFLE_PARTITIONS))
    return max(1, min(session_parts, n_edges // 500_000 + 1))


#: PageRank rounds per lineage checkpoint. Each checkpoint is an eager
#: job and the rounds in between stay lazy, so 3 rounds fuse into one
#: materialization while the stacked plan stays 3 joins deep.
ROUNDS_PER_CHECKPOINT = 3


def pagerank(
    g: PairGraph,
    damping: float = 0.85,
    iters: int = 10,
    tol: float | None = 1e-9,
) -> DataFrame:
    """Damped PageRank over a :class:`PairGraph`; at most ``iters``
    rounds. The graph is undirected and has no dangling node, so every
    round keeps the total rank mass at 1 (within float tolerance).
    Returns (id, rank).

    ``tol``: convergence early-exit, probed only at lineage-checkpoint
    boundaries (every 3 rounds) where the rank relation materializes
    anyway — one extra (id, double) join + scalar max per probe, repaid
    whenever the loop exits early. Near-dup graphs are unions of small
    near-cliques whose ranks settle in a handful of rounds, so the
    default 10-round budget usually cuts to the first probe. ``None``
    restores the fixed-round behavior.

    Scale: rounds shuffle (node_id, double) pairs only, at the graph-
    sized width of :func:`loop_partitions`.
    """
    nodes, n_nodes = g.nodes, g.n_nodes
    if n_nodes == 0:
        return _no_ranks(g, StructField("rank", DoubleType(), False))
    spark = nodes.sparkSession
    with (
        scoped_conf(spark, SHUFFLE_PARTITIONS, loop_partitions(spark, g.n_edges)),
        Rounds() as rounds,
    ):
        base = (1.0 - damping) / n_nodes
        ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("rank"))
        prev_probe = ranks
        for it in range(iters):
            contribs = g.edges_deg.join(
                ranks.withColumnRenamed("id", "e_src"), "e_src"
            ).select(
                F.col("e_dst").alias("id"),
                (F.col("rank") / F.col("__deg")).alias("c"),
            )
            # Every node has an in-edge, so the groupBy covers the whole
            # node set without a join against it.
            new_ranks = contribs.groupBy("id").agg(
                (F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank")
            )
            if (it + 1) % ROUNDS_PER_CHECKPOINT and it < iters - 1:
                ranks = new_ranks
                continue
            ranks = rounds.checkpoint(new_ranks)
            # Convergence probe at checkpoint boundaries only: both sides
            # are materialized relations, so the probe is one in-memory
            # (id, double) join + a scalar max to the driver.
            if tol is not None and it < iters - 1:
                delta = (
                    ranks.join(
                        prev_probe.withColumnRenamed("rank", "__prev"), "id"
                    )
                    .agg(F.max(F.abs(F.col("rank") - F.col("__prev"))))
                    .first()[0]
                )
                prev_probe = ranks
                if delta is not None and delta < tol:
                    break
    return ranks


def triangle_stats(
    pairs: DataFrame, src: str = "d1", dst: str = "d2"
) -> DataFrame:
    """Per-node triangle count, degree, and local clustering coefficient
    over an undirected pair relation — the graph-density read that
    separates genuine duplicate FAMILIES (near-cliques: every copy
    matches every copy) from chains of borderline pairs (coefficient
    ~0: A~B~C where A and C differ), which is exactly the distinction
    a dedup keeper policy cares about.

    Node-iterator enumeration over id-CANONICAL edges (src < dst):
    wedges e(a,b) ⋈ e(b,c) give ordered candidates a<b<c, closed by an
    equi-join against e(a,c) — every triangle found exactly once, three
    equi-joins, no theta predicate. Scale: wedge count is bounded by
    Σ out-deg(v)²; on skewed graphs orient edges lower-DEGREE→higher
    instead of lower-id (same plan shape, O(m^1.5) wedge bound —
    the standard MapReduce triangle trick). The near-dup graph is
    orders of magnitude smaller than the corpus that produced it.

    Returns (id, degree, n_triangles, clustering_coeff) for every node
    with at least one edge.
    """
    canon = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # Materialize once: the (possibly expensive) candidate-pair plan
        # feeds three join legs below.
        .localCheckpoint()
    )
    wedges = canon.alias("e1").join(
        canon.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    tris = wedges.alias("w").join(
        canon.alias("e3"),
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
    ).select(F.col("w.a").alias("a"), F.col("w.b").alias("b"), F.col("w.c").alias("c"))
    per_node_tris = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    degrees = (
        canon.select(F.col("a").alias("id"))
        .union(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    possible = F.col("degree") * (F.col("degree") - 1) / 2.0
    return (
        degrees.join(per_node_tris, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce("n_triangles", F.lit(0)) / possible,
                ).otherwise(0.0),
                4,
            ).alias("clustering_coeff"),
        )
    )


def pagerank_fixedpoint(
    g: PairGraph,
    iters: int = 10,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Quantized (fixed-point) PageRank: the float power iteration of
    :func:`pagerank`, re-expressed in pure int64 arithmetic so every
    intermediate — and therefore the final ranking — is BIT-IDENTICAL on
    any engine, partitioning, or accumulation order. Floats make damped
    power iteration inherently un-oracle-able (per-engine sum order
    drifts the last ulps); integers make it exactly replayable SQL.

    Ranks live in micro-units of ``1/scale``; per round, with
    ``d = damp_num/damp_den``:

        contrib(j)  = rank_u(j) // out_deg(j)           (floor div)
        rank_u'(i)  = BASE + (damp_num * sum contrib) // damp_den
        BASE        = (15 * (scale // n)) // 100 generalized to
                      ((damp_den - damp_num) * (scale // n)) // damp_den

    Quantization floors lose < out_deg(j) + 1 micro-units per node per
    round — a ~1e-12 relative perturbation at the default scale, far
    below any ranking decision the float variant could defend. The
    graph has no dangling nodes, so there is no mass-redistribution
    term. Headroom: damp_num * total mass ~ 85e12 << 2^63. Returns
    (id, rank_u).

    Scale shape matches :func:`pagerank`: rounds shuffle (id, int64)
    pairs, lineage truncated every 3 rounds.
    """
    nodes, n_nodes = g.nodes, g.n_nodes
    if n_nodes == 0:
        return _no_ranks(g, StructField("rank_u", LongType(), False))

    init = scale // n_nodes
    base = ((damp_den - damp_num) * init) // damp_den

    spark = nodes.sparkSession
    with (
        scoped_conf(spark, SHUFFLE_PARTITIONS, loop_partitions(spark, g.n_edges)),
        Rounds() as rounds,
    ):
        ranks = nodes.select("id", F.lit(init).cast("long").alias("rank_u"))
        for it in range(iters):
            joined = g.edges_deg.join(ranks.withColumnRenamed("id", "e_src"), "e_src")
            contribs = joined.select(
                F.col("e_dst").alias("id"),
                F.expr("rank_u div __deg").alias("c"),
            )
            new_ranks = contribs.groupBy("id").agg(
                (
                    F.lit(base)
                    + F.expr(f"({damp_num} * sum(c)) div {damp_den}")
                )
                .cast("long")
                .alias("rank_u")
            )
            if (it + 1) % ROUNDS_PER_CHECKPOINT and it < iters - 1:
                ranks = new_ranks
            else:
                ranks = rounds.checkpoint(new_ranks)
    return ranks
