"""Graph dedup family over the shared near-dup pair graph: connected-component clusters, exact PageRank and its rank audit.

Segment of the LLM-pipeline catalog (see plans/llm.py — the façade
that imports every segment in registration order). One min-label
connected-components loop serves both cluster entries; one prepared
``PairGraph`` serves both PageRank variants. The float PageRank is a
library function, not a catalog slot: float accumulation order differs
between engines in the last ulps, so it can never value-hash. The
catalog serves ranks through ``dedup_pagerank_exact`` (the int64
fixed-point twin, full 10-round SQL oracle), and ``pagerank_rank_audit``
pins the float path against it with a banded oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    dedup,
    graph,
)
from ..session import release
from .registry import register
from .llm_shared import _SHINGLE_CTE, _neardup_pairs

#: Near-dup graph edges (word-3-gram Jaccard >= 0.5, symmetrized,
#: self-loop-free) — shared by the clustering and PageRank oracles.
_NEARDUP_EDGES_CTE = """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT i.d1, i.d2
      FROM inter i
      JOIN sizes s1 ON i.d1 = s1.doc_id
      JOIN sizes s2 ON i.d2 = s2.doc_id
      WHERE i.n_common / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM jpairs
      UNION
      SELECT d2 AS src, d1 AS dst FROM jpairs
    )"""


def _cluster_oracle() -> str:
    # The recursive min-label reachability mirrors the Spark loop exactly:
    # a component's minimum id reaches every member (the r.c < e.dst prune
    # only blocks labels that could never be the minimum at that node).
    return (
        _SHINGLE_CTE.replace("WITH words", "WITH RECURSIVE words")
        + _NEARDUP_EDGES_CTE
        + """,
    reach(id, c) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.c FROM reach r JOIN edges e ON r.id = e.src
      WHERE r.c < e.dst
    ),
    comp AS (SELECT id, MIN(c) AS cluster_id FROM reach GROUP BY id),
    csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT comp.id AS doc_id, comp.cluster_id, csz.cluster_size,
           comp.id = comp.cluster_id AS is_canonical
    FROM comp JOIN csz USING (cluster_id)
    ORDER BY cluster_id, doc_id
    """
    )


@register(
    "dedup_clusters",
    oracle=_cluster_oracle(),
    min_rows=0,  # a corpus with no near-dup pairs legitimately clusters nothing
    doc="Dedup CLUSTERING — the step after candidate pairs that every "
    "production dedup run needs: near-dup pairs (word-3-gram Jaccard "
    ">= 0.5) -> connected components -> per-doc cluster id, cluster "
    "size, canonical flag (lowest id survives, the distributed analog "
    "of the reference's first-writer-wins ON CONFLICT DO NOTHING, "
    "dags/etl_crash_traffic.py:693-787). Spark side is iterative "
    "min-label propagation (operators/dedup.py:connected_components): "
    "driver-coordinated loop, one shuffle join + groupBy-min per round, "
    "localCheckpoint lineage truncation, run until the label sum stops "
    "changing — at most diameter + 1 rounds (2-3 for near-dup cliques) "
    "and no round cap, so a long chain costs rounds, never wrong "
    "labels. The oracle replays it as a recursive min-label CTE — a "
    "genuinely iterative algorithm, still SQL-checkable.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _neardup_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, "d1", "d2")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("is_canonical"),
        )
        .orderBy("cluster_id", "doc_id")
    )


dedup_clusters_star = register(
    "dedup_clusters_star",
    tier=1,  # extended clustering surface; CC judged via dedup_clusters
    oracle=_cluster_oracle(),
    min_rows=0,
    doc="Dedup clustering, the same query as dedup_clusters: same "
    "candidate pairs, same min-label loop "
    "(operators/dedup.py:connected_components), same rows, same oracle. "
    "It keeps its own catalog name because the catalog's entry names "
    "are fixed; one connected-components loop serves both.",
)(dedup_clusters)


def _pagerank_fp_oracle(iters: int = 10, scale: int = 10**12) -> str:
    """SQL replay of the FULL 10-round fixed-point PageRank: integer
    floor-division arithmetic is order-independent, so — unlike the float
    variant (operators/graph.py:pagerank; no bit-stable SQL replay exists
    for float sums) — every round value-hash-matches. One MATERIALIZED CTE per round; inlined, the
    linear chain would recompute the shingle join once per round."""
    dn, dd = 85, 100
    parts = [
        _SHINGLE_CTE,
        _NEARDUP_EDGES_CTE,
        f""",
    nc AS MATERIALIZED (SELECT COUNT(DISTINCT src) AS n FROM edges),
    ed AS MATERIALIZED (
      SELECT e.src, e.dst, d.deg
      FROM edges e
      JOIN (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src) d USING (src)
    ),
    r0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, CAST({scale} // n AS BIGINT) AS rank_u
      FROM edges, nc
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    r{i} AS MATERIALIZED (
      SELECT e.dst AS id,
             CAST((({dd - dn}) * ({scale} // nc.n)) // {dd}
                  + ({dn} * SUM(r.rank_u // e.deg)) // {dd} AS BIGINT) AS rank_u
      FROM ed e JOIN r{i - 1} r ON e.src = r.id, nc
      GROUP BY e.dst, nc.n
    )"""
        )
    parts.append(
        f"""
    SELECT id AS doc_id, rank_u AS rank_micro
    FROM r{iters}
    ORDER BY rank_micro DESC, doc_id
    LIMIT 30
    """
    )
    return "".join(parts)


@register(
    "dedup_pagerank_exact",
    tier=1,  # extended clustering surface; the oracle-checkable
    # catalog form of PageRank (float twin is a library function)
    oracle=_pagerank_fp_oracle(),
    min_rows=0,  # empty near-dup graph -> legitimately no ranks
    doc="Fixed-point PageRank over the near-dup graph "
    "(operators/graph.py:pagerank_fixedpoint): the float power "
    "iteration's oracle-checkable twin — ranks carried as int64 "
    "micro-units with floor-division damping, so every intermediate is "
    "bit-identical on any engine/partitioning and the FULL 10-round "
    "iteration SQL-replays (one MATERIALIZED CTE per round). "
    "Quantization perturbs ranks ~1e-12 relative — far below any "
    "ranking decision floats could defend. Scale: identical shape to "
    "the float library path (edge relation materialized once with degrees; "
    "rounds shuffle (id, int64) pairs; lineage truncated every 3 "
    "rounds; shuffle partitions sized to the graph).",
)
def dedup_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph.prepare_pair_graph(_neardup_pairs(spark, sf_dir), "d1", "d2")
    try:
        ranks = graph.pagerank_fixedpoint(g, iters=10)
    finally:
        # The result reads only the ranks, never the graph.
        release(g.edges_deg, g.nodes)
    return (
        ranks.select(
            F.col("id").alias("doc_id"), F.col("rank_u").alias("rank_micro")
        )
        .orderBy(F.desc("rank_micro"), "doc_id")
        .limit(30)
    )


@register(
    "pagerank_rank_audit",
    tier=1,  # banded audit pinning the float PageRank library path
    oracle=_SHINGLE_CTE
    + _NEARDUP_EDGES_CTE
    + """
    SELECT CAST((SELECT COUNT(DISTINCT src) FROM edges) AS BIGINT) AS n_nodes,
           true AS both_rank_all_nodes,
           true AS values_close,
           true AS top10_overlap_ok,
           true AS top1_agree
    """,
    doc="Rank-agreement audit for the float PageRank library path "
    "(operators/graph.py:pagerank — a library function, not a catalog "
    "slot: float accumulation order can never value-hash) — "
    "the banded-oracle companion that pins it against its bit-exact "
    "fixed-point twin (same pattern as the ANN recall "
    "audits): n_nodes is EXACTLY SQL-replayed (the near-dup edge CTE); "
    "both_rank_all_nodes asserts the two variants rank the identical "
    "node set (guaranteed — both iterate one prepared PairGraph); "
    "values_close asserts max |float_rank − rank_u/1e12| < 1e-6 over "
    "every node (quantization floors perturb ~1e-12 relative and the "
    "float early-exit residual is ≤ tol/(1−d) ≈ 7e-9, both orders of "
    "magnitude inside the band — measured max diff ~1e-9 across "
    "sf0.001-0.1); top10_overlap_ok (≥8 of top-10 doc_ids shared, "
    "scaled down for tiny graphs) and top1_agree band the ordering "
    "itself. A float-path regression that moves any rank by more than "
    "noise hash-mismatches. Scale: one prepared graph, two graph-sized "
    "rank relations (each the documented PageRank shape), one outer "
    "join + scalar aggregate, two bounded limit-10 collects — nothing "
    "corpus-sized reaches the driver.",
)
def pagerank_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph.prepare_pair_graph(_neardup_pairs(spark, sf_dir), "d1", "d2")
    # The two loops are independent driver-coordinated jobs on one graph,
    # hence at one shuffle width, so their scoped_conf holds agree and
    # they run side by side, interleaving their per-round jobs. Each
    # returns its last round's checkpoint, materialized. The result is
    # built on the driver, so the graph and both rank relations are
    # released before it returns.
    from concurrent.futures import ThreadPoolExecutor

    held = [g.edges_deg, g.nodes]

    def _run(rank_loop):
        df = rank_loop(g, iters=10)
        held.append(df)
        return df

    loops = (graph.pagerank, graph.pagerank_fixedpoint)
    try:
        with ThreadPoolExecutor(max_workers=len(loops)) as pool:
            fl, fx = pool.map(_run, loops)
        scale = float(10**12)
        stats = (
            fl.join(fx, "id", "full_outer")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.col("rank").isNull() | F.col("rank_u").isNull()).cast("int")
                ).alias("n_onesided"),
                F.max(F.abs(F.col("rank") - F.col("rank_u") / scale)).alias(
                    "max_diff"
                ),
            )
            .collect()[0]
        )
        topf = [r["id"] for r in fl.orderBy(F.desc("rank"), "id").limit(10).collect()]
        topx = [
            r["id"] for r in fx.orderBy(F.desc("rank_u"), "id").limit(10).collect()
        ]
    finally:
        release(*held)
    k = min(len(topf), len(topx))
    overlap = len(set(topf) & set(topx))
    row = (
        int(stats["n"] or 0),
        (stats["n_onesided"] or 0) == 0,
        stats["max_diff"] is None or stats["max_diff"] < 1e-6,
        k == 0 or overlap >= max(1, (8 * k) // 10),
        k == 0 or topf[0] == topx[0],
    )
    return spark.createDataFrame(
        [row],
        "n_nodes bigint, both_rank_all_nodes boolean, values_close boolean, "
        "top10_overlap_ok boolean, top1_agree boolean",
    )


