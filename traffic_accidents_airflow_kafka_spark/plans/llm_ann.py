"""Embedding similarity / ANN family: brute-force top-k, hyperplane LSH (single and multi-probe), the deterministic integer-lattice IVF/PQ tiers, cluster profiles, incremental arrivals.

Segment of the LLM-pipeline catalog (see plans/llm.py — the façade
that imports every segment in registration order).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    multimodal,
    similarity,
)
from ..sources.memo import _artifact
from ..sources.tables import load_table
from .registry import register
from .llm_dedup import _topk_oracle
from .llm_shared import _sql_dot, _sql_fold_dot, _sql_vnorm

@register(
    "embedding_topk",
    tier=1,  # the exact cosine-ranking machinery stays judged
    # via retrieval_metrics and the SQ8 entries' exact-baseline recall
    # flags (same cosine_topk code path under full oracle)
    oracle=_topk_oracle(),
    doc="Brute-force cosine top-k (the ANN exactness baseline): 10 query "
    "vectors broadcast against all candidates; double-promoted sequential "
    "dot products are bit-identical to the SQL fold, so ranking "
    "oracle-checks (operators/similarity.py:cosine_topk). Scale: O(Q×N) — "
    "sane only for small Q; the LSH entry is the scale path.",
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, qids, "vec_id", "embedding", k=3).orderBy(
        "qid", "rank"
    )


def _lsh_bkt_cte(n_planes: int, dim: int, seed: int) -> str:
    """The hyperplane-LSH buckets in DuckDB: the SAME seeded planes the
    Spark operator uses, inlined as list literals (repr round-trips
    doubles exactly), with sequential-fold dot products so bucket signs
    and norms are bit-identical across engines."""
    bucket = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p, dim)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(similarity.hyperplane_planes(dim, n_planes, seed))
    )
    vnorm = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        "j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))), "
        "(a, b) -> a + b))"
    )
    return f"""
    WITH bkt AS (
      SELECT vec_id, embedding,
             CAST({bucket} AS BIGINT) AS bucket,
             {vnorm} AS nrm
      FROM embeddings
    ),"""


def _lsh_oracle(n_planes: int = 6, dim: int = 64, seed: int = 7, k: int = 3) -> str:
    """The hyperplane-LSH top-k in DuckDB over :func:`_lsh_bkt_cte`."""
    pair_dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))), "
        f"(a, b) -> a + b)"
    )
    return _lsh_bkt_cte(n_planes, dim, seed) + f"""
    sims AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, a.bucket,
             CASE WHEN a.nrm * b.nrm > 0
                  THEN {pair_dot} / (a.nrm * b.nrm)
                  ELSE -2.0 END AS cosine
      FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT qid, nid, rank, ROUND(cosine, 4) AS cosine, bucket FROM (
      SELECT qid, nid, cosine, bucket,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rank
      FROM sims
    )
    WHERE rank <= {k}
    ORDER BY qid, rank
    """


@register(
    "embedding_lsh_ann",
    tier=1,  # ANN tiers co-judged by embedding_sq8_ann +
    # ivf_nprobe_recall_curve + pq_recall_audit (tier 0); oracle stays local
    oracle=_lsh_oracle(),
    doc="Hyperplane-LSH approximate top-k: 6 seeded Gaussian planes → "
    "64 sign-pattern buckets → within-bucket cosine ranking "
    "(operators/similarity.py:lsh_ann_topk). Fully oracle-checked: the "
    "seeded planes inline as SQL literals and both engines compute the "
    "same sequential double folds, so bucket signs and ranks match "
    "bit-for-bit; recall vs the embedding_topk baseline is additionally "
    "asserted in unit tests. Scale: candidate set per query shrinks "
    "~2^planes; the same operator's multiprobe flag (the "
    "embedding_lsh_multiprobe entry) recovers recall without changing "
    "plan shape.",
)
def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(emb, n_planes=6, k=3).orderBy("qid", "rank")


def _lsh_multiprobe_oracle(
    n_planes: int = 6, dim: int = 64, seed: int = 7, k: int = 3, max_qid: int = 100
) -> str:
    """Multi-probe variant of _lsh_oracle: the query side unions its home
    bucket with the n_planes Hamming-1 buckets (explicit xor list — the
    same literal probe set the Spark operator explodes)."""
    probe_list = ", ".join(f"xor(qbucket, {1 << i})" for i in range(n_planes))
    pair_dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> CAST(p.qvec[j] AS DOUBLE) * CAST(n.embedding[j] AS DOUBLE))), "
        f"(a, b) -> a + b)"
    )
    return _lsh_bkt_cte(n_planes, dim, seed) + f"""
    q AS (
      SELECT vec_id AS qid, embedding AS qvec, nrm AS qnorm, bucket AS qbucket
      FROM bkt WHERE vec_id < {max_qid}
    ),
    probes AS (
      SELECT qid, qvec, qnorm,
             unnest(list_prepend(qbucket, [{probe_list}])) AS bucket
      FROM q
    ),
    sims AS (
      SELECT p.qid, n.vec_id AS nid,
             CASE WHEN p.qnorm * n.nrm > 0
                  THEN {pair_dot} / (p.qnorm * n.nrm)
                  ELSE -2.0 END AS cosine
      FROM probes p JOIN bkt n ON n.bucket = p.bucket AND n.vec_id <> p.qid
    )
    SELECT qid, nid, rank, ROUND(cosine, 4) AS cosine FROM (
      SELECT qid, nid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rank
      FROM sims
    )
    WHERE rank <= {k}
    ORDER BY qid, rank
    """


@register(
    "embedding_lsh_multiprobe",
    tier=1,  # extended ANN surface; single-probe LSH machinery judged via embedding_lsh_ann
    oracle=_lsh_multiprobe_oracle(),
    doc="Multi-probe hyperplane LSH (operators/similarity.py:"
    "lsh_ann_topk with multiprobe=True, the probe set of probe_buckets): "
    "bounded query set probes its home bucket "
    "plus the 6 Hamming-1 buckets (one sign flipped), recovering "
    "neighbors that landed one hyperplane away — the recall fix that "
    "costs probes, not extra hash tables (Lv et al., VLDB'07). Fully "
    "oracle-checked: the probe set inlines as explicit xor literals in "
    "SQL, same seeded planes, same sequential double folds. Scale: probe "
    "explode is query-side only (~7x a bounded Q), the corpus buckets "
    "once and the join stays an equi-join on bucket id.",
)
def embedding_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 100)
    return (
        similarity.lsh_ann_topk(emb, qids, n_planes=6, k=3, multiprobe=True)
        .select("qid", "nid", "rank", "cosine")
        .orderBy("qid", "rank")
    )


def _lattice_base_ctes(
    dim: int,
    modulus: int = 4,
    cap: int = 100_000,
    sample_where: str = "",
) -> str:
    """Shared quantization prefix of every lattice oracle: quantized
    corpus ``qv`` / long form ``cl`` and the id-ordered sample long form
    ``sl`` (with sample rank ``rn``). Quantization floor(v * 1024) +
    2^20 is EXACT — power-of-two scale, positive offset.
    ``sample_where``: extra AND-clause on the training sample — the
    frozen-index incremental entry trains on HISTORY rows only."""
    from ..operators.similarity import LATTICE_OFFSET, LATTICE_SCALE

    return f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, embedding,
             list_transform(generate_series(1, {dim}),
               i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {LATTICE_SCALE})
                         AS BIGINT) + {LATTICE_OFFSET}) AS q
      FROM embeddings
    ),
    cl AS MATERIALIZED (
      SELECT vec_id, t.i AS pos, q[t.i] AS v
      FROM qv, UNNEST(generate_series(1, {dim})) AS t(i)
    ),
    samp AS (
      SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
      FROM qv WHERE vec_id % {modulus} = 0{sample_where}
    ),
    sl AS MATERIALIZED (
      SELECT vec_id, rn, t.i AS pos, q[t.i] AS v
      FROM samp, UNNEST(generate_series(1, {dim})) AS t(i)
      WHERE rn <= {cap}
    )"""


def _lloyd_stack(
    src: str, k: int, iters: int, sub: int, prefix: str = ""
) -> str:
    """One integer Lloyd replay over the long-form relation ``src``
    (columns vec_id, rn, pos, v — every v POSITIVE, see below):
    stride-spaced init ``{prefix}cb0`` from the rn-ordered rows, then
    ``iters`` chained (assignment, update) CTE pairs ending at
    ``{prefix}cb{iters}`` — centroids keyed (code, pos), the subspace
    id implied by pos (``sub == dim`` degenerates to one whole-vector
    group, i.e. IVF; the IVF-PQ oracle runs a second prefixed stack
    over offset RESIDUALS). Every quantity is integer: distances are
    integer sums (order-free), assignment ties break via
    MIN(d2 * k + code) % k (= NumPy's first-minimum argmin), centroid
    means are SUM // COUNT. Positivity is load-bearing for the means:
    DuckDB's ``//`` TRUNCATES toward zero while NumPy's floors — they
    agree only on non-negative operands, which the lattice offset
    guarantees (residual stacks re-add the offset for the same
    reason)."""
    p = prefix
    parts = [
        f""",
    {p}params AS (
      SELECT GREATEST(COUNT(DISTINCT rn) // {k}, 1) AS stride,
             COUNT(DISTINCT rn) AS n
      FROM {src}
    ),
    {p}cb0 AS MATERIALIZED (
      SELECT g.code, s.pos, s.v AS cv
      FROM (SELECT unnest(generate_series(0, {k - 1})) AS code) g
      CROSS JOIN {p}params p
      JOIN {src} s ON s.rn - 1 = (g.code * p.stride) % p.n
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
    {p}asg{t} AS MATERIALIZED (
      SELECT vec_id, j, MIN(d2 * {k} + code) % {k} AS code FROM (
        SELECT s.vec_id, (s.pos - 1) // {sub} AS j, c.code,
               SUM((s.v - c.cv) * (s.v - c.cv)) AS d2
        FROM {src} s JOIN {p}cb{t - 1} c ON s.pos = c.pos
        GROUP BY 1, 2, 3
      ) GROUP BY vec_id, j
    ),
    {p}cb{t} AS MATERIALIZED (
      SELECT p.code, p.pos, CAST(COALESCE(m.nv, p.cv) AS BIGINT) AS cv
      FROM {p}cb{t - 1} p LEFT JOIN (
        SELECT a.code, s.pos, SUM(s.v) // COUNT(*) AS nv
        FROM {p}asg{t} a
        JOIN {src} s ON a.vec_id = s.vec_id AND (s.pos - 1) // {sub} = a.j
        GROUP BY a.code, s.pos
      ) m ON p.code = m.code AND p.pos = m.pos
    )"""
        )
    return "".join(parts)


def _lattice_lloyd_ctes(
    k: int,
    iters: int,
    dim: int,
    sub: int,
    modulus: int = 4,
    cap: int = 100_000,
) -> str:
    """Base quantization CTEs + one unprefixed Lloyd stack over the
    sample — the shared prefix of the exact IVF and PQ oracles
    (operators/similarity.py:train_lattice_kmeans). DuckDB computes
    literally the same codebooks as the driver-side NumPy trainer —
    see _lloyd_stack for the exactness argument."""
    return _lattice_base_ctes(dim, modulus, cap) + _lloyd_stack(
        "sl", k, iters, sub
    )


def _ivf_exact_oracle(
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 3,
    max_qid: int = 100,
    iters: int = 4,
    dim: int = 64,
    sample_where: str = "",
    corpus_where: str = "",
    query_where: str | None = None,
) -> str:
    """Full-pipeline replay of ivf_ann_topk_exact: lattice Lloyd →
    inverted file → per-query ranked probes → sequential-fold cosine
    ranking of cell members (the established exact-parity form).
    ``sample_where``/``corpus_where``/``query_where`` carve the
    train / indexed / query populations — the frozen-index incremental
    entry trains and indexes HISTORY only while arrivals query."""
    vnorm = _sql_vnorm("embedding", dim)
    pair_dot = _sql_fold_dot("qn.embedding", "nn.embedding", dim)
    qw = (
        query_where
        if query_where is not None
        else f"cl.vec_id < {max_qid}"
    )
    return (
        _lattice_base_ctes(dim, sample_where=sample_where)
        + _lloyd_stack("sl", n_centroids, iters, dim)
        + f""",
    asgc AS MATERIALIZED (
      SELECT vec_id, CAST(MIN(d2 * {n_centroids} + code) % {n_centroids}
                     AS INT) AS cell
      FROM (
        SELECT cl.vec_id, c.code,
               SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
        FROM cl JOIN cb{iters} c ON cl.pos = c.pos
        WHERE 1 = 1{corpus_where}
        GROUP BY 1, 2
      ) GROUP BY vec_id
    ),
    qp AS (
      SELECT vec_id AS qid, CAST(code AS INT) AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS pr
      FROM (
        SELECT cl.vec_id, c.code,
               SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
        FROM cl JOIN cb{iters} c ON cl.pos = c.pos
        WHERE {qw}
        GROUP BY 1, 2
      )
    ),
    nrm AS (SELECT vec_id, embedding, {vnorm} AS nrm FROM embeddings),
    sims AS (
      SELECT p.qid, a.vec_id AS nid, a.cell,
             CASE WHEN qn.nrm * nn.nrm > 0
                  THEN {pair_dot} / (qn.nrm * nn.nrm)
                  ELSE -2.0 END AS cosine
      FROM qp p
      JOIN asgc a ON a.cell = p.cell AND a.vec_id <> p.qid
      JOIN nrm qn ON qn.vec_id = p.qid
      JOIN nrm nn ON nn.vec_id = a.vec_id
      WHERE p.pr <= {n_probe}
    )
    SELECT qid, nid, rank, ROUND(cosine, 4) AS cosine, cell FROM (
      SELECT qid, nid, cell, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY cosine DESC, nid) AS INT) AS rank
      FROM sims
    )
    WHERE rank <= {k}
    ORDER BY qid, rank
    """
    )


def _pq_exact_ctes(
    m: int = 32,
    n_codes: int = 64,
    max_qid: int = 100,
    iters: int = 4,
    dim: int = 64,
) -> str:
    """Shared replay of the lattice-PQ pipeline through the ranked ADC
    relation ``sims``: per-subspace lattice Lloyd codebooks → corpus
    encode (int argmin per subspace) → dequantized reconstructions
    (exact power-of-two divide) → sequential-fold ADC cosines with the
    zero-norm sentinel. _pq_exact_oracle cuts ``sims`` at k;
    _pq_rerank_exact_oracle re-scores its top-``candidates`` with the
    exact fold — the same one-ADC-pass-two-consumers split the Spark
    side uses."""
    from ..operators.similarity import LATTICE_OFFSET, LATTICE_SCALE

    sub = dim // m
    vnorm = _sql_vnorm("embedding", dim)
    rnorm = _sql_vnorm("rvec", dim)
    adc_dot = _sql_fold_dot("q.embedding", "r.rvec", dim)
    return (
        _lattice_lloyd_ctes(n_codes, iters, dim, sub)
        + f""",
    enc AS MATERIALIZED (
      SELECT vec_id, j, MIN(d2 * {n_codes} + code) % {n_codes} AS code
      FROM (
        SELECT cl.vec_id, (cl.pos - 1) // {sub} AS j, c.code,
               SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
        FROM cl JOIN cb{iters} c ON cl.pos = c.pos
        GROUP BY 1, 2, 3
      ) GROUP BY vec_id, j
    ),
    recon AS MATERIALIZED (
      SELECT e.vec_id AS nid,
             list(CAST(c.cv - {LATTICE_OFFSET} AS DOUBLE) / {LATTICE_SCALE}
                  ORDER BY c.pos) AS rvec
      FROM enc e JOIN cb{iters} c
        ON (c.pos - 1) // {sub} = e.j AND c.code = e.code
      GROUP BY e.vec_id
    ),
    rn2 AS (SELECT nid, rvec, {rnorm} AS rnrm FROM recon),
    qn AS (
      SELECT vec_id AS qid, embedding, {vnorm} AS qnrm
      FROM embeddings WHERE vec_id < {max_qid}
    ),
    sims AS (
      SELECT q.qid, r.nid,
             CASE WHEN q.qnrm * r.rnrm > 0
                  THEN {adc_dot} / (q.qnrm * r.rnrm)
                  ELSE -2.0 END AS approx_cosine
      FROM qn q, rn2 r
      WHERE r.nid <> q.qid
    )"""
    )


def _pq_exact_oracle(
    m: int = 32,
    n_codes: int = 64,
    k: int = 3,
    max_qid: int = 100,
    iters: int = 4,
    dim: int = 64,
) -> str:
    """Full-pipeline replay of pq_ann_topk_exact (see _pq_exact_ctes)."""
    return (
        _pq_exact_ctes(m, n_codes, max_qid, iters, dim)
        + f"""
    SELECT qid, nid, rank, ROUND(approx_cosine, 4) AS approx_cosine FROM (
      SELECT qid, nid, approx_cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY approx_cosine DESC, nid) AS INT) AS rank
      FROM sims
    )
    WHERE rank <= {k}
    ORDER BY qid, rank
    """
    )


def _pq_rerank_exact_oracle(
    m: int = 32,
    n_codes: int = 64,
    candidates: int = 50,
    k: int = 3,
    max_qid: int = 100,
    iters: int = 4,
    dim: int = 64,
) -> str:
    """Full-pipeline replay of the two-stage serving shape on the
    lattice index: the ranked ADC relation's top-``candidates`` rows per
    query form the shortlist, which is re-scored with the exact
    sequential-fold cosine over TRUE vectors and re-ranked — the FAISS
    refine pattern, end-to-end under value-hash."""
    vnorm = _sql_vnorm("embedding", dim)
    pair_dot = _sql_fold_dot("qv.embedding", "nv.embedding", dim)
    return (
        _pq_exact_ctes(m, n_codes, max_qid, iters, dim)
        + f""",
    shortlist AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY approx_cosine DESC, nid) AS rn
        FROM sims
      ) WHERE rn <= {candidates}
    ),
    nrm AS (SELECT vec_id, embedding, {vnorm} AS nrm FROM embeddings),
    rescored AS (
      SELECT s.qid, s.nid,
             CASE WHEN qv.nrm * nv.nrm > 0
                  THEN {pair_dot} / (qv.nrm * nv.nrm)
                  ELSE -2.0 END AS cosine
      FROM shortlist s
      JOIN nrm qv ON qv.vec_id = s.qid
      JOIN nrm nv ON nv.vec_id = s.nid
    )
    SELECT qid, nid, rank, ROUND(cosine, 4) AS cosine FROM (
      SELECT qid, nid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY cosine DESC, nid) AS INT) AS rank
      FROM rescored
    )
    WHERE rank <= {k}
    ORDER BY qid, rank
    """
    )


def _cluster_profile_oracle(
    n_centroids: int = 16, iters: int = 4, dim: int = 64
) -> str:
    """Replay of lattice_cluster_profile: Lloyd stack → corpus cells →
    per-vector integer distance to the OWN centroid → per-cell size,
    inertia, and majority label (ties to the lowest label)."""
    return (
        _lattice_base_ctes(dim)
        + _lloyd_stack("sl", n_centroids, iters, dim)
        + f""",
    asgc AS MATERIALIZED (
      SELECT vec_id,
             CAST(MIN(d2 * {n_centroids} + code) % {n_centroids} AS INT)
               AS cell
      FROM (
        SELECT cl.vec_id, c.code,
               SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
        FROM cl JOIN cb{iters} c ON cl.pos = c.pos
        GROUP BY 1, 2
      ) GROUP BY vec_id
    ),
    dist AS (
      SELECT cl.vec_id, SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
      FROM cl
      JOIN asgc a ON cl.vec_id = a.vec_id
      JOIN cb{iters} c ON c.code = a.cell AND c.pos = cl.pos
      GROUP BY cl.vec_id
    ),
    lab AS (
      SELECT e.vec_id, e.label, a.cell
      FROM embeddings e JOIN asgc a ON e.vec_id = a.vec_id
    ),
    sizes AS (
      SELECT l.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(d.d2) AS BIGINT) AS inertia
      FROM lab l JOIN dist d ON l.vec_id = d.vec_id
      GROUP BY 1
    ),
    pl AS (
      SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY 1, 2
    ),
    top AS (
      SELECT cell, label, n FROM (
        SELECT cell, label, n,
               ROW_NUMBER() OVER (PARTITION BY cell
                    ORDER BY n DESC, label) AS rn
        FROM pl
      ) WHERE rn = 1
    )
    SELECT s.cell, s.n_members, s.inertia,
           CAST(t.label AS INT) AS top_label, t.n AS top_label_n
    FROM sizes s JOIN top t ON s.cell = t.cell
    ORDER BY s.cell
    """
    )


@register(
    "embedding_cluster_profile",
    tier=1,  # extended clustering-analytics surface; the lattice index
    # machinery is tier-0-judged via
    # embedding_ivf_ann and the recall curve
    oracle=_cluster_profile_oracle(),
    doc="Per-cluster corpus analytics over the deterministic lattice "
    "k-means index (operators/similarity.py:lattice_cluster_profile) — "
    "the SemDeDup-style cluster-then-inspect read: for each of the 16 "
    "cells, member count, EXACT integer within-cluster inertia (sum of "
    "squared lattice distances to the cell centroid), and the majority "
    "class label with its count (ties to the lowest label). Balanced "
    "cells with high label purity mean the coarse quantizer respects "
    "corpus structure; a fat high-inertia cell is where near-dup "
    "mining and quality filters concentrate work. Shares the "
    "build-once index artifact with embedding_ivf_ann and the nprobe "
    "curve (one index, three consumers). FULLY oracled — the first "
    "k-means CLUSTERING query under value-hash: training replays via "
    "the Lloyd CTEs, assignment and inertia are integer, the majority "
    "vote is a count. Scale: centroids are plan literals, inertia is a "
    "codegen fold per row, both aggregates are map-side-combining hash "
    "aggregates keyed by k cells — one corpus pass, k-row output.",
)
def embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent, assigned = _lattice_ivf_index(spark, sf_dir)
    return similarity.lattice_cluster_profile(
        emb, cent, assigned, "vec_id", "embedding", "label"
    ).orderBy("cell")


def _elbow_oracle(ks: tuple[int, ...] = (4, 8, 16), iters: int = 4, dim: int = 64) -> str:
    """Replay of lattice_elbow: one prefixed Lloyd stack per candidate
    k over the SAME sample, then per-k corpus inertia = sum of MIN
    squared distance over codes (the elbow needs min-distance only —
    no assignment materializes on either engine)."""
    parts = [_lattice_base_ctes(dim)]
    for i, k in enumerate(ks):
        parts.append(_lloyd_stack("sl", k, iters, dim, prefix=f"e{i}_"))
    selects = []
    for i, k in enumerate(ks):
        selects.append(
            f"""
      SELECT CAST({k} AS INT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(md) AS BIGINT) AS inertia
      FROM (
        SELECT vec_id, MIN(d2) AS md FROM (
          SELECT cl.vec_id, c.code,
                 SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
          FROM cl JOIN e{i}_cb{iters} c ON cl.pos = c.pos
          GROUP BY 1, 2
        ) GROUP BY vec_id
      )"""
        )
    union = "\n      UNION ALL".join(selects)
    return "".join(parts) + f"""
    SELECT k, n_vectors, inertia FROM ({union}
    ) ORDER BY k
    """


@register(
    "embedding_elbow_curve",
    tier=1,  # extended clustering-analytics surface
    oracle=_elbow_oracle(),
    doc="K-selection elbow curve over deterministic lattice k-means "
    "(operators/similarity.py:lattice_elbow): EXACT integer corpus "
    "inertia (sum of squared lattice distance to the nearest centroid) "
    "for k in {4, 8, 16}, each candidate trained by the same int64 "
    "Lloyd on the same sample — the model-selection read run before "
    "committing to a cell count (SemDeDup picks its cluster count this "
    "way; the IVF tier picks n_centroids). FULLY oracled: three "
    "prefixed Lloyd replays share one sample CTE, and inertia needs "
    "only MIN distance, so no assignment materializes on either "
    "engine. Scale: training is sample-bounded per k; ONE Arrow pass "
    "scores all candidates with per-batch (k, count, sum) partials — "
    "k rows per batch move, never the corpus.",
)
def embedding_elbow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    Xq = similarity.collect_lattice_sample(emb, "vec_id", "embedding")
    cents = {
        k: similarity.train_lattice_kmeans(Xq, k) for k in (4, 8, 16)
    }
    return similarity.lattice_elbow(emb, cents, "vec_id", "embedding").orderBy(
        "k"
    )


@register(
    "incremental_lattice_arrivals",
    tier=1,  # extended incremental-ANN surface; the frozen-index
    # contract's tier-0 sibling is incremental SQ8 machinery +
    # embedding_ivf_ann (same index code path, driver-judged)
    oracle=_ivf_exact_oracle(
        sample_where=" AND vec_id % 5 <> 4",
        corpus_where=" AND cl.vec_id % 5 <> 4",
        query_where="cl.vec_id % 5 = 4 AND cl.vec_id < 200",
    ),
    doc="Frozen-index incremental ANN on the deterministic lattice tier "
    "— the daily-ingest contract incremental_sq8_arrivals pins, now on "
    "k-means itself: the 80% of vectors with vec_id %% 5 != 4 play "
    "history (quantizer TRAINED on history's sample only, inverted "
    "file built over history only), and the 20% arrival batch probes "
    "that index without re-training or re-assigning anything — "
    "deterministic quantization means arrivals assign to frozen cells "
    "bit-exactly, the property a float quantizer cannot give an "
    "incremental pipeline. FULL value-hash oracle: same Lloyd replay "
    "with the train/index/query populations carved by filters. Scale: "
    "per-day cost is the arrival batch's probe + the per-cell search "
    "join against history's at-rest inverted file; history text/vectors "
    "are never rescanned past the one-time index build.",
)
def incremental_lattice_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    history = emb.filter(F.col("vec_id") % 5 != 4)
    arrivals = emb.select("vec_id").filter(
        (F.col("vec_id") % 5 == 4) & (F.col("vec_id") < 200)
    )
    index = similarity.ivf_exact_index(
        history, "vec_id", "embedding", n_centroids=16
    )
    return similarity.ivf_ann_topk_exact(
        emb, arrivals, "vec_id", "embedding",
        n_centroids=16, n_probe=2, k=3, index=index,
    ).orderBy("qid", "rank")


def _ivf_pq_exact_oracle(
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 32,
    n_codes: int = 64,
    k: int = 3,
    max_qid: int = 100,
    iters: int = 4,
    dim: int = 64,
) -> str:
    """Full-pipeline replay of ivf_pq_ann_topk_exact: coarse lattice
    Lloyd (unprefixed stack) → offset RESIDUALS of the sample → a
    second, r-prefixed Lloyd stack training the per-subspace residual
    codebooks → corpus cell-assign + residual-encode → reconstructions
    recon = cent[cell] + (book - offset) → per-query ranked cell probes
    → fold-cosine ADC ranking with the zero-norm sentinel."""
    from ..operators.similarity import LATTICE_OFFSET, LATTICE_SCALE

    sub = dim // m
    vnorm = _sql_vnorm("embedding", dim)
    rnorm = _sql_vnorm("rvec", dim)
    adc_dot = _sql_fold_dot("q.embedding", "r.rvec", dim)
    return (
        _lattice_base_ctes(dim)
        + _lloyd_stack("sl", n_centroids, iters, dim)
        + f""",
    sasg AS MATERIALIZED (
      SELECT vec_id, MIN(d2 * {n_centroids} + code) % {n_centroids} AS cell
      FROM (
        SELECT sl.vec_id, c.code,
               SUM((sl.v - c.cv) * (sl.v - c.cv)) AS d2
        FROM sl JOIN cb{iters} c ON sl.pos = c.pos
        GROUP BY 1, 2
      ) GROUP BY vec_id
    ),
    rl AS MATERIALIZED (
      SELECT sl.vec_id, sl.rn, sl.pos,
             sl.v - c.cv + {LATTICE_OFFSET} AS v
      FROM sl
      JOIN sasg a ON sl.vec_id = a.vec_id
      JOIN cb{iters} c ON c.code = a.cell AND c.pos = sl.pos
    )"""
        + _lloyd_stack("rl", n_codes, iters, sub, prefix="r")
        + f""",
    casg AS MATERIALIZED (
      SELECT vec_id,
             CAST(MIN(d2 * {n_centroids} + code) % {n_centroids} AS INT)
               AS cell
      FROM (
        SELECT cl.vec_id, c.code,
               SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
        FROM cl JOIN cb{iters} c ON cl.pos = c.pos
        GROUP BY 1, 2
      ) GROUP BY vec_id
    ),
    crl AS MATERIALIZED (
      SELECT cl.vec_id, cl.pos,
             cl.v - c.cv + {LATTICE_OFFSET} AS v
      FROM cl
      JOIN casg a ON cl.vec_id = a.vec_id
      JOIN cb{iters} c ON c.code = a.cell AND c.pos = cl.pos
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, j, MIN(d2 * {n_codes} + code) % {n_codes} AS code
      FROM (
        SELECT crl.vec_id, (crl.pos - 1) // {sub} AS j, b.code,
               SUM((crl.v - b.cv) * (crl.v - b.cv)) AS d2
        FROM crl JOIN rcb{iters} b ON crl.pos = b.pos
        GROUP BY 1, 2, 3
      ) GROUP BY vec_id, j
    ),
    recon AS MATERIALIZED (
      SELECT e.vec_id AS nid, a.cell,
             list(CAST(c.cv + b.cv - {2 * LATTICE_OFFSET} AS DOUBLE)
                  / {LATTICE_SCALE} ORDER BY b.pos) AS rvec
      FROM enc e
      JOIN casg a ON a.vec_id = e.vec_id
      JOIN rcb{iters} b ON (b.pos - 1) // {sub} = e.j AND b.code = e.code
      JOIN cb{iters} c ON c.code = a.cell AND c.pos = b.pos
      GROUP BY e.vec_id, a.cell
    ),
    rn2 AS (SELECT nid, cell, rvec, {rnorm} AS rnrm FROM recon),
    qp AS (
      SELECT vec_id AS qid, CAST(code AS INT) AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, code) AS pr
      FROM (
        SELECT cl.vec_id, c.code,
               SUM((cl.v - c.cv) * (cl.v - c.cv)) AS d2
        FROM cl JOIN cb{iters} c ON cl.pos = c.pos
        WHERE cl.vec_id < {max_qid}
        GROUP BY 1, 2
      )
    ),
    qn AS (
      SELECT vec_id AS qid, embedding, {vnorm} AS qnrm
      FROM embeddings WHERE vec_id < {max_qid}
    ),
    sims AS (
      SELECT p.qid, r.nid, r.cell,
             CASE WHEN q.qnrm * r.rnrm > 0
                  THEN {adc_dot} / (q.qnrm * r.rnrm)
                  ELSE -2.0 END AS approx_cosine
      FROM qp p
      JOIN rn2 r ON r.cell = p.cell AND r.nid <> p.qid
      JOIN qn q ON q.qid = p.qid
      WHERE p.pr <= {n_probe}
    )
    SELECT qid, nid, rank, ROUND(approx_cosine, 4) AS approx_cosine, cell
    FROM (
      SELECT qid, nid, cell, approx_cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY approx_cosine DESC, nid) AS INT) AS rank
      FROM sims
    )
    WHERE rank <= {k}
    ORDER BY qid, rank
    """
    )


def _lattice_ivf_index(spark: SparkSession, sf_dir: str):
    """The deterministic integer-lattice IVF index (16 cells) as a
    build-once artifact: {'cent': int64 centroids, 'assigned': inverted
    file, checkpointed} — shared by embedding_ivf_ann, the
    ivf_nprobe_recall_curve sweep, and embedding_cluster_profile (the
    FAISS index.add-once split: one index, three consumers).
    Stored as a dict so evict_artifacts unpersists the DataFrame."""
    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        cent, assigned = similarity.ivf_exact_index(
            emb, "vec_id", "embedding", n_centroids=16
        )
        return {
            "cent": cent,
            "assigned": assigned.localCheckpoint(eager=True),
        }

    art = _artifact(spark, sf_dir, "lattice-ivf-16", build)
    return art["cent"], art["assigned"]


def _lattice_pq_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic lattice-PQ index (32 subspaces x 64 codes) in
    dequantized form, as a build-once artifact — train + encode + decode
    run once per (session, sf_dir); embedding_pq_ann and pq_recall_audit
    both search this materialization (index.add once, search many)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _artifact(
        spark,
        sf_dir,
        "lattice-pq-recon-32x64",
        lambda: similarity.pq_exact_recon(
            emb, "vec_id", "embedding", m=32, n_codes=64
        ).localCheckpoint(eager=True),
    )


def _lattice_ivfpq_index(spark: SparkSession, sf_dir: str):
    """The deterministic lattice IVF-PQ index (16 cells, residuals in 32
    subspaces x 64 codes) as a build-once artifact: (int64 centroids,
    checkpointed recon) — embedding_ivfpq_ann and pq_recall_audit both
    search it. Stored as a dict so evict_artifacts unpersists the
    DataFrame."""
    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        cent, recon = similarity.ivf_pq_exact_index(
            emb, "vec_id", "embedding", n_centroids=16, m=32, n_codes=64
        )
        return {"cent": cent, "recon": recon.localCheckpoint(eager=True)}

    art = _artifact(spark, sf_dir, "lattice-ivfpq-16x32x64", build)
    return art["cent"], art["recon"]


@register(
    "embedding_ivf_ann",
    tier=0,  # in the judged window: the integer-lattice deterministic
    # k-means under FULL value-hash
    oracle=_ivf_exact_oracle(),
    doc="IVF approximate top-k (the coarse-quantizer alternative to "
    "hyperplane LSH) on the INTEGER-LATTICE deterministic index "
    "(operators/similarity.py:ivf_ann_topk_exact): vectors quantize to "
    "the 1/1024 lattice (power-of-two scale — the quantization itself "
    "is exact, no rounding), Lloyd's k-means runs entirely in int64 "
    "(order-free sums, argmin ties to the lowest cell, integer-mean "
    "updates) with stride-spaced deterministic seeding, queries probe "
    "their 2 nearest of 16 cells, and cell members rank by the "
    "sequential-fold exact cosine. FULL value-hash oracle since r8 — "
    "the SQL replays training iteration by iteration and lands on "
    "bit-identical centroids, closing the k-means determinism gap that "
    "kept this tier rows-only (the float-mean trainer stays available "
    "as the engine-specific path). Scale: training state is k x dim "
    "ints from a bounded id-ordered sample; the corpus passes are one "
    "Arrow int-matmul assignment (bit-equal to the fold by exactness) "
    "and the per-cell search join; candidate set ~n_probe/n_centroids "
    "of the corpus.",
)
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 100)
    index = _lattice_ivf_index(spark, sf_dir)
    return similarity.ivf_ann_topk_exact(
        emb, qids, "vec_id", "embedding",
        n_centroids=16, n_probe=2, k=3, index=index,
    ).orderBy("qid", "rank")


@register(
    "embedding_pq_ann",
    tier=0,  # in the judged window: lattice-PQ encode/decode/ADC under
    # FULL value-hash
    oracle=_pq_exact_oracle(),
    doc="Product-quantization ANN (Jegou et al. TPAMI'11) on INTEGER-"
    "LATTICE deterministic codebooks (operators/similarity.py:"
    "pq_ann_topk_exact): 32 subspaces x 64 codes trained by the same "
    "int64 Lloyd as the IVF tier (per-subspace), corpus encoded by "
    "integer argmin (ties to the lowest code), queries ranked by ADC — "
    "computed as the exact-parity fold cosine against the DEQUANTIZED "
    "reconstruction, which is mathematically identical to the per-"
    "subspace LUT sum (the dot product decomposes over subspaces). "
    "FULL value-hash oracle since r8: quantize, train, encode, decode "
    "(power-of-two divide — exact), and rank all replay bit-for-bit in "
    "SQL. Recall at this config is 0.72-0.80 vs the exact baseline "
    "(audited by pq_recall_audit). Scale: the memory tier — at rest "
    "the corpus stores m int codes per vector (16x smaller); encoding "
    "is one Arrow map pass; search broadcasts the bounded query set; "
    "composes with IVF cells as IVF-PQ (embedding_ivfpq_ann).",
)
def embedding_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 100)
    return similarity.pq_ann_topk_exact(
        emb, qids, m=32, n_codes=64, k=3,
        recon=_lattice_pq_recon(spark, sf_dir),
    ).orderBy("qid", "rank")


def _cosine_neardup_oracle(
    threshold: float = 0.3, n_planes: int = 6, dim: int = 64, seed: int = 7
) -> str:
    """Same plane-literal / sequential-fold construction as _lsh_oracle,
    final shape = near-dup pairs above the cosine threshold."""
    planes = similarity.hyperplane_planes(dim, n_planes, seed)

    def dot(vec: str, lits: list[float]) -> str:
        return _sql_dot(vec, lits, dim)

    bucket = " + ".join(
        f"(CASE WHEN {dot('embedding', p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    vnorm = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        "j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))), "
        "(a, b) -> a + b))"
    )
    pair_dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))), "
        f"(a, b) -> a + b)"
    )
    return f"""
    WITH bkt AS (
      SELECT vec_id, embedding,
             CAST({bucket} AS BIGINT) AS bucket,
             {vnorm} AS nrm
      FROM embeddings
    )
    SELECT d1, d2, ROUND(cosine, 4) AS cosine FROM (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             {pair_dot} / (a.nrm * b.nrm) AS cosine
      FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    WHERE cosine >= {threshold}
    ORDER BY d1, d2
    """


@register(
    "embedding_neardup_pairs",
    tier=1,  # embedding near-dup stays judged via semantic_dedup_stats
    oracle=_cosine_neardup_oracle(),
    min_rows=0,  # a corpus may genuinely have no near-dup embeddings
    doc="Embedding-cosine near-dup — the fifth dedup family: same-LSH-"
    "bucket pairs with exact double-fold cosine >= threshold "
    "(operators/similarity.py:cosine_near_dup_pairs). The driver's "
    "synthetic embeddings have no planted near-dups (max pairwise cosine "
    "~0.5), so the threshold sits at the distribution's high tail to "
    "exercise the operator; at dedup-grade thresholds high-sim pairs "
    "share buckets w.p. (1-θ/π)^planes. Fully oracle-checked via the "
    "plane-literal SQL construction. Scale: candidate pairs per bucket, "
    "never all-pairs; the threshold filter runs before any shuffle of "
    "pair rows.",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.3
    ).orderBy("d1", "d2")


@register(
    "multimodal_embed_ann",
    tier=1,  # multimodal x ANN intersection co-judged by
    # multimodal_real_decode/_audio_meta + the tier-0 ANN audits; oracle local
    oracle="""
    WITH hx AS (
      SELECT doc_id AS asset_id,
             sha256(text || '0') AS h0,
             sha256(text || '1') AS h1
      FROM documents
    ),
    emb AS (
      SELECT asset_id,
             list_transform(generate_series(1, 64), j ->
               ((instr('0123456789abcdef',
                       substr(CASE WHEN j <= 32 THEN h0 ELSE h1 END,
                              2 * (CASE WHEN j <= 32 THEN j ELSE j - 32 END) - 1, 1)) - 1) * 16
                + instr('0123456789abcdef',
                        substr(CASE WHEN j <= 32 THEN h0 ELSE h1 END,
                               2 * (CASE WHEN j <= 32 THEN j ELSE j - 32 END), 1)) - 1)
               / 128.0 - 1.0
             ) AS embedding
      FROM hx
    ),
    q AS (SELECT asset_id AS qid, embedding AS qvec FROM emb WHERE asset_id < 10),
    sims AS (
      SELECT q.qid, e.asset_id AS nid,
             list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
             / ( sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) )
             AS cosine
      FROM q JOIN emb e ON e.asset_id <> q.qid
    )
    SELECT qid, nid, rank, ROUND(cosine, 4) AS cosine FROM (
      SELECT qid, nid, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rank
      FROM sims
    )
    WHERE rank <= 3
    ORDER BY qid, rank
    """,
    doc="The multimodal composite flagship: opaque binary payloads → "
    "Arrow-batched feature extraction (counter-mode sha256 stand-in for "
    "a real encoder, operators/multimodal.py:embed_assets) → the same "
    "exact cosine top-k the embeddings table uses — decode→embed→ANN "
    "with no glue. Fully oracle-checked: ASCII counter suffix + exact "
    "dyadic byte→float mapping reproduce the embeddings in SQL, so even "
    "the Python feature stage hash-matches. Scale: embedding is one "
    "Arrow pass over pruned payloads; search is the bounded-Q broadcast "
    "pattern (LSH/IVF are the unbounded-Q paths).",
)
def multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.documents_as_assets(docs)
    emb = multimodal.embed_assets(assets, dim=64)
    qids = emb.select("asset_id").filter(F.col("asset_id") < 10)
    return similarity.cosine_topk(emb, qids, "asset_id", "embedding", k=3).orderBy(
        "qid", "rank"
    )


