"""Similarity search over embedding columns (``array<float>``).

Paths, per the scale ladder:

- **Brute-force cosine top-k** — the exactness baseline. Queries broadcast
  against the candidate set; all arithmetic is promoted to double with a
  fixed left-to-right summation order so results are bit-identical to a
  SQL oracle computing the same fold.
- **Random-hyperplane LSH** — vectors bucket by the sign pattern of
  ``n_planes`` fixed projections; top-k runs within buckets only. Planes
  are generated from a seeded NumPy RNG on the driver and shipped as
  literal arrays (deterministic across runs; no state).
- **SQ8 scalar quantization** — per-dimension 8-bit codes calibrated on
  exact corpus extremes.
- **Integer-lattice IVF / PQ / IVF-PQ** (the ``*_exact`` functions) —
  k-means quantizers trained in int64 so every stage replays bit-for-bit
  in SQL; see the section banner below.

Never an unbucketed all-pairs crossJoin at scale: brute force is O(Q×N)
and only sane while Q is small; LSH makes the candidate set per query
O(N / 2^planes) in expectation, IVF ~O(N × n_probe / n_centroids).

Every operator scores pairs with the one :func:`cosine`, which carries
the -2.0 zero-norm sentinel the oracles encode.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _dot_double(a: Column, b: Column) -> Column:
    """Σ a_i·b_i with every element cast to double before multiply and a
    sequential fold — the exact-parity form (matches the SQL oracle's
    list_sum over doubles, same order, same rounding)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def vector_norm(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sqrt(_dot_double(c, c))


def cosine(
    a_vec: Column | str, b_vec: Column | str, a_norm: Column | str, b_norm: Column | str
) -> Column:
    """Cosine of two vectors given their norms — the one cosine of every
    operator in this package. A zero norm on either side yields the
    sentinel -2.0 (below every real cosine, so the pair ranks last and
    clears no threshold; the oracles encode the same CASE guard) instead
    of dividing by zero, which raises ``DIVIDE_BY_ZERO`` under ANSI.
    Multiplication commutes in IEEE doubles, so argument order does not
    change a bit of the result."""
    a_vec, b_vec, a_norm, b_norm = (
        F.col(c) if isinstance(c, str) else c for c in (a_vec, b_vec, a_norm, b_norm)
    )
    denom = a_norm * b_norm
    return F.when(denom > 0, _dot_double(a_vec, b_vec) / denom).otherwise(
        F.lit(-2.0)
    )


def cosine_topk(
    vectors: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``query_ids``: DataFrame with the query id column (defaults to all
    vectors — full all-pairs; only for tiny sets). The query side is
    broadcast: the big candidate scan never shuffles; ranking is a
    per-query window over the joined stream. ``candidates`` (default:
    ``vectors``) searches a DIFFERENT pool — the cross-pool/incremental
    shape.
    """
    pool = vectors if candidates is None else candidates
    cand = pool.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("nnorm", vector_norm("nvec"))
    q = vectors
    if query_ids is not None:
        q = vectors.join(query_ids, id_col, "left_semi")
    q = q.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")).withColumn(
        "qnorm", vector_norm("qvec")
    )
    sim = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cosine", cosine("qvec", "nvec", "qnorm", "nnorm"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("cosine", 4).alias("cosine"))
    )


def hyperplane_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded Gaussian)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(float).tolist()


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit *i* set iff ``vec · plane_i > 0``.

    The planes arrive as literal arrays, so the whole bucket computation is
    a codegen expression over the vector column — no UDF, no shuffle.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = _dot_double(c, lit_plane)
        bucket = bucket + F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
    return bucket


def cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the fifth dedup family: all
    same-bucket pairs with cosine ≥ ``threshold``, shaped like the text
    near-dup outputs (d1, d2, similarity).

    Same LSH bucketing as :func:`lsh_ann_topk` (candidate generation is
    what makes this linear-ish instead of all-pairs); within buckets the
    exact double-fold cosine decides. High-similarity pairs land in the
    same bucket with probability (1 - θ/π)^planes, so at a dedup-grade
    threshold the recall loss is small and multi-probe recovers the rest.
    """
    planes = hyperplane_planes(dim, n_planes, seed)
    bucketed = vectors.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(vec_col, planes).alias("bucket")
    ).withColumn("nrm", vector_norm(vec_col))
    a = bucketed.select(
        F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"), "bucket",
        F.col("nrm").alias("n1"),
    )
    b = bucketed.select(
        F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"), "bucket",
        F.col("nrm").alias("n2"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("cosine", cosine("v1", "v2", "n1", "n2"))
        .filter(F.col("cosine") >= threshold)
        .select("d1", "d2", F.round("cosine", 4).alias("cosine"))
    )


def probe_buckets(home: Column, n_planes: int) -> Column:
    """The multi-probe set of a sign-pattern bucket (Lv et al.,
    "Multi-Probe LSH", VLDB'07): ``home`` plus the ``n_planes`` buckets
    one sign bit away. The ``n_planes + 1`` buckets are distinct, so a
    probing row meets each bucket's members at most once."""
    return F.array(
        home, *[home.bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)]
    )


def lsh_ann_topk(
    vectors: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    k: int = 3,
    dim: int = 64,
    seed: int = 7,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signs, rank within bucket.
    Returns (qid, nid, rank, cosine, bucket), ``bucket`` being the
    neighbour's bucket.

    Expected candidate set per query shrinks by ~2^n_planes; recall is
    traded for the vanished crossJoin. ``query_ids`` (default: every
    vector) bounds the query side; its id list joins as a broadcast.
    ``multiprobe`` searches each query's :func:`probe_buckets` instead
    of its home bucket alone: a true neighbour one hyperplane away is
    recovered at the cost of ~(n_planes+1)x candidates, not of more hash
    tables. The probe explode is query-side only — the corpus side stays
    one row per vector, bucketed once, and the join stays a plain
    equi-join on the bucket id.
    """
    planes = hyperplane_planes(dim, n_planes, seed)
    bucketed = vectors.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(vec_col, planes).alias("bucket")
    )
    q = bucketed
    if query_ids is not None:
        q = q.join(F.broadcast(query_ids.select(id_col)), id_col)
    probes = q.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"), "bucket"
    ).withColumn("qnorm", vector_norm("qvec"))
    if multiprobe:
        probes = probes.withColumn(
            "bucket", F.explode(probe_buckets(F.col("bucket"), n_planes))
        )
    b = bucketed.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"), "bucket"
    ).withColumn("nnorm", vector_norm("nvec"))
    sim = (
        probes.join(b, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cosine", cosine("qvec", "nvec", "qnorm", "nnorm"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("cosine", 4).alias("cosine"), "bucket")
    )


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str
) -> DataFrame:
    """Per-group vector centroid in LONG form: (group, pos, centroid)
    rows, pos 1-based — elementwise mean of the group's embeddings.

    The vector-aggregation shape (class centroids for analysis, IVF
    warm starts, prototype-based labeling) expressed scale-first:
    ``posexplode`` turns each vector into (group, pos, value) rows, so
    the aggregate is an ordinary two-phase hash aggregate over
    |groups| x dim cells — partials combine map-side, no group ever
    needs its vectors materialized together (``collect_list`` + fold
    per group would, and dies on a billion-row group). Reassemble with
    ``array_agg`` sorted by pos if a wide array is needed downstream.
    """
    exploded = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    return (
        exploded.groupBy(group_col, (F.col("pos") + 1).alias("pos"))
        .agg(F.avg(F.col("v").cast("double")).alias("centroid"))
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public methodology: Abbas et
    al. 2023): drop embeddings whose cosine similarity to a lower-id
    vector exceeds ``threshold``, keeping the lowest id of each near-dup
    pair. Returns the input ids with a ``sem_dropped`` flag.

    Keeper policy is the greedy pair rule (a vector is dropped iff it is
    the HIGHER id of at least one near-dup pair), the same keep-one-per-
    duplicate-group approximation SemDeDup applies inside its k-means
    clusters. The exact transitive variant is available by feeding
    :func:`cosine_near_dup_pairs` through
    `operators/dedup.py:connected_components` — the greedy rule avoids
    the iterative fixpoint and is what production pipelines run.

    Scale: candidate pairs come LSH-bucketed (never all-pairs); the drop
    set is distinct ids only — O(dropped) — and joins back as a
    broadcast-able or shuffle semi-join on the id key.
    """
    pairs = cosine_near_dup_pairs(
        vectors, id_col, vec_col, threshold, n_planes, dim, seed
    )
    dropped = pairs.select(F.col("d2").alias(id_col)).distinct()
    return vectors.select(id_col).join(
        dropped.withColumn("sem_dropped", F.lit(True)), id_col, "left"
    ).select(id_col, F.coalesce("sem_dropped", F.lit(False)).alias("sem_dropped"))


def semantic_dedup_by_quality(
    vectors: DataFrame,
    quality: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quality_col: str = "quality",
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Quality-aware SemDeDup keeper: within every cosine near-dup pair
    drop the LOWER-quality member (ties drop the higher id) — the policy
    SemDeDup/D4-style pipelines actually want, since near-dup groups
    should surrender their worst copy, not their newest id.

    ``quality`` carries one score per id (any deterministic signal:
    length×diversity, a classifier score, LM perplexity). A vector is
    dropped iff it loses at least one pair comparison — the same greedy
    pair rule as :func:`semantic_dedup`, with quality as the order.

    Scale: identical to :func:`semantic_dedup` (LSH-bucketed pairs,
    O(dropped) distinct ids) plus two id-keyed joins of the pair stream
    against the quality relation — (id, double) rows, never vectors.
    """
    pairs = cosine_near_dup_pairs(
        vectors, id_col, vec_col, threshold, n_planes, dim, seed
    )
    q1 = quality.select(
        F.col(id_col).alias("d1"), F.col(quality_col).alias("__q1")
    )
    q2 = quality.select(
        F.col(id_col).alias("d2"), F.col(quality_col).alias("__q2")
    )
    losers = (
        pairs.join(q1, "d1")
        .join(q2, "d2")
        .select(
            F.when(F.col("__q1") < F.col("__q2"), F.col("d1"))
            .otherwise(F.col("d2"))
            .alias(id_col)
        )
        .distinct()
    )
    return vectors.select(id_col).join(
        losers.withColumn("sem_dropped", F.lit(True)), id_col, "left"
    ).select(id_col, F.coalesce("sem_dropped", F.lit(False)).alias("sem_dropped"))


def hard_negative_mining(
    vectors: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training (the
    in-batch-negatives upgrade every retrieval/embedding recipe uses —
    e.g. DPR, Sentence-BERT training): for each query, the ``k`` most
    similar vectors carrying a DIFFERENT label. High-cosine wrong-label
    neighbors are exactly the examples a contrastive loss learns most
    from.

    Same plan shape as :func:`cosine_topk` (broadcast bounded query
    side, candidate scan never shuffles) with the label-mismatch
    predicate pushed into the similarity join, so same-label pairs never
    reach the ranking window. Swap the scan for the LSH/IVF candidate
    generators when the corpus outgrows the exact path — the predicate
    composes unchanged.
    """
    cand = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        F.col(label_col).alias("nlabel"),
    ).withColumn("nnorm", vector_norm("nvec"))
    q = vectors
    if query_ids is not None:
        q = vectors.join(query_ids, id_col, "left_semi")
    q = q.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
    ).withColumn("qnorm", vector_norm("qvec"))
    sim = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("nlabel") != F.col("qlabel"))
        .withColumn("cosine", cosine("qvec", "nvec", "qnorm", "nnorm"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "qlabel",
            "nid",
            F.col("nlabel").alias("neg_label"),
            "rank",
            F.round("cosine", 4).alias("cosine"),
        )
    )


def positive_pair_mining(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Positive-pair mining — the contrastive-positives sibling of
    :func:`hard_negative_mining`: SAME-label pairs with cosine ≥
    ``threshold`` (paraphrase/anchor-positive candidates for
    Sentence-BERT-style training).

    Same LSH-bucketed candidate generation as
    :func:`cosine_near_dup_pairs` with the label-equality predicate
    pushed into the bucket join — cross-label pairs never materialize.
    Output: (d1, d2, label, cosine), each pair once (d1 < d2).
    """
    planes = hyperplane_planes(dim, n_planes, seed)
    bucketed = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(label_col),
        lsh_bucket(vec_col, planes).alias("bucket"),
    ).withColumn("nrm", vector_norm(vec_col))
    a = bucketed.select(
        F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"),
        F.col(label_col).alias("l1"), "bucket", F.col("nrm").alias("n1"),
    )
    b = bucketed.select(
        F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"),
        F.col(label_col).alias("l2"), "bucket", F.col("nrm").alias("n2"),
    )
    return (
        a.join(b, "bucket")
        .filter((F.col("d1") < F.col("d2")) & (F.col("l1") == F.col("l2")))
        .withColumn("cosine", cosine("v1", "v2", "n1", "n2"))
        .filter(F.col("cosine") >= threshold)
        .select("d1", "d2", F.col("l1").alias("label"), F.round("cosine", 4).alias("cosine"))
    )


def pq_rerank_topk(
    vectors: DataFrame,
    query_ids: DataFrame,
    shortlist: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Two-stage retrieval: PQ ADC shortlist → EXACT re-rank — the
    standard compressed-index serving pattern (FAISS refine / ScaNN
    reordering): the cheap quantized pass keeps a few candidate ids per
    query, then full vectors are fetched for just that shortlist and
    re-scored with exact cosine.

    Why this shape at scale: exact scoring touches candidates×queries
    vectors instead of corpus×queries — the full-precision corpus stays
    at rest (cold storage / parquet) and only shortlist rows are
    fetched, via an id-keyed semi-join that Spark executes as a hash
    join on (query, candidate) pairs. Recovers most of the recall PQ
    loses while paying PQ's scan cost.

    ``shortlist``: the (qid, nid) candidate relation of an ADC pass,
    e.g. :func:`pq_ann_topk_exact` at ``k=50`` — one search then serves
    both the plain-PQ answer (its ``rank <= k`` prefix) and this
    re-rank's input.
    """
    shortlist = shortlist.select("qid", "nid")
    q = (
        vectors.join(F.broadcast(query_ids.select(id_col)), id_col)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
        .withColumn("qnorm", vector_norm("qvec"))
    )
    cand = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("nnorm", vector_norm("nvec"))
    rescored = (
        shortlist.join(F.broadcast(q), "qid")
        .join(cand, "nid")
        .withColumn("cosine", cosine("qvec", "nvec", "qnorm", "nnorm"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("cosine", 4).alias("cosine"))
    )


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int = 16,
    seed: int = 11,
    dim: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: (id, proj array<double>)
    with ``proj_j = dot(vec, g_j) / sqrt(out_dim)`` over seeded Gaussian
    rows (reusing :func:`hyperplane_planes` as the projection matrix).

    The dimensionality-reduction step embedding pipelines run before
    ANN/clustering when vectors are fat: pairwise distances are
    preserved within (1±eps) w.h.p. for out_dim = O(log n / eps^2),
    and downstream distance arithmetic shrinks dim/out_dim-fold.

    Exactness contract: sequential-fold dots over doubles and a
    power-of-two default scale (1/sqrt(16) = 0.25 exactly), so
    projections — and any distance computed from them the same way —
    are bit-identical in the SQL oracle. Scale: a pure map (out_dim
    folds per row), no shuffle; the matrix is literals in the plan.
    """
    planes = hyperplane_planes(dim, out_dim, seed)
    v = F.col(vec_col)
    # Fail FAST on a dim mismatch instead of silently null-padding:
    # zip_with pads the shorter side with NULLs, which would turn every
    # projection into NULL without an error. The assert is fused into the
    # (used) scale factor — assert_true yields NULL on success, so
    # `scale + 0.0` is exact and the guard can't be pruned as unused.
    guard = F.assert_true(
        F.size(v) == F.lit(dim),
        F.lit(f"jl_project: expected {dim}-d vectors in column {vec_col!r}"),
    ).cast("double")
    scale = F.lit(1.0 / float(out_dim) ** 0.5) + F.coalesce(guard, F.lit(0.0))
    proj = F.array(
        *[
            _dot_double(v, F.array(*[F.lit(float(x)) for x in p])) * scale
            for p in planes
        ]
    )
    return df.select(F.col(id_col), proj.alias("proj"))


def margin_bitext_pairs(
    src: DataFrame,
    tgt: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    threshold: float = 1.0,
) -> DataFrame:
    """Margin-based parallel-pair mining between two embedding pools —
    the bitext/translation-pair miner of multilingual corpus construction
    (Artetxe & Schwenk 2019 "Margin-based Parallel Corpus Mining", the
    LASER/CCMatrix recipe): a raw cosine threshold over-accepts hubs
    (vectors close to everything), so each candidate pair (x, y) is
    scored by its cosine RELATIVE to both endpoints' neighborhoods,
    margin = cos(x,y) / ((avgk(x→tgt) + avgk(y→src)) / 2), and each
    source keeps only its best-margin target, accepted iff margin >=
    ``threshold``.

    Cross-engine determinism: per-pair cosines use the sequential fold
    (bit-identical to the oracle's list_reduce), then quantize to 1e-4
    integer units — every downstream sum/average/ratio is arithmetic
    over exact integers, so the margin, the per-source argmax, and the
    accept boolean replay exactly in SQL.

    Scale: the bounded query side broadcasts against the target pool and
    the (<= |queries| x k) candidate-target set broadcasts back against
    the source pool — two broadcast passes, the big pools never shuffle.
    For corpus-x-corpus mining swap each broadcast pass for the
    LSH/IVF-bucketed search (lsh_ann_topk / ivf_ann_topk_exact) exactly
    as the ANN tiers do; the margin arithmetic is unchanged.

    Output: (src_id, tgt_id, cosine, margin, accepted), one row per
    mined source.
    """
    q = src
    if query_ids is not None:
        q = src.join(query_ids, id_col, "left_semi")

    def pool_topk(queries: DataFrame, cands: DataFrame) -> DataFrame:
        qq = queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        ).withColumn("qnorm", vector_norm("qvec"))
        cc = cands.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
        ).withColumn("nnorm", vector_norm("nvec"))
        sim = cc.crossJoin(F.broadcast(qq)).withColumn(
            "cosine", cosine("qvec", "nvec", "qnorm", "nnorm")
        )
        w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
        return (
            sim.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k)
            .select(
                "qid",
                "nid",
                "cosine",
                F.round(F.col("cosine") * 10000, 0).cast("long").alias("cos_m"),
            )
        )

    fwd = pool_topk(q, tgt)
    xstat = fwd.groupBy("qid").agg(
        F.sum("cos_m").alias("sx"), F.count(F.lit(1)).alias("cx")
    )
    ys = fwd.select(F.col("nid").alias(id_col)).distinct()
    bwd = pool_topk(tgt.join(ys, id_col, "left_semi"), src)
    ystat = bwd.groupBy(F.col("qid").alias("nid")).agg(
        F.sum("cos_m").alias("sy"), F.count(F.lit(1)).alias("cy")
    )
    denom = (
        F.col("sx").cast("double") / F.col("cx")
        + F.col("sy").cast("double") / F.col("cy")
    ) / 2.0
    scored = (
        fwd.join(xstat, "qid")
        .join(F.broadcast(ystat), "nid")
        .withColumn("margin", F.col("cos_m") / denom)
    )
    wbest = Window.partitionBy("qid").orderBy(F.desc("margin"), F.asc("nid"))
    return (
        scored.withColumn("rr", F.row_number().over(wbest))
        .filter(F.col("rr") == 1)
        .select(
            F.col("qid").alias("src_id"),
            F.col("nid").alias("tgt_id"),
            F.round("cosine", 4).alias("cosine"),
            F.round("margin", 4).alias("margin"),
            (F.col("margin") >= F.lit(threshold)).alias("accepted"),
        )
    )


def sq8_bounds(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-dimension [min, max] calibration for 8-bit scalar quantization
    — ONE ROW: (mns array<double>, mxs array<double>).

    Exact corpus-wide extremes (a |dim|-row aggregate — min/max are
    mergeable, so this is one map-side-combined pass), not a sample: the
    quantizer is therefore DETERMINISTIC, which is what lets the whole
    SQ8 tier value-hash against SQL (the k-means tiers get the same
    property from integer-lattice training).
    """
    dims = vectors.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
    stats = dims.groupBy("pos").agg(
        F.min(F.col("v").cast("double")).alias("mn"),
        F.max(F.col("v").cast("double")).alias("mx"),
    )
    return stats.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("pos"), F.col("mn")))
        ).alias("_mnm"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("pos"), F.col("mx")))
        ).alias("_mxm"),
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.col("_mnm")[i]
        ).alias("mns"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.col("_mxm")[i]
        ).alias("mxs"),
    )


def sq8_decode_pool(
    pool: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Build the SQ8 index artifact for ``pool`` and return its
    DEQUANTIZED form: (nid, dqvec array<double>, dqnorm double),
    eagerly materialized via ``localCheckpoint``.

    This is the build-once half of the SQ8 tier, split out of
    :func:`sq8_ann_topk` so callers that search the same frozen pool
    repeatedly (the bench's repeat runs; the incremental-arrivals
    contract, where every daily batch probes the identical history
    index) pay calibration + encode + decode ONCE and amortize it
    across searches — exactly how a deployed index behaves (FAISS
    builds the quantizer once; queries never re-encode the corpus).
    Cluster scale: swap localCheckpoint for persist(DISK_ONLY) or a
    parquet table of codes; the artifact is the thing at rest.
    """
    bounds = sq8_bounds(pool, vec_col, dim)
    seq = F.sequence(F.lit(1), F.lit(dim))
    enc = pool.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("nid"),
        F.transform(
            seq,
            lambda i: F.when(
                F.element_at("mxs", i) > F.element_at("mns", i),
                F.least(
                    F.greatest(
                        F.round(
                            (
                                F.element_at(F.col(vec_col), i).cast("double")
                                - F.element_at("mns", i)
                            )
                            / (F.element_at("mxs", i) - F.element_at("mns", i))
                            * 255,
                            0,
                        ).cast("long"),
                        F.lit(0).cast("long"),
                    ),
                    F.lit(255).cast("long"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        ).alias("codes"),
        F.col("mns"),
        F.col("mxs"),
    )
    # Dequantize once per candidate (not per pair): dq and its norm are
    # pair-independent.
    dq = enc.select(
        "nid",
        F.transform(
            seq,
            lambda i: F.element_at("mns", i)
            + F.element_at("codes", i)
            * (F.element_at("mxs", i) - F.element_at("mns", i))
            / 255,
        ).alias("dqvec"),
    ).withColumn("dqnorm", vector_norm("dqvec"))
    # Materialize the dequantized candidates ONCE: dqvec is a 64-element
    # transform expression, and a lazy projection would re-evaluate it
    # per (query, candidate) pair inside the search join — |Q|x the
    # decode cost. localCheckpoint truncates to the computed arrays
    # (cluster scale: persist(DISK_ONLY), same effect).
    return dq.localCheckpoint(eager=True)


def sq8_ann_topk(
    vectors: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 3,
    candidates: DataFrame | None = None,
    decoded: DataFrame | None = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate top-k — the FAISS
    IndexScalarQuantizer tier: each vector compresses 4x to one uint8
    code per dimension against per-dimension [min, max] bounds
    (code = round((x - mn) / (mx - mn) * 255)); search is asymmetric —
    the full-precision query ranks candidates by cosine against their
    DEQUANTIZED codes (dq = mn + code * (mx - mn) / 255).

    Unlike PQ/IVF (k-means state, rows-only checkable), the min/max
    calibration is exact and deterministic, so codes, dequantization,
    cosines, and ranks all replay bit-for-bit in SQL — the catalog entry
    is FULLY oracled, recall flags included. Flat (dim == mn) dimensions
    quantize to code 0 and dequantize back to mn exactly.

    Scale: calibration is a |dim|-row mergeable aggregate; encoding is
    one broadcast-bounds map pass (at rest the corpus stores CODES —
    4x fewer bytes scanned per search); search broadcasts the bounded
    query set like every exact-baseline tier, and composes with the IVF
    cell pruning the same way PQ does for corpus-scale query sets.

    ``candidates`` (default: ``vectors``) is the INDEXED pool — bounds
    calibrate on it alone, and queries come from ``vectors``/``
    query_ids``. That is the frozen-index incremental contract: arrival
    batches search a history-calibrated index without recalibrating it;
    out-of-range values clamp to [0, 255] exactly as FAISS's scalar
    quantizer does (a no-op in the self-indexed case, where every value
    lies inside its own dimension's bounds by construction).

    ``decoded``: a prebuilt index from :func:`sq8_decode_pool` (same
    id_col/vec_col/dim contract). When provided, calibration + encode +
    decode are skipped entirely — the repeat-search path.
    """
    q = vectors
    if query_ids is not None:
        q = vectors.join(query_ids, id_col, "left_semi")
    qq = q.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    ).withColumn("qnorm", vector_norm("qvec"))

    if decoded is not None:
        dq = decoded
    else:
        pool = vectors if candidates is None else candidates
        dq = sq8_decode_pool(pool, id_col, vec_col, dim)

    sim = (
        dq.crossJoin(F.broadcast(qq))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("sq_cosine", cosine("qvec", "dqvec", "qnorm", "dqnorm"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sq_cosine"), F.asc("nid"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", "sq_cosine")
    )


# ---------------------------------------------------------------------------
# Integer-lattice exact-replay k-means — the IVF / PQ / IVF-PQ tiers.
#
# A k-means quantizer trained in floating point is engine-specific:
# centroid means are float sums whose summation order no SQL engine
# reproduces. These tiers train in integer arithmetic instead (as the
# unigram tokenizer and DSIR do with integer bit-surprisals), where every
# sum, division, and argmin is exact and order-free, so a DuckDB oracle
# replays training bit-for-bit.
#
# The lattice: q_i = floor(v_i * 1024) + 2^20. The scale is a POWER OF TWO,
# so v * 1024 merely shifts the IEEE exponent — quantization involves no
# rounding at all and is identical in Spark, NumPy, and SQL by construction.
# The offset keeps every coordinate positive, making integer division a
# floor on both engines (Spark DIV truncates toward zero, DuckDB //
# floors — they agree only on non-negative operands). Offsets cancel in
# every distance (only differences enter), so geometry is unchanged up to
# the 1/1024 lattice resolution — far finer than the coarse-quantizer /
# codebook cells it feeds.
#
# Lloyd's iterations then run entirely in int64: squared distances are
# exact integer sums (order-free), assignment ties break to the lowest
# cell via the combined integer min(d2 * k + cell), and centroid updates
# are integer means SUM DIV COUNT. Seeding is stride-spaced over the
# id-ordered sample (deterministic, spread across the id space) instead
# of an RNG draw. NumPy executes this exactly (int64 ops are exact;
# np.argmin picks the first minimum = lowest cell), and the SQL oracle
# replays each iteration as one assignment CTE + one update CTE.
#
# Search still ranks TRUE float vectors (IVF) or dequantized
# reconstructions (PQ) by the sequential-fold cosine — the established
# exact-parity form (_dot_double) every full-oracle ANN entry uses.
# ---------------------------------------------------------------------------

#: Lattice quantization constants (power-of-two scale: EXACT in doubles).
LATTICE_SCALE = 1024
LATTICE_OFFSET = 1 << 20

#: Lloyd iterations for the exact tiers — few on purpose: a coarse
#: quantizer needs roughly balanced cells, not convergence.
LATTICE_ITERS = 4


def lattice_quantize_np(X: "np.ndarray") -> "np.ndarray":
    """float64 (n, d) → int64 lattice coordinates. floor(x * 2^10) + 2^20:
    the multiply is exact (exponent shift), floor is exact, the offset is
    exact — NumPy here computes literally the same integers as the SQL
    oracle's CAST(FLOOR(CAST(v AS DOUBLE) * 1024) AS BIGINT) + 1048576."""
    return (
        np.floor(X.astype(np.float64) * LATTICE_SCALE) + LATTICE_OFFSET
    ).astype(np.int64)


def collect_lattice_sample(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    modulus: int = 4,
    cap: int = 100_000,
) -> "np.ndarray":
    """The deterministic training sample as int64 lattice coordinates:
    ids with ``id % modulus == 0``, ordered by id, first ``cap`` rows.

    orderBy + limit plans as TakeOrdered — deterministic top-``cap`` by
    id even when the cap binds, unlike a bare LIMIT (whose row choice is
    partition-order dependent). At 100 TB the knob is ``modulus`` (raise
    it so the expected sample stays ~cap); training state is k × dim
    ints regardless of corpus size.
    """
    rows = (
        vectors.filter(F.col(id_col) % modulus == 0)
        .orderBy(id_col)
        .select(vec_col)
        .limit(cap)
        .collect()
    )
    if not rows:
        return np.empty((0, 0), dtype=np.int64)
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return lattice_quantize_np(X)


def _lattice_d2(X: "np.ndarray", cent: "np.ndarray") -> "np.ndarray":
    """Exact int64 squared distances (n, k) via the expanded form
    |x|^2 - 2 x·c + |c|^2 — an integer matmul instead of the broadcast
    (n, k, d) difference tensor, so peak memory is O(n*k) not O(n*k*d)
    (at the 100k sample cap with k=16, d=64 the tensor is ~820 MB per
    Lloyd iteration). Every term is int64 and bounded —
    lattice coords < 2^22, so |x|^2 sums < 2^48*d — far inside int64;
    the RESULT is the bit-identical integer the direct form computes,
    so argmin tie-breaks (first minimum) are unchanged."""
    x2 = (X * X).sum(axis=1, dtype=np.int64)
    c2 = (cent * cent).sum(axis=1, dtype=np.int64)
    return x2[:, None] - 2 * (X @ cent.T) + c2[None, :]


def train_lattice_kmeans(
    Xq: "np.ndarray", k: int, iters: int = LATTICE_ITERS
) -> "np.ndarray":
    """Integer Lloyd over lattice coordinates → int64 centroids (k, d).

    Init: centroid c seeds from sample row (c * stride) % n with
    stride = max(n // k, 1) — stride-spaced over the id-ordered sample,
    cycling when n < k. Each iteration: exact int64 squared-distance
    argmin (ties to the lowest cell — np.argmin's first-minimum rule,
    identical to the oracle's MIN(d2 * k + cell) % k) and integer-mean
    update SUM // COUNT (floor; every coordinate is positive by the
    lattice offset, so floor == truncate on both engines). Empty cells
    keep their previous centroid. Pure int64 throughout — NumPy and SQL
    compute the same centroids bit-for-bit.
    """
    n = len(Xq)
    if n == 0:
        raise ValueError("empty training sample")
    stride = max(n // k, 1)
    cent = Xq[[(c * stride) % n for c in range(k)]].copy()
    for _ in range(iters):
        d2 = _lattice_d2(Xq, cent)
        labels = d2.argmin(axis=1)
        for c in range(k):
            members = Xq[labels == c]
            if len(members):
                cent[c] = members.sum(axis=0) // len(members)
    return cent


def lattice_cell_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cent: "np.ndarray",
    n_probe: int = 1,
) -> DataFrame:
    """Arrow-vectorized nearest-cell assignment on the INTEGER lattice:
    (id_col, vec_col, cell[, probe_rank]). Distances are exact int64, so
    this path is bit-identical to the SQL fold and to any other
    evaluation order. ``n_probe > 1``
    emits each id's ``n_probe`` nearest cells with ``probe_rank`` 1..p
    (ties to the lowest cell on every rank)."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    base = df.select(id_col, vec_col)
    fields = list(base.schema.fields) + [StructField("cell", IntegerType())]
    if n_probe > 1:
        fields.append(StructField("probe_rank", IntegerType()))
    out_schema = StructType(fields)
    nb = min(n_probe, len(cent))

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = lattice_quantize_np(
                np.array(pdf[vec_col].tolist(), dtype=np.float64)
            )
            d2 = _lattice_d2(X, cent)
            if n_probe == 1:
                # Branch on n_probe (the schema decision), NOT nb: a
                # 1-cell index asked for n_probe > 1 must still emit
                # the declared probe_rank column.
                out = pdf[[id_col, vec_col]].copy()
                out["cell"] = d2.argmin(axis=1).astype(np.int32)
                yield out
            else:
                # Combined-integer sort key = d2 * k + cell: total order,
                # ties to the lowest cell at every probe rank.
                key = d2 * len(cent) + np.arange(len(cent))[None, :]
                order = np.argsort(key, axis=1, kind="stable")[:, :nb]
                rep = pdf[[id_col, vec_col]].iloc[
                    np.repeat(np.arange(len(pdf)), nb)
                ].copy()
                rep["cell"] = order.reshape(-1).astype(np.int32)
                rep["probe_rank"] = np.tile(
                    np.arange(1, nb + 1), len(pdf)
                ).astype(np.int32)
                yield rep

    return base.mapInPandas(fn, out_schema)


def ivf_exact_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = LATTICE_ITERS,
    modulus: int = 4,
) -> tuple["np.ndarray", DataFrame]:
    """Build the deterministic IVF index: (int64 centroids (k, d),
    inverted-file DataFrame (id_col, vec_col, cell)). The FAISS
    index.add split — callers cache/checkpoint the assignment and run
    many searches against it."""
    Xq = collect_lattice_sample(vectors, id_col, vec_col, modulus)
    cent = train_lattice_kmeans(Xq, n_centroids, iters)
    assigned = lattice_cell_assign(vectors, id_col, vec_col, cent, 1)
    return cent, assigned


def ivf_exact_probe_candidates(
    vectors: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = LATTICE_ITERS,
    index: tuple["np.ndarray", DataFrame] | None = None,
) -> DataFrame:
    """The FULL-probe candidate relation of the deterministic IVF index:
    (qid, nid, cosine, cell, probe_rank) where probe_rank ranks the
    candidate's cell in the QUERY's nearest-cell order. Filtering
    ``probe_rank <= p`` reproduces exactly the n_probe = p search — one
    corpus pass answers every point of an nprobe sweep (the recall-curve
    shape), instead of re-searching per point. Cosines are the
    sequential-fold exact-parity form over TRUE float vectors, so a
    full-probe filter ranks identically to the brute-force baseline."""
    cent, assigned = index if index is not None else ivf_exact_index(
        vectors, id_col, vec_col, n_centroids, iters
    )
    q_side = vectors.join(query_ids, id_col, "left_semi")
    probes = lattice_cell_assign(
        q_side, id_col, vec_col, cent, n_probe=len(cent)
    ).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        "cell",
        "probe_rank",
    ).withColumn("qnorm", vector_norm("qvec"))
    cand = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"), "cell"
    ).withColumn("nnorm", vector_norm("nvec"))
    return (
        probes.join(cand, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            cosine("qvec", "nvec", "qnorm", "nnorm").alias("cosine"),
            "cell",
            "probe_rank",
        )
    )


def ivf_ann_topk_exact(
    vectors: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 3,
    iters: int = LATTICE_ITERS,
    index: tuple["np.ndarray", DataFrame] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k on the deterministic
    integer-lattice index: each query probes its ``n_probe`` nearest
    cells and ranks only those cells' members by exact cosine, so the
    candidate set shrinks to ~n_probe/n_centroids of the corpus. Every
    stage (quantize → Lloyd → assign → probe → rank) replays
    bit-for-bit in a SQL oracle. Output: (qid, nid, rank, cosine,
    cell). Raises ``ValueError("empty training sample")`` when no id
    passes the sample modulus."""
    cent, assigned = index if index is not None else ivf_exact_index(
        vectors, id_col, vec_col, n_centroids, iters
    )
    q_side = vectors.join(query_ids, id_col, "left_semi")
    probes = lattice_cell_assign(
        q_side, id_col, vec_col, cent, n_probe=n_probe
    ).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"), "cell"
    ).withColumn("qnorm", vector_norm("qvec"))
    cand = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"), "cell"
    ).withColumn("nnorm", vector_norm("nvec"))
    sim = (
        probes.join(cand, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cosine", cosine("qvec", "nvec", "qnorm", "nnorm"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "nid", "rank", F.round("cosine", 4).alias("cosine"), "cell"
        )
    )


def pq_exact_recon(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 32,
    n_codes: int = 64,
    iters: int = LATTICE_ITERS,
    modulus: int = 4,
) -> DataFrame:
    """Deterministic PQ encode + decode: train per-subspace integer
    codebooks (the same :func:`train_lattice_kmeans`, run on each
    subvector slice), encode every corpus vector (per-subspace int64
    argmin, ties to the lowest code), and emit the DEQUANTIZED
    reconstruction — (nid, rvec array<double>) with
    rvec_i = (codebook_value - offset) / 1024 (exact: power-of-two
    divide). ADC against a reconstruction is mathematically identical
    to the per-subspace LUT sum (the dot product decomposes over
    subspaces); emitting rvec lets the ranking use the sequential-fold
    cosine the SQL oracle replays, while the at-rest artifact at scale
    remains the m int codes per vector."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    Xq = collect_lattice_sample(vectors, id_col, vec_col, modulus)
    d = Xq.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.stack(
        [
            train_lattice_kmeans(Xq[:, j * sub : (j + 1) * sub], n_codes, iters)
            for j in range(m)
        ]
    )  # (m, n_codes, sub) int64

    out_schema = StructType(
        [
            StructField("nid", LongType()),
            StructField("rvec", ArrayType(DoubleType())),
        ]
    )

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            Xb = lattice_quantize_np(
                np.array(pdf[vec_col].tolist(), dtype=np.float64)
            )
            recon_q = np.empty_like(Xb)
            for j in range(m):
                Vj = Xb[:, j * sub : (j + 1) * sub]
                d2 = ((Vj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                cj = d2.argmin(axis=1)  # first minimum = lowest code
                recon_q[:, j * sub : (j + 1) * sub] = books[j][cj]
            rvec = (recon_q - LATTICE_OFFSET).astype(np.float64) / LATTICE_SCALE
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col].to_numpy(dtype=np.int64),
                    "rvec": list(rvec),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(fn, out_schema)


def pq_ann_topk_exact(
    vectors: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 32,
    n_codes: int = 64,
    k: int = 3,
    iters: int = LATTICE_ITERS,
    recon: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. TPAMI'11) on deterministic
    integer-lattice codebooks: Asymmetric Distance Computation ranks a
    full-precision query against the quantized corpus, with every stage
    SQL-replayable. approx_cosine =
    cos(query, reconstruction), ranked per query with a zero-norm guard
    (sentinel -2.0, the NaN-free cross-engine form). Output:
    (qid, nid, rank, approx_cosine).

    ``recon``: a prebuilt (nid, rvec) index from :func:`pq_exact_recon`
    — the index.add-once split: callers searching the same corpus
    repeatedly train/encode/decode once and pass the materialization.
    """
    if recon is None:
        recon = pq_exact_recon(vectors, id_col, vec_col, m, n_codes, iters)
    recon = recon.withColumn("rnorm", vector_norm("rvec"))
    q = (
        vectors.join(query_ids, id_col, "left_semi")
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
        .withColumn("qnorm", vector_norm("qvec"))
    )
    sim = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("approx_cosine", cosine("qvec", "rvec", "qnorm", "rnorm"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("approx_cosine"), F.asc("nid")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "nid",
            "rank",
            F.round("approx_cosine", 4).alias("approx_cosine"),
        )
    )


def ivf_pq_exact_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 32,
    n_codes: int = 64,
    iters: int = LATTICE_ITERS,
    modulus: int = 4,
) -> tuple["np.ndarray", DataFrame]:
    """Deterministic IVF-PQ index: (int64 coarse centroids (k, d),
    dequantized recon DataFrame (nid, cell, rvec array<double>)) —
    FAISS IndexIVFPQ semantics (coarse cells + product-quantized
    RESIDUALS) with every stage exact-replayable. The centroids are
    returned WITH the recon relation because the search side needs the
    same quantizer for query probes — a caller holding only the recon
    could pair it with a differently-sampled quantizer and silently
    probe mismatched cells.

    Training (all int64 NumPy, SQL-identical): coarse centroids via
    :func:`train_lattice_kmeans` on the lattice sample; residuals
    r = q - cent[cell] are RE-OFFSET by the lattice offset before the
    per-subspace codebook training — positivity is load-bearing, since
    NumPy's integer division floors while DuckDB's truncates and they
    agree only on non-negative operands (offsets cancel in every
    distance, so geometry is untouched). Decode: recon = cent[cell] +
    (book - offset), dequantized by the exact power-of-two divide.
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    Xq = collect_lattice_sample(vectors, id_col, vec_col, modulus)
    d = Xq.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    cent = train_lattice_kmeans(Xq, n_centroids, iters)
    d2s = _lattice_d2(Xq, cent)
    resid = Xq - cent[d2s.argmin(axis=1)] + LATTICE_OFFSET
    books = np.stack(
        [
            train_lattice_kmeans(
                resid[:, j * sub : (j + 1) * sub], n_codes, iters
            )
            for j in range(m)
        ]
    )

    out_schema = StructType(
        [
            StructField("nid", LongType()),
            StructField("cell", IntegerType()),
            StructField("rvec", ArrayType(DoubleType())),
        ]
    )

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            Xb = lattice_quantize_np(
                np.array(pdf[vec_col].tolist(), dtype=np.float64)
            )
            d2 = _lattice_d2(Xb, cent)
            cells = d2.argmin(axis=1)
            R = Xb - cent[cells] + LATTICE_OFFSET
            recon_q = np.empty_like(Xb)
            for j in range(m):
                Rj = R[:, j * sub : (j + 1) * sub]
                dj = _lattice_d2(Rj, books[j])
                cj = dj.argmin(axis=1)
                recon_q[:, j * sub : (j + 1) * sub] = (
                    books[j][cj] - LATTICE_OFFSET
                )
            recon_q += cent[cells]
            rvec = (recon_q - LATTICE_OFFSET).astype(np.float64) / LATTICE_SCALE
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col].to_numpy(dtype=np.int64),
                    "cell": cells.astype(np.int32),
                    "rvec": list(rvec),
                }
            )

    return cent, vectors.select(id_col, vec_col).mapInPandas(fn, out_schema)


def ivf_pq_ann_topk_exact(
    vectors: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
    m: int = 32,
    n_codes: int = 64,
    k: int = 3,
    iters: int = LATTICE_ITERS,
    index: tuple["np.ndarray", DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ search on the deterministic lattice index: queries probe
    their ``n_probe`` nearest coarse cells (integer distances, ties to
    the lowest cell) and rank cell members by the fold-cosine ADC
    against the residual reconstructions — FAISS ``IndexIVFPQ``
    semantics, fully SQL-replayable. Output: (qid, nid, rank,
    approx_cosine, cell). ``index``: a prebuilt (centroids, recon)
    pair from :func:`ivf_pq_exact_index` (checkpoint the recon when
    reusing) — centroids and recon travel TOGETHER so the query probes
    always use the quantizer that assigned the recon's cells, and the
    index.add-once split holds (no re-sample / re-train per search)."""
    if index is None:
        index = ivf_pq_exact_index(
            vectors, id_col, vec_col, n_centroids, m, n_codes, iters
        )
    cent, recon = index
    recon = recon.withColumn("rnorm", vector_norm("rvec"))
    q_side = vectors.join(query_ids, id_col, "left_semi")
    probes = lattice_cell_assign(
        q_side, id_col, vec_col, cent, n_probe=n_probe
    ).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"), "cell"
    ).withColumn("qnorm", vector_norm("qvec"))
    sim = (
        probes.join(recon, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("approx_cosine", cosine("qvec", "rvec", "qnorm", "rnorm"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("approx_cosine"), F.asc("nid")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "nid",
            "rank",
            F.round("approx_cosine", 4).alias("approx_cosine"),
            "cell",
        )
    )


def lattice_quantize_col(vec_col: Column | str) -> Column:
    """The lattice quantization as a pure codegen expression over an
    array<float> column — element-wise floor(v * 1024) + 2^20, exactly
    :func:`lattice_quantize_np` (and the SQL oracle's list_transform).
    Used where a plan needs per-row lattice coordinates without an
    Arrow stage (e.g. the in-plan inertia fold of the cluster
    profile)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c,
        lambda v: F.floor(v.cast("double") * LATTICE_SCALE).cast("long")
        + F.lit(LATTICE_OFFSET),
    )


def lattice_cluster_profile(
    vectors: DataFrame,
    cent: "np.ndarray",
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster analytics over a deterministic lattice k-means index:
    (cell, n_members, inertia, top_label, top_label_n) — cluster size,
    EXACT integer within-cluster inertia (sum of squared lattice
    distances to the cell centroid), and the majority class label with
    its count (ties to the lowest label). The SemDeDup-style
    cluster-then-inspect read: balanced cells with low inertia and high
    label purity mean the coarse quantizer respects the corpus
    structure; a fat high-inertia cell is where near-dup mining and
    quality filters concentrate their work.

    Everything is integer or a count, so the whole profile value-hashes
    against the SQL Lloyd replay. Scale: centroids ride as plan
    literals; the per-row inertia is a codegen fold; both aggregates
    are map-side-combining hash aggregates keyed by the k cells.
    """
    k, d = cent.shape
    lit_cents = F.array(
        *[
            F.array(*[F.lit(int(x)) for x in cent[c]])
            for c in range(k)
        ]
    )
    qv = lattice_quantize_col(vec_col)
    own = F.element_at(lit_cents, F.col("cell").cast("int") + 1)
    d2 = F.aggregate(
        F.zip_with(qv, own, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    labeled = assigned.select(id_col, vec_col, "cell").join(
        vectors.select(id_col, label_col), id_col
    )
    base = labeled.select(
        "cell", F.col(label_col).alias("lbl"), d2.alias("__d2")
    )
    sizes = base.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("__d2").cast("bigint").alias("inertia"),
    )
    per_label = base.groupBy("cell", "lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    top = per_label.groupBy("cell").agg(
        F.max(F.struct(F.col("n"), (-F.col("lbl")).cast("long").alias("nl"))).alias("b")
    ).select(
        "cell",
        (-F.col("b.nl")).cast("int").alias("top_label"),
        F.col("b.n").alias("top_label_n"),
    )
    return sizes.join(top, "cell").select(
        F.col("cell").cast("int").alias("cell"),
        "n_members",
        "inertia",
        "top_label",
        "top_label_n",
    )


def lattice_elbow(
    vectors: DataFrame,
    cents: dict[int, "np.ndarray"],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The k-selection elbow read over deterministic lattice k-means:
    (k, n_vectors, inertia) for each candidate centroid set — inertia =
    EXACT int64 sum over the corpus of the squared lattice distance to
    the NEAREST centroid (no assignment materialized: the elbow needs
    min-distance only). ONE Arrow pass scores every candidate k;
    per-batch partials (k, count, sum) shuffle — k rows per batch, never
    the corpus — and a k-keyed aggregate merges them. Order-free integer
    sums keep the whole curve value-hashable."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("n_part", LongType()),
            StructField("inertia_part", LongType()),
        ]
    )
    ks = sorted(cents)

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = lattice_quantize_np(
                np.array(pdf[vec_col].tolist(), dtype=np.float64)
            )
            rows = []
            for k in ks:
                d2 = _lattice_d2(X, cents[k])
                rows.append((k, len(X), int(d2.min(axis=1).sum())))
            yield pd.DataFrame(
                rows, columns=["k", "n_part", "inertia_part"]
            )

    return (
        vectors.select(vec_col)
        .mapInPandas(fn, out_schema)
        .groupBy("k")
        .agg(
            F.sum("n_part").cast("bigint").alias("n_vectors"),
            F.sum("inertia_part").cast("bigint").alias("inertia"),
        )
    )
