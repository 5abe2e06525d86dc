"""Integer-lattice deterministic IVF / PQ (operators/similarity.py,
round 8): the exact-replay k-means tiers behind embedding_ivf_ann and
embedding_pq_ann's full value-hash oracles. The cross-engine parity
itself is proven by those oracles (tests/test_catalog_oracle.py runs
them); these tests pin the OPERATOR-level contracts the oracles build
on: bit-determinism of training, the full-probe = brute-force anchor,
the prefix-growing probe sweep, recall floors, and the bounds and errors
of index building."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from traffic_accidents_airflow_kafka_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact3(spark, emb):
    qids = emb.select("vec_id").filter(F.col("vec_id") < 20)
    return (
        similarity.cosine_topk(emb, qids, "vec_id", "embedding", k=3)
        .select("qid", "nid")
        .localCheckpoint(eager=True)
    )


def test_lattice_quantize_is_integral_and_positive():
    X = np.array([[-0.6, 0.0, 0.49999, 1.0 / 3.0]])
    q = similarity.lattice_quantize_np(X)
    assert q.dtype == np.int64
    assert (q > 0).all()
    # floor semantics, power-of-two scale: -0.6 * 1024 = -614.4 -> -615
    assert q[0, 0] == similarity.LATTICE_OFFSET - 615
    assert q[0, 1] == similarity.LATTICE_OFFSET


def test_train_lattice_kmeans_is_bit_deterministic():
    rng = np.random.default_rng(3)
    Xq = similarity.lattice_quantize_np(rng.standard_normal((200, 8)))
    a = similarity.train_lattice_kmeans(Xq, 8)
    b = similarity.train_lattice_kmeans(Xq.copy(), 8)
    assert a.dtype == np.int64
    assert (a == b).all()
    # The trainer must actually move centroids off their seeds (a
    # no-op trainer would also be "deterministic").
    seeds = Xq[[c * (200 // 8) % 200 for c in range(8)]]
    assert (a != seeds).any()


def test_full_probe_equals_brute_force(spark, emb, exact3):
    """The recall-curve anchor: probe_rank <= n_centroids admits every
    candidate, and the fold cosine is the same as the baseline's — the
    top-3 must match the exact search EXACTLY, not just in recall."""
    qids = emb.select("vec_id").filter(F.col("vec_id") < 20)
    cands = similarity.ivf_exact_probe_candidates(
        emb, qids, "vec_id", "embedding", n_centroids=16
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    top = (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "nid")
    )
    assert top.exceptAll(exact3).count() == 0
    assert exact3.exceptAll(top).count() == 0


def test_probe_sweep_is_prefix_growing(spark, emb):
    """n_probe = p filtering must reproduce the standalone n_probe = p
    search — the identity the one-pass recall curve rests on."""
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)
    index = similarity.ivf_exact_index(emb, "vec_id", "embedding", 16)
    cent, assigned = index
    assigned = assigned.localCheckpoint(eager=True)
    cands = similarity.ivf_exact_probe_candidates(
        emb, qids, "vec_id", "embedding", index=(cent, assigned)
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    for p in (1, 3):
        direct = similarity.ivf_ann_topk_exact(
            emb, qids, "vec_id", "embedding",
            n_centroids=16, n_probe=p, k=3, index=(cent, assigned),
        ).select("qid", "nid", "rank")
        via_filter = (
            cands.filter(F.col("probe_rank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("qid", "nid", "rank")
        )
        assert direct.exceptAll(via_filter).count() == 0
        assert via_filter.exceptAll(direct).count() == 0


def test_pq_exact_recall_floor(spark, emb, exact3):
    pq = similarity.pq_ann_topk_exact(
        emb,
        emb.select("vec_id").filter(F.col("vec_id") < 20),
        m=32,
        n_codes=64,
        k=3,
    )
    total = exact3.count()
    hits = pq.select("qid", "nid").join(
        exact3, ["qid", "nid"], "left_semi"
    ).count()
    assert hits / total >= 0.5  # measured 0.72-0.80 across sf0.001-0.1


def test_ivfpq_exact_recall_floor(spark, emb, exact3):
    out = similarity.ivf_pq_ann_topk_exact(
        emb,
        emb.select("vec_id").filter(F.col("vec_id") < 20),
        n_centroids=16,
        n_probe=4,
        m=32,
        n_codes=64,
        k=3,
    )
    total = exact3.count()
    hits = out.select("qid", "nid").join(
        exact3, ["qid", "nid"], "left_semi"
    ).count()
    # Measured 0.48-0.55 across sf0.001-0.1 (cell pruning costs recall
    # vs plain lattice PQ's 0.72-0.80 — that's the IVF tradeoff).
    assert hits / total >= 0.3


def test_pq_recon_zero_norm_guard(spark):
    """A degenerate all-constant corpus can produce zero reconstruction
    norms; the ADC must emit the -2.0 sentinel, never NaN."""
    rows = [(i, [0.0, 0.0]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.pq_ann_topk_exact(
        emb, emb.select("vec_id").filter(F.col("vec_id") < 2),
        m=1, n_codes=2, k=1,
    ).collect()
    assert out, "degenerate corpus still ranks"
    for r in out:
        assert r["approx_cosine"] == -2.0


@pytest.mark.parametrize(
    "build",
    [similarity.pq_exact_recon, similarity.ivf_pq_exact_index],
    ids=lambda f: f.__name__,
)
def test_pq_rejects_indivisible_dim(emb, build):
    """m must split the 64-dim vectors into equal subspaces."""
    with pytest.raises(ValueError, match="not divisible"):
        build(emb, "vec_id", "embedding", m=7)


def test_training_sample_is_capped(spark, emb):
    """The driver-side training collect is bounded: ``cap`` rows, the
    lowest sampled ids in id order. A quantizer trained on that capped
    sample still assigns a cell to every corpus row."""
    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.collect() if r["vec_id"] % 4 == 0
    )[:16]
    Xq = similarity.collect_lattice_sample(emb, "vec_id", "embedding", cap=16)
    want = similarity.lattice_quantize_np(np.array([v for _, v in rows]))
    assert Xq.shape == (16, want.shape[1])
    assert (Xq == want).all()
    cent = similarity.train_lattice_kmeans(Xq, 4)
    cells = similarity.lattice_cell_assign(emb, "vec_id", "embedding", cent)
    assert cells.filter(F.col("cell").isNotNull()).count() == emb.count()


def test_corpus_without_sampled_ids_fails_loudly(spark):
    """No id is divisible by the sample modulus 4, so training has no
    input: the build raises rather than serving an untrained index."""
    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in (1, 3, 5)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="empty training sample"):
        similarity.ivf_ann_topk_exact(
            tiny, tiny.select("vec_id"), n_centroids=8, n_probe=8, k=1
        )


def _python_lattice_kmeans(rows, k, iters):
    """Pure-Python reference of train_lattice_kmeans — an independent
    third implementation (no NumPy, no SQL) the exactness chain can be
    checked against: plain int arithmetic, first-minimum argmin, floor
    division via Python // on non-negative ints."""
    n, d = len(rows), len(rows[0])
    stride = max(n // k, 1)
    cent = [list(rows[(c * stride) % n]) for c in range(k)]
    for _ in range(iters):
        labels = []
        for r in rows:
            best_c, best_d = 0, None
            for c in range(k):
                dist = sum((a - b) * (a - b) for a, b in zip(r, cent[c]))
                if best_d is None or dist < best_d:
                    best_c, best_d = c, dist
            labels.append(best_c)
        for c in range(k):
            members = [rows[i] for i in range(n) if labels[i] == c]
            if members:
                cent[c] = [
                    sum(m[j] for m in members) // len(members)
                    for j in range(d)
                ]
    return cent


def test_lattice_kmeans_matches_pure_python_reference():
    """Property: the NumPy trainer computes EXACTLY what the plain-int
    reference computes, across random shapes — including cluster
    collapses and n < k cycling. This is the independent leg of the
    exactness triangle (NumPy == Python here; NumPy == SQL via the
    catalog oracles), run over many seeds."""
    rng = np.random.default_rng(17)
    for trial in range(25):
        n = int(rng.integers(3, 60))
        d = int(rng.integers(1, 6))
        k = int(rng.integers(2, 9))
        iters = int(rng.integers(1, 5))
        Xq = similarity.lattice_quantize_np(
            rng.standard_normal((n, d)) * rng.uniform(0.01, 2.0)
        )
        got = similarity.train_lattice_kmeans(Xq, k, iters)
        want = _python_lattice_kmeans([list(map(int, r)) for r in Xq], k, iters)
        assert got.tolist() == want, f"trial {trial}: n={n} d={d} k={k}"


def test_cell_assign_probe_rank_on_tiny_index(spark):
    """Regression (r8 review): n_probe > 1 declares a probe_rank column
    in the output schema, so an index with FEWER cells than n_probe
    (here: 1) must still emit it — the old fast-path branch keyed on
    the effective probe count and dropped the column, failing the
    mapInPandas schema check at runtime."""
    rows = [(i, [float(i), 1.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.train_lattice_kmeans(
        similarity.lattice_quantize_np(np.array([[0.0, 1.0]])), 1
    )
    out = similarity.lattice_cell_assign(
        emb, "vec_id", "embedding", cent, n_probe=2
    ).collect()
    assert len(out) == 6  # one probe row per vector: only 1 cell exists
    assert all(r["probe_rank"] == 1 and r["cell"] == 0 for r in out)


def test_lattice_quantize_matches_duckdb_bit_for_bit():
    """The root of the whole lattice edifice: floor(v * 1024) + 2^20
    computed by NumPy over float32-origin values must equal DuckDB
    computing the same expression over the same floats — for random
    values, exact halves, negatives, and subnormal-ish magnitudes. A
    power-of-two scale makes the multiply a pure exponent shift, so no
    rounding exists to disagree about."""
    import duckdb

    rng = np.random.default_rng(23)
    vals = np.concatenate(
        [
            rng.standard_normal(200),
            np.array([0.0, -0.0, 0.5, -0.5, 1 / 3, -1 / 3, 0.0009765625]),
            rng.standard_normal(50) * 1e-6,
            rng.standard_normal(50) * 100.0,
        ]
    ).astype(np.float32)
    want = similarity.lattice_quantize_np(
        vals.astype(np.float64)[None, :]
    )[0]
    lits = ", ".join(repr(float(v)) for v in vals)
    got = duckdb.sql(
        f"SELECT list_transform([{lits}]::FLOAT[], "
        f"v -> CAST(FLOOR(CAST(v AS DOUBLE) * {similarity.LATTICE_SCALE}) "
        f"AS BIGINT) + {similarity.LATTICE_OFFSET})"
    ).fetchone()[0]
    assert list(want) == list(got)
