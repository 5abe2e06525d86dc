"""Benchmark decontamination: n-gram overlap between a training corpus
and a held-out benchmark/eval set.

The GPT-3/PaLM-style contamination check (public methodology: Brown et
al. 2020 appendix C; Chowdhery et al. 2022 §6): a training document is
contaminated when a large fraction of its word n-grams also occur in any
benchmark document. Both sides reduce to n-gram sets; the check is a join
on n-gram digests — never on document bodies.

Scale shape (100 TB corpus, MB-scale benchmark): the benchmark side is
tiny by construction (eval suites are thousands of rows), so its distinct
n-gram digest set broadcasts and the whole check is one map-side
broadcast semi-join over the corpus — no shuffle of corpus data at all.
The corpus side streams: explode n-grams per doc, probe the broadcast
set, re-aggregate per doc (partial aggregates combine map-side since
doc_id keys are produced clustered by the explode).

Reference context: the reference repo has no eval-set hygiene at all
(SURVEY.md §2 — its dedup story is pandas ``drop_duplicates``); this is
part of the beyond-reference training-data surface, same family as
`operators/dedup.py`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .text import tokens


def word_ngrams(text: Column | str, n: int) -> Column:
    """Array of space-joined word ``n``-grams of ``text`` (empty array for
    docs shorter than ``n`` words).

    Pure higher-order-function expression — stays in codegen, no UDF.
    ``F.sequence`` would count *down* when the doc is shorter than ``n``
    (start > stop yields a descending sequence), so the short-doc case is
    guarded explicitly.
    """
    w = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def benchmark_ngram_digests(
    bench: DataFrame, text_col: str, n: int
) -> DataFrame:
    """Distinct md5 digests of every word ``n``-gram in the benchmark set.

    md5 (not xxhash64) so the digest is reproducible in any engine — the
    same cross-engine-parity choice as `operators/dedup.py:text_hash`.
    Output column: ``gram_h``.
    """
    return (
        bench.select(
            F.explode(word_ngrams(text_col, n)).alias("gram")
        )
        .select(F.md5("gram").alias("gram_h"))
        .distinct()
    )


def _word_ngram_key_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, __gh) rows — one per word-``n``-gram INSTANCE, keyed by the
    xxhash64 of the n-long slice of per-word xxhash64s instead of the
    md5 of the built gram string (the hash-slice keying the
    positional-ngram/shingle/Gopher families also use: the gram text
    was only ever an equality key here, so the explode and the join
    carry 8-byte longs and the n-word concat string is never built).
    Each word is hashed once into a per-row long array in its OWN
    Project, so the optimizer cannot inline the array build into the
    per-gram lambda. Docs shorter than ``n`` words keep their one
    NULL-key row (``explode_outer``), mirroring word_ngrams' empty
    array. Equality of keys ⇔ equality of word tuples up to xxhash64
    collisions (birthday-bounded at ~2^32 distinct grams); the DuckDB
    oracles match md5 over the literal gram text, so green parity
    doubles as the collision check — at the benchmark scales actually
    run. SCALE BOUND: at the advertised 100 TB corpus
    (~10^13 distinct 8-grams) expected spurious cross-side hits under a
    single 64-bit key reach order-1 per ~10^6-row eval set — enough to
    perturb n_hit by a few counts but ~never to flip a contaminated
    flag (a flip needs overlap to cross flag_threshold, i.e. ~n_grams/5
    collisions INTO one document). Deployments needing a collision-free
    audit at that scale should key on a 128-bit pair (xxhash64 with two
    seeds on both sides) — a two-line widening of this helper that
    doubles key bytes through the explode; the 64-bit default is the
    measured-right tradeoff for the shipped pipeline."""
    w = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), F.transform(w, lambda x: F.xxhash64(x)).alias("__wh")
    )
    grams = F.when(
        F.size("__wh") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__wh") - (n - 1)),
            lambda i: F.xxhash64(F.slice(F.col("__wh"), i, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select(F.col(id_col), F.explode_outer(grams).alias("__gh"))


def contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    flag_threshold: float = 0.2,
) -> DataFrame:
    """Per-training-doc contamination report against ``bench``.

    Output: ``id_col``, ``n_grams`` (n-gram instances in the doc),
    ``n_hit`` (instances also present in the benchmark n-gram set),
    ``overlap`` (hit fraction, 0.0 for docs shorter than ``n`` words),
    ``contaminated`` (overlap >= ``flag_threshold``).

    The benchmark digest set is explicitly broadcast: eval suites are
    always small relative to the corpus, so the probe is map-side and the
    only aggregation is the per-doc count, which combines partially
    before any exchange.
    """
    # Both sides key on the gram's word-hash-slice xxhash64 (see
    # _word_ngram_key_rows) — the gram text is only a join equality key,
    # and never building the 8-word concat string per instance cuts the
    # dominant per-row cost (benchmark_ngram_digests keeps the md5 form
    # for any caller that needs an engine-stable digest).
    # The bench side only contributes its gram KEYS, so it need not
    # carry the TRAIN corpus's id column — eval suites are often keyed
    # differently or unkeyed. A constant stands in as the id (pruned
    # away by the select below): only text_col is read from ``bench``.
    digests = F.broadcast(
        _word_ngram_key_rows(
            bench.select(F.lit(0).alias("__bench_id"), F.col(text_col)),
            "__bench_id",
            text_col,
            n,
        )
        .select(F.col("__gh").alias("bench_h"))
        .dropna()
        .distinct()
    )
    exploded = _word_ngram_key_rows(train, id_col, text_col, n)
    per_doc = (
        exploded.join(digests, F.col("__gh") == F.col("bench_h"), "left")
        .groupBy(id_col)
        .agg(
            F.count("__gh").alias("n_grams"),
            F.count("bench_h").alias("n_hit"),
        )
    )
    overlap = F.when(
        F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return per_doc.select(
        id_col,
        "n_grams",
        "n_hit",
        overlap.alias("overlap"),
        (overlap >= F.lit(flag_threshold)).alias("contaminated"),
    )


#: Hard ceiling on the excision work-list. The span relation is, by
#: contract, the OUTPUT of a heavy-hitter report (small); the cap turns
#: a caller accidentally passing a corpus-scale relation into a loud
#: error instead of a silent corpus-through-the-driver OOM.
MAX_EXCISE_SPANS = 100_000


def excise_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    span_col: str = "span",
    max_spans: int = MAX_EXCISE_SPANS,
) -> DataFrame:
    """Span EXCISION — the transform that consumes a duplicated-span
    work-list (Lee et al. 2022 exact substring dedup, span-granular):
    every occurrence of a flagged word ``n``-gram is removed from the
    document, greedily left-to-right (overlapping matches resolve to the
    earliest start, then the scan resumes after the removed window).

    Spark shape: the span work-list is the OUTPUT of a heavy-hitter
    report (`duplicated_spans`) — small by construction — so it
    broadcasts into an Arrow ``mapInPandas`` stage; the corpus streams
    through once. Token-window matching is imperative string surgery
    (data-dependent windows), which is exactly the sanctioned use of the
    Arrow escape hatch — there is no declarative regexp form that
    handles overlap resolution deterministically.

    Output: ``id_col``, ``text`` (excised), ``n_tokens_before``,
    ``n_tokens_after``, ``n_excised_spans``.
    """
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # Driver-side guard BEFORE collecting: the work-list moves through
    # the driver to become a broadcast set, so an unbounded span relation
    # must fail fast, not OOM. limit(max_spans + 1) bounds the probe
    # itself — it never scans past the cap.
    probe = spans.select(span_col).distinct().limit(max_spans + 1).collect()
    if len(probe) > max_spans:
        raise ValueError(
            f"excise_spans work-list exceeds max_spans={max_spans}; "
            "the span relation must be a bounded heavy-hitter report. "
            "For corpus-scale excision lists, join spans to exploded "
            "grams distributively instead of broadcasting."
        )
    flagged = {r[span_col] for r in probe}
    spark = docs.sparkSession
    bset = spark.sparkContext.broadcast(flagged)

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("n_tokens_before", IntegerType()),
            StructField("n_tokens_after", IntegerType()),
            StructField("n_excised_spans", IntegerType()),
        ]
    )

    def fn(it):
        spanset = bset.value
        for pdf in it:
            if not len(pdf):
                continue
            ids, texts, before, after, cut = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = text.split(" ")
                kept, i, removed = [], 0, 0
                while i < len(toks):
                    if (
                        i + n <= len(toks)
                        and " ".join(toks[i : i + n]) in spanset
                    ):
                        removed += 1
                        i += n
                    else:
                        kept.append(toks[i])
                        i += 1
                ids.append(did)
                texts.append(" ".join(kept))
                before.append(len(toks))
                after.append(len(kept))
                cut.append(removed)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "text": texts,
                    "n_tokens_before": pd.Series(before, dtype="int32"),
                    "n_tokens_after": pd.Series(after, dtype="int32"),
                    "n_excised_spans": pd.Series(cut, dtype="int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(fn, out_schema)


def semantic_contamination(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-level eval-vs-train contamination (the methodology the
    frontier model reports pair with n-gram decontamination: flag
    training documents whose EMBEDDING is too close to any benchmark
    item, catching paraphrases and translations the 8-gram digests in
    :func:`contamination` cannot see).

    Returns one row per corpus item: (nid, best_eval_id, best_cosine,
    contaminated) — the nearest eval item by exact cosine and whether
    it clears ``threshold``.

    Scale shape — deliberately NOT the cosine_topk window: the eval set
    is bounded by contract (a benchmark), so it collapses to a ONE-ROW
    broadcast array of (qid, qvec, qnorm) structs and each corpus row
    folds over it in place (sequential-fold cosine, max with a
    smallest-qid tie-break — order-free, so collect_list
    nondeterminism is harmless). ZERO shuffle: the corpus is scored in
    a single map pass; only the report's TakeOrdered moves rows. The
    per-pair cosine is operators/similarity.py:cosine (the exact-parity
    fold), so the whole audit value-hashes against SQL.

    Zero-norm vectors (either side) score that helper's sentinel -2.0
    instead of 0/0 = NaN — NaN would compare GREATER than every value in
    Spark while DuckDB's NaN ordering could disagree at the threshold.
    """
    from .similarity import cosine, vector_norm

    ev = eval_emb.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    ).withColumn("qnorm", vector_norm("qvec"))
    ev_row = ev.agg(
        F.collect_list(F.struct("qid", "qvec", "qnorm")).alias("__evals")
    )
    corpus = corpus_emb.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("nnorm", vector_norm("nvec"))

    init = F.struct(
        F.lit(-2.0).alias("c"), F.lit(None).cast("long").alias("q")
    )

    def step(acc: Column, e: Column) -> Column:
        cos = cosine("nvec", e["qvec"], "nnorm", e["qnorm"])
        better = (cos > acc["c"]) | (
            (cos == acc["c"]) & (e["qid"] < acc["q"])
        )
        return F.when(
            better,
            F.struct(cos.alias("c"), e["qid"].cast("long").alias("q")),
        ).otherwise(acc)

    best = F.aggregate(F.col("__evals"), init, step)
    return corpus.crossJoin(F.broadcast(ev_row)).select(
        "nid",
        best["q"].alias("best_eval_id"),
        best["c"].alias("__cos"),
        (best["c"] >= F.lit(float(threshold))).alias("contaminated"),
    )


def semantic_contamination_lsh(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """The 100 TB form of :func:`semantic_contamination`:
    LSH-BUCKETED candidate generation instead of the broadcast-array
    fold, for eval suites past the broadcast bound (the exact fold
    carries ~100k x 768-dim eval items as a ~300 MB broadcast and does
    |eval| dots per corpus row; this does ~|eval| x (1 + n_planes) /
    2^n_planes candidate dots per row in expectation).

    Shape: both sides bucket by the seeded sign-pattern hyperplanes
    (operators/similarity.py:lsh_bucket — plan literals, pure codegen);
    the SMALL side (eval) multi-probes its home bucket plus the
    n_planes Hamming-1 neighbors (similarity.probe_buckets, the
    multi-probe recall fix of lsh_ann_topk, applied to the cheap side so
    the corpus buckets exactly once);
    candidates join on bucket equality with the eval side broadcast;
    cosines are the exact-parity sequential fold with the zero-norm
    sentinel; per-corpus-row best = max cosine, ties to the lowest
    eval id (an order-free aggregate). Corpus rows with NO candidate
    eval in any probed bucket report (NULL, -2.0, false) — the honest
    LSH miss, which can only UNDER-flag relative to the exact fold
    (candidate cosines are exact, so no false positives; pinned by the
    subset/equality properties in tests/test_semantic_lsh.py).

    Scale: the corpus is touched by ONE map pass (bucket + the
    candidate-bounded folds) and one per-id aggregate with map-side
    partials; nothing corpus-sized shuffles on the eval axis. At a
    production threshold (~0.9+ cosine) the Hamming-1 probe set
    retains ~80% of true hits at 6 planes; recall tunes with probes
    and plane count without changing the plan shape.
    """
    from .similarity import (
        cosine,
        hyperplane_planes,
        lsh_bucket,
        probe_buckets,
        vector_norm,
    )

    planes = hyperplane_planes(dim, n_planes, seed)
    evp = (
        eval_emb.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        )
        .withColumn("qnorm", vector_norm("qvec"))
        .withColumn(
            "bucket",
            F.explode(probe_buckets(lsh_bucket(F.col("qvec"), planes), n_planes)),
        )
    )
    corpus = (
        corpus_emb.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
        )
        .withColumn("nnorm", vector_norm("nvec"))
        .withColumn("bucket", lsh_bucket(F.col("nvec"), planes))
    )
    cand = corpus.join(F.broadcast(evp), "bucket").withColumn(
        "__cos", cosine("nvec", "qvec", "nnorm", "qnorm")
    )
    # argmax cosine with lowest-qid tie-break as ONE order-free
    # aggregate: max over (cos, -qid) structs — identical selection to
    # a (cos DESC, qid ASC) row_number, without a corpus-keyed window.
    best = cand.groupBy("nid").agg(
        F.max(
            F.struct(
                F.col("__cos").alias("c"),
                (-F.col("qid")).cast("long").alias("nq"),
            )
        ).alias("b")
    )
    return (
        corpus.select("nid")
        .join(best, "nid", "left")
        .select(
            "nid",
            (-F.col("b.nq")).cast("long").alias("best_eval_id"),
            F.coalesce(F.col("b.c"), F.lit(-2.0)).alias("__cos"),
            (
                F.coalesce(F.col("b.c"), F.lit(-2.0))
                >= F.lit(float(threshold))
            ).alias("contaminated"),
        )
    )
