"""Deduplication operators for large-scale text corpora.

Four families, all pure DataFrame compositions (no UDFs):

- **Exact** — md5-hash groupBy: ship 32-byte digests through the shuffle,
  never full document text.
- **N-gram Jaccard** — inverted-index (shingle → doc) self-join: the
  MapReduce similarity-join idiom; pairs only materialize for docs that
  share ≥1 shingle.
- **MinHash-LSH** — engine-agnostic minhash built from lexicographic minima
  of seeded md5 strings (md5 is bit-identical across engines, so the whole
  pipeline is oracle-checkable in SQL), banded for sub-quadratic candidate
  generation.
- **SimHash** — 64-bit signatures via md5-hex bit extraction, banded into
  four 16-bit keys for Hamming-neighbor candidate pairs.

Reference context: the pipeline's only dedup is load-time
``ON CONFLICT DO NOTHING`` (dags/etl_crash_traffic.py:693-787) — exact-key
dedup. The near-dup family is the LLM-training-data extension the north
star calls for, designed against the driver's ``documents`` table.

Scale notes (100 TB):
- All joins here key on *derived small values* (hashes, shingles, band
  signatures), never raw text; the widest shuffled row is a shingle string.
- The Jaccard self-join is quadratic per shingle bucket — guard hot
  shingles (stop-shingles) with a frequency cap, exactly like skew salting.
- MinHash banding keeps candidate generation linear in (docs × bands);
  tune bands/rows for the recall/precision point you need.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..session import SHUFFLE_PARTITIONS, Rounds, release, scoped_conf
from .graph import loop_partitions


def text_hash(col: Column | str) -> Column:
    """32-hex md5 digest of the text — the exact-dedup key. md5 over other
    engines' md5 so oracle parity holds bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct text (deterministic keeper).

    Returns the input plus ``keeper_id`` (min id among duplicates) and
    ``is_duplicate``. Shuffles (hash, id) pairs only — never document text.
    """
    h = text_hash(text_col).alias("__th")
    hashed = df.withColumn("__th", h)
    keepers = hashed.groupBy("__th").agg(F.min(id_col).alias("keeper_id"))
    return (
        hashed.join(keepers, "__th")
        .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
        .drop("__th")
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_doc_freq: int = 4,
    normalize: bool = False,
) -> DataFrame:
    """Line-level exact dedup — the CCNet/RefinedWeb boilerplate-removal
    idiom every web-crawl pipeline runs BEFORE document-level MinHash:
    hash each line (unit) of each document, count per-unit document
    frequency, drop every occurrence of units that appear in more than
    ``max_doc_freq`` distinct documents (headers, nav bars, cookie
    banners), and reassemble the surviving lines in original order.

    This is the granularity between :func:`exact_dedup` (whole-document)
    and :func:`repeated_spans` (token windows): the unit is the LINE, the
    removal is exact, and the output is the rewritten corpus — not just a
    report of where the duplication sits.

    Returns one row per input document:
    ``(id, n_lines, n_dropped, chars_before, chars_after, clean_text)``
    where ``chars_before``/``chars_after`` measure the ``sep``-joined
    text before/after removal (so separator characters are accounted),
    and a document with nothing dropped reassembles to EXACTLY its input
    text (split → rejoin is the identity for separator-delimited text).

    ``sep`` is passed to ``split`` (a regex) and ``array_join`` (a
    literal) — use a regex-safe literal separator like ``"\\n"``.
    ``normalize=True`` counts frequencies over the NORMALIZED line
    (text.normalize_text: lowercase, punctuation strip, whitespace
    collapse — CCNet hashes normalized lines so `Subscribe NOW!` and
    `subscribe now` pool their counts) while removal and reassembly
    keep the ORIGINAL line text.

    Scale (100 TB): the document-frequency aggregate ships (16-byte
    md5 digest, doc id) pairs through the shuffle, never line text. The
    drop-set — units above the frequency threshold — is the boilerplate
    vocabulary, orders of magnitude smaller than the corpus, so the
    removal join is an explicit map-side broadcast with zero corpus
    shuffle. The one corpus-sized shuffle is the per-doc reassembly
    groupBy, inherent to any remove-and-rewrite pass; line order is
    restored by sorting the collected (pos, line) structs inside each
    group, never with a window over the corpus.
    """
    lines = _line_units(df, id_col, text_col, sep, normalize)
    drop_keys = (
        lines.groupBy("__lh")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__lh", F.lit(True).alias("__drop"))
    )
    return _line_rewrite(lines, drop_keys, id_col, sep)


def _line_units(
    df: DataFrame, id_col: str, text_col: str, sep: str,
    normalize: bool = False,
) -> DataFrame:
    """(id, pos, line, __lh) unit relation shared by the batch and
    incremental line-dedup forms: split on ``sep``, position-exploded,
    md5-hashed (so frequency aggregates ship digests, never text).
    With ``normalize`` the hash is taken over the canonical form while
    ``line`` keeps the original text for reassembly."""
    from . import text as _text

    units = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    key = _text.normalize_text("line") if normalize else F.col("line")
    return units.withColumn("__lh", text_hash(key))


def _line_rewrite(
    lines: DataFrame, drop_keys: DataFrame, id_col: str, sep: str
) -> DataFrame:
    """Shared remove-and-rewrite tail: broadcast the (``__lh``,
    ``__drop``) drop-set into the unit relation, then reassemble the
    survivors per doc in original order. One corpus-sized shuffle (the
    per-doc groupBy), drop-set join map-side."""
    flagged = lines.join(F.broadcast(drop_keys), "__lh", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("__drop"), 1).otherwise(0)).alias("n_dropped"),
            (
                F.sum(F.length("line"))
                + (F.count(F.lit(1)) - 1) * len(sep)
            ).alias("chars_before"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__drop").isNull(),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                sep,
            ).alias("clean_text"),
        )
        .select(
            id_col,
            "n_lines",
            "n_dropped",
            "chars_before",
            F.length("clean_text").cast("long").alias("chars_after"),
            "clean_text",
        )
    )


def _check_incremental_inputs(
    op: str,
    history: DataFrame | None,
    arrivals: DataFrame,
    id_col: str,
    history_index: DataFrame | None,
) -> None:
    """Shared input contract of the daily-ingest operators: exactly one
    of (history docs, persisted index), and — when history docs are
    given — disjoint doc ids, because support counts over disjoint doc
    sets are what make the indexes mergeable."""
    if (history is None) == (history_index is None):
        raise ValueError(
            f"{op}: pass exactly one of history "
            "(docs to index inline) or history_index (the persisted index)"
        )
    if history is not None and not (
        history.select(id_col).join(arrivals.select(id_col), id_col).isEmpty()
    ):
        raise ValueError(
            f"{op}: history and arrivals share doc ids; "
            "support counts over disjoint doc sets are what make the index mergeable"
        )


def line_support_index(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n",
    normalize: bool = False,
) -> DataFrame:
    """The persistable half of incremental line dedup: per-line
    distinct-doc counts over a corpus — (``__lh``, ``line_df``,
    ``normalized``). Built once over history, written to parquet, and
    MERGED with each arrival batch's own counts (distinct-doc counts
    over disjoint doc sets add), so daily boilerplate removal never
    rescans history — the line-granular twin of
    :func:`gram_support_index`. The constant ``normalized`` column
    records WHICH hash space the index holds (raw vs canonical lines) —
    it round-trips through parquet, and :func:`incremental_line_dedup`
    refuses an index whose setting disagrees with the call's, because a
    raw-hash probe against a normalized index silently never matches."""
    return (
        _line_units(df, id_col, text_col, sep, normalize)
        .groupBy("__lh")
        .agg(F.countDistinct(id_col).alias("line_df"))
        .withColumn("normalized", F.lit(bool(normalize)))
    )


def incremental_line_dedup(
    history: DataFrame | None,
    arrivals: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_doc_freq: int = 4,
    history_index: DataFrame | None = None,
    normalize: bool = False,
) -> DataFrame:
    """Line-level dedup for the daily-ingest shape (the incremental
    twin of :func:`line_dedup`, same output contract, arrival docs
    only): a line is dropped from an ARRIVAL document when its document
    frequency across history + the arrival batch exceeds
    ``max_doc_freq`` — boilerplate already indexed from history AND
    same-batch template storms both trigger removal, and the result
    equals :func:`line_dedup` over the full corpus restricted to
    arrival rows (pinned by the equivalence test and, at sf0.01, by the
    catalog oracle, whose SQL counts support over the whole corpus).

    Scale (the point of the incremental form): the historical side
    reduces to :func:`line_support_index` — a (hash, count) relation
    that is precomputable, persistable, and mergeable. Per batch, the
    index is semi-joined down to lines the batch actually contains
    before the merge, so the per-day cost is linear in the arrival
    batch, never in corpus history. Pass the PERSISTED index as
    ``history_index``; passing ``history`` docs instead rebuilds the
    index inline. Doc ids must be disjoint between history and
    arrivals (enforced when history docs are given), and a persisted
    index must have been built with the SAME ``normalize`` setting
    (enforced via the index's ``normalized`` marker column — the two
    hash spaces never meet, so a mismatch would silently drop all
    history support instead of erroring)."""
    _check_incremental_inputs(
        "incremental_line_dedup", history, arrivals, id_col, history_index
    )
    index = (
        history_index
        if history_index is not None
        else line_support_index(history, id_col, text_col, sep, normalize)
    )
    if "normalized" in index.columns:
        marker = [r[0] for r in index.select("normalized").limit(1).collect()]
        if marker and bool(marker[0]) != bool(normalize):
            raise ValueError(
                "incremental_line_dedup: history_index was built with "
                f"normalize={bool(marker[0])} but the call passes "
                f"normalize={bool(normalize)} — the hash spaces never "
                "match; rebuild the index or align the setting"
            )
        index = index.drop("normalized")
    batch_lines = _line_units(arrivals, id_col, text_col, sep, normalize)
    batch_support = batch_lines.groupBy("__lh").agg(
        F.countDistinct(id_col).alias("line_df")
    )
    # The semi-join key set IS the support aggregate's key column —
    # deriving it there (instead of a separate distinct over the
    # exploded lines) lets the physical plan reuse the aggregate's
    # exchange, so the arrival batch is split/exploded twice (support +
    # rewrite), not three times.
    hist_support = index.join(
        batch_support.select("__lh"), "__lh", "left_semi"
    )
    drop_keys = (
        hist_support.unionByName(batch_support)
        .groupBy("__lh")
        .agg(F.sum("line_df").alias("line_df"))
        .filter(F.col("line_df") > max_doc_freq)
        .select("__lh", F.lit(True).alias("__drop"))
    )
    return _line_rewrite(batch_lines, drop_keys, id_col, sep)


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle) rows.

    Pure codegen: split → sequence/transform sliding window →
    array_distinct → explode. Docs shorter than ``n`` words yield no rows.
    """
    words = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def word_shingle_keys(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document as 8-byte KEYS —
    (id, __sh) rows, the join-only twin of :func:`word_shingles` for
    consumers that never read the shingle text (Jaccard co-occurrence
    counting). Each word is hashed once into a per-row long array (its
    own Project, so the optimizer cannot inline the array build into
    the per-gram lambda) and each shingle key is the xxhash64 of the
    n-long slice — n longs hashed per gram instead of a concat-string
    build + hash (the positional_ngrams keying applied to the
    distinct-shingle relation).

    Equivalence to hashing word_shingles' strings: concat_ws(' ') over
    split(' ') words is injective (words cannot contain the separator),
    so string equality IS word-tuple equality, and the slice key
    collides across distinct tuples only via xxhash64 collisions —
    birthday-bounded at ~2^32 distinct shingles, far beyond a per-corpus
    shingle vocabulary; the DuckDB oracles group by the literal shingle
    string, so parity doubles as the collision check."""
    words = F.split(F.col(text_col), " ")
    base = df.filter(F.size(words) >= n).select(
        F.col(id_col),
        F.transform(words, lambda w: F.xxhash64(w)).alias("__wh"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__wh") - (n - 1)),
        lambda i: F.xxhash64(F.slice("__wh", i, n)),
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("__sh")
    )


def jaccard_pairs(
    shingles: DataFrame, id_col: str = "doc_id", max_shingle_freq: int | None = None
) -> DataFrame:
    """Exact pairwise Jaccard over a (id, shingle) relation via the
    inverted-index self-join: pairs exist only where docs co-occur under a
    shingle.

    ``max_shingle_freq`` drops shingles appearing in more than N docs
    (stop-shingles) — the skew guard that keeps the per-bucket pair blowup
    bounded at corpus scale.
    """
    # Join on the 64-bit hash of the shingle, not the string: the self-join
    # shuffle carries 8-byte longs instead of n-gram text. A cross-shingle
    # hash collision would need ~2^32 distinct shingles to become likely
    # (birthday bound) — far beyond any per-corpus shingle vocabulary.
    # Input may be pre-keyed (word_shingle_keys' __sh column — the
    # fast path that never builds the gram string at all); the
    # frequency cap then groups by the key, identical to grouping by
    # the string under the same injectivity argument.
    sh = shingles
    if "__sh" not in sh.columns:
        sh = sh.select(id_col, F.xxhash64("shingle").alias("__sh"))
    else:
        sh = sh.select(id_col, "__sh")
    if max_shingle_freq is not None:
        freq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__f"))
        sh = sh.join(freq.filter(F.col("__f") <= max_shingle_freq), "__sh").drop("__f")

    # Repartition by the join key once and self-join two aliases of the
    # SAME relation: the shingle pipeline (split/explode/distinct) runs
    # once, not once per side (measured ~2x on the bench corpus).
    sh = sh.repartition("__sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.__sh") == F.col("b.__sh"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "d1", "__sz": "__sz1"}), "d1")
        .join(sizes.withColumnsRenamed({id_col: "d2", "__sz": "__sz2"}), "d2")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("__sz1") + F.col("__sz2") - F.col("n_common")).cast("double"),
        )
        .select("d1", "d2", "n_common", "jaccard")
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per doc: for seed *i*, the lexicographic MIN of
    ``md5(i || '|' || shingle)`` over the doc's shingles.

    A keyed cryptographic hash is a uniform random permutation of the
    shingle space, so the string minimum is a valid minhash; md5's
    cross-engine stability makes the signature oracle-checkable. One
    hash-aggregate pass computes all ``num_hashes`` minima.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary"))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def _banded_long(
    sig: DataFrame, id_col: str, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """Signatures → long (id, mh*, band_idx, band_val) band relation:
    each band is ``rows_per_band`` consecutive minhashes concatenated,
    unpivoted via stack. Shared by the self-join and cross-join pairers
    so banding can never diverge between them."""
    n_bands = num_hashes // rows_per_band
    cols = [
        F.concat(
            *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, band{b}" for b in range(n_bands))
    return sig.select(
        id_col, *[F.col(f"mh{i}") for i in range(num_hashes)], *cols
    ).selectExpr(
        id_col,
        *[f"mh{i}" for i in range(num_hashes)],
        f"stack({n_bands}, {stack_args}) AS (band_idx, band_val)",
    )


def _first_band_match(num_hashes: int, rows_per_band: int) -> Column:
    """Emit each pair EXACTLY once — keep only the first band where the
    two docs collide (a rowwise predicate over bands already carried on
    both aliased sides), instead of a dropDuplicates shuffle over the
    whole candidate set. Standard LSH dedup trick; result set identical."""
    n_bands = num_hashes // rows_per_band
    pred = F.lit(True)
    for j in range(n_bands - 1):
        parts_a = F.concat(
            *[F.col(f"a.mh{j * rows_per_band + r}") for r in range(rows_per_band)]
        )
        parts_b = F.concat(
            *[F.col(f"b.mh{j * rows_per_band + r}") for r in range(rows_per_band)]
        )
        pred = pred & ((F.col("a.band_idx") <= j) | (parts_a != parts_b))
    return pred


def _match_fraction(num_hashes: int) -> Column:
    """est_sim: fraction of the two aliased sides' minhashes that agree."""
    matches = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return matches / float(num_hashes)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 1,
) -> DataFrame:
    """Banded-LSH candidate pairs from minhash signatures.

    Docs collide when any band (``rows_per_band`` consecutive minhashes
    concatenated) matches. ``rows_per_band=1`` is the high-recall OR-of-k
    configuration for candidate generation; raise it to tighten precision.
    Output: (d1, d2, est_sim) where est_sim = matching minhashes / k.

    The banded relation is |docs| × bands rows — small relative to the
    corpus, so the self-join stays broadcast-eligible under AQE (an
    explicit repartition here forces a shuffle and measured slower).
    """
    long = _banded_long(signatures, id_col, num_hashes, rows_per_band)
    a, b = long.alias("a"), long.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(_first_band_match(num_hashes, rows_per_band))
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            _match_fraction(num_hashes).alias("est_sim"),
        )
    )


def lsh_cross_pairs(
    sig_new: DataFrame,
    sig_old: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 1,
) -> DataFrame:
    """Banded-LSH candidate pairs BETWEEN two signature sets — the
    incremental-dedup shape: a new arrival batch probes the indexed
    corpus without ever re-pairing the corpus against itself.

    Same banding and first-matching-band dedup as
    :func:`lsh_candidate_pairs` (shared helpers), but the join is
    new×old (no self-join, no id ordering constraint — the sides are
    disjoint by contract). Output: (new_id, old_id, est_sim).

    Scale: cost is |batch|×bands probe rows joined against the
    (persisted, in production) corpus band index — linear in the BATCH,
    not the corpus; the daily-ingest alternative of re-running the full
    self-join is quadratic in history.
    """
    a = _banded_long(sig_new, id_col, num_hashes, rows_per_band).alias("a")
    b = _banded_long(sig_old, id_col, num_hashes, rows_per_band).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .filter(_first_band_match(num_hashes, rows_per_band))
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("old_id"),
            _match_fraction(num_hashes).alias("est_sim"),
        )
    )


def connected_components(
    pairs: DataFrame, src: str = "d1", dst: str = "d2"
) -> DataFrame:
    """Connected components over an undirected pair relation — the
    clustering step every production dedup pipeline runs after candidate
    generation (near-dup pairs → duplicate CLUSTERS → one canonical doc
    per cluster).

    Iterative min-label propagation: every node starts labeled with its
    own id; each round pushes labels across edges and keeps the per-node
    minimum. Labels only ever decrease, so an unchanged label sum means
    no label changed: the loop runs until the sum stops changing, which
    is at most diameter + 1 rounds (2-3 for near-dup cliques), and every
    node then carries the minimum id of its component. There is no round
    cap, so a long chain costs rounds, never wrong labels. The driver
    coordinates the loop with :class:`session.Rounds` checkpoints
    truncating the lineage each round; the sum is one scalar row per
    round whatever the graph size.

    Scale: each round is one shuffle join (edges × labels, keyed on the
    8-byte node id) plus a groupBy-min, at the graph-sized shuffle width
    of :func:`graph.loop_partitions`.

    Returns (id, component) for every node that appears in ``pairs``.
    """
    fwd = pairs.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    rev = pairs.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst"))
    # Materialize the symmetrized edge list once; it is re-joined every
    # round and must not re-derive its upstream (possibly expensive)
    # candidate-pair plan per iteration.
    edges = fwd.union(rev).distinct().localCheckpoint()
    spark = pairs.sparkSession
    try:
        n_edges = edges.count()
        with (
            scoped_conf(spark, SHUFFLE_PARTITIONS, loop_partitions(spark, n_edges)),
            Rounds() as rounds,
        ):
            comp = edges.select(F.col("e_src").alias("id")).distinct().select(
                "id", F.col("id").alias("component")
            )
            prev_sum = None
            while True:
                msgs = edges.join(
                    comp.withColumnRenamed("id", "e_src"), "e_src"
                ).select(F.col("e_dst").alias("id"), "component")
                comp = rounds.checkpoint(
                    comp.unionByName(msgs)
                    .groupBy("id")
                    .agg(F.min("component").alias("component"))
                )
                cur_sum = comp.agg(F.sum("component")).first()[0]
                if cur_sum == prev_sum:
                    return comp
                prev_sum = cur_sum
    finally:
        release(edges)


def simhash64(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash per document.

    Each token's md5 supplies 64 pseudo-random bits (first 16 hex digits);
    per bit position the weighted vote sum(+1/-1) over tokens decides the
    signature bit. Implemented as ONE hash-aggregate over (doc, token)
    rows with 64 static vote-sum expressions — no position explode (the
    naive tokens×64 explode shuffles 64× the data; measured ~4× slower),
    no UDFs, single shuffle.
    """
    token = F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token")
    toks = df.select(F.col(id_col), token).withColumn(
        "h", F.md5(F.col("token").cast("binary"))
    )
    # Parse the signature bits ONCE per token row: the first 16 hex digits
    # as two 32-bit halves (one 64-bit conv would overflow bigint). Each
    # vote is then a bitwise shift-and-mask on a long — 64 string parses
    # per row collapse to 2 (measured ~2× on the vote aggregate).
    toks = toks.select(
        F.col(id_col),
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
    )
    # Bit i of the signature is bit (31-i) of ``hi`` for i<32, bit (63-i)
    # of ``lo`` otherwise — identical mapping to hex digit i//4, bit
    # (3 - i%4), so signatures are unchanged.
    # Built as SQL expr strings, not stacked Column calls: the 64 vote
    # aggregates cost ~400 py4j roundtrips as Column objects — plan
    # BUILD time measured 0.96 s vs 0.27 s for the identical expressions
    # parsed from strings (the driver's per-query constant factor).
    # Semantics are the same: shiftrightunsigned & 1, cast int, *2-1,
    # sum.
    vote_aggs = [
        F.expr(
            f"sum(CAST(shiftrightunsigned({'hi' if i < 32 else 'lo'}, "
            f"{(31 - i) if i < 32 else (63 - i)}) & 1 AS INT) * 2 - 1)"
        ).alias(f"w{i}")
        for i in range(64)
    ]
    votes = toks.groupBy(id_col).agg(*vote_aggs)
    bit_terms = " + ".join(
        f"CASE WHEN w{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END"
        for i in range(64)
    )
    return votes.select(id_col, F.expr(bit_terms).alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 8
) -> DataFrame:
    """Hamming-neighbor candidate pairs from 64-bit simhashes via the
    4×16-bit band trick: any pair within Hamming distance 3 must share a
    band exactly; wider distances are caught probabilistically. Exact
    Hamming distance computed on candidates with bit_count(xor)."""
    bands = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    # Emit each pair EXACTLY once: keep only the FIRST band where the two
    # signatures collide — a rowwise predicate over the 16-bit slices both
    # sides already carry — instead of a dropDuplicates shuffle over the
    # candidate set (which can be huge on self-similar corpora).
    first_band_match = F.lit(True)
    for j in range(3):
        slice_a = F.shiftrightunsigned(F.col("a.simhash"), 16 * j).bitwiseAND(F.lit(0xFFFF))
        slice_b = F.shiftrightunsigned(F.col("b.simhash"), 16 * j).bitwiseAND(F.lit(0xFFFF))
        first_band_match = first_band_match & (
            (F.col("a.band_idx") <= j) | (slice_a != slice_b)
        )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(first_band_match)
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


#: 1-deletion neighborhood + identity, as a SQL array expression over
#: ``word`` (shared by both distance tiers below).
_DEL1_KEYS = (
    "array_append(transform(sequence(1, length(word)), "
    "i -> concat(substring(word, 1, i - 1), "
    "substring(word, i + 1, length(word)))), word)"
)

#: 2-deletion neighborhood (every i < j position pair removed). Guarded
#: by the caller for length >= 2: Spark's ``sequence(1, 0)`` DESCENDS
#: ([1, 0]) instead of returning empty, unlike SQL generate_series.
_DEL2_KEYS = (
    "flatten(transform(sequence(1, length(word) - 1), "
    "i -> transform(sequence(i + 1, length(word)), "
    "j -> concat(substring(word, 1, i - 1), "
    "substring(word, i + 1, j - i - 1), "
    "substring(word, j + 1, length(word))))))"
)


def deletion_neighborhood_pairs(
    word_freq: DataFrame,
    min_freq: int = 2,
    min_len: int = 3,
    max_len: int = 20,
    max_distance: int = 1,
) -> DataFrame:
    """Edit-distance word pairs via the SymSpell deletion-neighborhood
    index — the EDIT-DISTANCE member of the near-dup family (typo/variant
    detection for vocabulary normalization, OCR cleanup, and tokenizer
    hygiene), found WITHOUT an all-pairs comparison.

    Index: each word emits its identity key plus every single-character
    deletion (``max_distance=1``), plus every two-character deletion
    (``max_distance=2``). Any pair at Levenshtein distance d <= the
    indexed depth must share a key — a substitution pair shares the
    deletion at the differing position; an insert/delete pair's shorter
    word IS a deletion of the longer; inductively, each unit edit either
    consumes one deletion on each side (substitution) or one deletion on
    the longer side (indel), so d edits are covered by d-deletion
    neighborhoods — and the exact native ``levenshtein`` verifies the
    candidates (keys also admit pairs up to distance 2*max_distance,
    e.g. transpositions under d=1 — the verify drops them).
    Output: (w1, w2, f1, f2, dist) with w1 < w2, each pair exactly once,
    ``dist`` the exact Levenshtein distance in [1, max_distance].

    Scale: the frequency floor and length band keep the index
    vocabulary-sized — |vocab| × (len + 1) keys at d=1, plus
    |vocab| × len·(len-1)/2 at d=2 (SymSpell's trade: index size for
    candidate precision); the join is an inverted-index equi-join whose
    per-key fan-out is the number of words sharing a deletion — bounded
    by alphabet size × positions, never corpus-sized.

    Cross-engine exactness: candidate generation is pure substring
    arithmetic and both engines' ``levenshtein`` is the standard
    unit-cost edit distance, so the whole operator value-hashes.
    """
    if max_distance not in (1, 2):
        raise ValueError(f"max_distance must be 1 or 2, got {max_distance}")
    wf = word_freq.filter(
        (F.col("f") >= min_freq)
        & (F.length("word") >= min_len)
        & (F.length("word") <= max_len)
    )
    if max_distance == 1:
        key_expr = _DEL1_KEYS
    else:
        # array_distinct: repeated-letter words generate the same
        # deletion through several position pairs ("aaaa" → "aa" six
        # ways); duplicate keys per word only inflate the candidate
        # join, never change the pair set.
        key_expr = (
            f"array_distinct(CASE WHEN length(word) >= 2 "
            f"THEN concat({_DEL1_KEYS}, {_DEL2_KEYS}) "
            f"ELSE {_DEL1_KEYS} END)"
        )
    keys = wf.select("word", "f", F.explode(F.expr(key_expr)).alias("dkey"))
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, F.col("a.dkey") == F.col("b.dkey"))
        .filter(F.col("a.word") < F.col("b.word"))
        .select(
            F.col("a.word").alias("w1"),
            F.col("b.word").alias("w2"),
            F.col("a.f").alias("f1"),
            F.col("b.f").alias("f2"),
        )
        # A pair can share several keys (e.g. "aaa"/"aa" shares "aa"
        # twice); emit it once. The candidate set is vocabulary-sized,
        # so this dedup shuffles derived words, never the corpus.
        .dropDuplicates(["w1", "w2"])
    )
    return cand.withColumn("dist", F.levenshtein("w1", "w2")).filter(
        F.col("dist") <= max_distance
    )


def _bloom_bit(digest: Column, seed: int, m_bits: int) -> Column:
    """One Bloom bit position: a 52-bit md5 fold of (digest | seed),
    mod ``m_bits`` — the same engine-reproducible md5→integer parse the
    sampling uniforms use (no xxhash64: it has no DuckDB twin)."""
    h = F.md5(F.concat(digest, F.lit(f"|{seed}")))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long") % F.lit(m_bits)


def bloom_incremental_dedup(
    incoming: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Incremental exact dedup of ``incoming`` against a historical corpus,
    Bloom-accelerated: the history compresses to a bit RELATION (distinct
    set bit positions, ≤ ``m_bits`` rows ≈ a few MB broadcast), incoming
    docs probe it map-side, and only the might-contain fraction (true
    dups + the false-positive rate) reaches the exact digest semi-join.
    Bloom filters have no false negatives, so the result is EXACT — the
    sketch only prunes work, never changes the answer.

    Why this matters at 100 TB: the naive incremental anti-join shuffles
    the FULL history digest set against every new batch; with the bloom
    relation the history is touched once to build O(m) bits, and the
    per-batch exact join processes only candidate rows. This is the
    relational form of the partition-/row-group-level bloom pushdown
    lakehouse formats ship.

    Returns ``incoming`` ids + ``bloom_candidate`` (hit all k bits) +
    ``is_duplicate`` (exact digest match in history).
    """
    digest = text_hash(text_col)
    hist_bits = (
        history.select(digest.alias("__h"))
        .select(
            F.explode(
                F.array(*[_bloom_bit(F.col("__h"), i, m_bits) for i in range(k)])
            ).alias("bit")
        )
        .distinct()
    )
    inc = incoming.select(F.col(id_col), digest.alias("__h"))
    inc_bits = inc.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.array(*[_bloom_bit(F.col("__h"), i, m_bits) for i in range(k)])
            )
        ).alias("bit"),
    )
    probe = (
        inc_bits.join(F.broadcast(hist_bits.withColumn("__hit", F.lit(1))), "bit", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_bits"),
            F.count("__hit").alias("__n_hits"),
        )
        .select(
            id_col,
            (F.col("__n_hits") == F.col("__n_bits")).alias("bloom_candidate"),
        )
    )
    # Exact confirmation for candidates only — no false negatives means
    # non-candidates are definitively new and skip the history join.
    dup_ids = (
        inc.join(probe.filter("bloom_candidate"), id_col, "left_semi")
        .join(
            history.select(digest.alias("__h")).distinct(), "__h", "left_semi"
        )
        .select(F.col(id_col), F.lit(True).alias("is_duplicate"))
    )
    return (
        probe.join(dup_ids, id_col, "left")
        .select(
            id_col,
            "bloom_candidate",
            F.coalesce("is_duplicate", F.lit(False)).alias("is_duplicate"),
        )
    )


def positional_ngrams(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """EVERY word k-gram occurrence with its 1-based token position —
    the positional twin of :func:`word_shingles` (which distincts and
    drops positions). Rows: (id, pos, __gh) where ``__gh`` is the
    xxhash64 of the k-gram's per-word xxhash64 array; each token starts
    at most one gram, so the relation is corpus-token-sized, and the
    shuffle carries 8-byte hashes, never gram text.

    Gram keying: each WORD is hashed once into a per-row ``__wh`` long
    array (its own Project, so the optimizer cannot inline it per
    gram), and each gram key is the xxhash64 of the k-long slice of
    that array — hashing
    8 longs (64 bytes) per gram instead of building and hashing a
    k-word concat string. Same injectivity argument as before (a
    cross-gram collision needs ~2^32 distinct grams, birthday bound;
    the DuckDB oracle groups by the literal gram string, so agreement
    doubles as the collision check). Measured on sf0.1 documents with
    the noop sink: gram build 4.3 → 1.3 s; repeated_spans end-to-end
    6.4 → 1.4 s (the gram subtree is evaluated twice there, so the
    saving compounds). Docs shorter than ``k`` words yield no rows."""
    words = F.split(F.col(text_col), " ")
    base = df.filter(F.size(words) >= k).select(
        F.col(id_col),
        F.transform(words, lambda w: F.xxhash64(w)).alias("__wh"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__wh") - (k - 1)),
        lambda i: F.xxhash64(F.slice("__wh", i, k)),
    )
    return (
        base.select(F.col(id_col), F.posexplode(grams).alias("pos0", "__gh"))
        .select(id_col, (F.col("pos0") + 1).cast("long").alias("pos"), "__gh")
    )


def _merge_gram_runs(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Shared gaps-and-islands merge for both repeated-span miners: fuse
    duplicated gram positions whose k-windows overlap or touch (gap <= k)
    into disjoint maximal spans. Input: (id, pos, n_docs) occurrence rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    runs = dup.withColumn(
        "__new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("__run", F.sum("__new").over(w))
    return (
        runs.groupBy(id_col, "__run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            (F.max("pos") + k - F.min("pos")).alias("span_tokens"),
            F.max("n_docs").alias("max_doc_support"),
        )
        .select(
            id_col, "span_start", "span_end", "span_tokens", "max_doc_support"
        )
    )


def repeated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Within-corpus repeated-span mining — the ExactSubstr dedup shape
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): find the maximal token spans of each document that are
    covered by word k-grams appearing in >= ``min_docs`` DISTINCT
    documents. Exact doc-level dedup misses partial copies; doc-level
    Jaccard finds WHICH docs overlap but not WHERE — this finds the
    boilerplate/quotation/mirror spans themselves, the unit a span-level
    excision pass removes.

    Approximation bound vs the suffix-array ExactSubstr (pinned by a
    property test against a sorted-suffix-block reference,
    tests/test_properties.py:test_repeated_spans_match_suffix_array_reference):
    the reported coverage EQUALS the union of token positions lying
    inside a cross-doc repeated token-substring of length >= k — span
    boundaries, token counts, and max doc support all agree exactly.
    The under-report class is exactly repeats SHORTER than k tokens
    (no complete k-window repeats, so they are invisible — lower k to
    see them); additionally, repeats that touch or overlap in token
    space fuse into one reported span (the union is exact; per-repeat
    attribution is not), and granularity is whole tokens, not
    characters.

    Pipeline (all relational, no UDFs): positional k-grams → per-gram
    distinct-doc support (groupBy on the 8-byte gram hash) → semi-join
    back the duplicated occurrences (one row per occurrence, no blowup)
    → per-doc gaps-and-islands merge. Two duplicated gram positions merge
    into one span when their windows overlap or touch (gap <= k), so
    output spans are DISJOINT in token space and ``span_tokens`` sums to
    the doc's duplicated-token coverage without double counting.

    Scale: the support groupBy shuffles (hash, id) pairs once; corpus
    text never shuffles. Universally-shared grams (true boilerplate) make
    big support counts, not big joins — the occurrence join stays one
    row per occurrence. The per-doc window sort keys on (doc, pos) —
    partition-local after the hash join's shuffle. A 64-bit gram-hash
    collision needs ~2^32 distinct grams to become likely (birthday
    bound); the oracle groups by the gram STRING and agrees, which is
    itself the empirical collision check.

    Returns (id, span_start, span_end, span_tokens, max_doc_support)
    with 1-based inclusive token indices.
    """
    grams = positional_ngrams(df, id_col, text_col, k)
    support = (
        grams.groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return _merge_gram_runs(grams.join(support, "__gh"), id_col, k)


def gram_support_index(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """The persistable half of incremental repeated-span mining: per-gram
    distinct-doc counts over a corpus — (``__gh``, ``n_docs``). Built once
    over history, written to parquet, and MERGED with each arrival
    batch's own counts (distinct-doc counts over disjoint doc sets add),
    so daily span mining never rescans history."""
    return (
        positional_ngrams(df, id_col, text_col, k)
        .groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("n_docs"))
    )


def incremental_repeated_spans(
    history: DataFrame | None,
    arrivals: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
    history_index: DataFrame | None = None,
) -> DataFrame:
    """Repeated-span mining for a daily-ingest shape (the incremental
    twin of :func:`repeated_spans`, same output contract, arrival docs
    only): a span in an ARRIVAL document is reported when its k-grams
    appear in >= ``min_docs`` distinct documents across history + the
    arrival batch — partial copies of historical docs AND same-batch
    mirror pairs both surface.

    Scale (the point of the incremental form): the historical side
    reduces to :func:`gram_support_index` — a (hash, count) relation
    that is precomputable, persistable, and mergeable (doc sets are
    disjoint, so distinct-doc counts ADD). Per batch, the index is
    semi-joined down to grams the batch actually contains before the
    merge, so the per-day cost is linear in the arrival batch, never in
    corpus history. Pass the PERSISTED index as ``history_index``
    ((__gh, n_docs) — e.g. read back from streaming/maintenance.py's
    maintained parquet) and history text is genuinely never rescanned;
    passing ``history`` docs instead rebuilds the index inline. Doc ids
    must be disjoint between history and arrivals (enforced when history
    docs are given; the caller guarantees it for a prebuilt index, whose
    rows carry no ids to check).
    """
    _check_incremental_inputs(
        "incremental_repeated_spans", history, arrivals, id_col, history_index
    )
    batch_grams = positional_ngrams(arrivals, id_col, text_col, k)
    # History index pruned to the batch's grams BEFORE the merge: the
    # persisted index is corpus-vocabulary-sized; the batch only ever
    # touches its own gram set.
    index = (
        history_index
        if history_index is not None
        else gram_support_index(history, id_col, text_col, k)
    )
    batch_support = (
        batch_grams.groupBy("__gh").agg(F.countDistinct(id_col).alias("n_docs"))
    )
    # Key set derived from the support aggregate (not a separate
    # distinct over the exploded grams) so the physical plan reuses the
    # aggregate's exchange — one fewer explode pass over the batch.
    hist_support = index.join(
        batch_support.select("__gh"), "__gh", "left_semi"
    )
    support = (
        hist_support.unionByName(batch_support)
        .groupBy("__gh")
        .agg(F.sum("n_docs").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return _merge_gram_runs(batch_grams.join(support, "__gh"), id_col, k)
