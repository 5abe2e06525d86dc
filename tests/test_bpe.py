"""BPE trainer semantics pinned against a pure-Python reference
implementation (Sennrich et al. 2016 pseudocode), independent of both
Spark and the DuckDB oracle (which cross-check each other in
test_catalog_oracle / scripts/verify_oracle.py)."""

from __future__ import annotations

import re
from collections import Counter

import pyspark.sql.functions as F

from traffic_accidents_airflow_kafka_spark.operators import bpe
from traffic_accidents_airflow_kafka_spark.operators.text import BPE_ISH_PATTERN

CORPUS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a cat and a mat and a hat",
    "hats and mats and cats!",
    "low lower lowest, new newer newest",
    "low low low low low",
]


def _ref_word_freq(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        c.update(re.findall(BPE_ISH_PATTERN, t))
    return c


def _ref_merge_word(syms: list[str], lhs: str, rhs: str) -> list[str]:
    """Greedy left-to-right merge — the reference semantics both the
    Spark array fold and the oracle's replace() must reproduce."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(texts: list[str], n_merges: int, min_freq: int = 2):
    freq = _ref_word_freq(texts)
    vocab = {w: list(w) for w in freq}
    merges = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        # count desc, then lexicographic (lhs, rhs) — the deterministic
        # tie-break train_bpe and the oracle both use.
        (lhs, rhs), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_freq:
            break
        merges.append((rank, lhs, rhs, cnt))
        vocab = {w: _ref_merge_word(s, lhs, rhs) for w, s in vocab.items()}
    return merges, vocab


def _docs(spark):
    return spark.createDataFrame([(t,) for t in CORPUS], "text STRING")


def test_train_bpe_matches_pure_python_reference(spark):
    expected, _ = _ref_train(CORPUS, n_merges=8)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe.train_bpe(_docs(spark), n_merges=8).orderBy("rank").collect()
    ]
    assert got == expected


def test_train_bpe_follows_a_corpus_rewritten_in_place(spark, tmp_path):
    """A corpus file rewritten at the same path, so the read plan is the
    same: training returns the new corpus's merges, not the old ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table

    def train(texts: list[str]) -> list[tuple[int, str, str, int]]:
        pq.write_table(pa.table({"text": texts}), str(tmp_path / "documents.parquet"))
        docs = load_table(spark, str(tmp_path), "documents")
        return [
            (r["rank"], r["lhs"], r["rhs"], r["pair_count"])
            for r in bpe.train_bpe(docs, n_merges=4).orderBy("rank").collect()
        ]

    assert train(CORPUS) == _ref_train(CORPUS, n_merges=4)[0]
    rewritten = ["qq qq qq", "ww ww ww"]
    assert train(rewritten) == _ref_train(rewritten, n_merges=4)[0]


def test_train_bpe_stops_below_min_freq(spark):
    docs = spark.createDataFrame([("ab zq",)], "text STRING")
    # every pair occurs once; with min_freq=2 no merge is learned
    assert bpe.train_bpe(docs, n_merges=4, min_freq=2).count() == 0


def test_apply_merge_greedy_overlap_semantics(spark):
    cases = [
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
        # no false positive when a symbol merely ENDS with lhs
        (["c", "ca", "b"], ("a", "b"), ["c", "ca", "b"]),
        (["x", "a", "b", "y"], ("a", "b"), ["x", "ab", "y"]),
        (["a", "b"], ("b", "a"), ["a", "b"]),
        ([], ("a", "b"), []),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i INT, syms ARRAY<STRING>",
    )
    for i, (syms, (lhs, rhs), want) in enumerate(cases):
        got = (
            df.where(F.col("i") == i)
            .select(bpe.apply_merge("syms", lhs, rhs).alias("m"))
            .first()["m"]
        )
        assert got == want, f"case {i}: {syms} + {(lhs, rhs)} -> {got}, want {want}"
        assert _ref_merge_word(syms, lhs, rhs) == want  # reference agrees


def test_encode_stats_applies_merges_in_training_order(spark):
    docs = _docs(spark)
    merges_df = bpe.train_bpe(docs, n_merges=8)
    merges = [(r["lhs"], r["rhs"]) for r in merges_df.orderBy("rank").collect()]
    _, ref_vocab = _ref_train(CORPUS, n_merges=8)
    enc = {
        r["word"]: (r["f"], r["symbols"], r["n_symbols"])
        for r in bpe.encode_stats(docs, merges).collect()
    }
    ref_freq = _ref_word_freq(CORPUS)
    assert set(enc) == set(ref_vocab)
    for w, syms in ref_vocab.items():
        f, got_syms, n = enc[w]
        assert got_syms == syms, f"{w}: {got_syms} != {syms}"
        assert f == ref_freq[w]
        assert n == len(syms)


def test_encode_stats_over_several_fold_chunks_matches_reference(spark):
    """More merges than one fold chain holds, so the chunked checkpoint
    path runs: pairs that never match fill the first chunk and the
    trained merges after them span the chunk boundary. Every word's
    symbols equal the pure-Python fold of the whole list."""
    docs = _docs(spark)
    trained = [
        (r["lhs"], r["rhs"])
        for r in bpe.train_bpe(docs, n_merges=12).orderBy("rank").collect()
    ]
    merges = [("#", str(i)) for i in range(bpe.MERGES_PER_CHECKPOINT - 4)] + trained
    assert len(merges) > bpe.MERGES_PER_CHECKPOINT
    ref_freq = _ref_word_freq(CORPUS)
    enc = {r["word"]: r for r in bpe.encode_stats(docs, merges).collect()}
    assert set(enc) == set(ref_freq)
    for w, f in ref_freq.items():
        syms = list(w)
        for lhs, rhs in merges:
            syms = _ref_merge_word(syms, lhs, rhs)
        assert enc[w]["symbols"] == syms, w
        assert enc[w]["n_symbols"] == len(syms)
        assert enc[w]["f"] == f


def test_apply_merge_random_cases_match_reference(spark):
    """300 seeded-random symbol arrays × 3 merge pairs, evaluated in ONE
    Spark job, each compared against the pure-Python greedy scan —
    covers overlap runs, absent pairs, and merged-token collisions the
    handcrafted cases can't enumerate."""
    import random

    rng = random.Random(20260814)
    alphabet = ["a", "b", "ab", "ba", "c"]
    pairs = [("a", "b"), ("a", "a"), ("ab", "c")]
    cases = [
        [rng.choice(alphabet) for _ in range(rng.randint(0, 12))]
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, syms in enumerate(cases)], "i INT, syms ARRAY<STRING>"
    )
    cols = [
        bpe.apply_merge("syms", lhs, rhs).alias(f"m{j}")
        for j, (lhs, rhs) in enumerate(pairs)
    ]
    rows = {r["i"]: r for r in df.select("i", *cols).collect()}
    for i, syms in enumerate(cases):
        for j, (lhs, rhs) in enumerate(pairs):
            assert rows[i][f"m{j}"] == _ref_merge_word(syms, lhs, rhs), (
                f"case {i} pair {j}: {syms}"
            )


def test_replace_encoding_equals_greedy_merge_property():
    """The DuckDB oracle applies merges as string replace() over a
    two-marker symbol encoding: each symbol rendered as NL+s+TAB (both
    markers are whitespace, which the pretokenizer excludes from
    symbols). Property-check that trick against the greedy reference
    scan in pure Python (no engines): for any symbol list and pair,
    decode(replace(encode(syms))) == greedy merge.

    Both markers are required. A prefix-only encoding is ambiguous:
    ['a', 'aa'] with pair (a, a) encodes to NL+a+NL+aa whose prefix
    NL+a+NL+a falsely matches — the pattern may end mid-symbol when a
    symbol prefix-extends rhs (hypothesis found exactly this)."""
    from hypothesis import given, settings, strategies as st

    sym = st.text(alphabet="abc", min_size=1, max_size=3)

    @settings(max_examples=500, deadline=None)
    @given(st.lists(sym, max_size=12), sym, sym)
    def check(syms, lhs, rhs):
        encoded = "".join("\n" + s + "\t" for s in syms)
        replaced = encoded.replace(
            "\n" + lhs + "\t\n" + rhs + "\t", "\n" + lhs + rhs + "\t"
        )
        decoded = replaced[1:-1].split("\t\n") if replaced else []
        assert decoded == _ref_merge_word(syms, lhs, rhs), (syms, lhs, rhs)

    check()


def test_tokenizer_cli_train_and_export(spark, sf_dir, tmp_path):
    """The spark-submit CLI body: writes merges + segmentations parquet
    and reports a coherent fertility summary (symbols per word between 1
    and chars per word; compression >= 1)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "train_tokenizer",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "train_tokenizer.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = str(tmp_path / "tok")
    summary = mod.train_and_export(spark, sf_dir, out, n_merges=8)
    assert summary["n_merges"] == 8
    merges = spark.read.parquet(os.path.join(out, "merges"))
    assert merges.count() == 8
    segs = spark.read.parquet(os.path.join(out, "segmentations"))
    assert segs.count() == summary["vocab_size"] > 0
    assert 1.0 <= summary["symbols_per_word"] <= summary["chars_per_word"]
    assert summary["compression_vs_chars"] >= 1.0


def test_oracle_chain_stops_early_like_trainer(spark):
    """On a corpus whose best remaining pair drops below min_freq before
    n_merges rounds, the SQL oracle must stop exactly where train_bpe
    stops (HAVING-empty rounds pass the vocab through) — and never empty
    the vocabulary via the old CROSS JOIN."""
    import duckdb

    from traffic_accidents_airflow_kafka_spark.plans import tokenizer

    texts = ["aa bb", "aa bb zq"]  # (a,a)=2, (b,b)=2, then best pair is 1
    expected, ref_vocab = _ref_train(texts, n_merges=12)
    assert len(expected) == 2  # sanity: training stops after two merges

    got = [
        (r["rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe.train_bpe(
            spark.createDataFrame([(t,) for t in texts], "text STRING"),
            n_merges=12,
        ).orderBy("rank").collect()
    ]
    assert got == expected

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", [(t,) for t in texts])
    sql = f"""{tokenizer._bpe_cte_chain(12)}
    SELECT * FROM ({tokenizer._TRAIN_SELECT}) ORDER BY rank
    """
    oracle_rows = [tuple(r) for r in con.execute(sql).fetchall()]
    assert oracle_rows == expected
    # vocab survives the empty rounds intact
    seg_sql = f"""{tokenizer._bpe_cte_chain(12)}
    SELECT w, replace(substr(s, 2, length(s) - 2), chr(9) || chr(10), ' ') AS seg
    FROM r12 ORDER BY w
    """
    segs = dict(con.execute(seg_sql).fetchall())
    assert segs == {w: " ".join(syms) for w, syms in ref_vocab.items()}
