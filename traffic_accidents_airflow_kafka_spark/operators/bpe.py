"""Distributed BPE tokenizer training (Sennrich et al. 2016, the
map-reduce formulation every industrial tokenizer trainer uses).

The scale insight that makes BPE training a Spark-sized problem: after
the FIRST pass collapses the corpus to a (pretoken, frequency) table,
every subsequent step — pair counting, argmax, merge application — runs
over the *vocabulary*, whose size is bounded by language (``~10^6``
distinct pretokens even at 100 TB), not by the corpus. One corpus-sized
word-count shuffle up front, then ``n_merges`` vocabulary-sized rounds:

1. ``word_freq``: explode the pretokenizer over the corpus, hash-count —
   the classic word count (map-side partial aggregation, the only
   corpus-sized shuffle in the whole trainer).
2. ``pair_counts``: each vocab word contributes its adjacent symbol
   pairs weighted by its frequency; hash-aggregate on (lhs, rhs).
3. Driver picks the argmax pair (ONE row collected per round, with a
   deterministic count-desc / lexicographic tie-break so training is
   reproducible run-to-run and engine-to-engine).
4. ``apply_merge``: a native array fold rewrites each word's symbol
   array greedily left-to-right — no UDF, stays JVM-side.

Rounds materialize via ``localCheckpoint`` (the pagerank/CC idiom in
this repo: truncate lineage so round N's plan doesn't replay rounds
1..N-1) and shuffle-partition count is sized to the vocabulary, not
inherited from the corpus-sized session default.

Reference anchor: the reference repo has no tokenizer (its pipeline ends
at SQL dashboards); this extends the engine's training-data surface the
way SURVEY.md §2's LLM-ops section mandates (token accounting already
prices corpora in BPE-ish tokens — this trains the merges that make
those tokens real).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..session import SHUFFLE_PARTITIONS, scoped_conf
from .text import bpe_ish_tokens


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, f): pretoken frequency table — the corpus-collapsing pass.

    Scale: the ONLY corpus-sized stage of BPE training. Partial
    (map-side) aggregation shrinks each task's output to its distinct
    pretokens before the shuffle; the result is vocabulary-sized.
    """
    return (
        docs.select(F.explode(bpe_ish_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def initial_symbols(word: Column | str) -> Column:
    """Split a word into its initial single-character symbol array.

    ``transform(sequence(...), substring)`` rather than ``split(w, '')``
    — empty-pattern split semantics differ across engines/versions;
    positional substring is unambiguous in both Spark and the DuckDB
    oracle.
    """
    w = F.col(word) if isinstance(word, str) else word
    return F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )


def pair_counts(symtab: DataFrame, syms_col: str = "syms") -> DataFrame:
    """(lhs, rhs, pair_count) over a (f, syms) symbol table.

    Each word emits its adjacent symbol pairs weighted by word frequency
    f. Vocabulary-sized input; |pairs| <= total symbol count of the
    vocab, hash-aggregated with map-side combine.
    """
    s = F.col(syms_col)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(s) - 1),
        lambda i: F.struct(
            F.element_at(s, i).alias("lhs"), F.element_at(s, i + 1).alias("rhs")
        ),
    )
    return (
        symtab.where(F.size(s) >= 2)
        .select(F.col("f"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("f").alias("pair_count"))
    )


def apply_merge(syms_col: str | Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right merge of adjacent (lhs, rhs) into lhs||rhs.

    A native array fold (no UDF): append each symbol unless the
    accumulator ends with ``lhs`` and the symbol is ``rhs`` — then the
    tail is replaced with the merged token. Overlap semantics match
    reference BPE: in ``aaaa`` with pair (a,a), the first two merge,
    the merged "aa" no longer equals "a", so the scan resumes — yielding
    [aa, aa], exactly the greedy result. (The merged token can never
    retrigger the same rule: lhs||rhs is strictly longer than lhs.)
    """
    s = F.col(syms_col) if isinstance(syms_col, str) else syms_col
    l_lit, r_lit = F.lit(lhs), F.lit(rhs)
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == l_lit)
            & (x == r_lit),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: Shuffle partitions for the vocabulary-sized merge rounds: the pair
#: table is bounded by the vocabulary, not the corpus.
VOCAB_PARTITIONS = 4


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    min_freq: int = 2,
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns (rank, lhs, rhs, pair_count).

    Stops early when the best remaining pair's count drops below
    ``min_freq``. The per-round driver traffic is exactly one row (the
    argmax pair); all counting stays distributed. The vocabulary-sized
    rounds shuffle on ``VOCAB_PARTITIONS`` partitions (the corpus-sized
    word count keeps the session default).

    Every call trains. Callers that reuse one merge table across encodes
    hold it in the build-once memo, which retrains when the corpus files
    change (``plans/tokenizer.py:_trained_merges``).
    """
    spark = docs.sparkSession
    schema = "rank INT, lhs STRING, rhs STRING, pair_count BIGINT"
    symtab = (
        word_freq(docs, text_col)
        .select("f", initial_symbols("word").alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    last_ckpt = symtab
    with scoped_conf(spark, SHUFFLE_PARTITIONS, VOCAB_PARTITIONS):
        try:
            for rank in range(n_merges):
                top = (
                    pair_counts(last_ckpt)
                    .orderBy(F.desc("pair_count"), "lhs", "rhs")
                    .limit(1)
                    .collect()
                )
                if not top or top[0]["pair_count"] < min_freq:
                    break
                lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
                merges.append((rank, lhs, rhs, int(cnt)))
                new_tab = last_ckpt.withColumn(
                    "syms", apply_merge("syms", lhs, rhs)
                ).localCheckpoint()
                last_ckpt.unpersist()
                last_ckpt = new_tab
        finally:
            last_ckpt.unpersist()
    return spark.createDataFrame(merges, schema)


def encode_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    materialize_every: int = 64,
) -> DataFrame:
    """Apply a trained merge list to the corpus vocabulary and report
    per-word segmentations: (word, f, n_symbols, symbols).

    Encoding also runs at vocabulary scale — each distinct word is
    segmented once (chained merge folds, applied in training order),
    then doc-level token counts are a (word → n_symbols) broadcast join
    away. Merge application order matters and is preserved.

    Fold chains materialize every ``materialize_every`` merges: one
    unbounded expression chain blows the JVM stack around ~1000 nested
    folds (measured: StackOverflowError in the column converter), and
    production merge tables are 10^4-10^5 deep. Chunked checkpoints keep
    expression depth constant while staying vocabulary-sized; merge
    lists at or below the chunk size (the catalog queries) build exactly
    the old single-chain plan.
    """
    tab = word_freq(docs, text_col).select(
        "word", "f", initial_symbols("word").alias("syms")
    )
    col: Column = F.col("syms")
    pending = 0
    prev_ckpt = None
    for lhs, rhs in merges:
        if pending == materialize_every:
            tab = tab.withColumn("syms", col).localCheckpoint()
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            prev_ckpt = tab
            col = F.col("syms")
            pending = 0
        col = apply_merge(col, lhs, rhs)
        pending += 1
    return tab.select(
        "word",
        "f",
        col.alias("symbols"),
        F.size(col).alias("n_symbols"),
    )
