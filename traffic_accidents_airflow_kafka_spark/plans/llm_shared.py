"""Shared helpers for the LLM-pipeline catalog segments: engine-parity SQL folds, the shingle CTE, and the near-dup pair graph artifact.

Segment of the LLM-pipeline catalog (see plans/llm.py — the façade
that imports every segment in registration order). Split from the
monolithic llm.py in r10 (VERDICT r9 #8); all entry and helper text is
carried verbatim, so file history continues there.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup
from ..sources.memo import _artifact
from ..sources.tables import load_table

_NUM_HASHES = 8

def _sql_dot(vec: str, lits: list[float], dim: int) -> str:
    """Sequential-fold dot product of a DuckDB vector column against
    literal plane coefficients — the SQL mirror of
    operators/similarity._dot_double (same fold order, same double
    promotion, repr-round-tripped literals). Shared by every
    plane-literal oracle in this module."""
    lit = "[" + ", ".join(repr(float(x)) for x in lits) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> CAST({vec}[j] AS DOUBLE) * ({lit})[j])), (a, b) -> a + b)"
    )


def _sql_fold_dot(a: str, b: str, dim: int) -> str:
    """Sequential-fold dot of two DuckDB vector expressions — the SQL
    mirror of operators/similarity._dot_double (same fold order, same
    double promotion). ONE definition for every exact-parity oracle:
    a drifted copy would silently desynchronize an oracle's fold form."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"j -> CAST({a}[j] AS DOUBLE) * CAST({b}[j] AS DOUBLE))), "
        "(a, b) -> a + b)"
    )


def _sql_vnorm(vec: str, dim: int) -> str:
    """Sequential-fold L2 norm of a DuckDB vector expression (the SQL
    mirror of operators/similarity.vector_norm)."""
    return f"sqrt({_sql_fold_dot(vec, vec, dim)})"


_SHINGLE_CTE = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 2),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM words WHERE len(w) >= 3
      )
    )
"""


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair graph (word-3-gram Jaccard >= 0.5) as a
    build-once artifact: six catalog entries — dedup_clusters,
    dedup_clusters_star, dedup_pagerank_exact,
    dedup_triangle_stats, pagerank_rank_audit — consume the IDENTICAL
    relation, exactly how a curation pipeline materializes the graph
    once and runs every downstream analysis against it. Memoized per
    (session, sf_dir); localCheckpoint truncates the shingle-join
    lineage so consumers replay nothing."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        sh = dedup.word_shingle_keys(docs, "doc_id", "text", n=3)
        return (
            dedup.jaccard_pairs(sh, "doc_id")
            .filter(F.col("jaccard") >= 0.5)
            .localCheckpoint(eager=True)
        )

    return _artifact(spark, sf_dir, "neardup-pairs", build)


