"""The one cosine of the similarity operators (``operators/similarity.py:
cosine``): zero vectors score the -2.0 sentinel instead of dividing by
zero, and no other code in ``operators/`` divides a dot product."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from traffic_accidents_airflow_kafka_spark.operators import similarity
from traffic_accidents_airflow_kafka_spark.session import scoped_conf

OPERATORS = Path(similarity.__file__).resolve().parent


@pytest.fixture(scope="module")
def with_zero_vector(spark):
    # v0 ≈ v1, v2 orthogonal to both, v3 the zero vector.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_scores_a_zero_vector_with_the_sentinel(spark, with_zero_vector):
    """Under ANSI a 0-norm denominator raises DIVIDE_BY_ZERO; the helper
    scores every pair that involves the zero vector -2.0 instead."""
    with scoped_conf(spark, "spark.sql.ansi.enabled", "true"):
        rows = similarity.cosine_topk(with_zero_vector, k=3).collect()
    got = {(r["qid"], r["nid"]): r["cosine"] for r in rows}
    assert len(got) == 12
    for (q, n), c in got.items():
        assert (c == -2.0) == (3 in (q, n))
    top = {r["qid"]: r["nid"] for r in rows if r["rank"] == 1}
    assert top[0] == 1 and top[1] == 0
    assert all(r["rank"] == 3 for r in rows if r["nid"] == 3)


def test_cosine_near_dup_pairs_leave_a_zero_vector_out(spark, with_zero_vector):
    """With no hyperplanes every vector shares one bucket, so the zero
    vector meets every other vector in the pair join; its sentinel clears
    no threshold, so no pair holds it."""
    with scoped_conf(spark, "spark.sql.ansi.enabled", "true"):
        rows = similarity.cosine_near_dup_pairs(
            with_zero_vector, threshold=-1.0, n_planes=0, dim=4
        ).collect()
    assert {(r["d1"], r["d2"]) for r in rows} == {(0, 1), (0, 2), (1, 2)}


def _dot_divisions(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``_dot_double(...) / x``."""
    found: list[tuple[str, int]] = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and isinstance(node.left, ast.Call)
            and getattr(node.left.func, "id", getattr(node.left.func, "attr", None))
            == "_dot_double"
        ):
            found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def test_only_the_cosine_helper_divides_a_dot_product():
    """Every cosine in ``operators/`` goes through ``similarity.cosine``:
    no module there divides ``_dot_double(...)`` anywhere else."""
    sites = {
        f"{path.name}:{func}:{line}"
        for path in sorted(OPERATORS.glob("*.py"))
        for func, line in _dot_divisions(ast.parse(path.read_text(), str(path)))
    }
    helper = {s for s in sites if s.startswith("similarity.py:cosine:")}
    assert len(helper) == 1, sites
    assert sites == helper, sorted(sites - helper)
