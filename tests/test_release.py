"""``session.release`` and ``session.Rounds`` are the one way to free a
materialized frame: an operator releases every checkpoint it made that
its result does not read, on success and on failure."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from tests.oracle_utils import persistent_rdd_ids, read_rdd_ids
from traffic_accidents_airflow_kafka_spark.operators import bpe, dedup, graph, unigram
from traffic_accidents_airflow_kafka_spark.session import Rounds, release

PACKAGE = "traffic_accidents_airflow_kafka_spark"
ROOT = Path(__file__).resolve().parent.parent

TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "low lower lowest, new newer newest",
    "low low low low low",
]


def _path_graph(spark, n: int):
    """The pairs of an ``n``-node path: its diameter costs CC n rounds."""
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "d1 long, d2 long")


def _docs(spark):
    return spark.createDataFrame([(t,) for t in TEXTS], "text STRING")


def _cc(spark, sf_dir):
    pairs = _path_graph(spark, 41)
    return lambda: dedup.connected_components(pairs, "d1", "d2"), []


def _pagerank(loop, n: int = 12):
    def setup(spark, sf_dir):
        g = graph.prepare_pair_graph(_path_graph(spark, n))
        return lambda: loop(g, iters=10), [g.edges_deg, g.nodes]

    return setup


def _dedup_pagerank_exact(spark, sf_dir):
    from traffic_accidents_airflow_kafka_spark.plans.llm_graph import dedup_pagerank_exact
    from traffic_accidents_airflow_kafka_spark.plans.llm_shared import _neardup_pairs

    _neardup_pairs(spark, sf_dir)  # build the shared pair artifact outside the count
    return lambda: dedup_pagerank_exact(spark, sf_dir), []


def _train_bpe(spark, sf_dir):
    docs = _docs(spark)
    return lambda: bpe.train_bpe(docs, n_merges=12), []


def _encode_stats(spark, sf_dir):
    docs = _docs(spark)
    # Pairs that never match fill two fold chunks; the trained merges
    # after them span the second checkpoint.
    merges = [("#", str(i)) for i in range(2 * bpe.MERGES_PER_CHECKPOINT - 4)]
    merges += [(r["lhs"], r["rhs"]) for r in bpe.train_bpe(docs, n_merges=8).orderBy("rank").collect()]
    return lambda: bpe.encode_stats(docs, merges), []


def _hard_em(spark, sf_dir):
    wf = spark.createDataFrame([("xyxyxyxy", 100), ("q", 1)], "word STRING, f BIGINT")
    return lambda: unigram.hard_em_train(wf, vocab_size=4, max_piece_len=2, n_iters=3)[0], []


def _stream_cdc(spark, sf_dir):
    from traffic_accidents_airflow_kafka_spark.plans.streaming_plans import stream_cdc_apply
    from traffic_accidents_airflow_kafka_spark.sources.tables import table_schema

    table_schema(spark, sf_dir, "events")  # memoize the footer sniff outside the count
    return lambda: stream_cdc_apply(spark, sf_dir), []


def _stream_topics_fanout(spark, sf_dir):
    from traffic_accidents_airflow_kafka_spark.plans.streaming_plans import stream_topics_fanout

    return lambda: stream_topics_fanout(spark, sf_dir), []


CASES = {
    "connected_components": _cc,
    "pagerank": _pagerank(graph.pagerank),
    "pagerank_fixedpoint": _pagerank(graph.pagerank_fixedpoint),
    # A one-node path has no edge: the graph is empty.
    "pagerank_empty_graph": _pagerank(graph.pagerank, n=1),
    "pagerank_fixedpoint_empty_graph": _pagerank(graph.pagerank_fixedpoint, n=1),
    "dedup_pagerank_exact": _dedup_pagerank_exact,
    "train_bpe": _train_bpe,
    "encode_stats": _encode_stats,
    "hard_em_train": _hard_em,
    "stream_cdc_apply": _stream_cdc,
    "stream_topics_fanout": _stream_topics_fanout,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_operator_keeps_only_the_checkpoint_its_result_reads(spark, sf_dir, case):
    """The persistent RDDs an operator adds are the checkpoint its result
    reads, at most one; ``train_bpe``, ``stream_topics_fanout`` and the
    rank loops over an empty graph build their results on the driver, so
    they add none. The result reads nothing its caller owns: it stays
    readable after the caller releases those frames."""
    call, owned = CASES[case](spark, sf_dir)
    before = persistent_rdd_ids(spark)
    result = call()
    try:
        new = persistent_rdd_ids(spark) - before
        assert new <= read_rdd_ids(result), new
        assert len(new) <= 1
        assert not read_rdd_ids(result) & set().union(*map(read_rdd_ids, owned))
        release(*owned)
        result.count()  # what the result reads is still there
    finally:
        release(result, *owned)


def test_a_raising_rounds_body_releases_every_checkpoint(spark):
    before = persistent_rdd_ids(spark)
    df = spark.range(8)
    with pytest.raises(RuntimeError, match="synthetic"):
        with Rounds() as rounds:
            for _ in range(3):
                df = rounds.checkpoint(df.selectExpr("id + 1 AS id"))
            raise RuntimeError("synthetic")
    assert persistent_rdd_ids(spark) - before == set()


def test_release_frees_a_cache_and_a_checkpoint(spark):
    """A cached checkpoint holds two RDDs; ``unpersist()`` alone frees
    only the cache."""
    before = persistent_rdd_ids(spark)
    df = spark.range(8).localCheckpoint().cache()
    df.count()
    assert len(persistent_rdd_ids(spark) - before) == 2
    release(df)
    assert not df.is_cached
    assert persistent_rdd_ids(spark) - before == set()


def test_only_session_frees_frames():
    """No ``.unpersist(`` and no ``queryExecution`` in the package outside
    ``session.py``, and the per-site release helpers are gone."""
    from traffic_accidents_airflow_kafka_spark.sources import memo
    from traffic_accidents_airflow_kafka_spark.streaming import fanout

    offenders = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in sorted((ROOT / PACKAGE).rglob("*.py"))
        if path != ROOT / PACKAGE / "session.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Attribute) and node.attr in ("unpersist", "queryExecution")
    ]
    assert not offenders, offenders
    for module, name in ((graph, "_RoundCheckpointer"), (fanout, "_release"), (memo, "_release")):
        assert not hasattr(module, name), f"{module.__name__}.{name}"
