"""The r10 small-graph driver fast path must be bit-identical to the
distributed iterative loops it short-circuits (operators/graph_local.py),
also when an arc has a null endpoint (as must the connected_components
union-find fast path). Forcing the distributed path goes through the
monkeypatchable SMALL_GRAPH_ARCS bound (resolved at call time in
try_collect_arcs)."""

from __future__ import annotations

import pytest

from bridge_analytics_template_spark.llm.dedup import connected_components
from bridge_analytics_template_spark.operators import graph_local
from bridge_analytics_template_spark.queries.corpus import (
    _pagerank_ppm,
    graph_hits_ppm,
    graph_pagerank_ppm,
)
from bridge_analytics_template_spark.queries.pipeline import graph_pagerank

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "fn", [graph_pagerank, graph_pagerank_ppm, graph_hits_ppm],
    ids=["pagerank_full", "pagerank_ppm", "hits_ppm"],
)
def test_fast_path_matches_distributed(spark, fn, monkeypatch):
    q = getattr(fn, "__wrapped__", fn)
    fast = sorted(tuple(r) for r in q(spark, SF).collect())
    assert fast, "fixture graph must be non-empty"
    monkeypatch.setattr(graph_local, "SMALL_GRAPH_ARCS", 0)
    slow = sorted(tuple(r) for r in q(spark, SF).collect())
    spark.catalog.clearCache()
    assert fast == slow


def test_null_endpoint_fast_path_matches_distributed(spark, monkeypatch):
    # a null id has no int64 form: the shared arc probe must not invent one
    arcs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, None), (None, 2)], "src long, dst long"
    )
    fast = sorted((tuple(r) for r in _pagerank_ppm(spark, arcs).collect()), key=str)
    monkeypatch.setattr(graph_local, "SMALL_GRAPH_ARCS", 0)
    slow = sorted((tuple(r) for r in _pagerank_ppm(spark, arcs).collect()), key=str)
    spark.catalog.clearCache()
    assert fast == slow


def test_connected_components_null_endpoint_matches_distributed(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, None), (None, 6), (7, 8)], "doc_a long, doc_b long"
    )
    fast = [tuple(r) for r in connected_components(edges).orderBy("node").collect()]
    monkeypatch.setattr(graph_local, "SMALL_GRAPH_ARCS", 0)
    slow = [tuple(r) for r in connected_components(edges).orderBy("node").collect()]
    spark.catalog.clearCache()
    assert fast == slow
