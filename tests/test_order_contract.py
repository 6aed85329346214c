"""The output-order contract of the query registry: a query returns its rows
as an unordered multiset, and ``ordered(name, df)`` presents them in the
order the query declares (``query(..., order_by=...)``).

Covered: the nine ``perfbench`` ``analytics`` ops, and the queries whose
bodies share code that used to end in a sort — ``llm_hybrid_rrf`` composes
``llm_bm25_topk``; ``llm_dup_kcore``, ``graph_pagerank_ppm`` and
``bridge_validate`` return a helper's frame that other callers use too;
``sql_pipe_revenue`` and ``llm_semdedup`` sorted under a final ``select``.
"""

from __future__ import annotations

from collections import Counter

import pytest

from bridge_analytics_template_spark.queries import ORDERS, QUERIES, ordered
from tools.plan_lint import is_root_sort

NAMES = [
    "flagship",
    "pricing_summary",
    "join_inner",
    "join_sort_merge",
    "join_asof",
    "agg_rollup",
    "w_running_sum",
    "t_tumbling_counts",
    "t_session_islands",
    "llm_hybrid_rrf",
    "llm_dup_kcore",
    "graph_pagerank_ppm",
    "bridge_validate",
    "sql_pipe_revenue",
    "llm_semdedup",
]


def _in_order(a, b, specs) -> bool:
    """Row ``a`` may precede row ``b`` under the declared sort specs (ASC
    puts nulls first, DESC puts them last: Spark's defaults)."""
    for spec in specs:
        col, *direction = spec.split()
        desc = bool(direction) and direction[0].upper() == "DESC"
        va, vb = a[col.strip("`")], b[col.strip("`")]
        if va == vb:
            continue
        if va is None or vb is None:
            return (va is None) != desc
        return (va > vb) if desc else (va < vb)
    return True


@pytest.mark.parametrize("name", NAMES)
def test_ordered_presents_same_rows_in_declared_order(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert not is_root_sort(df._jdf.queryExecution().analyzed())
    rows = ordered(name, df).collect()
    assert Counter(rows) == Counter(df.collect())
    specs = ORDERS.get(name)
    if specs is None:
        assert ordered(name, df) is df
        return
    assert all(_in_order(a, b, specs) for a, b in zip(rows, rows[1:]))


def test_undeclared_name_returns_same_frame(spark):
    df = spark.range(3)
    assert ordered("no_such_query", df) is df


def test_ordered_parses_declared_specs(spark):
    df = spark.createDataFrame(
        [(1, None), (1, "b"), (2, "a"), (None, "c")], "k int, `v s` string"
    )
    ORDERS["_spec_probe"] = ("k DESC", "`v s` NULLS LAST")
    try:
        got = [tuple(r) for r in ordered("_spec_probe", df).collect()]
    finally:
        del ORDERS["_spec_probe"]
    assert got == [(2, "a"), (1, "b"), (1, None), (None, "c")]


def test_root_sort_detection(spark):
    df = spark.range(5)
    assert is_root_sort(df.orderBy("id")._jdf.queryExecution().analyzed())
    assert is_root_sort(df.orderBy("id").select("id").alias("t")._jdf.queryExecution().analyzed())
    assert not is_root_sort(df.orderBy("id").limit(2)._jdf.queryExecution().analyzed())
    assert not is_root_sort(df.sortWithinPartitions("id")._jdf.queryExecution().analyzed())
    assert not is_root_sort(df._jdf.queryExecution().analyzed())
