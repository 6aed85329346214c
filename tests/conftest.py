from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bridge_analytics_template_spark.session import get_spark  # noqa: E402
from perfbench.layers import SparkCounters, Spans  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn) -> (fn(), jobs)``: the Spark jobs ``fn`` ran, counted
    as one span of the benchmark's tracer (``perfbench/layers.py``), as
    ``tools/ab.py`` counts a phase. The span's job group is cleared after
    ``fn``, so later jobs on this thread carry none."""
    spans = Spans(spark.sparkContext)
    counters = SparkCounters(spark, spans)

    def run(fn):
        counters.begin()
        try:
            with spans("jobs_of"):
                out = fn()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return out, counters.end()["jobs"]

    return run


@pytest.fixture
def sql_conf(spark):
    """``sql_conf(key, value)`` sets a SQL conf for the test, or unsets it
    when ``value`` is None; each key it touched gets its earlier value back
    at teardown."""
    before: dict[str, str | None] = {}

    def put(key, value):
        before.setdefault(key, spark.conf.get(key, None))
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)

    yield put
    for key, value in before.items():
        put(key, value)
