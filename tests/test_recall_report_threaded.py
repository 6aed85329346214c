"""Pin the r11 llm_ann_recall_report restructure (VERDICT r10 next #1).

The query moved from four serial per-method join+crossJoin+aggregate
report branches to: five ANN pipelines built and materialized on driver
threads (bounded |Q|*k fetches — the probe set is already driver-collected
by the brute/PQ precondition), exact set-intersection hit counts, one
local 4-row result. Values must be identical to the serial join+aggregate
form, kept verbatim below as the reference (``recall_report_serial``).
"""

from __future__ import annotations

import concurrent.futures
import os

import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.llm.similarity import knn_bruteforce_np, knn_lsh
from tools.ab import measure

pytestmark = pytest.mark.usefixtures("spark")


def recall_report_serial(spark, sf_dir):
    """r10 llm_ann_recall_report: the five method pipelines built
    sequentially — each trainer's driver-blocking collect jobs (probe set,
    hash-ordered samples, centroids) run back to back."""
    from bridge_analytics_template_spark.llm.pq import ivfpq_knn, pq_knn
    from bridge_analytics_template_spark.llm.similarity import ivf_knn

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    brute = knn_bruteforce_np(q, e, k=5).select("query_id", "neighbor_id")
    methods = {
        "lsh": knn_lsh(q, e, k=5),
        "ivf": ivf_knn(q, e, k=5),
        "pq": pq_knn(q, e, k=5),
        "ivfpq": ivfpq_knn(q, e, k=5),
    }
    reports = []
    for name, df in methods.items():
        hits = brute.join(df.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        reports.append(
            brute.agg(F.count(F.lit(1)).alias("n_brute"))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(name).alias("method"),
                "n_brute",
                "n_hits",
                (F.col("n_hits").cast("double") / F.col("n_brute")).alias("recall_at_5"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("method")


def test_threaded_report_matches_serial_form(spark):
    from bridge_analytics_template_spark.queries import QUERIES, ordered

    q = QUERIES["llm_ann_recall_report"]
    fn = getattr(q, "__wrapped__", q)
    sf = "/root/testdata/sf0.01"
    new = fn(spark, sf)
    old = recall_report_serial(spark, sf)
    assert new.schema.simpleString() == old.schema.simpleString()
    assert new.subtract(old).count() == 0
    assert old.subtract(new).count() == 0
    got = ordered("llm_ann_recall_report", new).collect()
    assert [r["method"] for r in got] == ["ivf", "ivfpq", "lsh", "pq"]
    assert all(r["n_brute"] > 0 for r in got)
    assert all(0.0 <= r["recall_at_5"] <= 1.0 for r in got)
    spark.catalog.clearCache()


class CallingThreadExecutor:
    """``ThreadPoolExecutor`` stand-in that runs each submitted call at once
    on the calling thread, so every job carries the caller's job group."""

    def __init__(self, max_workers=None):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def submit(self, fn, *args, **kwargs):
        future = concurrent.futures.Future()
        future.set_result(fn(*args, **kwargs))
        return future


@pytest.mark.parametrize(
    "name, table", [("llm_ann_recall_report", "embeddings"), ("llm_dedup_cascade", "documents")]
)
def test_pool_jobs_count_as_build_jobs(spark, sf_dir, monkeypatch, name, table):
    """The jobs a query starts on its driver thread pool are attributed to
    the caller's job group: ``tools/ab.py`` counts as many build jobs as for
    the same body run serially on the calling thread. (``recall_report_serial``
    above is not that reference: it fetches nothing at build time, so its
    method pipelines run in the exec phase.)"""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    load(spark, sf, table)  # the scan's schema job runs once per session: not in either pass
    threaded = measure(spark, [name], 1, sf, "count")[name]
    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", CallingThreadExecutor)
    serial = measure(spark, [name], 1, sf, "count")[name]
    assert threaded["build_jobs"] == serial["build_jobs"]
    assert serial["build_jobs"][0] > 0
