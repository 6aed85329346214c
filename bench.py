"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bridge_analytics_template_spark.queries import QUERIES  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402

#: Headline set: the spine query plus the heaviest representative of each
#: operator family (join, window, rollup, as-of, dedup cascade, KNN,
#: sessionization). Bench-relevant = would dominate a 100 TB run.
HEADLINE = [
    "flagship",
    "pricing_summary",
    "join_inner",
    "join_sort_merge",
    "join_asof",
    "agg_rollup",
    "w_running_sum",
    "t_tumbling_counts",
    "t_session_islands",
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_ngram_jaccard",
    "llm_dedup_clusters",
    "llm_quality_score",
    "llm_knn_ids",
    "train_vocab_encode",
    "llm_decontaminate",
    "llm_chunking",
    "llm_repetition",
    "llm_doc_lm_score",
]


def _count(name: str, df) -> None:
    # flagship's rows are its result: it is timed as a collect
    if name == "flagship":
        df.collect()
    else:
        df.count()


def _noop(name: str, df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sweep(spark, sf_dir: str, act, reps: int) -> dict[str, list[float]]:
    """Time ``reps`` build + ``act`` runs of every headline query in each of
    two passes: each query's raw seconds, in run order. The outer pass
    absorbs minute-scale whole-box load windows (r4 measured the same
    binary 24% slower suite-wide between two back-to-back runs), the inner
    reps per-query transients (GC, page-cache churn, C2 still compiling).
    The raw times are reported next to each min, so box-load noise can be
    told from code drift without a rerun."""
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(2):
        for name in HEADLINE:
            for _ in range(reps):
                t0 = time.time()
                act(name, QUERIES[name](spark, sf_dir))
                passes[name].append(round(time.time() - t0, 3))
            # Queries are independent: drop persisted blocks so one query's
            # cache (dedup shingle tables etc.) doesn't pressure the next
            # query's executors — each measurement starts from a clean store.
            spark.catalog.clearCache()
    return passes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")

    # Warm every headline plan on the smallest fixture first: whole-stage
    # codegen, the JIT and Python worker spawn cost seconds on a plan
    # shape's first run (the 64-permutation dedup pipelines), so measuring
    # without warm-up benchmarks the JIT, not the query. Steady state is
    # what a long-running cluster job sees. Codegen is a one-time cost per
    # plan shape only while the session's class cache holds the whole
    # working set: this loop generates 341 classes (local[4]), and under
    # Spark's default 100-entry cache a second pass of it recompiled 352
    # (eviction within the pass included). get_spark sizes the cache
    # (session.py). The noop write is warmed too: the noop sweep otherwise
    # times the sink's codegen on its first pass (measured ~1 s floors on
    # trivial queries).
    for name in HEADLINE:
        QUERIES[name](spark, "/root/testdata/sf0.001").count()
        _noop(name, QUERIES[name](spark, "/root/testdata/sf0.001"))
    spark.catalog.clearCache()

    # Per-query min across 2 passes x 2 reps of count().
    passes = sweep(spark, sf_dir, _count, 2)
    times = {k: min(v) for k, v in passes.items()}
    total = round(sum(times.values()), 3)

    # The count() action lets Catalyst prune side-effect-free subtrees
    # (left-join elimination, unreferenced sorts), so several queries'
    # count-based seconds understate true cost (decontaminate 0.3 s count
    # vs 4.2 s noop, r10 probe). A second sweep through the SAME queries
    # times the noop sink (guide §1.4 — computes every column of every
    # row), reported as extra "noop:<name>" entries in `queries` (the
    # contract allows ADDING entries) plus a top-level "noop" map. The
    # 20 count-based entries, their passes, and "value" keep their
    # semantics for cross-round comparison. "cpus" echoes the resolved
    # local[n] so the scaling evidence is self-describing.
    noop_passes = sweep(spark, sf_dir, _noop, 1)
    noop_times = {k: min(v) for k, v in noop_passes.items()}

    # Work-dominated core-scaling probe (r11, VERDICT r10 next-round #2):
    # at sf0.1 every headline query — count OR noop — finishes inside
    # fixed plan/stage overhead, so 8-core ≈ 32-core and the driver's
    # scaling block cannot see parallelism at all. This probe is a fixed
    # CPU-bound kernel over the SAME parquet input (orders), deterministic
    # and recomputed every invocation: each scan row is replicated 1024x
    # in-plan (explode of a literal sequence — no new data, no files) and
    # pays 32 salted xxhash64 evaluations per replicated row in a partial
    # aggregate AFTER a round-robin widen — ~4.9e9 allocation-free long
    # hashes that scale with cores by construction (an md5-based kernel
    # was tried first and did NOT scale: per-eval string allocation makes
    # single-JVM GC the bottleneck past ~8 threads — measured 6.4 s at 8
    # cores vs 5.9 s at 32; the xxhash64-over-longs form measured 8.7 s at
    # 8 vs 3.0 s at 32, a 2.9x spread). Reported as an extra "scale_probe"
    # entry; the headline total ("value") is untouched.
    from pyspark.sql import functions as F  # noqa: E402

    from bridge_analytics_template_spark.catalog import load  # noqa: E402
    from bridge_analytics_template_spark.partitioning import (  # noqa: E402
        ensure_parallelism,
    )

    def scale_probe_df():
        o = load(spark, sf_dir, "orders").select("o_orderkey")
        wide = ensure_parallelism(o).select(
            "o_orderkey", F.explode(F.sequence(F.lit(1), F.lit(1024))).alias("rep")
        )
        # per-r seed: 32 DISTINCT hash expressions (a shared expression
        # would be common-subexpression-eliminated into one hash)
        aggs = [
            F.sum(F.expr(f"xxhash64({r}, rep, o_orderkey) % 2")).alias(f"p{r}")
            for r in range(32)
        ]
        return wide.agg(*aggs)

    probe_passes = []
    for _ in range(2):
        t0 = time.time()
        scale_probe_df().write.format("noop").mode("overwrite").save()
        probe_passes.append(round(time.time() - t0, 3))

    queries_out = dict(times)
    queries_out.update({f"noop:{k}": v for k, v in noop_times.items()})
    queries_out["scale_probe"] = min(probe_passes)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "cpus": spark.sparkContext.defaultParallelism,
                "queries": queries_out,
                "passes": passes,
                "noop": noop_times,
                "noop_passes": noop_passes,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
