"""Interleaved A/B benchmark harness — the drift-immune instrument.

This box's wall-clock drifts 1.3-1.6x across hours (NOTES.md "bench
box-drift evidence": identical code measured 7.08-10.39 s across one
round). Sequential before/after comparisons therefore produce phantom
regressions — r6 charged two (+18% jaccard, +14% clusters) of which one
REVERSED under interleaving. This harness is the only trustworthy way to
attribute a perf delta to code on this machine; every perf claim in NOTES
must cite it.

Method (generalizes the round-7 two-pair A/B script that settled both r6
regressions; last present at commit 51b8615):

* variants run ROUND-ROBIN (A, B, A, B, ...) so ambient load hits every
  variant equally within each pass;
* each variant is warmed once at the measured scale before timing starts,
  so one-time work at that scale (plan compilation, the catalog scan's
  schema job) lands in no timed pass;
* the per-variant statistic is the MIN over N passes (min is robust to
  one-sided contention spikes; the cache is cleared between every run);
* with exactly two variants the PAIRED per-pass deltas are printed too —
  if the sign of (B - A) is stable across passes the difference is code,
  if it flips it is noise;
* every timed run splits into a build (the variant's call, which returns
  the DataFrame) and an exec (the timed action), each under its own Spark
  job group, so a pass also reports how long the build took and how many
  jobs each phase ran. A build job re-executes its whole upstream
  lineage before the action starts. Jobs a variant starts on its own
  worker threads are counted only when the thread inherits the caller's
  local properties (``pyspark.util.inheritable_thread_target``, as the
  package's driver thread pools do); a plain thread's jobs carry no job
  group and are not counted;
* each phase also reports how many classes the JVM's code generator
  compiled during it (``build_compiles``, ``exec_compiles``): the change
  in Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME`` count, which grows
  by one per Janino compile and not on a codegen cache hit. A warmed
  variant whose timed passes still compile has had its classes evicted
  from the cache (``spark.sql.codegen.cache.maxEntries``). The count is
  JVM-wide, so it includes any other session's compiles in that JVM.

Usage::

    python tools/ab.py QUERY_A [QUERY_B ...] [--n 5] [--sf DIR] [--action count|noop]

A variant is either a registered query name (the
bridge_analytics_template_spark registry) or ``module:callable`` where the
callable takes ``(spark, sf_dir) -> DataFrame`` — the hook for measuring a
toggled/experimental shape against HEAD without editing the registry. Old
shapes live in git history; measure one in place with e.g.::

    mkdir -p /tmp/exp && git show SHA:tools/OLD.py > /tmp/exp/old.py
    PYTHONPATH=/tmp/exp python tools/ab.py QUERY old:CALLABLE --action noop

Prints one ``RESULT {json}`` line: per variant label, ``min`` and
``passes`` (build + action seconds per pass), plus per-pass ``build_s``,
``exec_s``, ``build_jobs``, ``exec_jobs``, ``build_compiles`` and
``exec_compiles``; with two variants, also ``paired_delta_b_minus_a``.
"""

from __future__ import annotations

import argparse
import importlib
import itertools
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bridge_analytics_template_spark.queries import QUERIES  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402

_RUN_IDS = itertools.count()


def resolve(spec: str):
    """A registered query name, or ``module:callable``."""
    if ":" in spec:
        mod, fn = spec.split(":", 1)
        return getattr(importlib.import_module(mod), fn)
    q = QUERIES[spec]
    # time the query body, not the registration wrapper
    return getattr(q, "__wrapped__", q)


def _act(df, action: str) -> None:
    if action == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()


def codegen_compiles(spark) -> int:
    """Classes compiled by the JVM's code generator so far (cache misses)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _timed_run(spark, fn, sf: str, action: str) -> dict:
    """One build + action, each phase under its own job group."""
    sc = spark.sparkContext
    i = next(_RUN_IDS)
    build_group, exec_group = f"ab-build-{i}", f"ab-exec-{i}"
    try:
        sc.setJobGroup(build_group, "ab build")
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf)
        t1 = time.perf_counter()
        c1 = codegen_compiles(spark)
        sc.setJobGroup(exec_group, "ab exec")
        _act(df, action)
        t2 = time.perf_counter()
        c2 = codegen_compiles(spark)
    finally:
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
    tracker = sc.statusTracker()
    return {
        "pass": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "build_jobs": len(tracker.getJobIdsForGroup(build_group)),
        "exec_jobs": len(tracker.getJobIdsForGroup(exec_group)),
        "build_compiles": c1 - c0,
        "exec_compiles": c2 - c1,
    }


def measure(spark, specs: list[str], n: int, sf: str, action: str) -> dict:
    """Warm every variant, then run ``n`` interleaved passes; returns the
    ``RESULT`` dict (see the module docstring)."""
    # label by position so duplicate specs stay DISTINCT runs — an A/A
    # calibration (`ab.py q q`) must measure the box's real noise, not
    # collapse both variants onto one timing list and report fabricated
    # perfect stability (review finding r8)
    labels = [
        spec if specs.count(spec) == 1 else f"{spec}#{i}" for i, spec in enumerate(specs)
    ]
    fns = [(lab, resolve(spec)) for lab, spec in zip(labels, specs)]

    for _, f in fns:  # compile every plan shape before timing
        _act(f(spark, sf), action)
        spark.catalog.clearCache()

    runs: dict[str, list[dict]] = {lab: [] for lab in labels}
    for _ in range(n):
        for lab, f in fns:
            runs[lab].append(_timed_run(spark, f, sf, action))
    out: dict = {}
    for lab, rs in runs.items():
        passes = [r["pass"] for r in rs]
        out[lab] = {"min": min(passes), "passes": passes}
        for k in ("build_s", "exec_s", "build_jobs", "exec_jobs", "build_compiles", "exec_compiles"):
            out[lab][k] = [r[k] for r in rs]
    if len(labels) == 2:
        a, b = (out[lab]["passes"] for lab in labels)
        deltas = [round(tb - ta, 3) for ta, tb in zip(a, b)]
        out["paired_delta_b_minus_a"] = {
            "per_pass": deltas,
            "sign_stable": len({d > 0 for d in deltas}) == 1,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("variants", nargs="+", help="query names or module:callable")
    ap.add_argument("--n", type=int, default=5, help="interleaved passes")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="data dir to time at")
    ap.add_argument(
        "--action",
        choices=("count", "noop"),
        default="count",
        help="timed action: count() (bench parity) or the noop sink "
        "(optimization guide §1.4 — computes every column of every row, "
        "immune to count()'s subtree pruning)",
    )
    args = ap.parse_args()
    out = measure(get_spark("ab"), args.variants, args.n, args.sf, args.action)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
