"""Scale sweep: execute EVERY queries() entry against a replicated fixture
(default /tmp/scale10 — sf0.1 × 10 with offset ids) and log wall time + row
count. Not a correctness gate (the replica breaks oracle values by
construction — every doc/vector gains copies); it is the cliff detector:
a query that OOMs, one-tasks, or goes quadratic shows up here long before
a cluster run would.

    python tools/scale_sweep.py [--dir /tmp/scale10] [name ...]

Budget gating (VERDICT r8 task 4): absolute wall budgets on a box with a
documented 1.3–1.6× cross-hour drift converge to vacuous (every drift-over
forces a re-pin that loosens the gate). List entries can therefore carry a
RATIO budget — wall / same-process SENTINEL wall — as the primary gate:
the sentinel (a fixed parquet scan+aggregate over the sweep dir's lineitem,
min of 3 runs in this very process) inflates with the box exactly like the
query under test, so box drift cancels while a real regression (the query
alone slowing) trips the ratio. The absolute budget is kept only as a
generous backstop (e.g. sentinel itself broken by a config change).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bridge_analytics_template_spark.queries import QUERIES  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402


def is_over(
    dt: float,
    abs_budget: float = 0.0,
    ratio_budget: float = 0.0,
    sentinel: float = 0.0,
) -> bool:
    """The budget decision, factored out for the drift-vs-regression unit
    test: with a ratio budget and a measured sentinel, the RATIO is the
    gate (drift-immune — a 1.5× box slowdown inflates dt and sentinel
    together) CONJOINED with the historical pin (abs/2, i.e. the original
    measured-wall × 1.5 — the abs backstop is 2× the pin): a ratio trip
    alone is not a regression when the wall is still consistent with
    history, because the sentinel also varies the OTHER way (an
    uncontended window runs the pure-JVM probe several× faster than
    calibration while fixed per-query overheads don't shrink with it —
    measured r9: sentinel 5.19 s at calibration vs 0.85 s uncontended,
    which inflated every ratio ~6× and false-alarmed three queries whose
    walls were BELOW their historical measurements). The absolute wall
    alone still fails (sentinel broken or genuinely huge wall); without a
    ratio entry the absolute wall gates alone (legacy entries)."""
    if bool(abs_budget) and dt > abs_budget:
        return True
    if ratio_budget and sentinel:
        ratio_over = dt > ratio_budget * sentinel
        # 0.55 x abs = the historical measured-wall pin (abs is ~2x the
        # pin) plus ~10% noise grace
        return ratio_over and (not abs_budget or dt > abs_budget * 0.55)
    return False


def measure_sentinel(spark, data_dir: str, runs: int = 3) -> float:
    """Fixed probe: full lineitem scan + group-aggregate, min over `runs`
    executions in THIS process — the box-speed yardstick every ratio
    budget divides by. min-of-N absorbs JIT/GC warmup; the probe is pure
    built-in JVM work so it tracks CPU/IO speed, not any query's code."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{data_dir}/lineitem.parquet")
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1))
        ).collect()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/scale10")
    ap.add_argument(
        "--budget",
        type=float,
        default=0.0,
        help="per-query wall budget in seconds; exceeding it FAILS the sweep "
        "(0 = no budget, informational SLOW flag at 60s only)",
    )
    ap.add_argument(
        "--list",
        dest="list_file",
        default=None,
        help="file with one query name per line (# comments allowed) — the "
        "standing CI target set (tools/sweep_list.txt). Lines are "
        "'name', 'name <abs-budget-s>' or 'name <abs-budget-s> <ratio>'; "
        "a ratio entry gates on wall/sentinel with the absolute budget "
        "as backstop.",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    spark = get_spark("scale-sweep")
    names = list(args.names)
    budgets: dict[str, float] = {}
    ratios: dict[str, float] = {}
    if args.list_file:
        with open(args.list_file) as fh:
            for ln in fh:
                ln = ln.strip()
                if not ln or ln.startswith("#"):
                    continue
                parts = ln.split()
                names.append(parts[0])
                if len(parts) > 1:
                    budgets[parts[0]] = float(parts[1])
                if len(parts) > 2:
                    ratios[parts[0]] = float(parts[2])
    names = names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries in sweep list: {unknown}")
        sys.exit(1)
    sentinel = 0.0
    if ratios:
        sentinel = measure_sentinel(spark, args.dir)
        print(f"sentinel (lineitem scan+agg, min of 3): {sentinel:.2f}s", flush=True)
    failures, slow = [], []

    def timed_count(name):
        t0 = time.time()
        return QUERIES[name](spark, args.dir).count(), time.time() - t0

    for name in names:
        t0 = time.time()
        try:
            n, dt = timed_count(name)
            over = is_over(
                dt,
                abs_budget=budgets.get(name, args.budget),
                ratio_budget=ratios.get(name, 0.0),
                sentinel=sentinel,
            )
            if over and name in ratios and sentinel:
                # Transient-contention guard: the sentinel was measured at
                # sweep start; a load spike minutes later inflates only the
                # query. Re-measure the yardstick NOW and retry once —
                # a real regression stays over, a contended window clears.
                sentinel_now = max(sentinel, measure_sentinel(spark, args.dir, runs=2))
                spark.catalog.clearCache()
                dt = min(dt, timed_count(name)[1])
                over = is_over(
                    dt,
                    abs_budget=budgets.get(name, args.budget),
                    ratio_budget=ratios[name],
                    sentinel=sentinel_now,
                )
                print(f"        {name}: retried (sentinel {sentinel_now:.2f}s)", flush=True)
            ratio_note = (
                f" ratio={dt / sentinel:5.1f}/{ratios[name]:g}"
                if name in ratios and sentinel
                else ""
            )
            flag = " OVER-BUDGET" if over else (" SLOW" if dt > 60 else "")
            if over:
                failures.append(name)
            elif dt > 60:
                slow.append(name)
            print(
                f"[{'FAIL' if over else 'ok'}]   {name:32s} {dt:7.2f}s rows={n}{ratio_note}{flag}",
                flush=True,
            )
        except Exception:
            dt = time.time() - t0
            failures.append(name)
            print(f"[FAIL] {name:32s} {dt:7.2f}s", flush=True)
            traceback.print_exc(limit=2)
        spark.catalog.clearCache()
    print(f"\n{len(names) - len(failures)}/{len(names)} ok; slow(>60s): {slow}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
