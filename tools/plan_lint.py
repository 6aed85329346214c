"""Plan linter: sweep EVERY registered query's physical plan for the
scale antipatterns the plan-guard tests pin individually — the fleet-wide
version of tests/test_plans.py.

Checks (fail):
  * unpartitioned Window — ``Window [exprs], [order]`` with no partition
    spec funnels the whole input through ONE task at 100 TB.
  * CartesianProduct — an unconstrained physical cross product.
  * BatchEvalPython — a row-at-a-time Python UDF in the plan (the slow
    lane; Arrow lanes show as ArrowEvalPython / MapInPandas etc.).
  * root sort — the analyzed plan ends in a global ``Sort``. Nothing that
    checks a query's rows reads their order, and a root sort costs a
    range-partition sampling job plus an exchange: declare the order with
    ``query(..., order_by=...)`` instead (``queries/registry.py``). A sort
    under a limit is not a root sort.

Informational (counted, not failed): BroadcastNestedLoopJoin (legitimate
for 1-row scalar-total broadcasts), Exchange count.

Writes PLANLINT.md and exits non-zero on any non-whitelisted failure.

    python tools/plan_lint.py [name ...]
"""

from __future__ import annotations

import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bridge_analytics_template_spark.queries import QUERIES  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# name -> reason. Every entry must carry a written justification; the
# legitimate class is "window input is bounded by construction" (a
# pre-aggregated dimension, a k-bounded candidate set) — the same rule that
# legitimizes driver-side collects of centroids/codebooks.
WHITELIST_WINDOW: dict[str, str] = {
    "q_yoy_growth": "lag over per-YEAR aggregate — input is |years| rows",
    "w_interval_overlap": "running sum over the date axis — input is |days| rows",
    "train_char_coverage": "global total + rank over the CHARACTER vocabulary — input is |charset| rows",
    "q_nation_hhi": "global revenue share over 25 nations",
    "llm_hybrid_rrf": "re-rank of the k-bounded fused candidate list",
    # events_survival_hazard / q_roc_auc retired r5: cumulative passes now
    # run through operators.prefix.partitioned_cumsum (no window at all).
}
WHITELIST_CARTESIAN: dict[str, str] = {}
WHITELIST_PYUDF: dict[str, str] = {
    "x_python_udtf": "the Python UDTF API-surface demo — the lane under test IS the python runner",
}


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec.

    Plan text: ``Window [exprs]`` + trailing bracket groups — a PARTITION
    group lists bare columns (no ASC/DESC); an ORDER group lists
    ``col ASC/DESC``. Partition-only windows (count over partition, no
    order) are fine; order-only and fully-global ones funnel the input
    through one task."""
    n = 0
    for line in plan.splitlines():
        if not re.search(r"\bWindow \[", line):
            continue
        trailing = re.findall(r"\], \[([^\]]*)\]", line)
        has_partition = any(
            g.strip() and " ASC" not in g and " DESC" not in g for g in trailing
        )
        if not has_partition:
            n += 1
    return n


def is_root_sort(analyzed) -> bool:
    """The analyzed plan's root, looking through ``Project`` and
    ``SubqueryAlias`` nodes (a final ``select`` or alias), is a global
    ``Sort``."""
    node = analyzed
    while node.nodeName() in ("Project", "SubqueryAlias"):
        node = node.child()
    return node.nodeName() == "Sort" and getattr(node, "global")()


def main() -> int:
    spark = get_spark("plan-lint")
    names = sys.argv[1:] or list(QUERIES)
    rows, failures = [], []
    for name in names:
        t0 = time.time()
        try:
            qe = QUERIES[name](spark, SF)._jdf.queryExecution()
            plan = qe.executedPlan().toString()
        except Exception as ex:  # build failure is its own finding
            failures.append((name, f"plan build failed: {str(ex)[:120]}"))
            rows.append((name, "ERR", 0, 0, 0, 0, 0))
            continue
        if is_root_sort(qe.analyzed()):
            failures.append((name, "root global Sort (declare order_by instead)"))
        upw = unpartitioned_windows(plan)
        cart = plan.count("CartesianProduct")
        pyudf = plan.count("BatchEvalPython")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        nexch = plan.count("Exchange")
        rows.append((name, "ok", upw, cart, pyudf, bnlj, nexch))
        if upw and name not in WHITELIST_WINDOW:
            failures.append((name, f"{upw} unpartitioned Window"))
        if cart and name not in WHITELIST_CARTESIAN:
            failures.append((name, f"{cart} CartesianProduct"))
        if pyudf and name not in WHITELIST_PYUDF:
            failures.append((name, f"{pyudf} BatchEvalPython (row-at-a-time UDF)"))
        print(f"[{'ok' if not failures or failures[-1][0] != name else 'BAD'}] "
              f"{name:32s} {time.time()-t0:5.1f}s", flush=True)
        spark.catalog.clearCache()

    out = [
        "# PLANLINT — fleet-wide physical-plan antipattern sweep (sf0.001)",
        "",
        f"Generated by `python tools/plan_lint.py`; {len(rows)} plans checked, "
        f"{len(failures)} findings. Fail rules: unpartitioned Window, "
        "CartesianProduct, BatchEvalPython, a root global Sort. BroadcastNestedLoopJoin and "
        "Exchange counts are informational (1-row scalar-total broadcasts "
        "are legitimate BNLJs).",
        "",
    ]
    if failures:
        out += ["## Findings", ""]
        out += [f"- `{n}`: {why}" for n, why in failures]
        out.append("")
    out += [
        "| query | unpart. window | cartesian | py-udf | bnlj | exchanges |",
        "|---|---|---|---|---|---|",
    ]
    for name, st, upw, cart, pyudf, bnlj, nexch in sorted(rows):
        if st == "ERR":
            out.append(f"| `{name}` | build error | | | | |")
        else:
            out.append(f"| `{name}` | {upw} | {cart} | {pyudf} | {bnlj} | {nexch} |")
    with open(os.path.join(ROOT, "PLANLINT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"\n{len(rows)} plans, {len(failures)} findings -> PLANLINT.md")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
