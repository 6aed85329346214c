"""r11 measurement probe: build-time vs execute-time attribution plus
DETERMINISTIC job counts per phase, via a job-group-scoped listener count.

    python tools/probe_r11.py QUERY [...] [--sf DIR] [--n 2]

Prints one JSON line per query:
  {"query": q, "build_s": [...], "exec_noop_s": [...],
   "build_jobs": n, "exec_jobs": n}
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from bridge_analytics_template_spark.queries import QUERIES  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_args()
    spark = get_spark("probe_r11")
    sc = spark.sparkContext

    # warm plan shapes on the tiny fixture
    for q in args.queries:
        QUERIES[q](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()

    for q in args.queries:
        builds, execs = [], []
        bjobs = ejobs = 0
        for i in range(args.n):
            sc.setJobGroup(f"b{q}{i}", "build")
            t0 = time.time()
            df = QUERIES[q](spark, args.sf)
            builds.append(round(time.time() - t0, 3))
            bjobs = len(sc.statusTracker().getJobIdsForGroup(f"b{q}{i}"))
            sc.setJobGroup(f"e{q}{i}", "exec")
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            execs.append(round(time.time() - t0, 3))
            ejobs = len(sc.statusTracker().getJobIdsForGroup(f"e{q}{i}"))
            sc.setJobGroup(None, None)
            spark.catalog.clearCache()
        print(
            json.dumps(
                {
                    "query": q,
                    "build_s": builds,
                    "exec_noop_s": execs,
                    "build_jobs": bjobs,
                    "exec_jobs": ejobs,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
