"""Regenerate CATALOG.md: every registered query with its module, check
tier (oracle vs rows-only), and the first line of its docstring — the
navigable index the COVERAGE.md matrix links into.

    python tools/make_catalog.py
"""

from __future__ import annotations

import inspect
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bridge_analytics_template_spark.queries import ORACLES, QUERIES  # noqa: E402


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    line = " ".join(doc.strip().split("\n\n")[0].split())
    return line if len(line) <= 160 else line[:157] + "..."


def main() -> None:
    rows = []
    for name, fn in QUERIES.items():
        target = getattr(fn, "__wrapped__", fn)
        mod = target.__module__.split(".")[-1]
        try:
            line = inspect.getsourcelines(target)[1]
            loc = f"{mod}.py:{line}"
        except OSError:
            loc = f"{mod}.py"
        tier = "oracle" if name in ORACLES else "rows-only"
        rows.append((name, loc, tier, first_line(target.__doc__)))

    by_mod = Counter(r[1].split(".py")[0] for r in rows)
    n_oracle = sum(1 for r in rows if r[2] == "oracle")
    out = [
        "# CATALOG — registered query inventory",
        "",
        f"Generated by `python tools/make_catalog.py`. {len(rows)} queries, "
        f"{n_oracle} oracle-gated, {len(rows) - n_oracle} rows-only "
        "(non-SQL-expressible by design; see COVERAGE.md for the stronger "
        "property checks backing each).",
        "",
        "Per module: "
        + ", ".join(f"{m} {n}" for m, n in sorted(by_mod.items())),
        "",
        "| query | where | check | what |",
        "|---|---|---|---|",
    ]
    for name, loc, tier, doc in sorted(rows):
        out.append(f"| `{name}` | `{loc}` | {tier} | {doc} |")
    with open(os.path.join(ROOT, "CATALOG.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"CATALOG.md: {len(rows)} queries ({n_oracle} oracle)")


if __name__ == "__main__":
    main()
