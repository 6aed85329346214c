"""Maintain the query first-seen-round map the window curation sorts by.

Registration order is not chronological across rounds (a new query lands
mid-order in whichever module it extends), so _auto_window's FIFO-by-age
never-checked bucket needs a persisted record of WHEN each name first
appeared. A name missing from the map first appears in the round the NEXT
official ledger will carry (max existing ledger round + 1); names that
leave the registry are pruned. Run by ci.sh each round — idempotent.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bridge_analytics_template_spark.queries import QUERIES  # noqa: E402

PATH = os.path.join(ROOT, "bridge_analytics_template_spark", "queries", "_first_seen.json")


def main() -> None:
    try:
        with open(PATH) as fh:
            first = json.load(fh)
    except (OSError, ValueError):
        first = {}
    rounds = [
        int(re.search(r"_r(\d+)", p).group(1))
        for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    ]
    current = (max(rounds) + 1) if rounds else 1
    added = [n for n in QUERIES if n not in first]
    for n in added:
        first[n] = current
    pruned = [n for n in first if n not in QUERIES]
    for n in pruned:
        del first[n]
    with open(PATH, "w") as fh:
        json.dump(dict(sorted(first.items())), fh, indent=0, sort_keys=True)
    print(
        f"first_seen: {len(first)} names; +{len(added)} at round {current}; "
        f"-{len(pruned)} pruned"
    )


if __name__ == "__main__":
    main()
