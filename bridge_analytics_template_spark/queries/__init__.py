"""Declared query inventory — every operator from SURVEY.md §2 gets a
``@query``-registered PySpark implementation and (where SQL-expressible) a
DuckDB oracle SQL string. ``__spark_entry__.py`` exposes this registry to the
verification driver.
"""

from __future__ import annotations

import os

from .registry import ORACLES, ORDERS, QUERIES, ordered, query  # noqa: F401

# Import for side effect: each module registers its queries.
from . import relational  # noqa: E402,F401
from . import joins  # noqa: E402,F401
from . import aggregates  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import scalar_functions  # noqa: E402,F401
from . import bridge  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import udf_surface  # noqa: E402,F401
from . import sql_api  # noqa: E402,F401
from . import breadth  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import training  # noqa: E402,F401
from . import curation  # noqa: E402,F401
from . import tpch_shapes  # noqa: E402,F401
from . import stats  # noqa: E402,F401
from . import advanced  # noqa: E402,F401
from . import corpus  # noqa: E402,F401

# --- Verification-window curation -------------------------------------------
# The driver's correctness gate checks the FIRST 50 registered queries in
# registration order. Import order above is the natural grouping; this
# explicit window re-ranks the registry so those 50 slots are spent where
# they buy new official signal. flagship stays first (driver smoke check).
# Queries already driver-green rotate out; they remain in the registry and
# the local gate (tools/check_oracle.py) still runs all of them.
#
# From r4 on the window is DERIVED from the accumulated CORRECTNESS ledger
# (_auto_window below): flagship, then every name whose latest official row
# failed, then names never officially checked (registration order), then
# the rest. The static list is the r3 hand-curated window, kept as the
# fallback if the ledger files are unreadable.
_WINDOW = [
    "flagship",
    # r2's only red rows — oracle tz fix (CAST to naive TIMESTAMP) must
    # show green this round
    "t_tumbling_counts",
    "t_sliding_counts",
    # rows-only -> hash-green upgrade (VERDICT task 7): exact-pair oracle
    "llm_dedup_minhash",
    # SURVEY §2 stragglers never inside an official window
    "f_conditional",  # F8
    "f_hash",  # F9
    "s_csv_roundtrip",  # S7
    "t_stream_tumbling",  # S8/T4 genuinely-streaming execution (rows-only)
    "t_resample_locf",  # hypertable rollup / gap-fill
    # sql_api family (never checked)
    "sql_api_revenue",
    "merge_upsert_cdc",
    "merge_scd2_history",
    "sql_recursive_cte",
    "sql_pipe_revenue",
    "join_lateral_topn",
    "w_range_frame",
    "unpivot_stack",
    # breadth family
    "star_join_revenue",
    "s_bucketed_join",
    "agg_grouping_sets",
    "w_rank_family",
    "join_full_outer",
    "graph_triangles",
    "f_struct",
    # tpch_shapes family
    "q_custdist",
    "q_shipping_priority",
    "q_local_supplier",
    "q_market_share",
    "q_yoy_growth",
    # stats family
    "agg_regr_exact",
    "ts_ohlc_bars",
    "join_salted_skew",
    "agg_salted_skew",
    # training family
    "train_split_assign",
    "train_row_ids",
    "train_pii_scrub",
    "train_temperature_mix",
    # r2-addition LLM ops
    "llm_dsir_weights",
    "llm_token_fertility",
    "llm_ngram_diversity",
    "llm_url_dedup",
    "llm_containment_pairs",
    "llm_dedup_incremental",
    "llm_crossdup_jaccard",
    "llm_dup_span_trim",
    # third-wave ops (incl. this round's ADVICE-hardened queries)
    "llm_heavy_hitters",
    "graph_shortest_paths",
    "q_assoc_rules",
    "llm_pmi_pairs",
    "emb_quantize_error",
]


#: The official correctness ledgers at the root of this package's checkout.
_LEDGER_GLOB = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..", "CORRECTNESS_r*.json"))


def _auto_window(
    window_size: int = 50,
    ledger_glob: str = _LEDGER_GLOB,
    min_ledgers: int = 3,
) -> list[str] | None:
    """Derive the check window from the accumulated official ledger.

    Priority: flagship (driver smoke) → latest-row FAILURES (a fix must
    show green) → rows-only entries that since GAINED an oracle (upgrade
    deserves a hash row) → never-officially-checked names in registration
    order → STALE green rows, oldest official evidence first (VERDICT r8
    task 3: once the never-checked backlog clears, each window re-certifies
    the ~49 names whose latest official row is oldest — most §2 operators'
    rows date from r1-r2 and the code has changed since). Returns None
    (→ static fallback) when no ledger newer than the static window's
    round exists."""
    import glob
    import json
    import re

    ledgers = sorted(
        glob.glob(ledger_glob),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if len(ledgers) < min_ledgers:  # r1+r2 are baked into the static r3 window
        return None
    latest: dict[str, dict] = {}
    checked: set[str] = set()
    latest_round: dict[str, int] = {}
    try:
        for path in ledgers:
            rnd = int(re.search(r"_r(\d+)", path).group(1))
            rows = json.load(open(path))
            checked.update(rows)
            latest.update(rows)
            for name in rows:
                latest_round[name] = rnd
    except (OSError, ValueError):
        return None
    failed = [
        n
        for n, row in latest.items()
        if n in QUERIES
        and (row.get("hash_match") is False or row.get("rows_match") is False)
    ]
    upgraded = [
        n
        for n, row in latest.items()
        if n in QUERIES and n in ORACLES and row.get("err") == "no_oracle"
    ]
    # FIFO by AGE: through r8 the bucket was oracled-first (a hash row is
    # stronger evidence, so rows-only names queued behind every
    # never-checked oracled query — correct while the oracled backlog
    # exceeded the window). With the backlog now inside one window,
    # starvation-avoidance wins: the oldest never-checked names clear
    # before anything registered this round, so a new query can never
    # displace an r1-era backlog name. Age comes from the persisted
    # first-seen-round map (_first_seen.json, maintained by
    # tools/update_first_seen.py each ci run) because registration order
    # is NOT chronological across rounds — additions land mid-order in
    # whichever module they extend. Unmapped names are newest by
    # definition. REGISTRATION_ORDER survives _apply_window's prefix
    # reorder; fall back to the live registry on the first call.
    order = [n for n in (REGISTRATION_ORDER or list(QUERIES)) if n in QUERIES]
    try:
        with open(os.path.join(os.path.dirname(__file__), "_first_seen.json")) as fh:
            first_seen = json.load(fh)
    except (OSError, ValueError):
        first_seen = {}
    reg_pos = {n: i for i, n in enumerate(order)}
    never = sorted(
        (n for n in order if n not in checked),
        key=lambda n: (first_seen.get(n, 10**9), reg_pos[n]),
    )
    # Stale-rotation bucket: checked-and-green names, oldest official row
    # first (ties: oracled before rows-only — a fresh hash row is stronger
    # evidence — then registration order, which enumerate() makes stable).
    reg_index = {n: i for i, n in enumerate(order)}
    stale = sorted(
        (n for n in order if n in checked),
        key=lambda n: (latest_round.get(n, 0), n not in ORACLES, reg_index[n]),
    )
    out: list[str] = []
    for name in ["flagship", *failed, *upgraded, *never, *stale]:
        if name in QUERIES and name not in out:
            out.append(name)
        if len(out) >= window_size:
            break
    return out


# Original registration order, captured before _apply_window reorders the
# registry prefix — the FIFO backlog invariant is untestable without it.
REGISTRATION_ORDER: list[str] = []


def _apply_window() -> None:
    REGISTRATION_ORDER.extend(QUERIES)
    window = _auto_window() or _WINDOW
    missing = [n for n in window if n not in QUERIES]
    if missing:
        raise RuntimeError(f"curated window references unknown queries: {missing}")
    order = window + [n for n in QUERIES if n not in set(window)]
    for registry in (QUERIES, ORACLES):
        snapshot = dict(registry)
        registry.clear()
        for name in order:
            if name in snapshot:
                registry[name] = snapshot[name]


_apply_window()
