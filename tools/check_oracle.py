"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the SQL on DuckDB over the same parquet tables; compares row count,
sorted column names, and an order-insensitive value comparison. Use while
iterating:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import decimal
import math
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from bridge_analytics_template_spark.catalog import TABLES, table_path  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    # Type-TAGGED normalization: the driver's pandas canon hashes int64 and
    # float64 columns differently, so 1 must NOT equal 1.0 here (a bare
    # Python `1 == 1.0` comparison masked the driver's f_math failure in r1).
    # Decimal is tagged by its string rendering for the same reason:
    # Decimal('1.5') == 1.5 in Python, but the two render differently, so a
    # decimal-on-one-side/double-on-the-other query must FAIL here. Matching
    # Decimals (same scale both engines, e.g. untouched decimal(12,2)
    # columns) still compare equal.
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):  # datetime/date — compare on ISO text
        # Type-tag tz-awareness: the driver's pandas canon treats tz-aware
        # (datetime64[ns, UTC]) and naive (datetime64[ns]) as DIFFERENT
        # schemas — stripping "+00:00" here masked exactly that failure
        # class in r2 (t_tumbling_counts / t_sliding_counts: DuckDB
        # to_timestamp() yields TIMESTAMPTZ). A tz-aware cell must NOT
        # compare equal to its naive twin.
        if getattr(v, "tzinfo", None) is not None:
            return ("ts-tz", v.isoformat())
        return ("ts", v.isoformat())
    if isinstance(v, bytes):
        return v.hex()
    return v


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def compare_frames(scols, svals, dcols, dvals):
    """The comparator proper: (ok, messages) over two already-normalized
    frames. Factored out so ``--self-test`` can drive it with planted
    wrong answers (VERDICT r5 task 7 — the gate must be shown to CATCH)."""
    ok, msgs = True, []
    if scols != dcols:
        ok, _ = False, msgs.append(f"cols spark={scols} duck={dcols}")
    if len(svals) != len(dvals):
        ok, _ = False, msgs.append(f"rowcount spark={len(svals)} duck={len(dvals)}")
    if ok and svals != dvals:
        ok = False
        diffs = [(a, b) for a, b in zip(svals, dvals) if a != b][:3]
        msgs.append(f"values differ, first diffs: {diffs}")
    return ok, msgs


def self_test(spark, con, sf: str) -> int:
    """Negative control for the comparator path itself: run one real query
    against its real oracle, then plant four distinct wrong answers —
    value flip, dropped row, int→float dtype drift, renamed column — and
    assert the comparator reports EACH. A gate that has only ever seen
    green answers is unaudited (VERDICT r5 task 7)."""
    import __spark_entry__ as e

    name = "topk_global"  # cheap, oracled, numeric + string columns
    sdf = e.queries()[name](spark, sf)
    scols, svals = frame_to_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = con.execute(e.oracle_sql()[name])
    dcols_raw = [d[0] for d in cur.description]
    draw = [list(r) for r in cur.fetchall()]
    assert draw, "self-test needs a non-empty result"

    def normed(cols, rows):
        return frame_to_rows(cols, [tuple(r) for r in rows])

    failures = []
    ok, _ = compare_frames(scols, svals, *normed(dcols_raw, draw))
    if not ok:
        failures.append("baseline (should PASS) failed")

    # 1. one flipped value
    valrows = [list(r) for r in draw]
    i = next(i for i, v in enumerate(valrows[0]) if v is not None)
    v = valrows[0][i]
    valrows[0][i] = (v + 1) if isinstance(v, (int, float, decimal.Decimal)) else str(v) + "x"
    ok, msgs = compare_frames(scols, svals, *normed(dcols_raw, valrows))
    if ok or not any("values differ" in m for m in msgs):
        failures.append(f"planted value flip not caught: {msgs}")

    # 2. one dropped row
    ok, msgs = compare_frames(scols, svals, *normed(dcols_raw, draw[1:]))
    if ok or not any("rowcount" in m for m in msgs):
        failures.append(f"planted dropped row not caught: {msgs}")

    # 3. dtype drift: every int cell in one column becomes the same-valued
    #    float (1 -> 1.0). Python == would mask this; the tagged norm must not.
    ints = [i for i, v in enumerate(draw[0]) if isinstance(v, int) and not isinstance(v, bool)]
    if not ints:
        failures.append("self-test query has no int column to perturb")
    else:
        drows = [list(r) for r in draw]
        for r in drows:
            r[ints[0]] = float(r[ints[0]])
        ok, msgs = compare_frames(scols, svals, *normed(dcols_raw, drows))
        if ok or not any("values differ" in m for m in msgs):
            failures.append(f"planted int->float drift not caught: {msgs}")

    # 4. renamed column
    cols2 = list(dcols_raw)
    cols2[0] = cols2[0] + "_renamed"
    ok, msgs = compare_frames(scols, svals, *normed(cols2, draw))
    if ok or not any("cols" in m for m in msgs):
        failures.append(f"planted column rename not caught: {msgs}")

    for f in failures:
        print(f"[SELF-TEST FAIL] {f}")
    print(
        f"self-test: comparator caught {4 - sum('not caught' in f or 'no int' in f for f in failures)}/4 "
        f"planted defects" + (" — OK" if not failures else " — BROKEN")
    )
    return 1 if failures else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--first",
        type=int,
        default=0,
        help="check only the first N registered queries (the driver's window)",
    )
    ap.add_argument(
        "--self-test",
        action="store_true",
        help="plant wrong answers and assert the comparator catches them",
    )
    ap.add_argument(
        "--require-oracle",
        action="store_true",
        help="fail any selected query that has no oracle SQL (rows-only) — "
        "the window-curation invariant: a driver window slot spent on an "
        "unoracled query buys weaker official evidence, so the first-50 "
        "gate in ci.sh runs with this flag",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # Lazy oracle generators (bridge_analytics_template_spark/oracles/)
    # re-derive expected answers from the fixture — point them at the SAME
    # corpus this run checks against (the driver leaves this unset and the
    # generators default to its documented gate corpus, sf0.01).
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = args.sf

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf, t)}')")

    if args.self_test:
        return self_test(spark, con, args.sf)

    import __spark_entry__ as e
    from bridge_analytics_template_spark.queries import ORACLES

    qs, oracles = e.queries(), e.oracle_sql()
    # A callable oracle missing from oracle_sql() is a generator that threw:
    # oracle_sql() silently leaves that query rows-only, so it fails here.
    degraded = {n for n, v in ORACLES.items() if callable(v) and n not in oracles}
    names = args.names or (list(qs)[: args.first] if args.first else list(qs))
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            srows = sdf.collect()
            scols, svals = frame_to_rows(sdf.columns, [tuple(r) for r in srows])
            if name in degraded:
                ok, status = False, "oracle generator failed (rows-only)"
            elif name not in oracles:
                ok = not args.require_oracle
                status = (
                    f"rows-only ({len(svals)} rows)"
                    if ok
                    else "NO ORACLE in a window slot (--require-oracle)"
                )
            else:
                cur = con.execute(oracles[name])
                dcols = [d[0] for d in cur.description]
                dvals_raw = cur.fetchall()
                dcols, dvals = frame_to_rows(dcols, dvals_raw)
                ok, msgs = compare_frames(scols, svals, dcols, dvals)
                status = "OK" if ok else "; ".join(msgs)
            n_pass += ok
            n_fail += not ok
            print(f"[{'PASS' if ok else 'FAIL'}] {name:28s} {time.time()-t0:6.1f}s  {status}")
        except Exception as ex:
            n_fail += 1
            print(f"[ERR ] {name:28s} {time.time()-t0:6.1f}s  {ex}")
            traceback.print_exc(limit=3)
        finally:
            # Queries that persist intermediates (tfidf, cascade, ml-lsh)
            # must not accumulate storage memory across a 225-query run.
            spark.catalog.clearCache()
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
