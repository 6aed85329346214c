"""Relational core: scans, filters, projections, CASE, null handling, LIKE,
set ops, sorts/limits (SURVEY.md §2.1-2.2, §2.6-2.7).

All pure built-in DataFrame ops: Catalyst pushes the filters into the
parquet scan and prunes columns; no shuffles beyond what the aggregates
require. Double-typed aggregates go through the decimal-sum trick
(functions/numeric.py) so results are combine-order-independent — a
requirement both for the DuckDB oracle hash and for determinism on a
1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import (
    davg,
    dmoney,
    drate,
    dsum,
    money_units,
    rate_units,
    sql_davg,
    sql_dsum,
    sql_money,
    sql_money_units,
    sql_rate,
    sql_rate_units,
    sql_uavg,
    sql_usum,
    uavg,
    usum,
)
from .registry import query

# Decimal renderings of the lineitem money expressions (see
# functions/numeric.py for why arithmetic is decimal-through).
_DISC_PRICE = f"{sql_money('l_extendedprice')} * (1 - {sql_rate('l_discount')})"
_CHARGE = f"{_DISC_PRICE} * (1 + {sql_rate('l_tax')})"

# Integer-unit renderings (scale in the name): the headline aggregates sum
# exact int64 units and rescale once at the end — same values, no
# BigDecimal accumulator (functions/numeric.py).
_DISC_PRICE_U4 = f"{sql_money_units('l_extendedprice')} * (100 - {sql_rate_units('l_discount')})"
_CHARGE_U6 = f"{_DISC_PRICE_U4} * (100 + {sql_rate_units('l_tax')})"

# --- flagship: scan → filter → join → agg → sort → limit -------------------
# The "minimum slice" of SURVEY.md §7: revenue of urgent open orders by
# market segment and month. Exercises S5, P2, J1 (broadcast dim), A2, F7,
# O1/O2 in one plan.


@query(
    "flagship",
    sql=f"""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_items,
           {sql_usum(f"{sql_money_units('l.l_extendedprice')} * (100 - {sql_rate_units('l.l_discount')})", 4, "revenue")}
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus <> 'F' AND l.l_shipdate >= TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    ORDER BY revenue DESC, mktsegment, order_month
    LIMIT 20
    """,
)
def flagship(spark, sf_dir):
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        lineitem.filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        .join(orders.filter(F.col("o_orderstatus") != "F"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"),
            F.date_trunc("month", "o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            usum(money_units("l_extendedprice") * (100 - rate_units("l_discount")), 4, "revenue"),
        )
        .orderBy(F.desc("revenue"), "mktsegment", "order_month")
        .limit(20)
    )


# --- TPC-H Q1-style pricing summary (A2, F7, P8) ---------------------------


@query(
    "pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_usum(sql_money_units("l_quantity"), 2, "sum_qty")},
           {sql_usum(sql_money_units("l_extendedprice"), 2, "sum_base_price")},
           {sql_usum(_DISC_PRICE_U4, 4, "sum_disc_price")},
           {sql_usum(_CHARGE_U6, 6, "sum_charge")},
           {sql_uavg(sql_money_units("l_quantity"), 2, "avg_qty")},
           {sql_uavg(sql_rate_units("l_discount"), 2, "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    order_by=("l_returnflag", "l_linestatus"),
)
def pricing_summary(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    disc_price_u4 = money_units("l_extendedprice") * (100 - rate_units("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            usum(money_units("l_quantity"), 2, "sum_qty"),
            usum(money_units("l_extendedprice"), 2, "sum_base_price"),
            usum(disc_price_u4, 4, "sum_disc_price"),
            usum(disc_price_u4 * (100 + rate_units("l_tax")), 6, "sum_charge"),
            uavg(money_units("l_quantity"), 2, "avg_qty"),
            uavg(rate_units("l_discount"), 2, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- P1/P2-style conjunctive filters (reference predicate shapes) ----------


@query(
    "filter_conjunctive",
    sql="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice > 50000
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def filter_conjunctive(spark, sf_dir):
    """P1/P8: conjunctive equality + range + IN-list predicate, pushed to scan."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_totalprice") > 50000)
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )


@query(
    "filter_like_regex",
    sql="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%widget%' AND regexp_matches(p_type, '^(ECONOMY|STANDARD)')
    ORDER BY p_partkey
    """,
    order_by=("p_partkey",),
)
def filter_like_regex(spark, sf_dir):
    """P10: LIKE and regex predicates."""
    p = load(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%widget%") & F.col("p_type").rlike("^(ECONOMY|STANDARD)"))
        .select("p_partkey", "p_name", "p_type")
    )


@query(
    "projection_order",
    sql="""
    SELECT c_custkey, c_mktsegment, c_name FROM customer ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def projection_order(spark, sf_dir):
    """P6/O1: explicit ordered projection (the engine analog of the
    reference's orderedColumnIds — copy_from_template.py:219-223)."""
    return load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_name")


@query(
    "case_rewrite",
    sql="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'hot'
                WHEN o_orderpriority = '2-HIGH' THEN 'warm'
                ELSE 'cold' END AS heat,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS bucket
    FROM orders
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def case_rewrite(spark, sf_dir):
    """P7/F8: per-column conditional rewrite — the CASE shape of the
    reference's retype loop (copy_from_template.py:194-210)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", "hot")
        .when(F.col("o_orderpriority") == "2-HIGH", "warm")
        .otherwise("cold")
        .alias("heat"),
        F.when(F.col("o_totalprice") > 200000, "big").otherwise("small").alias("bucket"),
    )


@query(
    "null_handling",
    sql="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'FURNITURE'), 'OTHER') AS segment,
           (NULLIF(c_acctbal, 0.0) IS NULL) AS zero_bal
    FROM customer
    ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def null_handling(spark, sf_dir):
    """P9: NULLIF / COALESCE / IS NULL over sparse-column semantics
    (annotation columns absent on some files, default.yaml:10)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("FURNITURE")), F.lit("OTHER")).alias("segment"),
        F.nullif(F.col("c_acctbal"), F.lit(0.0)).isNull().alias("zero_bal"),
    )


# --- set operations (U1-U3) ------------------------------------------------


@query(
    "union_by_name",
    sql="""
    SELECT n_nationkey AS member_key, n_name AS member_name, 'nation' AS kind FROM nation
    UNION ALL
    SELECT r_regionkey AS member_key, r_name AS member_name, 'region' AS kind FROM region
    ORDER BY kind, member_key
    """,
    order_by=("kind", "member_key"),
)
def union_by_name(spark, sf_dir):
    """U1: scope-union semantics (copy_from_template.py:234-242) — append
    members into one view, schema aligned by name."""
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("member_key"),
        F.col("n_name").alias("member_name"),
        F.lit("nation").alias("kind"),
    )
    region = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("member_key"),
        F.col("r_name").alias("member_name"),
        F.lit("region").alias("kind"),
    )
    return nation.unionByName(region)


@query(
    "intersect_except",
    sql="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    ORDER BY nationkey
    """,
    order_by=("nationkey",),
)
def intersect_except(spark, sf_dir):
    """U2: INTERSECT — nations that have both customers and suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "except_distinct",
    sql="""
    SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
    ORDER BY okey
    """,
    order_by=("okey",),
)
def except_distinct(spark, sf_dir):
    """U2: EXCEPT DISTINCT — finished orders with no returned lineitem
    (generalizes the reference's ACL exclusion, copy_from_template.py:253-255)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("okey")
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("okey")
    )
    return o.subtract(l)


@query(
    "distinct_rows",
    sql="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
    order_by=("l_returnflag", "l_linestatus"),
)
def distinct_rows(spark, sf_dir):
    """U3/A3: exact distinct (map-side partial dedup then shuffle on the
    pair — scales as a hash aggregate)."""
    return load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "topk_global",
    sql="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_global(spark, sf_dir):
    """O2: global top-k — Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge, no full sort at scale). Tie-broken on the unique
    key so results are deterministic."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )
