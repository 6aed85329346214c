"""Classic warehouse query shapes over the star fixtures.

The reference's wiki dashboards run rollup queries over its file view
(/root/reference/src/copy_from_template.py:15-16, 343-356); these are the
canonical analytics shapes such dashboards generate, expressed Spark-first:
broadcast the dimensions, keep money math in exact integer units
(functions/numeric.py), let Catalyst pick join order. Names follow the
TPC-H queries whose *shape* they mirror (the fixture schema is TPC-H-ish
but not TPC-H; predicates are adapted to the fixture's value domains).

Every aggregate here is engine-stable by construction: exact int64 unit
sums, with any final float arithmetic expressed operation-for-operation
identically in the Spark plan and the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import (
    money_units,
    rate_units,
    sql_money,
    sql_money_units,
    sql_rate_units,
    sql_usum,
    usum,
)
from ..caching import track
from .registry import query

_DISC_U4 = f"{sql_money_units('l_extendedprice')} * (100 - {sql_rate_units('l_discount')})"


def _disc_u4():
    return money_units("l_extendedprice") * (100 - rate_units("l_discount"))


# --- Q10 shape: returned-items report (top customers by lost revenue) ------


@query(
    "q_returned_items",
    sql=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS cust_name, n.n_name AS nation,
           COUNT(*) AS n_items,
           {sql_usum(_DISC_U4, 4, "revenue")}
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: who returned the most revenue. Fact-side filter
    first (returnflag pushed to the scan), then two broadcast dims and one
    large join; final TakeOrderedAndProject keeps the shuffle to the
    aggregate only. Tie-broken by the unique custkey."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.count(F.lit(1)).alias("n_items"), usum(_disc_u4(), 4, "revenue"))
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


# --- Q14 shape: promo revenue share ----------------------------------------


@query(
    "q_promo_revenue",
    sql=f"""
    SELECT (100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_DISC_U4} ELSE 0 END) AS DOUBLE))
             / CAST(SUM({_DISC_U4}) AS DOUBLE) AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01' AND l.l_shipdate < TIMESTAMP '1998-04-01'
    """,
)
def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: share of revenue from promo parts in a date window.
    Conditional aggregate over one broadcast join; the ratio is one IEEE
    division of two exact integer-unit sums (order-independent)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    d = _disc_u4()
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                (F.lit(100.0) * F.sum(F.when(F.col("p_type") == "PROMO", d).otherwise(F.lit(0))).cast("double"))
                / F.sum(d).cast("double")
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- Q19 shape: disjunctive brand/size/quantity predicate ------------------


@query(
    "q_disjunctive_pred",
    sql=f"""
    SELECT {sql_usum(_DISC_U4, 4, "revenue")}, COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def q_disjunctive_pred(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst splits
    the common `l_partkey = p_partkey` conjunct out as the join key and
    keeps the disjunction as a post-join filter; the per-side prunable
    pieces (p_brand/p_size disjunction, l_quantity range hull) are what an
    optimizer can push — the plan-shape test asserts the join stays a
    broadcast hash join rather than a nested-loop."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    b, s = F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(10, 30) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(20, 50) & q.between(20, 35))
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .agg(usum(_disc_u4(), 4, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# --- Q7 shape: volume shipping between nation pairs ------------------------


@query(
    "q_volume_shipping",
    sql=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS ship_year,
           {sql_usum(_DISC_U4, 4, "volume")},
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE sn.n_name < cn.n_name AND l.l_shipdate >= TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    order_by=("supp_nation", "cust_nation", "ship_year"),
)
def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume by (supplier nation, customer
    nation, year). Five joins — four broadcastable dims (supplier, customer,
    nation twice under different aliases) around the one fact-fact join; the
    nation inequality cross-filters the pair space."""
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(usum(_disc_u4(), 4, "volume"), F.count(F.lit(1)).alias("n_items"))
    )


# --- Q15 shape: top supplier by revenue (max-equality join-back) -----------


@query(
    "q_top_supplier",
    sql=f"""
    WITH rev AS (
      SELECT l_suppkey AS suppkey, {sql_usum(_DISC_U4, 4, "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-07-01'
      GROUP BY 1)
    SELECT r.suppkey, s.s_name AS supp_name, r.total_revenue
    FROM rev r JOIN supplier s ON r.suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY r.suppkey
    """,
    order_by=("suppkey",),
)
def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the maximum revenue. The
    scalar max comes from a real AGGREGATE (map-side partials, no
    one-task stage) broadcast back onto the persisted per-supplier table —
    NOT from ``max() OVER ()``, whose unpartitioned WindowExec funnels the
    supplier table (which GROWS with SF) through a single task. The
    persist keeps the lineitem scan+agg from running twice. Revenue
    equality is exact: integer-unit sums rescaled by the same single
    division on both sides."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    rev = track(l.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        usum(_disc_u4(), 4, "total_revenue")
    ).persist())
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(F.col("total_revenue") == F.col("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        top.join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .select("suppkey", F.col("s_name").alias("supp_name"), "total_revenue")
    )


# --- Q16 shape: supplier diversity with NOT-IN exclusion -------------------


@query(
    "q_supplier_diversity",
    sql="""
    SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 14, 23, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    ORDER BY n_suppliers DESC, p.p_brand, p.p_size
    """,
    order_by=("n_suppliers DESC", "p_brand", "p_size"),
)
def q_supplier_diversity(spark, sf_dir):
    """TPC-H Q16 shape: how many distinct (non-excluded) suppliers serve
    each brand/size bucket. The NOT IN becomes a broadcast anti-join
    against the tiny excluded-supplier set (no null-key trap: s_suppkey is
    non-null, so anti-join == NOT IN here)."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 14, 23, 45))
    excluded = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


# --- Q17 shape: small-quantity revenue (correlated per-part average) -------


@query(
    "q_small_qty_revenue",
    sql=f"""
    WITH pa AS (
      SELECT l_partkey,
             COUNT(*) AS n_pp,
             SUM({sql_money_units('l_quantity')}) AS sq
      FROM lineitem GROUP BY l_partkey)
    SELECT {sql_usum(sql_money_units('l.l_extendedprice'), 2, "small_qty_revenue")},
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE 5 * {sql_money_units('l.l_quantity')} * pa.n_pp < pa.sq
    """,
)
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from below-one-fifth-of-average-quantity
    line items. The correlated per-part AVG decorrelates into one grouped
    aggregate joined back on partkey; `qty < 0.2*avg` is rewritten exact:
    `5*qty*n < sum` over integer units (no float threshold at the
    boundary). Both sides reuse the same partkey hash partitioning."""
    from ..functions.numeric import money_units as mu

    l = load(spark, sf_dir, "lineitem")
    pa = l.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_pp"), F.sum(mu("l_quantity")).alias("sq")
    )
    joined = l.join(pa.withColumnRenamed("l_partkey", "pa_key"), F.col("l_partkey") == F.col("pa_key"))
    return joined.filter(
        5 * mu("l_quantity") * F.col("n_pp") < F.col("sq")
    ).agg(
        usum(mu("l_extendedprice"), 2, "small_qty_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- Q18 shape: large-volume orders (HAVING on a grouped fact) -------------


@query(
    "q_large_orders",
    sql=f"""
    WITH big AS (
      SELECT l_orderkey, SUM({sql_money_units('l_quantity')}) AS sum_qty_u
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM({sql_money_units('l_quantity')}) > 18000)
    SELECT c.c_name AS cust_name, o.o_orderkey AS orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS orderdate,
           {sql_money('o.o_totalprice')} AS totalprice,
           CAST(big.sum_qty_u AS DOUBLE) / 100.0 AS sum_qty
    FROM big
    JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY totalprice DESC, orderkey
    LIMIT 20
    """,
)
def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: top customers by order value among orders whose
    total quantity exceeds a threshold. HAVING on the grouped fact first —
    the aggregate shrinks 60k lineitems to ~1.5k qualifying orders BEFORE
    any join, so the join inputs are small; exact integer-unit threshold."""
    from ..functions.numeric import money_units as mu

    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(mu("l_quantity")).alias("sum_qty_u"))
        .filter(F.col("sum_qty_u") > 18000)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("timestamp").alias("orderdate"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("totalprice"),
            (F.col("sum_qty_u").cast("double") / 100.0).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), "orderkey")
        .limit(20)
    )


# --- Q22 shape: sales opportunity (above-avg balance, never ordered) -------


@query(
    "q_sales_opportunity",
    sql=f"""
    WITH pos AS (
      SELECT COUNT(*) AS n_pos, SUM({sql_money_units('c_acctbal')}) AS s_pos
      FROM customer WHERE c_acctbal > 0)
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_cust,
           {sql_usum(sql_money_units('c.c_acctbal'), 2, "total_bal")}
    FROM customer c, pos
    WHERE {sql_money_units('c.c_acctbal')} * pos.n_pos > pos.s_pos
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1998-06-01')
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("mktsegment",),
)
def q_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: dormant high-value customers — above-average
    positive balance and no order since mid-1998 (every fixture customer
    has *some* order, so the classic never-ordered predicate is vacuous;
    recency keeps the anti-join selective). The scalar average broadcasts
    as a 1-row cross join; `bal > avg(pos)` is exact integer
    `bal_u * n > sum_u`; the NOT EXISTS is an anti-join on custkey."""
    from ..functions.numeric import money_units as mu

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum(mu("c_acctbal")).alias("s_pos")
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(mu("c_acctbal") * F.col("n_pos") > F.col("s_pos"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("1998-06-01").cast("timestamp")).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            usum(mu("c_acctbal"), 2, "total_bal"),
        )
    )


# --- Q4 shape: order priority checking (grouped EXISTS) --------------------


@query(
    "q_priority_checking",
    sql="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("o_orderpriority",),
)
def q_priority_checking(spark, sf_dir):
    """TPC-H Q4 shape: orders per priority having at least one late
    line item (shipped >60 days after order). The EXISTS with a
    cross-relation inequality becomes a left-semi join whose non-equi
    conjunct rides the equi-join as a post-probe filter — still a hash
    semi-join on orderkey, never a nested loop."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --- Q6 shape: forecast revenue change (pure scan-filter-aggregate) --------


@query(
    "q_forecast_revenue",
    sql=f"""
    SELECT {sql_usum(f"{sql_money_units('l_extendedprice')} * {sql_rate_units('l_discount')}", 4, "revenue_delta")},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: the simplest full-scan aggregate — every predicate
    pushes to the parquet scan (shipdate range, discount band, quantity
    cap all appear in PushedFilters), no join, no groupBy keys: partial
    sums combine into a single row with no hash table. The discount-band
    boundary compares the raw double column against exact literals, which
    both engines evaluate identically."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            usum(money_units("l_extendedprice") * rate_units("l_discount"), 4, "revenue_delta"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- Q8 shape: national market share ---------------------------------------


@query(
    "q_market_share",
    sql=f"""
    WITH sales AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS order_year,
             sn.n_name AS supp_nation,
             {sql_money_units('l.l_extendedprice')} * (100 - {sql_rate_units('l.l_discount')}) AS rev_u4
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'ASIA')
    SELECT CAST(order_year AS BIGINT) AS order_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_u4 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev_u4) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_items
    FROM sales GROUP BY 1 ORDER BY 1
    """,
    order_by=("order_year",),
)
def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one supplier nation's share of a region's market by
    year. Six joins — five broadcast dims (customer, nation×2, region,
    supplier) around the lineitem⋈orders fact join; the share is one IEEE
    division of two exact integer-unit sums per year. The region filter
    prunes through TWO join hops (region → customer-nation → customer →
    orders) before the fact join — the join-order freedom Catalyst's CBO
    exists for."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = _disc_u4()
    sales = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("supp_nation"),
            rev.alias("rev_u4"),
        )
    )
    return (
        sales.groupBy("order_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("rev_u4")).otherwise(F.lit(0))).cast("double")
                / F.sum("rev_u4").cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- Co-purchase pairs (market-basket co-occurrence) -----------------------


@query(
    "q_copurchase_pairs",
    sql="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT part_a, part_b, COUNT(*) AS n_orders
    FROM pairs GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b LIMIT 20
    """,
)
def q_copurchase_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs bought together most often.
    Distinct-ize (order, part) first — the self-join then blows up only by
    the true per-order basket size (~4), not line-item multiplicity; the
    canonical a<b ordering halves the pair space. At 100 TB the same plan
    holds because both join sides share the orderkey hash partitioning
    (one shuffle, reused); a hot mega-order would hit the AQE skew-join
    splitter. Top-20 with full (count, a, b) tie-break is deterministic."""
    l = load(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# --- Year-over-year growth --------------------------------------------------


@query(
    "q_yoy_growth",
    sql=f"""
    WITH yearly AS (
      SELECT EXTRACT(year FROM l_shipdate) AS y,
             SUM({_DISC_U4}) AS rev_u
      FROM lineitem GROUP BY 1)
    SELECT CAST(y AS BIGINT) AS ship_year,
           CAST(rev_u AS DOUBLE) / 10000.0 AS revenue,
           CAST(rev_u AS DOUBLE) / CAST(lag(rev_u) OVER (ORDER BY y) AS DOUBLE) - 1.0 AS yoy_growth
    FROM yearly ORDER BY ship_year
    """,
    order_by=("ship_year",),
)
def q_yoy_growth(spark, sf_dir):
    """Year-over-year revenue growth: window lag over a grouped aggregate
    (the aggregate shrinks the fact to ~7 rows BEFORE the unpartitioned
    window, so the single-partition sort is free at any scale). Growth is
    one IEEE division of exact integer-unit year totals."""
    l = load(spark, sf_dir, "lineitem")
    yearly = l.groupBy(F.year("l_shipdate").cast("long").alias("ship_year")).agg(
        F.sum(_disc_u4()).alias("rev_u")
    )
    w = Window.orderBy("ship_year")
    return yearly.select(
        "ship_year",
        (F.col("rev_u").cast("double") / 10000.0).alias("revenue"),
        (F.col("rev_u").cast("double") / F.lag("rev_u").over(w).cast("double") - 1.0).alias("yoy_growth"),
    )


# --- Revenue Pareto ---------------------------------------------------------


@query(
    "q_revenue_pareto",
    sql=f"""
    WITH per_part AS (
      SELECT l_partkey, SUM({_DISC_U4}) AS rev_u
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT l_partkey, rev_u,
             row_number() OVER (ORDER BY rev_u DESC, l_partkey) AS rnk,
             SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u,
             SUM(rev_u) OVER () AS total_u
      FROM per_part)
    SELECT CAST(COUNT(*) FILTER (WHERE 5 * cum_u < 4 * total_u) + 1 AS BIGINT) AS parts_for_80pct,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MAX(total_u) AS DOUBLE) / 10000.0 AS total_revenue
    FROM ranked
    """,
)
def q_revenue_pareto(spark, sf_dir):
    """Revenue Pareto: how many top parts cover 80% of revenue. Grouped
    aggregate shrinks the fact to one row per part, then the ranked
    cumulative sum runs DISTRIBUTED — range-partitioned prefix sums
    (operators/prefix.py), not the unpartitioned window that collapses the
    part table (which GROWS with SF) into one task. Order key is
    (-rev_u, l_partkey): exact int64 negation gives the descending-revenue
    total order range partitioning understands natively. The grand total
    falls out of the same offset pass — no SUM() OVER () either. The 80%
    boundary is the exact integer inequality 5·cum < 4·total — no float
    threshold. Count+1 converts 'strictly below 80%' into 'first rank
    reaching it' (total revenue > 0 guarantees existence)."""
    from ..operators.prefix import partitioned_cumsum

    l = load(spark, sf_dir, "lineitem")
    per_part = (
        l.groupBy("l_partkey")
        .agg(F.sum(_disc_u4()).alias("rev_u"))
        .withColumn("_negrev", -F.col("rev_u"))
    )
    cum = partitioned_cumsum(
        per_part, ["_negrev", "l_partkey"], "rev_u", cum_name="cum_u", total_name="total_u"
    )
    return cum.agg(
        (F.count(F.when(5 * F.col("cum_u") < 4 * F.col("total_u"), 1)) + 1)
        .cast("long")
        .alias("parts_for_80pct"),
        F.count(F.lit(1)).alias("n_parts"),
        (F.max("total_u").cast("double") / 10000.0).alias("total_revenue"),
    )


# --- Customer order-count distribution (Q13 shape) ---------------------------


@query(
    "q_custdist",
    sql="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    order_by=("custdist DESC", "c_count DESC"),
)
def q_custdist(spark, sf_dir):
    """TPC-H Q13 shape: distribution of per-customer order counts, with a
    join-time predicate (the fixture has no o_comment, so the 'special
    requests' exclusion becomes an order-priority exclusion — same
    outer-join-with-ON-filter semantics: excluded orders count as zero,
    customers with no orders still appear). Plan: one shuffle on custkey
    for the outer join + first aggregate, then a tiny second hash
    aggregate over |distinct counts| keys. Both engines count the
    non-null join side (COUNT(column), not COUNT(*)) so no-order
    customers land in the c_count=0 bucket."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --- Shipping priority (Q3 shape) --------------------------------------------


@query(
    "q_shipping_priority",
    sql=f"""
    SELECT l.l_orderkey AS orderkey,
           {sql_usum(_DISC_U4, 4, "revenue")},
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: top unshipped orders by revenue for one market
    segment (the fixture has no o_shippriority, so o_orderpriority rides
    along instead — same group-by-orderkey top-10 semantics). Both date
    predicates and the segment filter push to their scans; the segment-
    filtered customer side broadcasts; the lineitem/orders join is the
    only big shuffle and the top-10 is TakeOrderedAndProject, so nothing
    global materializes. Revenue is exact integer-units summed then
    rendered once (functions/numeric.py)."""
    cut = "1998-06-01"
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.to_date("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(usum(_disc_u4(), 4, "revenue"))
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


# --- Local supplier volume (Q5 proper) ---------------------------------------


@query(
    "q_local_supplier",
    sql=f"""
    SELECT n.n_name AS nation,
           {sql_usum(_DISC_U4, 4, "revenue")},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
    order_by=("revenue DESC", "nation"),
)
def q_local_supplier(spark, sf_dir):
    """TPC-H Q5 proper — revenue from LOCAL supply chains: the supplier
    join carries the correlated predicate s_nationkey = c_nationkey, the
    piece the plain star join (star_join_revenue) doesn't exercise. The
    year filter pushes into the orders scan; supplier/customer/nation
    broadcast; the correlated nation equality rides ON the broadcast
    hash join of supplier (no extra shuffle, no post-filter of a wider
    join). One shuffle: lineitem⋈orders."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(usum(_disc_u4(), 4, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# --- RFM segmentation --------------------------------------------------------


@query(
    "q_rfm_segments",
    sql="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate), (SELECT d0 FROM maxd)) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey),
    seg AS (
      SELECT CASE WHEN recency_days <= 180 THEN 'R1'
                  WHEN recency_days <= 720 THEN 'R2' ELSE 'R3' END
             || CASE WHEN frequency >= 20 THEN 'F1'
                     WHEN frequency >= 8 THEN 'F2' ELSE 'F3' END
             || CASE WHEN monetary_cents >= 300000000 THEN 'M1'
                     WHEN monetary_cents >= 100000000 THEN 'M2' ELSE 'M3' END
               AS segment,
             recency_days, frequency, monetary_cents
      FROM rfm)
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS total_cents,
           CAST(MIN(recency_days) AS BIGINT) AS min_recency,
           CAST(MAX(frequency) AS BIGINT) AS max_frequency
    FROM seg GROUP BY segment ORDER BY segment
    """,
    order_by=("segment",),
)
def q_rfm_segments(spark, sf_dir):
    """RFM segmentation — the classic customer-value partition (recency /
    frequency / monetary), with FIXED business thresholds so bucket edges
    are exact integer comparisons (quantile-derived edges would be
    float-fragile and engine-dependent; a production run derives them once
    and pins them exactly like this). Recency anchors on the corpus max
    order date (one broadcast scalar); money is exact cents. Two hash
    aggregates: per-customer RFM, then the bounded segment rollup."""
    o = load(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("d0"))
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    rfm = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("d0"), F.max("o_orderdate")).cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents).alias("monetary_cents"),
        )
    )
    seg = F.concat(
        F.when(F.col("recency_days") <= 180, "R1")
        .when(F.col("recency_days") <= 720, "R2")
        .otherwise("R3"),
        F.when(F.col("frequency") >= 20, "F1")
        .when(F.col("frequency") >= 8, "F2")
        .otherwise("F3"),
        F.when(F.col("monetary_cents") >= 300000000, "M1")
        .when(F.col("monetary_cents") >= 100000000, "M2")
        .otherwise("M3"),
    )
    return (
        rfm.select(seg.alias("segment"), "recency_days", "frequency", "monetary_cents")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("total_cents"),
            F.min("recency_days").alias("min_recency"),
            F.max("frequency").alias("max_frequency"),
        )
    )


# --- New vs returning revenue ------------------------------------------------

_NVR_SQL = """
WITH o AS (
  SELECT o_custkey,
         (EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate) - 1) AS m,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
f AS (SELECT o_custkey, MIN(m) AS first_m FROM o GROUP BY 1)
SELECT o.m AS month_index,
       CAST(SUM(CASE WHEN o.m = f.first_m THEN 1 ELSE 0 END) AS BIGINT) AS new_orders,
       CAST(SUM(CASE WHEN o.m = f.first_m THEN o.cents ELSE 0 END) AS BIGINT) AS new_cents,
       CAST(SUM(CASE WHEN o.m > f.first_m THEN 1 ELSE 0 END) AS BIGINT) AS returning_orders,
       CAST(SUM(CASE WHEN o.m > f.first_m THEN o.cents ELSE 0 END) AS BIGINT) AS returning_cents
FROM o JOIN f USING (o_custkey)
GROUP BY o.m ORDER BY o.m
"""


@query("q_new_vs_returning", sql=_NVR_SQL, order_by=("month_index",))
def q_new_vs_returning(spark, sf_dir):
    """Monthly revenue split into NEW vs RETURNING customers — the growth
    accounting every subscription/commerce dashboard leads with (q_cohort_ltv
    tracks cohorts forward; this is the acquisition-vs-retention view of the
    same first-order fact). Month is the integer epoch-month index
    (y·12+m−1 — pure integer calendar arithmetic both engines share, the
    events_seasonality rule); revenue is exact floor-cents. Plan: one
    customer-keyed aggregate for first months, re-joined to the fact
    (AQE broadcasts the per-customer dim when it fits, else a co-keyed
    shuffle join), then a month-keyed conditional aggregate — every stage
    map-side combinable, no window anywhere."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.floor(F.col("o_totalprice") * 100).alias("cents"),
    )
    f = o.groupBy("o_custkey").agg(F.min("m").alias("first_m"))
    j = o.join(f, "o_custkey")
    is_new = F.col("m") == F.col("first_m")
    is_ret = F.col("m") > F.col("first_m")
    return (
        j.groupBy(F.col("m").alias("month_index"))
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("new_orders"),
            F.sum(F.when(is_new, F.col("cents")).otherwise(0)).cast("long").alias("new_cents"),
            F.sum(F.when(is_ret, 1).otherwise(0)).cast("long").alias("returning_orders"),
            F.sum(F.when(is_ret, F.col("cents")).otherwise(0)).cast("long").alias("returning_cents"),
        )
    )
