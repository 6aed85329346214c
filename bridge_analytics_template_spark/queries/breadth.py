"""Breadth batch: grouping sets, the full rank family, min_by/max_by,
deterministic-seed sampling.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..functions.numeric import money_units
from .registry import query


@query(
    "agg_grouping_sets",
    sql="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    order_by=("l_returnflag", "l_linestatus"),
)
def agg_grouping_sets(spark, sf_dir):
    """A5: explicit GROUPING SETS (the general form of rollup/cube)."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "w_rank_family",
    sql="""
    SELECT c_custkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST() OVER w AS cdist,
           NTILE(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def w_rank_family(spark, sf_dir):
    """W1 extension: the full rank family (rank / dense_rank / percent_rank
    / cume_dist / ntile) over a unique-tie-broken ordering."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "agg_min_max_by",
    sql="""
    SELECT o_orderstatus,
           max_by(o_custkey, o_orderkey) AS last_cust,
           min_by(o_custkey, o_orderkey) AS first_cust,
           MAX(o_orderkey) AS max_key, MIN(o_orderkey) AS min_key
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    order_by=("o_orderstatus",),
)
def agg_min_max_by(spark, sf_dir):
    """A2 extension: argmin/argmax aggregates (min_by/max_by) keyed on the
    unique order key so results are deterministic."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_custkey", "o_orderkey").alias("last_cust"),
            F.min_by("o_custkey", "o_orderkey").alias("first_cust"),
            F.max("o_orderkey").alias("max_key"),
            F.min("o_orderkey").alias("min_key"),
        )
    )


@query(
    "s_sample_hash",
    sql="""
    SELECT l_returnflag, COUNT(*) AS n_sampled
    FROM lineitem
    WHERE substring(md5(concat(CAST(l_orderkey AS VARCHAR), '_', CAST(l_linenumber AS VARCHAR))), 1, 2) <= '0c'
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("l_returnflag",),
)
def s_sample_hash(spark, sf_dir):
    """Deterministic content-hash sampling (~5%, rows where the md5 prefix
    of the row key falls under a threshold). Unlike ``df.sample(seed=...)``
    — which depends on input split order and is NOT stable across runs or
    engines (measured) — a hash predicate selects the same rows on any
    cluster, any partitioning, any engine: the only sampling that supports
    reproducible profiling passes at 100 TB."""
    l = load(spark, sf_dir, "lineitem")
    key = F.concat(F.col("l_orderkey").cast("string"), F.lit("_"), F.col("l_linenumber").cast("string"))
    return (
        l.filter(F.substring(F.md5(key), 1, 2) <= "0c")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@query(
    "agg_listagg",
    sql="""
    SELECT o_orderstatus,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    order_by=("o_orderstatus",),
)
def agg_listagg(spark, sf_dir):
    """A7 extension: LISTAGG/string_agg semantics — deterministic via
    sort-before-join (an unordered string_agg is engine- and
    partitioning-dependent, so the engine always sorts)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_bool_bit",
    sql="""
    SELECT l_returnflag,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.05) AS any_discounted,
           bit_and(l_linenumber) AS band,
           bit_or(l_linenumber) AS bor
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_bool_bit(spark, sf_dir):
    """A6 extension: boolean (every/any) and bitwise aggregate family."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
            F.bit_and("l_linenumber").alias("band"),
            F.bit_or("l_linenumber").alias("bor"),
        )
    )


@query(
    "w_last_ignore_nulls",
    sql="""
    SELECT o_orderkey,
           last_value(CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END IGNORE NULLS)
             OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_closed_price
    FROM orders ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def w_last_ignore_nulls(spark, sf_dir):
    """W2 extension: last_value(... IGNORE NULLS) — carry the latest
    non-null observation forward (gap-filling / last-observation-carried-
    forward, the standard sensor-data repair)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    masked = F.when(F.col("o_orderstatus") == "O", F.lit(None)).otherwise(F.col("o_totalprice"))
    return o.select(
        "o_orderkey", F.last(masked, ignorenulls=True).over(w).alias("last_closed_price")
    )


@query(
    "join_full_outer",
    sql="""
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_customers_without_orders,
           COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_orphan_orders
    FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark, sf_dir):
    """J2 completion: FULL OUTER join — both unmatched sides survive with
    nulls (the reconciliation-report shape)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_customers_without_orders"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_orphan_orders"),
    )


@query(
    "set_ops_all",
    sql="""
    SELECT 'except_all' AS op, o_orderstatus, COUNT(*) AS n FROM (
      SELECT o_orderstatus FROM orders WHERE o_totalprice > 1000
      EXCEPT ALL
      SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY 2
    UNION ALL
    SELECT 'intersect_all' AS op, o_orderstatus, COUNT(*) AS n FROM (
      SELECT o_orderstatus FROM orders WHERE o_totalprice > 1000
      INTERSECT ALL
      SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY 2
    ORDER BY op, o_orderstatus
    """,
    order_by=("op", "o_orderstatus"),
)
def set_ops_all(spark, sf_dir):
    """U2 completion: bag-semantics set ops (EXCEPT ALL / INTERSECT ALL) —
    multiplicity-aware, unlike the DISTINCT forms in intersect_except."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 1000).select("o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderstatus")
    ex = (
        a.exceptAll(b)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "o_orderstatus", "n")
    )
    it = (
        a.intersectAll(b)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_orderstatus", "n")
    )
    return ex.unionAll(it)


@query(
    "join_null_safe",
    sql="""
    SELECT a.n_nationkey AS left_key, b.n_nationkey AS right_key
    FROM (SELECT n_nationkey, nullif(n_regionkey, 2) AS k FROM nation) a
    JOIN (SELECT n_nationkey, nullif(n_regionkey, 2) AS k FROM nation) b
      ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY left_key, right_key
    """,
    order_by=("left_key", "right_key"),
)
def join_null_safe(spark, sf_dir):
    """J1 edge semantics: null-safe equality join (`<=>` / IS NOT DISTINCT
    FROM) — null keys match EACH OTHER instead of vanishing, the contract a
    dedup-on-nullable-key pipeline needs."""
    n = load(spark, sf_dir, "nation")
    keyed = n.select("n_nationkey", F.nullif("n_regionkey", F.lit(2)).alias("k"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, F.col("a.k").eqNullSafe(F.col("b.k")))
        .select(F.col("a.n_nationkey").alias("left_key"), F.col("b.n_nationkey").alias("right_key"))
    )


@query(
    "star_join_revenue",
    sql="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
    order_by=("r_name", "n_name"),
)
def star_join_revenue(spark, sf_dir):
    """TPC-H Q5 shape: the full star — fact through orders/customer to the
    nation/region dims, revenue by region and nation. The two large tables
    sort-merge; the three dims broadcast; the status filter pushes into the
    orders scan. Decimal-through revenue for combine-order independence."""
    from ..functions.numeric import dmoney, drate, dsum

    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = dmoney("l_extendedprice") * (F.lit(1) - drate("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "w_nth_value",
    sql="""
    SELECT o_orderkey,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           first_value(o_totalprice) OVER w AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def w_nth_value(spark, sf_dir):
    """W1 completion: first_value / nth_value over a running frame."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


@query(
    "f_bitwise",
    sql="""
    SELECT l_linenumber,
           l_linenumber & 3 AS band,
           l_linenumber | 8 AS bor,
           xor(l_linenumber, 5) AS bxor,
           l_linenumber << 2 AS shl,
           l_linenumber >> 1 AS shr,
           bit_count(l_linenumber) AS popcnt,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
    """,
    order_by=("l_linenumber",),
)
def f_bitwise(spark, sf_dir):
    """F-family completion: bitwise scalar ops (and/or/xor/shifts/popcount)
    — the primitives the MinHash/SimHash pipelines build on."""
    l = load(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    return (
        l.groupBy("l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "l_linenumber",
            ln.bitwiseAND(F.lit(3)).alias("band"),
            ln.bitwiseOR(F.lit(8)).alias("bor"),
            ln.bitwiseXOR(F.lit(5)).alias("bxor"),
            F.shiftleft(ln, 2).alias("shl"),
            F.shiftright(ln, 1).alias("shr"),
            F.bit_count(ln).alias("popcnt"),
            "n",
        )
    )


@query(
    "f_try_arith",
    sql="""
    SELECT l_linenumber,
           o_total / nullif(l_linenumber - 1, 0) AS safe_div,
           CAST(NULL AS BIGINT) AS overflow_add
    FROM (SELECT l_linenumber, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS o_total
          FROM lineitem GROUP BY l_linenumber)
    ORDER BY l_linenumber
    """,
    order_by=("l_linenumber",),
)
def f_try_arith(spark, sf_dir):
    """F8 extension: ANSI-safe arithmetic — try_divide returns NULL on
    division by zero instead of raising (ANSI mode is on session-wide;
    try_add shows the overflow-to-NULL contract on a forced overflow)."""
    from ..functions.numeric import dmoney, dsum

    l = load(spark, sf_dir, "lineitem")
    per_line = l.groupBy("l_linenumber").agg(dsum(dmoney("l_extendedprice"), "o_total"))
    max_long = 9223372036854775807
    return per_line.select(
        "l_linenumber",
        F.try_divide(F.col("o_total"), F.col("l_linenumber") - 1).alias("safe_div"),
        F.try_add(F.lit(max_long).cast("long"), F.col("l_linenumber").cast("long")).alias(
            "overflow_add"
        ),
    )


@query(
    "agg_corr",
    sql="""
    WITH u AS (
      SELECT l_returnflag,
             CAST(l_quantity * 100 AS BIGINT) AS x,
             CAST(l_extendedprice * 100 AS BIGINT) AS y
      FROM lineitem),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM u GROUP BY 1)
    SELECT l_returnflag,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS qty_price_corr,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) / 10000.0 AS qty_price_covar,
           CAST(n AS BIGINT) AS n
    FROM m ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_corr(spark, sf_dir):
    """A8 extension: Pearson correlation / sample covariance between price
    and quantity per return flag — UPGRADED rows-only → ORACLED (r8, the
    KMV template): instead of `F.corr`'s float co-moments (combine-order
    dependent in the last ulp, hence never hash-comparable), the moments
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT integers over the
    hundredth-unit inputs in DECIMAL(38)/HUGEINT, and the float appears
    only in one final expression — corr = (nΣxy−ΣxΣy)/√((nΣxx−Σx²)(nΣyy
    −Σy²)) — computed from identical exact integers through the identical
    IEEE op sequence on both engines, so the doubles hash-match. The
    mergeable-moments form is also the correct 100 TB shape: map-side
    partial sums, one narrow row per group, no second pass. covar_samp =
    (nΣxy−ΣxΣy)/(n(n−1)) in original units (÷100²). Agreement of the
    exact-moment corr with F.corr to 1e-9 stays pinned in
    tests/test_breadth.py."""
    l = load(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    x = money_units("l_quantity").cast(d38)
    y = money_units("l_extendedprice").cast(d38)
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    cxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    cxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        m.select(
            "l_returnflag",
            (cxy / F.sqrt(cxx * cyy)).alias("qty_price_corr"),
            (
                cxy
                / (F.col("n") * (F.col("n") - 1)).cast("double")
                / F.lit(10000.0)
            ).alias("qty_price_covar"),
            F.col("n").cast("long").alias("n"),
        )
    )


@query(
    "gen_date_dim",
    sql="""
    SELECT CAST(d AS DATE) AS cal_date,
           EXTRACT(year FROM d) AS y,
           EXTRACT(month FROM d) AS m,
           EXTRACT(dow FROM d) AS dow,
           EXTRACT(dow FROM d) IN (0, 6) AS is_weekend
    FROM generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY) AS t(d)
    ORDER BY cal_date
    """,
    order_by=("cal_date",),
)
def gen_date_dim(spark, sf_dir):
    """Generated calendar dimension — sequence + explode, no input table
    (the dim every warehouse joins dates against; broadcast-sized by
    construction). Spark dayofweek is 1=Sunday; normalized to DuckDB's
    0=Sunday dow."""
    d = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS cal_date"
    )
    dow = F.dayofweek("cal_date") - 1
    return d.select(
        "cal_date",
        F.year("cal_date").cast("long").alias("y"),
        F.month("cal_date").cast("long").alias("m"),
        dow.cast("long").alias("dow"),
        dow.isin(0, 6).alias("is_weekend"),
    )


@query(
    "f_datetime_parts",
    sql="""
    SELECT l_orderkey, l_linenumber,
           CAST(quarter(l_shipdate) AS INT) AS qtr,
           CAST(dayofyear(l_shipdate) AS INT) AS doy,
           CAST(weekofyear(l_shipdate) AS INT) AS iso_week,
           CAST(dayofweek(l_shipdate) + 1 AS INT) AS dow1,
           CAST(last_day(l_shipdate) AS DATE) AS month_end,
           make_date(CAST(year(l_shipdate) AS INT), CAST(month(l_shipdate) AS INT), 1)
             AS month_start,
           CAST(date_diff('day', CAST(l_shipdate AS DATE), DATE '1998-12-01') AS INT)
             AS days_to_cutoff
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    order_by=("l_orderkey", "l_linenumber"),
)
def f_datetime_parts(spark, sf_dir):
    """F3 extension: the calendar-part family beyond year/month/day —
    quarter, day-of-year, ISO week, day-of-week (Spark's 1=Sunday
    convention, the oracle normalizes its 0=Sunday to match), month
    start/end via make_date/last_day, and day distance to a cutoff. All
    codegen'd per-row expressions; nothing shuffles."""
    l = load(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.quarter(d).alias("qtr"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofweek(d).alias("dow1"),
        F.last_day(d).alias("month_end"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).alias("month_start"),
        F.datediff(F.lit("1998-12-01").cast("date"), d).alias("days_to_cutoff"),
    )


@query(
    "join_asof_tolerance",
    sql="""
    SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
           CASE WHEN r.ts IS NOT NULL AND l.ts - r.ts <= INTERVAL '1 hour'
                THEN CAST(r.ts AS TIMESTAMP) END AS signup_ts_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
    order_by=("event_id",),
)
def join_asof_tolerance(spark, sf_dir):
    """J8 extension: as-of join with a match-age bound — each purchase takes
    the user's latest signup AT MOST one hour old; staler matches null out
    (tick-alignment semantics). Same single-shuffle union+window plan as
    join_asof plus one bounding projection (operators/joins.py)."""
    from ..operators.joins import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    out = asof_join(
        purchases, signups, keys=["user_id"], left_ts="ts", right_ts="signup_ts",
        right_cols=["signup_ts"], tolerance_s=3600,
    )
    return out.select("event_id", "user_id", "ts", "signup_ts_asof")


@query(
    "events_paths",
    sql="""
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
    FROM events GROUP BY 1, 2 ORDER BY user_id, day
    """,
    order_by=("user_id", "day"),
)
def events_paths(spark, sf_dir):
    """Per-user-day ordered event path (clickstream path extraction): the
    order-SENSITIVE list aggregate. collect_list has no intra-group order
    guarantee, so the order is imposed in-row — collect structs of
    (ts, event_id, event_type), array_sort (lexicographic on the leading
    sort fields, event_id as the unique tiebreak), then project the type.
    One hash-aggregate shuffle on (user, day) — no window, no second pass.
    The path is emitted '>'-joined text (driver canon cannot hash list
    cells; see agg_collect_set)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
        )
    )


@query(
    "agg_order_distribution",
    sql="""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    order_by=("custdist DESC", "c_count DESC"),
)
def agg_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape — two-level aggregation: per-customer order counts
    INCLUDING zero-order customers (the left join with an extra join-side
    predicate is the part a naive groupBy misses), then the distribution of
    those counts. First agg shuffles on custkey, second on the tiny c_count
    domain; the zero bucket rides the outer join, not a separate union."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "graph_triangles",
    sql="""
    WITH arcs AS (
      SELECT e.user_id AS src, n.user_id AS dst
      FROM events e JOIN events n ON n.event_id = e.event_id + 1
      WHERE e.user_id <> n.user_id),
    edges AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM arcs)
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*)
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
)
def graph_triangles(spark, sf_dir):
    """Triangle count over the event hand-off graph (same arc derivation as
    graph_pagerank): canonicalize edges to u < v, then the standard
    wedge-close two-join — e1=(a,b), e2=(b,c) forms a wedge, e3=(a,c)
    closes it; the a<b<c canonical order counts each triangle exactly once.
    Both joins are keyed equi-joins on node ids (shuffle or broadcast as
    sizes dictate — the edge list of a dedup/interaction graph is far
    smaller than the corpus)."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    nxt = e.select((F.col("event_id") - 1).alias("event_id"), F.col("user_id").alias("next_user"))
    arcs = (
        e.join(nxt, "event_id")
        .where(F.col("next_user") != F.col("user_id"))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    edges = (
        arcs.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .persist()  # three join appearances; materialize the edge build once
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return edges.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(tri)


@query(
    "f_struct",
    sql="""
    SELECT doc_id, lang AS lang_f, n_chars * 2 AS chars2,
           concat('{"lang":"', lang, '","n_chars":', n_chars, '}') AS packed_json
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_struct(spark, sf_dir):
    """Struct-column surgery: build a struct, rewrite one field in place
    (withField), drop a field (dropFields), read one back (getField), and
    serialize the result (to_json — field order is declaration order, which
    the oracle reproduces textually). The nested-struct form of the
    reference's entity records (SURVEY.md §1.1)."""
    d = load(spark, sf_dir, "documents")
    s = F.struct(F.col("lang"), F.col("source"), F.col("n_chars").cast("long").alias("n_chars"))
    s2 = s.withField("n_chars", F.col("n_chars").cast("long") * 2)
    dropped = s.dropFields("source")
    return d.select(
        "doc_id",
        s.getField("lang").alias("lang_f"),
        s2.getField("n_chars").alias("chars2"),
        F.to_json(dropped).alias("packed_json"),
    )


@query(
    "s_bucketed_join",
    sql="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("o_orderpriority",),
)
def s_bucketed_join(spark, sf_dir):
    """Bucketed-table co-located join: both fact tables are stored
    bucketed+sorted on the join key (sources/bucketing.py), so the
    sort-merge join reads matching buckets directly — ZERO exchanges for a
    fact x fact join, the storage-level answer to the dominant 100 TB
    shuffle (plan asserted in tests/test_bucketing.py). The oracle computes
    the same aggregate from the unbucketed source."""
    from ..functions.numeric import money_units, usum
    from ..sources.bucketing import read_table, write_bucketed

    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(l, "q_li_bucketed", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(o, "q_ord_bucketed", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    lb, ob = read_table(spark, "q_li_bucketed"), read_table(spark, "q_ord_bucketed")
    return (
        lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            usum(money_units("l_quantity"), 2, "sum_qty"),
        )
    )


@query(
    "agg_grouping_id",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CASE WHEN l_returnflag IS NULL AND l_linestatus IS NULL THEN 3
                WHEN l_linestatus IS NULL THEN 1
                ELSE 0 END AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    order_by=("gid", "l_returnflag", "l_linestatus"),
)
def agg_grouping_id(spark, sf_dir):
    """A5 companion: grouping_id() distinguishes a REAL null key from a
    rollup-generated subtotal row — the disambiguator every rollup consumer
    needs. The oracle reconstructs the id from null patterns (the fixture
    keys are non-null, so the patterns map 1:1)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count(F.lit(1)).alias("n"))
        .select("l_returnflag", "l_linestatus", "gid", "n")
    )


@query(
    "f_format",
    sql="""
    SELECT doc_id,
           printf('%s-%05d', lang, doc_id) AS tag,
           printf('%.2f', CAST(n_chars AS DOUBLE) / 100) AS chars_pct,
           format('{} chars in {}', n_chars, lang) AS sentence
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_format(spark, sf_dir):
    """String formatting family: printf-style format_string with width /
    zero-pad / fixed-decimal conversions (ids, percentages, log lines).
    DuckDB's printf implements the same C conversions; the brace-style
    format maps to concat on the Spark side."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.format_string("%s-%05d", F.col("lang"), F.col("doc_id")).alias("tag"),
        F.format_string("%.2f", F.col("n_chars").cast("double") / 100).alias("chars_pct"),
        F.concat(F.col("n_chars"), F.lit(" chars in "), F.col("lang")).alias("sentence"),
    )


@query(
    "events_outliers",
    sql="""
    WITH u AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
             COUNT(*) OVER w AS n,
             SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER w AS s,
             SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                 * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER w AS q
      FROM events
      WINDOW w AS (PARTITION BY user_id))
    SELECT user_id, MAX(n) AS n_events,
           COUNT(CASE WHEN (x * n - s) * (x * n - s) > 4 * (n * q - s * s) THEN 1 END)
             AS n_outliers
    FROM u GROUP BY user_id ORDER BY user_id
    """,
    order_by=("user_id",),
)
def events_outliers(spark, sf_dir):
    """Per-user z-score anomaly detection with EXACT integer arithmetic:
    |x - mean| > 2*std rewritten as (x*n - s)^2 > 4*(n*q - s^2) over int64
    value-units — no float mean/std, so the boundary is engine- and
    partition-order-stable. One shuffle: the per-user moment window and the
    per-user count reuse the same hash partitioning (no second exchange —
    Catalyst sees the aggregation keys already clustered). Magnitude bound:
    safe while n_per_user * max_units < 2^31.5 units-rows; past that, the
    same inequality runs in double (identically on both engines)."""
    e = load(spark, sf_dir, "events")
    from ..functions.numeric import money_units

    x = money_units("value")
    w = Window.partitionBy("user_id")
    u = e.select(
        "user_id",
        x.alias("x"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(x).over(w).alias("s"),
        F.sum(x * x).over(w).alias("q"),
    )
    dev = F.col("x") * F.col("n") - F.col("s")
    is_out = dev * dev > 4 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    return (
        u.groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.when(is_out, 1)).alias("n_outliers"),
        )
    )


@query(
    "agg_winsorized",
    sql="""
    WITH p AS (
      SELECT l_returnflag,
             CAST(floor(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT), 0.05)) AS BIGINT) AS lo,
             CAST(floor(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT), 0.95)) AS BIGINT) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(least(greatest(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT), p.lo), p.hi)) AS DOUBLE)
             / 100.0 AS winsorized_sum
    FROM lineitem l JOIN p ON l.l_returnflag = p.l_returnflag
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_winsorized(spark, sf_dir):
    """Winsorized (clipped) aggregation — robust statistics at scale: clip
    each value into the group's [p05, p95] band, then sum. Percentile
    bounds are floored to integer units so the clipped SUM stays exact
    int64 (an interpolated-percentile clip would reintroduce float sums).
    Two passes over the fact: tiny per-group percentile table, broadcast
    back, clipped exact re-aggregate — the shape that holds when the group
    count is bounded and the fact is not."""
    from ..functions.numeric import money_units

    l = load(spark, sf_dir, "lineitem")
    u = money_units("l_extendedprice")
    p = l.groupBy("l_returnflag").agg(
        F.floor(F.percentile(u, 0.05)).alias("lo"),
        F.floor(F.percentile(u, 0.95)).alias("hi"),
    )
    return (
        l.select("l_returnflag", u.alias("u"))
        .join(F.broadcast(p), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.least(F.greatest(F.col("u"), F.col("lo")), F.col("hi"))).cast("double")
                / 100.0
            ).alias("winsorized_sum"),
        )
    )


@query(
    "f_timezone",
    sql="""
    SELECT event_id,
           CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ny_ts,
           CAST(hour(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York') AS INT) AS ny_hour,
           CAST(ts AS TIMESTAMP) AS roundtrip
    FROM events WHERE event_id % 100 = 0 ORDER BY event_id
    """,
    order_by=("event_id",),
)
def f_timezone(spark, sf_dir):
    """Timezone conversion: UTC instants rendered as wall-clock time in a
    named IANA zone (from_utc_timestamp), the local hour, and the
    to_utc_timestamp round-trip identity. Both engines use the IANA tzdb,
    so DST transitions agree."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    ny = F.from_utc_timestamp("ts", "America/New_York")
    return e.select(
        "event_id",
        ny.alias("ny_ts"),
        F.hour(ny).alias("ny_hour"),
        F.to_utc_timestamp(ny, "America/New_York").alias("roundtrip"),
    )


@query(
    "f_array_edit",
    sql="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')[1:4] AS a
      FROM documents)
    SELECT doc_id,
           array_to_string(list_append(a, 'zz'), '|') AS appended,
           array_to_string(list_prepend('aa', a), '|') AS prepended,
           array_to_string(a[1:1] || ['mid'] || a[2:], '|') AS inserted,
           array_to_string(list_filter(a, x -> x <> 'the'), '|') AS removed,
           array_to_string(list_filter(['x', NULL, 'y'], v -> v IS NOT NULL), '|') AS compacted
    FROM t ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_array_edit(spark, sf_dir):
    """Array-edit family (Spark 3.4/3.5 surface): append / prepend /
    positional insert / remove-by-value / null compaction — the mutations a
    feature-engineering pipeline applies to list columns. All in-row; each
    edited array is emitted '|'-joined because the driver canon cannot hash
    list cells (see agg_collect_set)."""
    d = load(spark, sf_dir, "documents")
    from ..functions.text import ws_tokens

    a = F.slice(ws_tokens("text"), 1, 4)
    t = d.select("doc_id", a.alias("a"))
    return t.select(
        "doc_id",
        F.array_join(F.array_append("a", F.lit("zz")), "|").alias("appended"),
        F.array_join(F.array_prepend("a", F.lit("aa")), "|").alias("prepended"),
        F.array_join(F.array_insert("a", 2, F.lit("mid")), "|").alias("inserted"),
        F.array_join(F.array_remove("a", "the"), "|").alias("removed"),
        F.array_join(
            F.array_compact(F.array(F.lit("x"), F.lit(None), F.lit("y"))), "|"
        ).alias("compacted"),
    )


_LPA_SQL = """
    WITH arcs AS (
      SELECT e.user_id AS src, n.user_id AS dst
      FROM events e JOIN events n ON n.event_id = e.event_id + 1
      WHERE e.user_id <> n.user_id),
    und AS (SELECT DISTINCT src AS a, dst AS b FROM arcs),
    sym AS (
      SELECT DISTINCT a, b FROM (
        SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und)),
    lab0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
    freq1 AS (
      SELECT s.a, l.label, COUNT(*) AS n
      FROM sym s JOIN lab0 l ON s.b = l.node GROUP BY 1, 2),
    lab1 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY n DESC, label) AS rn
        FROM freq1) WHERE rn = 1),
    freq2 AS (
      SELECT s.a, l.label, COUNT(*) AS n
      FROM sym s JOIN lab1 l ON s.b = l.node GROUP BY 1, 2),
    lab2 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY n DESC, label) AS rn
        FROM freq2) WHERE rn = 1),
    freq3 AS (
      SELECT s.a, l.label, COUNT(*) AS n
      FROM sym s JOIN lab2 l ON s.b = l.node GROUP BY 1, 2),
    lab3 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY n DESC, label) AS rn
        FROM freq3) WHERE rn = 1),
    freq4 AS (
      SELECT s.a, l.label, COUNT(*) AS n
      FROM sym s JOIN lab3 l ON s.b = l.node GROUP BY 1, 2),
    lab4 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY n DESC, label) AS rn
        FROM freq4) WHERE rn = 1),
    freq5 AS (
      SELECT s.a, l.label, COUNT(*) AS n
      FROM sym s JOIN lab4 l ON s.b = l.node GROUP BY 1, 2),
    lab5 AS (
      SELECT a AS node, label FROM (
        SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY n DESC, label) AS rn
        FROM freq5) WHERE rn = 1)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM lab5 GROUP BY label ORDER BY n_nodes DESC, label
"""


@query("graph_label_prop", sql=_LPA_SQL, order_by=("n_nodes DESC", "label"))
def graph_label_prop(spark, sf_dir):
    """Community detection via deterministic synchronous label propagation
    (operators/labelprop.py) over the same event hand-off graph as
    graph_pagerank/graph_triangles. Oracle (r3 upgrade, was rows-only):
    the 5 synchronous iterations UNROLL into five generated join+argmax
    CTE stages — deterministic because the update rule tie-breaks
    (count desc, label asc) exactly; the unit test additionally replays
    the algorithm in plain Python and asserts identical labels."""
    from ..operators.labelprop import label_propagation

    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    nxt = e.select((F.col("event_id") - 1).alias("event_id"), F.col("user_id").alias("next_user"))
    arcs = (
        e.join(nxt, "event_id")
        .where(F.col("next_user") != F.col("user_id"))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    labels = label_propagation(arcs, iterations=5)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@query(
    "w_running_distinct",
    sql="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_of_type
      FROM events),
    seq AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step,
             SUM(first_of_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types
      FROM flagged)
    SELECT user_id,
           CAST(MIN(CASE WHEN n_types >= 3 THEN step END) AS BIGINT) AS steps_to_3_types,
           CAST(MAX(n_types) AS BIGINT) AS total_types,
           COUNT(*) AS n_events
    FROM seq GROUP BY user_id ORDER BY user_id
    """,
    order_by=("user_id",),
)
def w_running_distinct(spark, sf_dir):
    """Running DISTINCT via first-occurrence flags — windows can't take
    COUNT(DISTINCT), so the standard rewrite flags each (user, type)'s
    first event and cumulative-sums the flags. Emitted as a
    time-to-breadth metric: how many events until a user has touched 3
    distinct types. All three windows and the final aggregate share the
    user_id hash partitioning — one shuffle."""
    e = load(spark, sf_dir, "events")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.row_number().over(w_user).cast("long").alias("step"),
        F.sum(F.when(F.row_number().over(w_type) == 1, 1).otherwise(0))
        .over(w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("n_types"),
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("n_types") >= 3, F.col("step"))).alias("steps_to_3_types"),
            F.max("n_types").alias("total_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "agg_crosstab",
    sql="""
    PIVOT (SELECT c_mktsegment AS c_mktsegment_c_nationkey, c_nationkey
           FROM customer)
    ON c_nationkey USING count(*) GROUP BY c_mktsegment_c_nationkey
    ORDER BY c_mktsegment_c_nationkey
    """,
    order_by=("c_mktsegment_c_nationkey",),
)
def agg_crosstab(spark, sf_dir):
    """DataFrameStatFunctions surface: ``df.stat.crosstab`` — the pairwise
    contingency table (segment × nation counts). Physically one partial+
    final pivot aggregate: cells shuffle as (row-key, 25 counts), never as
    raw rows. The oracle is DuckDB's PIVOT over the same pair; both engines
    name value columns by the stringified nation key and fill absent cells
    with zero, and both discover the column set FROM the data — so the
    schemas agree even if a regenerated fixture drops a nation."""
    c = load(spark, sf_dir, "customer")
    out = c.stat.crosstab("c_mktsegment", "c_nationkey")
    return out


@query(
    "profile_observe",
    sql="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    """,
)
def profile_observe(spark, sf_dir):
    """``Observation`` / CollectMetrics surface — pipeline health metrics
    computed ON the main pass (one CollectMetrics node over the scan; at
    scale the metrics ride the job you were already running instead of a
    second full read; `sources/sink.py::write_partitioned_observed` is the
    write-path twin). The observed values are returned as a 1-row frame
    and oracle-checked against the straight aggregate."""
    from pyspark.sql import Observation

    l = load(spark, sf_dir, "lineitem")
    obs = Observation("lineitem_metrics")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )
    observed.write.format("noop").mode("overwrite").save()  # drive the pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_qty"], m["min_key"], m["max_key"])],
        "n_rows long, total_qty long, min_key long, max_key long",
    )
