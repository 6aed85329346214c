"""Window-function inventory W1-W4 (SURVEY.md §2.5).

The reference stores precomputed per-participant flags
(``isFirstAssessment``/``isLastAssessment``,
/root/reference/src/copy_from_template.py:183-186) and session day offsets
(:187-190); the engine derives them with window specs. Every window below is
partitioned on a key (one shuffle, then a per-partition sort) — no global
sort, no driver-side state — and every ORDER BY includes a unique tie-break
column so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import dmoney
from .registry import query


@query(
    "w_first_last_flags",
    sql="""
    SELECT o_orderkey, o_custkey,
           (ROW_NUMBER() OVER w = 1) AS is_first_order,
           (ROW_NUMBER() OVER w = COUNT(*) OVER (PARTITION BY o_custkey)) AS is_last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def w_first_last_flags(spark, sf_dir):
    """W1: derive isFirst/isLast flags per participant — the engine analog
    of the reference's stored booleans (copy_from_template.py:183-186)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cnt = Window.partitionBy("o_custkey")
    rn = F.row_number().over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        (rn == 1).alias("is_first_order"),
        (rn == F.count(F.lit(1)).over(cnt)).alias("is_last_order"),
    )


@query(
    "w_lag_lead",
    sql="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           CAST(LAG(ts) OVER w AS TIMESTAMP) AS prev_ts,
           CAST(date_diff('microsecond', LAG(ts) OVER w, ts) AS DOUBLE) / 1000000 AS gap_s,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
    order_by=("event_id",),
)
def w_lag_lead(spark, sf_dir):
    """W2: lag/lead — inter-event deltas per user (the inter-session gap
    semantics of sessionInstanceStartDay/EndDay, copy_from_template.py:187-190)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap = (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).cast("double") / 1_000_000
    return e.select(
        "event_id",
        "user_id",
        "ts",
        prev_ts.alias("prev_ts"),
        gap.alias("gap_s"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "w_running_sum",
    sql="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS order_seq
    FROM orders ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def w_running_sum(spark, sf_dir):
    """W3: frame-spec running aggregate — cumulative spend per customer
    (cumulative-uploads semantics over uploadedOn, copy_from_template.py:179-182).
    Decimal-through so every prefix sum is exact."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(dmoney("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "w_topk_per_group",
    sql="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer)
    WHERE rk <= 3
    ORDER BY c_nationkey, rk
    """,
    order_by=("c_nationkey", "rk"),
)
def w_topk_per_group(spark, sf_dir):
    """W4: top-k per group — latest-revision-per-assessment semantics
    (copy_from_template.py:187-190). Spark plans a partial top-k
    (WindowGroupLimit) before the shuffle, so the full sort never happens."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.select("c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
    )


@query(
    "w_interval_overlap",
    sql="""
    WITH iv AS (
      SELECT CAST(o.o_orderdate AS DATE) AS open_d,
             MAX(CAST(l.l_shipdate AS DATE)) AS close_d
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)),
    deltas AS (
      SELECT open_d AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT CAST(close_d + INTERVAL 1 DAY AS DATE), -1 FROM iv),
    daily AS (SELECT d, SUM(delta) AS net FROM deltas GROUP BY 1)
    SELECT d, CAST(SUM(net) OVER (ORDER BY d) AS BIGINT) AS open_orders
    FROM daily ORDER BY d
    """,
    order_by=("d",),
)
def w_interval_overlap(spark, sf_dir):
    """Sweep-line interval overlap: how many orders are 'open' (placed but
    not fully shipped) on each calendar day. Each order's interval is
    [o_orderdate, max lineitem shipdate]; the count of concurrent intervals
    is the running sum of +1/-1 boundary deltas. Scale shape: the interval
    build and the delta aggregation are orderkey-/date-keyed (fully
    distributed); the one global window runs over the per-DAY table —
    cardinality |distinct dates| (~2.5k), not |rows| — so the single-
    partition prefix sum touches kilobytes regardless of fact size."""
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_d"))
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_d")
    )
    iv = o.join(li, o.o_orderkey == li.l_orderkey).select("open_d", "close_d")
    deltas = iv.select(F.col("open_d").alias("d"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.date_add("close_d", 1).alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d", F.sum("net").over(w).cast("bigint").alias("open_orders")
    )
