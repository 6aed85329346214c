"""Statistical and sketch-based aggregates, engine-stable by construction.

The reference's `scores` folder exists to hold score distributions
(/root/reference/synapseformation_templates/default.yaml:3-4); regression,
robust-outlier, and distinct-sketch summaries are the distribution
analytics a dashboard over it runs. Float discipline follows NOTES.md: all
cross-row accumulation happens in exact int64 units; any final float math
is a fixed, explicitly-parenthesized expression evaluated identically by
Spark and the DuckDB oracle (IEEE ops on identical inputs are
deterministic — only *accumulation order* is not).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import money_units, sql_money_units
from .registry import query

# --- Exact linear regression (slope / intercept / r2) ----------------------
#
# regr_slope & co. as a ratio of co-moments. Built-in regr_* / corr
# aggregate *doubles* — combine-order dependent in the last ulp (see
# agg_corr, rows-only for that reason). Here the four co-moment sums are
# exact int64 unit sums, so the aggregation is order-independent and the
# closed-form division is one deterministic double expression per group.
# Magnitude bound: sum(x*y) units² ~ 5e10/row → safe past 1e8 rows/group;
# beyond that, widen to decimal(38,0) sums (same shape, BigDecimal path).

_REGR_SQL = f"""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM({sql_money_units('l_quantity')}) AS sx,
         SUM({sql_money_units('l_extendedprice')}) AS sy,
         SUM({sql_money_units('l_quantity')} * {sql_money_units('l_extendedprice')}) AS sxy,
         SUM({sql_money_units('l_quantity')} * {sql_money_units('l_quantity')}) AS sxx,
         SUM({sql_money_units('l_extendedprice')} * {sql_money_units('l_extendedprice')}) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS slope,
       (((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))))
         / (((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS r2
FROM m ORDER BY l_returnflag
"""


@query("agg_regr_exact", sql=_REGR_SQL, order_by=("l_returnflag",))
def agg_regr_exact(spark, sf_dir):
    """Least-squares slope and r² of extendedprice ~ quantity per return
    flag, from exact integer co-moments (one hash aggregate, one shuffle)."""
    l = load(spark, sf_dir, "lineitem")
    x = money_units("l_quantity")
    y = money_units("l_extendedprice")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = (n * sxy) - (sx * sy)
    denx = (n * sxx) - (sx * sx)
    deny = (n * syy) - (sy * sy)
    return m.select(
        "l_returnflag",
        "n",
        (num / denx).alias("slope"),
        ((num * num) / (denx * deny)).alias("r2"),
    )


# --- Robust outliers: median absolute deviation ----------------------------
#
# events.value is NOT 2-decimal exact in the fixture, so quantize with
# floor(value*100) — one IEEE multiply + floor, identical on both engines —
# instead of a decimal cast: Spark's CAST(double AS DECIMAL) rounds
# HALF_UP while DuckDB rounds half-to-even, so a value like x.005 lands on
# different decimals and the hash comparison breaks even though both casts
# are "correct".

_MAD_SQL = """
WITH q AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS ux FROM events),
med AS (
  SELECT event_type, quantile_cont(ux, 0.5) AS med FROM q GROUP BY event_type),
dev AS (
  SELECT q.event_type, q.ux, abs(CAST(q.ux AS DOUBLE) - m.med) AS adev
  FROM q JOIN med m ON q.event_type = m.event_type),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type)
SELECT d.event_type,
       COUNT(*) AS n,
       COUNT(CASE WHEN d.adev > (4.4478 * m.mad) THEN 1 END) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type ORDER BY d.event_type
"""


@query("events_mad_outliers", sql=_MAD_SQL, order_by=("event_type",))
def events_mad_outliers(spark, sf_dir):
    """Robust per-type outlier counts: |x - median| > 3σ-equivalent
    (4.4478 ≈ 3 × 1.4826) of the median absolute deviation. Two exact
    median passes (Spark `percentile` == DuckDB `quantile_cont` on integer
    units) joined back broadcast — the grouped medians are one row per
    event_type, so neither join reshuffles the fact."""
    e = load(spark, sf_dir, "events")
    q = e.select("event_type", F.floor(F.col("value") * 100).cast("long").alias("ux"))
    med = q.groupBy("event_type").agg(F.percentile("ux", 0.5).alias("med"))
    dev = q.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("ux").cast("double") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("adev") > (F.lit(4.4478) * F.col("mad")), 1)).alias("n_outliers"),
        )
    )


# --- Bitmap-exact distinct counting ----------------------------------------


@query(
    "agg_bitmap_distinct",
    sql="""
    SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_bitmap_distinct(spark, sf_dir):
    """Exact distinct via RoaringBitmap-style fixed bitmaps
    (`bitmap_construct_agg` over `bitmap_bit_position`, bucketed by
    `bitmap_bucket_number`): the partial state per (group, bucket) is a
    4KB bitmap instead of a hash set of longs, so the shuffle for a
    100-TB COUNT(DISTINCT id) moves O(id-range/32768) constant-size
    blocks, not O(rows) values — the same two-level plan Spark generates
    for exact distinct, with a denser intermediate."""
    l = load(spark, sf_dir, "lineitem")
    per_bucket = (
        l.select(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_orderkey)").alias("bucket"),
            F.col("l_orderkey"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(l_orderkey))").alias("bm"))
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_orders"))
    )


# --- Stratified deterministic sampling -------------------------------------


@query(
    "s_sample_stratified",
    sql="""
    SELECT l_returnflag, COUNT(*) AS n_sampled
    FROM lineitem
    WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 2)
          <= CASE l_returnflag WHEN 'A' THEN '19' WHEN 'N' THEN '05' ELSE '0c' END
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def s_sample_stratified(spark, sf_dir):
    """Per-stratum hash sampling at different rates (~10% of A, ~2% of N,
    ~5% of R): the rate threshold is a function of the stratum, the
    membership test is still a pure content-hash predicate — the same rows
    on any engine, any partitioning (`df.sampleBy(seed=...)`'s per-split
    state is not; see s_sample_hash)."""
    l = load(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit("_"), F.col("l_linenumber").cast("string")
    )
    threshold = (
        F.when(F.col("l_returnflag") == "A", "19")
        .when(F.col("l_returnflag") == "N", "05")
        .otherwise("0c")
    )
    return (
        l.filter(F.substring(F.md5(key), 1, 2) <= threshold)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


# --- OHLC downsampling bars ------------------------------------------------


@query(
    "ts_ohlc_bars",
    sql="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS bar_start, event_type,
             CAST(floor(value * 100) AS BIGINT) AS ux, ts, event_id,
             first_value(CAST(floor(value * 100) AS BIGINT))
               OVER (PARTITION BY time_bucket(INTERVAL '10 minutes', ts), event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open_u,
             last_value(CAST(floor(value * 100) AS BIGINT))
               OVER (PARTITION BY time_bucket(INTERVAL '10 minutes', ts), event_type
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_u
      FROM events)
    SELECT bar_start, event_type,
           CAST(min(open_u) AS DOUBLE) / 100.0 AS open,
           CAST(max(ux) AS DOUBLE) / 100.0 AS high,
           CAST(min(ux) AS DOUBLE) / 100.0 AS low,
           CAST(min(close_u) AS DOUBLE) / 100.0 AS close,
           COUNT(*) AS n
    FROM w GROUP BY bar_start, event_type ORDER BY bar_start, event_type
    """,
    order_by=("bar_start", "event_type"),
)
def ts_ohlc_bars(spark, sf_dir):
    """Open-high-low-close downsampling into 10-minute bars per event type —
    the canonical time-series rollup. Open/close are first/last by (ts,
    event_id) (unique tie-break) over an unbounded frame; the window and
    the final aggregate share the same (bar, type) hash partitioning, so
    the whole query is one shuffle. Epoch-aligned buckets: Spark
    `window()` and DuckDB `time_bucket` agree for divisors of an hour."""
    e = load(spark, sf_dir, "events")
    bar = F.window("ts", "10 minutes").start.alias("bar_start")
    q = e.select(
        bar,
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("ux"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("bar_start", "event_type").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    q = q.select(
        "bar_start",
        "event_type",
        "ux",
        F.first("ux").over(frame).alias("open_u"),
        F.last("ux").over(frame).alias("close_u"),
    )
    return (
        q.groupBy("bar_start", "event_type")
        .agg(
            (F.min("open_u").cast("double") / 100.0).alias("open"),
            (F.max("ux").cast("double") / 100.0).alias("high"),
            (F.min("ux").cast("double") / 100.0).alias("low"),
            (F.min("close_u").cast("double") / 100.0).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- Vector-column profiling ----------------------------------------------


@query(
    "profile_embeddings",
    sql="""
    SELECT label,
           COUNT(*) AS n,
           MIN(len(embedding)) AS dim_min,
           MAX(len(embedding)) AS dim_max,
           CAST(SUM(CAST(floor(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000) AS BIGINT)) AS DOUBLE)
             / (1000.0 * COUNT(*)) AS avg_norm_q
    FROM embeddings GROUP BY label ORDER BY label
    """,
    order_by=("label",),
)
def profile_embeddings(spark, sf_dir):
    """Vector-column profiling for dataset cards: per-label count,
    dimension bounds (a ragged embedding column is a pipeline bug), and
    mean L2 norm. The norm is quantized (floor at 1e-3) BEFORE the
    cross-row mean — the in-row fold runs in identical sequential order on
    both engines, but the cross-row sum would not (NOTES.md float
    discipline)."""
    e = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm_q = F.floor(F.sqrt(sq_sum) * 1000).cast("long")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("embedding")).alias("dim_min"),
            F.max(F.size("embedding")).alias("dim_max"),
            (F.sum(norm_q).cast("double") / (F.lit(1000.0) * F.count(F.lit(1)))).alias("avg_norm_q"),
        )
    )


# --- Skew-proof aggregation and join under the driver's gate ----------------


@query(
    "agg_salted_skew",
    sql="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_salted_skew(spark, sf_dir):
    """Two-phase salted aggregation (operators/skew.py) under the oracle:
    phase 1 aggregates on (key, salt) so a hot key spreads over 32
    reducers, phase 2 merges per key — same result as the plain group-by
    because count/sum are algebraic. The 3-key returnflag column is the
    worst case salting is built for: 3 reducers do all the work unsalted."""
    from ..functions.numeric import money_units
    from ..operators.skew import salted_agg

    l = load(spark, sf_dir, "lineitem")
    out = salted_agg(
        l,
        keys=["l_returnflag"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(money_units("l_quantity")).alias("sq"),
        ],
        merges=[F.sum("n").alias("n"), F.sum("sq").alias("sq")],
    )
    return out.select(
        "l_returnflag",
        "n",
        (F.col("sq").cast("double") / 100.0).alias("sum_qty"),
    )


@query(
    "join_salted_skew",
    sql="""
    SELECT o.o_orderpriority, COUNT(*) AS n
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("o_orderpriority",),
)
def join_salted_skew(spark, sf_dir):
    """Salted fact×dim equi-join (operators/skew.py): the fact side gets a
    row-local salt (no shuffle to assign), the dim side replicates
    salt_buckets× via an in-row explode, and the join key becomes
    (key, salt) — a hot orderkey's rows land on 16 reducers instead of
    one. Oracle = the plain join; result identity is the correctness
    claim."""
    from ..operators.skew import salted_join

    l = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(l, o, on=["l_orderkey"], salt_buckets=16)
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- CDC merge with deletes ------------------------------------------------


@query(
    "merge_cdc_deletes",
    sql="""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_u
      FROM orders WHERE o_orderkey < 12000),
    cdc AS (
      SELECT o_orderkey,
             o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) + 100 AS price_u,
             CASE WHEN o_orderkey % 10 < 2 THEN 'D'
                  WHEN o_orderkey < 12000 THEN 'U' ELSE 'I' END AS op
      FROM orders WHERE o_orderkey >= 11000 AND o_orderkey < 12500),
    merged AS (
      SELECT t.* FROM target t WHERE NOT EXISTS (SELECT 1 FROM cdc c WHERE c.o_orderkey = t.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price_u FROM cdc WHERE op <> 'D')
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(price_u) AS DOUBLE) / 100.0 AS total_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    order_by=("o_orderstatus",),
)
def merge_cdc_deletes(spark, sf_dir):
    """CDC apply with deletes (operators/merge.py::merge_apply_cdc): a
    change feed of updates (+1.00 price), inserts, and deletes (key%10<2)
    against an orders snapshot. Deletes ride the same anti-join that
    removes updated keys — no extra pass. Output is the post-merge
    per-status rollup, value-checked against the set-algebra formulation."""
    from ..functions.numeric import money_units
    from ..operators.merge import merge_apply_cdc

    o = load(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", money_units("o_totalprice").alias("price_u"))
    target = base.filter(F.col("o_orderkey") < 12000)
    cdc = (
        base.filter((F.col("o_orderkey") >= 11000) & (F.col("o_orderkey") < 12500))
        .withColumn("price_u", F.col("price_u") + 100)
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 10 < 2, "D")
            .when(F.col("o_orderkey") < 12000, "U")
            .otherwise("I"),
        )
    )
    merged = merge_apply_cdc(target, cdc, keys=["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("price_u").cast("double") / 100.0).alias("total_price"),
        )
    )


# --- Referential-integrity audit -------------------------------------------


@query(
    "profile_fk_orphans",
    sql="""
    SELECT
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS childless_orders,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orphan_orders
    """,
)
def profile_fk_orphans(spark, sf_dir):
    """Referential-integrity audit — the FK half of data quality that
    bridge_validate's per-column rules can't see (the reference's
    assert-unique lookups are its 1-row version of the same contract,
    /root/reference/src/copy_from_template.py:113-121). Three anti-join
    counts; each is one shuffle-or-broadcast keyed join feeding a 1-row
    count, crossed into one audit row."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    orphan_l = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti").agg(
        F.count(F.lit(1)).alias("orphan_lineitems")
    )
    childless_o = o.join(l, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti").agg(
        F.count(F.lit(1)).alias("childless_orders")
    )
    orphan_o = o.join(c, F.col("o_custkey") == F.col("c_custkey"), "left_anti").agg(
        F.count(F.lit(1)).alias("orphan_orders")
    )
    return orphan_l.crossJoin(childless_o).crossJoin(orphan_o)


# --- Exponential moving average (order-sensitive recursive aggregate) ------


@query(
    "ts_ewma",
    sql="""
    WITH arr AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS xs, COUNT(*) AS n
      FROM events GROUP BY user_id)
    SELECT user_id, n,
           list_reduce(xs, (acc, x) -> 0.5 * acc + 0.5 * x) AS ewma
    FROM arr ORDER BY user_id
    """,
    order_by=("user_id",),
)
def ts_ewma(spark, sf_dir):
    """Per-user EWMA (α=0.5) — the recursive, order-sensitive aggregate
    SQL's commutative SUM cannot express. Gather each user's series into
    an ordered array IN the aggregate (one shuffle), then fold it
    sequentially in-row: a left fold is deterministic where a cross-row
    float sum is not, and both engines execute the identical IEEE op
    sequence, so the oracle compares exact doubles. Scale bound: one
    user's history must fit a row (~1e6 points); beyond that, segment the
    fold per window and chain segments (the classic scan decomposition —
    EWMA's (acc,x)→½acc+½x is associative-decomposable via weight
    products)."""
    e = load(spark, sf_dir, "events")
    gathered = (
        e.groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("rows"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("user_id", "n", F.transform("rows", lambda r: r["value"]).alias("xs"))
    )
    ewma = F.aggregate(
        F.slice("xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at("xs", 1),
        lambda acc, x: F.lit(0.5) * acc + F.lit(0.5) * x,
    )
    return gathered.select("user_id", "n", ewma.alias("ewma"))


# --- Burst detection over window counts ------------------------------------


@query(
    "events_bursts",
    sql="""
    WITH wc AS (
      SELECT event_type, time_bucket(INTERVAL '10 minutes', ts) AS w, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, COUNT(*) AS k, SUM(c) AS s, SUM(c * c) AS q
      FROM wc GROUP BY event_type)
    SELECT wc.event_type,
           CAST(m.k AS BIGINT) AS n_windows,
           COUNT(CASE WHEN (wc.c * m.k - m.s) > 0
                       AND (wc.c * m.k - m.s) * (wc.c * m.k - m.s) > 9 * (m.k * m.q - m.s * m.s)
                      THEN 1 END) AS n_bursts
    FROM wc JOIN m ON wc.event_type = m.event_type
    GROUP BY wc.event_type, m.k ORDER BY wc.event_type
    """,
    order_by=("event_type",),
)
def events_bursts(spark, sf_dir):
    """Burst detection: 10-minute windows whose event count exceeds
    mean + 3σ of that type's window counts — `(c·k − s)² > 9(k·q − s²)`
    over exact integer window counts (the events_outliers inequality
    lifted one aggregation level: counts of counts). Two stacked
    aggregates + a broadcast-back join of the per-type moments (5 rows);
    the first aggregate's (type, window) partitioning feeds both."""
    e = load(spark, sf_dir, "events")
    wc = (
        e.groupBy("event_type", F.window("ts", "10 minutes").start.alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = wc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"), F.sum("c").alias("s"), F.sum(F.col("c") * F.col("c")).alias("q")
    )
    j = wc.join(F.broadcast(m), "event_type")
    dev = F.col("c") * F.col("k") - F.col("s")
    burst = (dev > 0) & (dev * dev > 9 * (F.col("k") * F.col("q") - F.col("s") * F.col("s")))
    return (
        j.groupBy("event_type", F.col("k").alias("n_windows"))
        .agg(F.count(F.when(burst, 1)).alias("n_bursts"))
        .select("event_type", F.col("n_windows").cast("long").alias("n_windows"), "n_bursts")
    )


# --- Inter-arrival time distribution ---------------------------------------


@query(
    "events_inter_arrival",
    sql="""
    WITH gaps AS (
      SELECT event_type,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events)
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           quantile_cont(gap_us, 0.5) AS p50_us,
           quantile_cont(gap_us, 0.9) AS p90_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM gaps GROUP BY event_type ORDER BY event_type
    """,
    order_by=("event_type",),
)
def events_inter_arrival(spark, sf_dir):
    """Inter-arrival time distribution per event type — the arrival-rate
    profile that sizes streaming watermarks and session gaps. Exact
    microsecond lag differences (integer), exact interpolated
    percentiles; the lag window and the aggregate share the event_type
    partitioning."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.percentile("gap_us", 0.5).alias("p50_us"),
            F.percentile("gap_us", 0.9).alias("p90_us"),
            F.max("gap_us").alias("max_us"),
        )
    )


# --- Market concentration (HHI) --------------------------------------------


@query(
    "q_nation_hhi",
    sql="""
    WITH per_nation AS (
      SELECT n.n_name AS nation,
             SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l.l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))) AS rev_u
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1),
    shares AS (
      SELECT nation,
             CAST(floor((1000000.0 * CAST(rev_u AS DOUBLE)) / CAST(SUM(rev_u) OVER () AS DOUBLE)) AS BIGINT) AS share_ppm
      FROM per_nation)
    SELECT COUNT(*) AS n_nations,
           CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2,
           CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm
    FROM shares
    """,
)
def q_nation_hhi(spark, sf_dir):
    """Market concentration: Herfindahl-Hirschman index of revenue across
    customer nations. Shares are quantized to exact ppm integers (one
    identical IEEE divide+floor per nation on both engines) BEFORE the
    cross-row sum of squares — float discipline for a sum that would
    otherwise be combine-order dependent. 25 nation rows by the window
    stage, so the unpartitioned share window is free."""
    from ..functions.numeric import money_units, rate_units

    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = money_units("l_extendedprice") * (100 - rate_units("l_discount"))
    per_nation = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("rev_u"))
    )
    share_ppm = F.floor(
        (F.lit(1000000.0) * F.col("rev_u").cast("double"))
        / F.sum("rev_u").over(Window.partitionBy()).cast("double")
    ).cast("long")
    return per_nation.select(share_ppm.alias("share_ppm")).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum(F.col("share_ppm") * F.col("share_ppm")).alias("hhi_ppm2"),
        F.max("share_ppm").alias("top_share_ppm"),
    )


@query(
    "emb_dim_stats",
    sql="""
    WITH flat AS (
      SELECT t.i - 1 AS dim,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1048576) AS BIGINT) AS vq
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i))
    SELECT CAST(dim AS INT) AS dim,
           COUNT(*) AS n,
           CAST(SUM(vq) AS BIGINT) AS sum_q,
           CAST(SUM(vq * vq) AS BIGINT) AS sumsq_q,
           CAST(SUM(vq) AS DOUBLE) / (COUNT(*) * 1048576.0) AS mean
    FROM flat GROUP BY dim ORDER BY dim
    """,
    order_by=("dim",),
)
def emb_dim_stats(spark, sf_dir):
    """Per-DIMENSION embedding statistics — the feature-scaling table a
    standardization / whitening step consumes (and the drift check a
    re-embedding run diffs against). Values are quantized to exact 2^-20
    integers IN-ROW, so the cross-row sums are exact int64 on any combine
    order (float sums are not; NOTES.md discipline); the mean is one IEEE
    division at the end. Raw exact moments (sum, sum of squares) ride
    along so variance/std derive downstream without a second scan.
    posexplode is the per-row fan-out; one hash aggregate on the 64
    dimension keys. int64 bound: |v|<=8 -> vq^2 < 2^47, safe to ~1e5 rows
    per dim at these magnitudes; a corpus-scale run moves sumsq to
    DECIMAL(38,0) (same discipline, wider accumulator)."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select("dim", F.floor(F.col("x").cast("double") * 1048576).cast("long").alias("vq"))
    return (
        flat.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vq").alias("sum_q"),
            F.sum(F.col("vq") * F.col("vq")).alias("sumsq_q"),
            (F.sum("vq").cast("double") / (F.count(F.lit(1)) * F.lit(1048576.0))).alias("mean"),
        )
    )


@query(
    "emb_standardize",
    sql="""
    WITH flat AS (
      SELECT vec_id, t.i - 1 AS dim,
             CAST(embedding[t.i] AS DOUBLE) AS v,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1048576) AS BIGINT) AS vq
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
    stats AS (
      SELECT dim,
             CAST(SUM(vq) AS DOUBLE) / COUNT(*) AS s1,
             CAST(SUM(vq * vq) AS DOUBLE) / COUNT(*) AS s2
      FROM flat GROUP BY dim)
    SELECT f.vec_id, CAST(f.dim AS INT) AS dim,
           CAST(floor(((f.v - s.s1 / 1048576.0)
                       / (sqrt(s.s2 - s.s1 * s.s1) / 1048576.0)) * 1000) AS BIGINT) AS z_q
    FROM flat f JOIN stats s ON f.dim = s.dim
    WHERE f.vec_id % 25 = 0
    ORDER BY f.vec_id, dim
    """,
    order_by=("vec_id", "dim"),
)
def emb_standardize(spark, sf_dir):
    """Feature standardization: z-score each embedding dimension against
    the corpus moments (the transform consuming emb_dim_stats' table).
    The per-dim stats derive from EXACT quantized integer sums, so both
    engines compute bit-identical means/stds; the z-score is the same
    IEEE op sequence on both sides and is emitted quantized (floor at
    1e-3). Plan: one explode + aggregate builds the 64-row stats dim
    (broadcast), the value stream joins it without shuffling, sampled
    output keeps the checked rows bounded. At corpus scale the stats
    table is a stored artifact; the transform stays one broadcast-join
    projection."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select("vec_id", F.posexplode("embedding").alias("dim", "x")).select(
        "vec_id",
        "dim",
        F.col("x").cast("double").alias("v"),
        F.floor(F.col("x").cast("double") * 1048576).cast("long").alias("vq"),
    )
    stats = flat.groupBy("dim").agg(
        (F.sum("vq").cast("double") / F.count(F.lit(1))).alias("s1"),
        (F.sum(F.col("vq") * F.col("vq")).cast("double") / F.count(F.lit(1))).alias("s2"),
    )
    mean = F.col("s1") / F.lit(1048576.0)
    std = F.sqrt(F.col("s2") - F.col("s1") * F.col("s1")) / F.lit(1048576.0)
    return (
        flat.filter(F.col("vec_id") % 25 == 0)
        .join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.floor(((F.col("v") - mean) / std) * 1000).cast("long").alias("z_q"),
        )
    )


@query(
    "profile_key_skew",
    sql="""
    WITH per_key AS (
      SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY l_partkey)
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           MAX(n) AS max_rows,
           quantile_cont(n, 0.5) AS p50_rows,
           quantile_cont(n, 0.99) AS p99_rows,
           CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_rows,
           CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS skew_ratio
    FROM per_key
    """,
)
def profile_key_skew(spark, sf_dir):
    """Join-key skew diagnosis — the number that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (agg_salted_skew / join_salted_skew are the treatments; this is the
    triage): per-key row counts for the prospective join key, rolled up
    to cardinality, max, exact p50/p99, mean, and max/mean skew ratio.
    Two hash aggregates (per-key then summary — the second input is one
    row per key); exact integer counts, interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont`), two final
    divisions."""
    l = load(spark, sf_dir, "lineitem")
    per_key = l.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    mean_rows = F.sum("n").cast("double") / F.count(F.lit(1))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_rows"),
        F.percentile("n", 0.5).alias("p50_rows"),
        F.percentile("n", 0.99).alias("p99_rows"),
        mean_rows.alias("mean_rows"),
        (F.max("n").cast("double") / mean_rows).alias("skew_ratio"),
    )


# --- Behavioral diversity (Simpson index) ----------------------------------

_DIVERSITY_SQL = """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
    u AS (
      SELECT user_id,
             CAST(SUM(n) AS BIGINT) AS n_events,
             COUNT(*) AS n_types,
             CAST(SUM(n * n) AS BIGINT) AS sum_sq
      FROM c GROUP BY 1)
    SELECT user_id, n_events, n_types,
           1.0 - (CAST(sum_sq AS DOUBLE)
                  / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)))
             AS simpson_diversity
    FROM u ORDER BY user_id
"""


@query("events_type_diversity", sql=_DIVERSITY_SQL, order_by=("user_id",))
def events_type_diversity(spark, sf_dir):
    """Per-user behavioral diversity as the Gini-Simpson index
    1 - sum(p_i^2) over the user's event-type distribution. Shannon entropy
    is the textbook form, but ln() is libm-dependent and so not engine-
    stable (NOTES.md float discipline); Simpson is the same monotone
    diversity signal as an exact rational of integer counts, finished by
    one deterministic double division. Two hash aggregates — (user, type)
    then user — both partial-agg'd map-side; the second shuffle input is
    |users|x|types| rows, so the whole query stays two narrow shuffles at
    any corpus scale."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    u = c.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        (
            F.lit(1.0)
            - (
                F.col("sum_sq").cast("double")
                / (F.col("n_events").cast("double") * F.col("n_events").cast("double"))
            )
        ).alias("simpson_diversity"),
    )


# --- Lag-k autocorrelation (exact co-moments) -------------------------------

_ACF_SQL = """
    WITH q AS (
      SELECT user_id, ts, event_id, CAST(floor(value * 100) AS BIGINT) AS ux
      FROM events),
    p AS (
      SELECT user_id,
             LAG(ux) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
             ux AS y
      FROM q),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
      FROM p WHERE x IS NOT NULL GROUP BY user_id)
    SELECT user_id, n,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / sqrt(((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
             AS acf1
    FROM m
    WHERE n >= 3
      AND ((n * sxx) - (sx * sx)) > 0
      AND ((n * syy) - (sy * sy)) > 0
    ORDER BY user_id
"""


@query("ts_autocorr", sql=_ACF_SQL, order_by=("user_id",))
def ts_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of the event value series — the
    signal-vs-noise diagnostic a time-series pipeline runs before modeling.
    Same engine-stability recipe as agg_regr_exact: the five co-moment sums
    accumulate exact int64 (values quantized floor(v*100), combine-order
    independent); the Pearson ratio is ONE fixed-parenthesization double
    expression per user (sqrt is IEEE correctly-rounded, so identical on
    both engines). The lag pairs come from a user-partitioned window and
    the moments from a user-keyed aggregate — one co-keyed shuffle
    pipeline, no skew (users bound the partition size)."""
    e = load(spark, sf_dir, "events")
    q = e.select(
        "user_id", "ts", "event_id", F.floor(F.col("value") * 100).cast("long").alias("ux")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = q.select("user_id", F.lag("ux").over(w).alias("x"), F.col("ux").alias("y")).filter(
        F.col("x").isNotNull()
    )
    m = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    acf = ((n * sxy) - (sx * sy)) / F.sqrt(((n * sxx) - (sx * sx)) * ((n * syy) - (sy * sy)))
    return (
        m.filter(
            (F.col("n") >= 3)
            & ((F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx")) > 0)
            & ((F.col("n") * F.col("syy")) - (F.col("sy") * F.col("sy")) > 0)
        )
        .select("user_id", "n", acf.alias("acf1"))
    )


@query(
    "emb_covariance",
    sql="""
    WITH flat AS (
      SELECT vec_id, t.i - 1 AS dim,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1048576) AS BIGINT) AS vq
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
    pairs AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j, a.vq AS vi, b.vq AS vj
      FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.dim <= b.dim)
    SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vi * vj) AS BIGINT) AS sxy_q,
           CAST(SUM(vi) AS BIGINT) AS sx_q,
           CAST(SUM(vj) AS BIGINT) AS sy_q,
           (CAST(SUM(vi * vj) AS DOUBLE) / COUNT(*)
            - (CAST(SUM(vi) AS DOUBLE) / COUNT(*))
              * (CAST(SUM(vj) AS DOUBLE) / COUNT(*))) / 1099511627776.0 AS cov
    FROM pairs GROUP BY dim_i, dim_j ORDER BY dim_i, dim_j
    """,
    order_by=("dim_i", "dim_j"),
)
def emb_covariance(spark, sf_dir):
    """Exact embedding covariance matrix (upper triangle, 2080 rows at
    d=64) — the input to PCA whitening / ZCA and the drift diagnostic a
    re-embedding run diffs. Spark side is operators/pca.py::
    covariance_moments — one numpy int64 GEMM per Arrow batch emitting
    d(d+1)/2 partial rows, reduced by a d²-keyed hash aggregate; the
    DuckDB oracle computes the same exact integer moments relationally
    (per-vector self-join on dims). Quantize-then-sum makes the moments
    combine-order independent; `cov` is one fixed IEEE expression of
    exact int64s on both engines. Scale: map-side GEMM partials +
    a bounded-key aggregate — no shuffle of the corpus."""
    from ..operators.pca import covariance_moments

    e = load(spark, sf_dir, "embeddings")
    return covariance_moments(e)


from ..oracles.embeddings import pca_project_oracle


@query("emb_pca_project", sql=pca_project_oracle, order_by=("vec_id", "component"))
def emb_pca_project(spark, sf_dir):
    """PCA projection of a sample of embeddings onto the top-8 principal
    components (operators/pca.py::pca_project): exact distributed moments
    -> driver eigh on the d×d matrix (bounded metadata) -> broadcast GEMM
    projection pass. Deterministic up to the documented sign convention
    (largest-|coordinate| positive).

    ORACLED (r10, was rows-only): the hashed surface is the projection
    quantized to the 2^-20 grid — the co-moments are exact integers on
    any combine order (quantize-then-sum), the eigh runs on the identical
    double matrix in the same process as the reference generator
    (oracles/embeddings.py), and the grid quantum is ~1e7x the GEMM
    batch-shape noise floor, so the int64 scores are stable. The raw
    double projection stays available via operators/pca.py
    (tests/test_pca.py pins it against the full-matrix numpy run)."""
    from ..operators.pca import QSCALE, pca_project

    e = load(spark, sf_dir, "embeddings")
    return (
        pca_project(e)
        .filter(F.col("vec_id") % 25 == 0)
        .select(
            "vec_id",
            "component",
            F.floor(F.col("score") * QSCALE).cast("long").alias("score_q"),
        )
    )


@query(
    "emb_knn_classify",
    sql="""
    WITH ranked AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])) DESC,
                          c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 50 = 0)
      WHERE rank <= 5),
    votes AS (
      SELECT query_id, nlabel, COUNT(*) AS n FROM ranked GROUP BY 1, 2),
    winner AS (
      SELECT query_id, nlabel AS predicted,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n DESC, nlabel) AS rk
      FROM votes)
    SELECT w.query_id, CAST(w.predicted AS INT) AS predicted,
           CAST(e.label AS INT) AS actual,
           w.predicted = e.label AS correct
    FROM winner w JOIN embeddings e ON w.query_id = e.vec_id
    WHERE w.rk = 1
    ORDER BY query_id
    """,
    order_by=("query_id",),
)
def emb_knn_classify(spark, sf_dir):
    """k-NN majority-vote classification over the embedding space: predict
    each probe vector's label from its 5 nearest neighbors (exact GEMM
    brute force — llm/similarity.py::knn_bruteforce_np), majority with
    smallest-label tie-break, reported against the stored label. Outputs
    ids/labels only (not raw cosines): neighbor RANK is stable across
    engines while the last float ulp is not — same determinism contract
    as llm_knn_ids. The vote is a tiny aggregate over |probes|·k rows;
    the heavy stage is the same broadcast-GEMM scoring pass as KNN."""
    from ..llm.similarity import knn_bruteforce_np

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    nn = knn_bruteforce_np(q, e, k=5).select("query_id", "neighbor_id")
    labels = e.select("vec_id", "label")
    votes = (
        nn.join(F.broadcast(labels), nn.neighbor_id == labels.vec_id)
        .groupBy("query_id", F.col("label").alias("nlabel"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n"), "nlabel")
    winner = votes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    truth = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("actual"))
    return (
        winner.join(F.broadcast(truth), "query_id")
        .select(
            "query_id",
            F.col("nlabel").cast("int").alias("predicted"),
            F.col("actual").cast("int").alias("actual"),
            (F.col("nlabel") == F.col("actual")).alias("correct"),
        )
    )


@query(
    "events_cusum",
    sql="""
    WITH q AS (
      SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS vq
      FROM events),
    tot AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(vq) AS BIGINT) AS s
      FROM q GROUP BY user_id),
    run AS (
      SELECT q.user_id, t.n, t.s,
             row_number() OVER w AS k,
             CAST(SUM(q.vq) OVER (PARTITION BY q.user_id ORDER BY q.ts, q.event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS tk
      FROM q JOIN tot t ON q.user_id = t.user_id
      WINDOW w AS (PARTITION BY q.user_id ORDER BY q.ts, q.event_id)),
    c AS (
      SELECT user_id, n, k, n * tk - k * s AS cu,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY abs(n * tk - k * s) DESC, k) AS rk
      FROM run)
    SELECT user_id, n, CAST(k AS BIGINT) AS cp_index,
           CAST(cu AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS cusum_peak
    FROM c WHERE rk = 1 AND n >= 8
    ORDER BY user_id
    """,
    order_by=("user_id",),
)
def events_cusum(spark, sf_dir):
    """CUSUM changepoint detection per user series: the index where the
    cumulative deviation from the series mean peaks — the standard
    level-shift locator. Float discipline: the naive cusum Σ(v - mean)
    accumulates doubles in engine-specific order (DuckDB windows aggregate
    via segment trees — different ADD order than a sequential fold), so
    the mean divide is CLEARED instead: C_k = n·T_k − k·S with T_k the
    integer running sum — every intermediate is exact int64 on any
    evaluation order, and the one IEEE division happens at output. Both
    windows and both aggregates co-key on user_id: ONE hash exchange end
    to end."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "user_id", "event_id", "ts", F.floor(F.col("value") * 100).alias("vq")
    )
    tot = q.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vq").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        q.join(tot, "user_id")
        .select(
            "user_id",
            "n",
            "s",
            F.row_number().over(w).alias("k"),
            F.sum("vq").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("tk"),
        )
    )
    cu = F.col("n") * F.col("tk") - F.col("k") * F.col("s")
    wr = Window.partitionBy("user_id").orderBy(F.abs(cu).desc(), "k")
    return (
        run.select("user_id", "n", "k", cu.alias("cu"), F.row_number().over(wr).alias("rk"))
        .filter((F.col("rk") == 1) & (F.col("n") >= 8))
        .select(
            "user_id",
            "n",
            F.col("k").cast("long").alias("cp_index"),
            (F.col("cu").cast("double") / (F.col("n").cast("double") * F.lit(100.0))).alias(
                "cusum_peak"
            ),
        )
    )


@query(
    "events_ab_welch",
    sql="""
    WITH q AS (
      SELECT event_type,
             CAST(user_id % 2 AS INT) AS grp,
             CAST(floor(value * 100) AS BIGINT) AS vq
      FROM events),
    m AS (
      SELECT event_type, grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(vq) AS DOUBLE) AS s1,
             CAST(SUM(CAST(vq AS HUGEINT) * vq) AS DOUBLE) AS s2
      FROM q GROUP BY event_type, grp),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.s1 / a.n AS mean_a, b.s1 / b.n AS mean_b,
             (a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n AS va,
             (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n AS vb
      FROM m a JOIN m b ON a.event_type = b.event_type
      WHERE a.grp = 0 AND b.grp = 1 AND a.n > 1 AND b.n > 1)
    SELECT event_type, n_a, n_b,
           (mean_a - mean_b) / 100.0 AS mean_diff,
           (mean_a - mean_b) / sqrt(va + vb) AS t_welch,
           (va + vb) * (va + vb)
             / (va * va / (n_a - 1) + vb * vb / (n_b - 1)) AS dof_welch
    FROM w ORDER BY event_type
    """,
    order_by=("event_type",),
)
def events_ab_welch(spark, sf_dir):
    """Two-sample Welch test per event type (users hash-split into A/B by
    user_id parity — the deterministic assignment an experimentation
    pipeline uses): mean difference, Welch t statistic, and
    Welch–Satterthwaite degrees of freedom, all from EXACT integer
    moments (value quantized to cents, squares widened to
    DECIMAL(38,0)/HUGEINT) finished by one identical IEEE expression —
    sqrt only, never pow, so both engines agree bitwise. Plan: one hash
    aggregate on (event_type, arm), then a 2-row-per-type self-join —
    group count is bounded, nothing corpus-wide after the scan."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.floor(F.col("value") * 100).alias("vq"),
    )
    m = q.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").cast("double").alias("s1"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq")).cast("double").alias("s2"),
    )
    a = m.filter((F.col("grp") == 0) & (F.col("n") > 1)).select(
        "event_type",
        F.col("n").alias("n_a"),
        (F.col("s1") / F.col("n")).alias("mean_a"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1) / F.col("n")).alias("va"),
    )
    b = m.filter((F.col("grp") == 1) & (F.col("n") > 1)).select(
        "event_type",
        F.col("n").alias("n_b"),
        (F.col("s1") / F.col("n")).alias("mean_b"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1) / F.col("n")).alias("vb"),
    )
    va, vb = F.col("va"), F.col("vb")
    na, nb = F.col("n_a"), F.col("n_b")
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            "n_a",
            "n_b",
            ((F.col("mean_a") - F.col("mean_b")) / F.lit(100.0)).alias("mean_diff"),
            ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(va + vb)).alias("t_welch"),
            (
                (va + vb) * (va + vb) / (va * va / (na - 1) + vb * vb / (nb - 1))
            ).alias("dof_welch"),
        )
    )


@query(
    "q_benford_audit",
    sql="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS d
      FROM orders WHERE o_totalprice > 0),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY d),
    exp AS (
      SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                            (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                            (9, 45757)) e(d, p_ppm)),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT e.d AS leading_digit,
           COALESCE(o.n_obs, 0) AS n_obs,
           CAST(e.p_ppm AS BIGINT) AS expected_ppm,
           (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) / t.n
              - CAST(e.p_ppm AS DOUBLE) / 1000000.0)
             * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) / t.n
                - CAST(e.p_ppm AS DOUBLE) / 1000000.0)
             / (CAST(e.p_ppm AS DOUBLE) / 1000000.0) AS chi2_term
    FROM exp e LEFT JOIN obs o ON e.d = o.d CROSS JOIN tot t
    ORDER BY leading_digit
    """,
    order_by=("leading_digit",),
)
def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of order totals — the fraud/synthetic-data
    screen a data-quality pass runs on financial columns. The leading
    digit comes from the exact integer cents rendering (no float
    formatting divergence); expected frequencies are the standard Benford
    table as ppm LITERALS (log10 is libm-unsafe, so the constants are
    pinned, not computed); each digit's chi-square term is one identical
    IEEE expression of exact integers. One scan + a 9-key aggregate
    against a 9-row broadcast values table."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(F.floor(F.col("o_totalprice") * 100).cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    exp = spark.createDataFrame(
        [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757)],
        "d int, p_ppm int",
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    frac = F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") / F.col("n")
    p = F.col("p_ppm").cast("double") / F.lit(1000000.0)
    return (
        exp.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("leading_digit"),
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            F.col("p_ppm").cast("long").alias("expected_ppm"),
            ((frac - p) * (frac - p) / p).alias("chi2_term"),
        )
    )


@query(
    "q_k_anonymity",
    sql="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                  AS BIGINT) AS l_div
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(k) AS BIGINT) AS k_anonymity,
           CAST(MIN(l_div) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN k < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k10,
           CAST(SUM(CASE WHEN k < 10 THEN k ELSE 0 END) AS BIGINT)
             AS rows_needing_suppression
    FROM g
    """,
)
def q_k_anonymity(spark, sf_dir):
    """Privacy audit before data release: k-anonymity (smallest
    quasi-identifier group — here nation × market segment) and l-diversity
    (distinct sensitive-value buckets per group, account balance in $1000
    bands with an exact floor). Reports the groups below k=10 and how many
    rows suppression would touch — the governance gate a de-identified
    export runs. Two hash aggregates; the distinct count rides the same
    shuffle as the group count."""
    c = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000)
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct(band).alias("l_div"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("k").alias("k_anonymity"),
        F.min("l_div").alias("l_diversity"),
        F.sum(F.when(F.col("k") < 10, 1).otherwise(0)).cast("long").alias("groups_below_k10"),
        F.sum(F.when(F.col("k") < 10, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_needing_suppression"),
    )


@query(
    "q_k_anonymize",
    sql="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS k
      FROM customer GROUP BY 1, 2),
    rel AS (
      SELECT CASE WHEN g.k < 10 THEN -1 ELSE c.c_nationkey END AS nation_gen,
             CASE WHEN g.k < 10 THEN 'ANY' ELSE c.c_mktsegment END AS seg_gen
      FROM customer c
      JOIN g ON c.c_nationkey = g.c_nationkey AND c.c_mktsegment = g.c_mktsegment)
    SELECT nation_gen, seg_gen, CAST(COUNT(*) AS BIGINT) AS k
    FROM rel GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("nation_gen", "seg_gen"),
)
def q_k_anonymize(spark, sf_dir):
    """The APPLY step of the k-anonymity audit: quasi-identifier groups
    below k=10 are GENERALIZED (nation → -1, segment → 'ANY') so their
    rows merge into one release-safe bucket; released groups keep their
    values. Output is the released group table — every published group's
    k is re-derived post-generalization. The group-size table is a
    broadcast dim by construction (bounded QI domain), so the rewrite is
    one broadcast join + one aggregate over the released keys."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("k"))
    rel = c.join(F.broadcast(g), ["c_nationkey", "c_mktsegment"]).select(
        F.when(F.col("k") < 10, -1).otherwise(F.col("c_nationkey")).alias("nation_gen"),
        F.when(F.col("k") < 10, "ANY").otherwise(F.col("c_mktsegment")).alias("seg_gen"),
    )
    return (
        rel.groupBy("nation_gen", "seg_gen")
        .agg(F.count(F.lit(1)).alias("k"))
    )


@query(
    "ts_holt",
    sql="""
    WITH RECURSIVE arr AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id),
    step AS (
      SELECT user_id, n, xs, 2 AS t,
             xs[1] AS l, xs[2] - xs[1] AS b
      FROM arr WHERE n >= 3
      UNION ALL
      SELECT user_id, n, xs, t + 1,
             0.3 * xs[t + 1] + 0.7 * (l + b),
             0.1 * ((0.3 * xs[t + 1] + 0.7 * (l + b)) - l) + 0.9 * b
      FROM step WHERE t < n)
    SELECT user_id, n, l AS level, b AS trend, l + b AS forecast_1
    FROM step WHERE t = n ORDER BY user_id
    """,
    order_by=("user_id",),
)
def ts_holt(spark, sf_dir):
    """Holt double-exponential smoothing per user series (α=0.3, β=0.1):
    level + trend state folded sequentially — the forecasting step up from
    ts_ewma, same determinism argument: the recursion is order-sensitive,
    so it runs as ONE in-row left fold over the gathered series (struct
    accumulator), and the oracle replays the identical IEEE op sequence
    via a recursive CTE (one step per element). forecast_1 = level +
    trend is the one-step-ahead forecast. Scale bound: a user's history
    must fit a row; beyond that, checkpoint the (level, trend) state per
    segment and chain — the streaming formulation
    (applyInPandasWithState) is the unbounded-history path."""
    e = load(spark, sf_dir, "events")
    gathered = (
        e.groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("rows"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 3)
        .select("user_id", "n", F.transform("rows", lambda r: r["value"]).alias("xs"))
    )
    x1 = F.element_at("xs", 1)
    x2 = F.element_at("xs", 2)

    def _step(acc, x):
        l_new = F.lit(0.3) * x + F.lit(0.7) * (acc["l"] + acc["b"])
        b_new = F.lit(0.1) * (
            (F.lit(0.3) * x + F.lit(0.7) * (acc["l"] + acc["b"])) - acc["l"]
        ) + F.lit(0.9) * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    state = F.aggregate(
        F.slice("xs", 3, F.greatest(F.col("n").cast("int") - 2, F.lit(0))),
        F.struct(x1.alias("l"), (x2 - x1).alias("b")),
        _step,
    )
    return gathered.select(
        "user_id",
        "n",
        state["l"].alias("level"),
        state["b"].alias("trend"),
        (state["l"] + state["b"]).alias("forecast_1"),
    )


# --- Deterministic bootstrap confidence interval -----------------------------
#
# Half-sample bootstrap: replica r keeps order o iff the shared 60-bit hash
# of "r|o_orderkey" is even — a deterministic 50% subsample per replica, so
# the whole resampling distribution is a pure function of the data and both
# engines reproduce it bit-for-bit (no RNG, no seed plumbing). Replica
# means stay integer (centi-cents via *100 DIV), so sorting them for the
# percentile bounds is exact.

_BOOT_B = 32  # replicas


def _boot_sql_terms(cast: str) -> str:
    from ..functions.numeric import sql_hash60

    terms = []
    for r in range(_BOOT_B):
        h = sql_hash60(f"CONCAT('{r}|', CAST(o_orderkey AS {cast}))")
        terms.append(
            f"SUM(CASE WHEN ({h}) % 2 = 0 THEN price_u ELSE 0 END) AS s{r}, "
            f"SUM(CASE WHEN ({h}) % 2 = 0 THEN 1 ELSE 0 END) AS c{r}"
        )
    return ", ".join(terms)


@query(
    "q_bootstrap_ci",
    sql=f"""
    WITH base AS (
      SELECT o_orderkey, {sql_money_units("o_totalprice")} AS price_u FROM orders),
    agg AS (
      SELECT COUNT(*) AS n_orders, SUM(price_u) AS total_u, {_boot_sql_terms("VARCHAR")}
      FROM base),
    reps AS (
      SELECT n_orders, total_u,
             list_sort([{", ".join(f"CAST(s{r} AS BIGINT) * 100 // CAST(c{r} AS BIGINT)" for r in range(_BOOT_B))}]) AS means
      FROM agg)
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(_BOOT_B AS BIGINT) AS n_replicas,
           CAST(total_u AS BIGINT) * 100 // n_orders AS mean_centicents,
           means[2] AS ci_lo_centicents,
           means[{_BOOT_B - 1}] AS ci_hi_centicents
    FROM reps
    """.replace("_BOOT_B AS BIGINT", f"{_BOOT_B} AS BIGINT"),
)
def q_bootstrap_ci(spark, sf_dir):
    """Bootstrap confidence interval for mean order value WITHOUT an RNG:
    32 half-sample replicas defined by the parity of the shared md5-60bit
    hash of (replica, order id) — deterministic, mergeable, and therefore
    oracle-exact (a seeded-RNG bootstrap can never cross the engine
    boundary). CI bounds are the 2nd / 31th order statistics of the
    replica means (~93% nominal coverage for 32 half-samples). Integer
    centi-cents throughout; the only list op sorts 32 values.

    Scale shape: ONE pass over the fact table computing 2x32 conditional
    partial aggregates (map-side combine; no explode, no 32x scan blowup),
    then a 1-row finish. This is the textbook \"Poor man's bootstrap\" plan
    for a 1000-executor cluster: the per-partition partials are the only
    shuffle payload.

    r11: the projected (key, price) rows are WIDENED before the partial
    aggregate (ensure_parallelism — a no-op on a real multi-file corpus):
    the fixture is one single-row-group parquet file, so the 32 md5
    evaluations per row all ran in ONE task (guide §2.5 "input skew: one
    huge unsplittable file — repartition immediately after the read").
    Integer partial sums are order-independent, so results are
    bit-identical; the shuffle moves 16 bytes/row."""
    from ..functions.numeric import spark_hash60
    from ..partitioning import ensure_parallelism

    o = load(spark, sf_dir, "orders")
    base = ensure_parallelism(
        o.select("o_orderkey", money_units("o_totalprice").alias("price_u"))
    )
    aggs = [
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_u").alias("total_u"),
    ]
    for r in range(_BOOT_B):
        h = spark_hash60(f"CONCAT('{r}|', CAST(o_orderkey AS STRING))")
        inc = F.expr(f"({h}) % 2 = 0")
        aggs.append(F.sum(F.when(inc, F.col("price_u")).otherwise(F.lit(0))).alias(f"s{r}"))
        aggs.append(F.sum(F.when(inc, F.lit(1)).otherwise(F.lit(0))).alias(f"c{r}"))
    agg = base.agg(*aggs)
    means = F.sort_array(
        F.array(*[F.expr(f"s{r} * 100 div c{r}") for r in range(_BOOT_B)])
    )
    return agg.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.lit(_BOOT_B).cast("long").alias("n_replicas"),
        F.expr("total_u * 100 div n_orders").alias("mean_centicents"),
        means.getItem(1).alias("ci_lo_centicents"),
        means.getItem(_BOOT_B - 2).alias("ci_hi_centicents"),
    )


# --- Survival analysis: Nelson-Aalen hazard table --------------------------

_SURVIVAL_SQL = """
WITH life AS (
  SELECT user_id,
         date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS lt
  FROM events GROUP BY user_id),
d AS (SELECT lt, CAST(COUNT(*) AS BIGINT) AS churned FROM life GROUP BY lt),
r AS (
  SELECT lt, churned,
         SUM(churned) OVER (ORDER BY lt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS at_risk
  FROM d),
h AS (SELECT lt, churned, at_risk, churned * 1000000 // at_risk AS hazard_ppm FROM r)
SELECT CAST(lt AS BIGINT) AS lifetime_days,
       churned,
       CAST(at_risk AS BIGINT) AS at_risk,
       CAST(hazard_ppm AS BIGINT) AS hazard_ppm,
       CAST(SUM(hazard_ppm) OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hazard_ppm
FROM h ORDER BY lifetime_days
"""


@query("events_survival_hazard", sql=_SURVIVAL_SQL, order_by=("lifetime_days",))
def events_survival_hazard(spark, sf_dir):
    """Kaplan-Meier-style survival table (Nelson-Aalen cumulative hazard in
    exact integer ppm): per observed lifetime t (days between a user's first
    and last event), the at-risk count (users surviving >= t), churn events
    at t, the discrete hazard d/n in ppm, and its running sum — the
    retention/churn curve every growth dashboard draws. All arithmetic is
    integer (counts + floor division + integer sums), so both engines agree
    bitwise; a product-limit survival estimate would multiply rationals
    (not order-free) — the hazard SUM is the re-aggregatable form. Plan:
    user-keyed hash agg (one shuffle), re-agg to |distinct lifetimes| rows
    (bounded by the observation span in days), then two ordered windows over
    that bounded relation — whitelisted in tools/plan_lint.py the same way
    as w_interval_overlap."""
    from ..operators.prefix import partitioned_cumsum

    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("lt")
    )
    d = life.groupBy("lt").agg(F.count(F.lit(1)).cast("long").alias("churned"))
    # r5 (VERDICT task 4): both ordered passes run through
    # partitioned_cumsum — no unpartitioned window at ANY domain size, so
    # the plan-lint whitelist entry is retired. The suffix sum (at-risk =
    # users surviving >= t) falls out of the inclusive prefix sum and the
    # grand total: at_risk = total - cum + churned.
    c = partitioned_cumsum(
        d.select(F.col("lt").cast("long").alias("lifetime_days"), "churned"),
        ["lifetime_days"],
        "churned",
        cum_name="cum",
        total_name="tot",
    )
    h = c.select(
        "lifetime_days",
        "churned",
        (F.col("tot") - F.col("cum") + F.col("churned")).alias("at_risk"),
    ).withColumn("hazard_ppm", F.expr("churned * 1000000 div at_risk"))
    return (
        partitioned_cumsum(h, ["lifetime_days"], "hazard_ppm", cum_name="cum_hazard_ppm")
        .select("lifetime_days", "churned", "at_risk", "hazard_ppm", "cum_hazard_ppm")
    )


# --- Chi-square test of independence ---------------------------------------

_CHI2_SQL = """
WITH j AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri
  FROM orders JOIN customer ON o_custkey = c_custkey),
cell AS (SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS o FROM j GROUP BY seg, pri),
rt AS (SELECT seg, SUM(o) AS r FROM cell GROUP BY seg),
ct AS (SELECT pri, SUM(o) AS c FROM cell GROUP BY pri),
t AS (SELECT SUM(o) AS n, COUNT(DISTINCT seg) AS nr, COUNT(DISTINCT pri) AS nc FROM cell),
term AS (
  SELECT (CAST(cell.o AS HUGEINT) * t.n - CAST(rt.r AS HUGEINT) * ct.c) AS diff,
         rt.r, ct.c, t.n, t.nr, t.nc
  FROM cell JOIN rt USING (seg) JOIN ct USING (pri) CROSS JOIN t)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST((MAX(nr) - 1) * (MAX(nc) - 1) AS BIGINT) AS dof,
       CAST(SUM(diff * diff * 1000000 // (CAST(n AS HUGEINT) * r * c)) AS BIGINT) AS chi2_ppm
FROM term
"""


@query("q_chi2_independence", sql=_CHI2_SQL)
def q_chi2_independence(spark, sf_dir):
    """Chi-square test of independence between customer market segment and
    order priority — the categorical-association companion to
    events_ab_welch (means) and agg_regr_exact (linear). Each cell's
    contribution (oN - rc)^2 / (Nrc) is floor-quantized to ppm BEFORE the
    final integer sum, so the statistic is combine-order free and
    engine-exact; squares widen through DECIMAL(38,0)/HUGEINT. Magnitude
    bound: (oN-rc)^2 * 1e6 <= N^4/16 * 1e6 stays under 1e38 up to ~1e8
    orders; past that, pre-aggregate per (seg,pri) shard or drop the ppm
    scale (same ADVICE-r2 rule as q_assoc_rules). Plan: one fact-side
    shuffle join + hash agg to |seg|x|pri| cells; the marginals and scalar
    total are broadcast joins over bounded relations."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    cell = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
    rt = cell.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("pri").agg(F.sum("o").alias("c"))
    t = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("seg").alias("nr"),
        F.countDistinct("pri").alias("nc"),
    )
    term = (
        cell.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "pri")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "diff",
            F.expr("CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c"),
        )
        .withColumn(
            "term_ppm",
            F.expr("diff * diff * 1000000 div (CAST(n AS DECIMAL(38,0)) * r * c)"),
        )
    )
    return term.agg(
        F.max("n").cast("long").alias("n"),
        ((F.max("nr") - 1) * (F.max("nc") - 1)).cast("long").alias("dof"),
        F.sum("term_ppm").cast("long").alias("chi2_ppm"),
    )


# --- Two-sample Kolmogorov-Smirnov distance --------------------------------

_KS_SQL = """
WITH q AS (
  SELECT event_type, user_id % 2 = 0 AS is_a, CAST(floor(value * 100) AS BIGINT) AS vq
  FROM events),
pt AS (
  SELECT event_type, vq,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS b
  FROM q GROUP BY event_type, vq),
cum AS (
  SELECT event_type,
         SUM(a) OVER (PARTITION BY event_type ORDER BY vq ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(b) OVER (PARTITION BY event_type ORDER BY vq ROWS UNBOUNDED PRECEDING) AS cb,
         SUM(a) OVER (PARTITION BY event_type) AS na,
         SUM(b) OVER (PARTITION BY event_type) AS nb
  FROM pt)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CAST(MAX(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) * 1000000
            // (CAST(MAX(na) AS HUGEINT) * MAX(nb)) AS BIGINT) AS ks_ppm
FROM cum GROUP BY event_type ORDER BY event_type
"""


@query("events_ks_test", sql=_KS_SQL, order_by=("event_type",))
def events_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance per event type between the
    parity-split A/B arms — the DISTRIBUTION-shift companion to
    events_ab_welch's mean test (a drift monitor cares about shape, not just
    means). D = max |F_a - F_b| evaluated at the observed atoms: both ECDFs
    are integer cumulative counts over cents-quantized values, the sup gap
    is the max of |ca*nb - cb*na| (exact, HUGEINT/DECIMAL-widened), scaled
    to ppm by one floor division at the end. Plan: hash agg to
    (type, distinct-cents) atoms, then windows PARTITIONED by type (the
    atom count per type is bounded by the value domain), final tiny
    group-by — no global window, no collect."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("is_a"),
        F.floor(F.col("value") * 100).alias("vq"),
    )
    pt = q.groupBy("event_type", "vq").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("b"),
    )
    w = Window.partitionBy("event_type").orderBy("vq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    cum = pt.select(
        "event_type",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
        F.sum("a").over(wt).alias("na"),
        F.sum("b").over(wt).alias("nb"),
    ).withColumn(
        "gap",
        F.abs(F.expr("CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na")),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.max("gap").alias("dmax"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.expr(
                "CAST(dmax * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


# --- Mann-Whitney U (rank-sum) test ----------------------------------------

_MWU_SQL = """
WITH q AS (
  SELECT event_type, user_id % 2 = 0 AS is_a, CAST(floor(value * 100) AS BIGINT) AS vq
  FROM events),
g AS (
  SELECT event_type, vq,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS b,
         COUNT(*) AS cnt
  FROM q GROUP BY event_type, vq),
r AS (
  SELECT event_type, a, b, cnt,
         COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY vq
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
  FROM g),
s AS (
  SELECT event_type,
         SUM(a) AS n_a, SUM(b) AS n_b,
         SUM(CAST(a AS HUGEINT) * (2 * cprev + cnt + 1)) AS r2a,
         SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS tie_groups
  FROM r GROUP BY event_type)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(tie_groups AS BIGINT) AS tie_groups,
       CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
       CAST((r2a - CAST(n_a AS HUGEINT) * (n_a + 1)) * 1000000
            // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS cles_ppm
FROM s ORDER BY event_type
"""


@query("events_mannwhitney", sql=_MWU_SQL, order_by=("event_type",))
def events_mannwhitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test per event type between the parity-split
    A/B arms — the NONPARAMETRIC companion to events_ab_welch (means) and
    events_ks_test (sup-distance): robust to outliers and any monotone
    transform of the metric. Tie-safe and integer-exact via DOUBLED
    midranks: a tie group of size c spanning ranks [p+1, p+c] contributes
    a·(2p+c+1) to the doubled rank sum (the midrank (2p+c+1)/2 never needs
    to exist as a fraction). u2_a = 2·U stays nonnegative, so the final
    floor division agrees across engines regardless of truncate-vs-floor
    semantics; cles_ppm = U/(n_a·n_b) is the common-language effect size.
    Sums widen through DECIMAL(38,0)/HUGEINT (doubled rank sums reach ~n²).
    Plan: hash agg to (type, distinct-cents) atoms, one type-partitioned
    cumulative window over the bounded atom set, tiny final agg."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("is_a"),
        F.floor(F.col("value") * 100).alias("vq"),
    )
    g = q.groupBy("event_type", "vq").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("b"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.withColumn("cprev", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    s = r.groupBy("event_type").agg(
        F.sum("a").alias("n_a"),
        F.sum("b").alias("n_b"),
        F.sum(
            F.expr("CAST(a AS DECIMAL(38,0)) * (2 * cprev + cnt + 1)")
        ).alias("r2a"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("tie_groups"),
    )
    return s.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("tie_groups").cast("long").alias("tie_groups"),
        F.expr("CAST(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)").alias("u2_a"),
        F.expr(
            "CAST((r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)) * 1000000"
            " div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        ).alias("cles_ppm"),
    )


# --- Column completeness profile -------------------------------------------

_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
_EVENT_STR_COLS = {"event_type", "props"}


def _completeness_sql() -> str:
    sels = []
    for c in _EVENT_COLS:
        blank = (
            f"SUM(CASE WHEN {c} IS NOT NULL AND trim({c}) = '' THEN 1 ELSE 0 END)"
            if c in _EVENT_STR_COLS
            else "CAST(0 AS BIGINT)"
        )
        sels.append(
            f"SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n,"
            f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,"
            f" CAST({blank} AS BIGINT) AS n_blank,"
            f" CAST(COUNT({c}) * 1000000 // COUNT(*) AS BIGINT) AS complete_ppm"
            f" FROM events"
        )
    return "\nUNION ALL\n".join(sels) + "\nORDER BY column_name"


@query("profile_completeness", sql=_completeness_sql(), order_by=("column_name",))
def profile_completeness(spark, sf_dir):
    """Column completeness report over the events table — one row per column
    with null count, blank-string count (string columns), and the complete
    share in exact ppm: the first data-quality gate any ingestion pipeline
    runs. ONE aggregate pass computes every column's counters as parallel
    conditional sums (map-side combinable — the oracle's UNION ALL of
    per-column scans is the semantics, not the plan), then a 6-row stack
    unpivots counters into the report. Scales as a single scan regardless
    of column count."""
    ev = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _EVENT_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        if c in _EVENT_STR_COLS:
            aggs.append(
                F.sum(
                    F.when(
                        F.col(c).isNotNull() & (F.trim(F.col(c)) == ""), 1
                    ).otherwise(0)
                ).alias(f"nb_{c}")
            )
    one = ev.agg(*aggs)
    stack_args = []
    for c in _EVENT_COLS:
        blank = f"nb_{c}" if c in _EVENT_STR_COLS else "CAST(0 AS BIGINT)"
        stack_args.append(f"'{c}', nn_{c}, {blank}")
    stacked = one.selectExpr(
        "n_rows",
        f"stack({len(_EVENT_COLS)}, {', '.join(stack_args)}) AS (column_name, nn, n_blank)",
    )
    return stacked.select(
        "column_name",
        F.col("n_rows").cast("long").alias("n"),
        (F.col("n_rows") - F.col("nn")).cast("long").alias("n_null"),
        F.col("n_blank").cast("long").alias("n_blank"),
        F.expr("nn * 1000000 div n_rows").cast("long").alias("complete_ppm"),
    )


# --- Running drawdown --------------------------------------------------------

_DRAWDOWN_SQL = """
WITH q AS (
  SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS vq,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
c AS (
  SELECT user_id, rn,
         SUM(vq) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS cum
  FROM q),
d AS (
  SELECT user_id, rn, cum,
         MAX(cum) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS runmax
  FROM c)
SELECT user_id,
       CAST(max_by(cum, rn) AS BIGINT) AS end_cents,
       CAST(MAX(cum) AS BIGINT) AS peak_cents,
       CAST(MAX(runmax - cum) AS BIGINT) AS max_drawdown_cents
FROM d GROUP BY user_id ORDER BY user_id
"""


@query("ts_drawdown", sql=_DRAWDOWN_SQL, order_by=("user_id",))
def ts_drawdown(spark, sf_dir):
    """Maximum drawdown per user series — the peak-to-trough risk statistic
    (finance's summary of 'how bad did it get'): running total of exact
    cents, running max of that total, and the max gap between them, plus
    the ending and peak levels. Everything is integer window arithmetic over
    user-partitioned frames (two stacked cumulative windows share ONE
    user-keyed sort), finished by a per-user aggregate with max_by for the
    ending value — no global window, no collect."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).alias("vq"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")),
    )
    w = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = q.select("user_id", "rn", F.sum("vq").over(w).alias("cum"))
    d = c.withColumn("runmax", F.max("cum").over(w))
    return (
        d.groupBy("user_id")
        .agg(
            F.expr("max_by(cum, rn)").cast("long").alias("end_cents"),
            F.max("cum").cast("long").alias("peak_cents"),
            F.max(F.col("runmax") - F.col("cum")).cast("long").alias("max_drawdown_cents"),
        )
    )


# --- Bollinger-band breaches (sqrt-free squared comparison) ------------------

_BOLL_K = 8

_BOLL_SQL = f"""
WITH q AS (
  SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS x
  FROM events),
w AS (
  SELECT user_id, x,
         COUNT(*) OVER fr AS k,
         SUM(x) OVER fr AS s,
         SUM(CAST(x AS HUGEINT) * x) OVER fr AS qq
  FROM q
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN {_BOLL_K - 1} PRECEDING AND CURRENT ROW)),
f AS (SELECT * FROM w WHERE k = {_BOLL_K})
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN {_BOLL_K} * x - s > 0
                      AND CAST({_BOLL_K} * x - s AS HUGEINT) * ({_BOLL_K} * x - s)
                          > 4 * ({_BOLL_K} * qq - CAST(s AS HUGEINT) * s)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_upper,
       CAST(SUM(CASE WHEN {_BOLL_K} * x - s < 0
                      AND CAST({_BOLL_K} * x - s AS HUGEINT) * ({_BOLL_K} * x - s)
                          > 4 * ({_BOLL_K} * qq - CAST(s AS HUGEINT) * s)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_lower
FROM f GROUP BY user_id ORDER BY user_id
"""


@query("ts_bollinger_breaches", sql=_BOLL_SQL, order_by=("user_id",))
def ts_bollinger_breaches(spark, sf_dir):
    """Bollinger-band breach counts per user series: points escaping
    mean ± 2σ of their trailing {_BOLL_K}-point window (window inclusive of
    the point, the standard band definition; partial head windows skipped).
    The band test is SQRT-FREE — x > mean + 2σ over a k-window is
    (kx − S) > 0 ∧ (kx − S)² > 4(kQ − S²) in exact integers (the
    events_bursts trick applied to rolling per-key frames), so no float
    ever exists and both engines agree bitwise. Plan: one user-keyed sort
    feeds all three frame aggregates, then a per-user hash agg."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "user_id", "event_id", "ts", F.floor(F.col("value") * 100).alias("x")
    )
    fr = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -(_BOLL_K - 1), Window.currentRow
    )
    w = q.select(
        "user_id",
        "x",
        F.count(F.lit(1)).over(fr).alias("k"),
        F.sum("x").over(fr).alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).over(fr).alias("qq"),
    ).filter(F.col("k") == _BOLL_K)
    dev = F.expr(f"{_BOLL_K} * x - s")
    var4 = F.expr(
        f"4 * ({_BOLL_K} * qq - CAST(s AS DECIMAL(38,0)) * s)"
    )
    dev2 = F.expr(
        f"CAST({_BOLL_K} * x - s AS DECIMAL(38,0)) * ({_BOLL_K} * x - s)"
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when((dev > 0) & (dev2 > var4), 1).otherwise(0))
            .cast("long")
            .alias("n_breach_upper"),
            F.sum(F.when((dev < 0) & (dev2 > var4), 1).otherwise(0))
            .cast("long")
            .alias("n_breach_lower"),
        )
    )


# --- Classifier evaluation: confusion matrix + exact-ppm P/R/F1 --------------

_CLF_T = 5000  # predict positive when value >= 50.00 (cents threshold)

_CLF_SQL = f"""
WITH q AS (
  SELECT event_type = 'purchase' AS y,
         CAST(floor(value * 100) AS BIGINT) >= {_CLF_T} AS yhat
  FROM events),
m AS (
  SELECT SUM(CASE WHEN y AND yhat THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN NOT y AND yhat THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN y AND NOT yhat THEN 1 ELSE 0 END) AS fn,
         SUM(CASE WHEN NOT y AND NOT yhat THEN 1 ELSE 0 END) AS tn
  FROM q)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST(tp * 1000000 // greatest(tp + fp, 1) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // greatest(tp + fn, 1) AS BIGINT) AS recall_ppm,
       CAST(2 * tp * 1000000 // greatest(2 * tp + fp + fn, 1) AS BIGINT) AS f1_ppm
FROM m
"""


@query("q_classifier_eval", sql=_CLF_SQL)
def q_classifier_eval(spark, sf_dir):
    """Binary-classifier evaluation harness: confusion matrix plus
    precision / recall / F1 in exact integer ppm for a threshold rule
    (value >= {_CLF_T} cents predicts 'purchase') — the eval report every
    model-quality gate emits. F1 needs NO float: 2tp/(2tp+fp+fn) is the
    harmonic mean already in rational form, floor-quantized once. Plan: one
    scan -> four conditional partial sums (map-side combine) -> 1-row
    finish; at 100 TB the cost is the scan."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        (F.col("event_type") == "purchase").alias("y"),
        (F.floor(F.col("value") * 100) >= _CLF_T).alias("yhat"),
    )
    m = q.agg(
        F.sum(F.when(F.col("y") & F.col("yhat"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("y") & F.col("yhat"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("y") & ~F.col("yhat"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("y") & ~F.col("yhat"), 1).otherwise(0)).alias("tn"),
    )
    return m.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.expr("tp * 1000000 div greatest(tp + fp, 1)").cast("long").alias("precision_ppm"),
        F.expr("tp * 1000000 div greatest(tp + fn, 1)").cast("long").alias("recall_ppm"),
        F.expr("2 * tp * 1000000 div greatest(2 * tp + fp + fn, 1)").cast("long").alias("f1_ppm"),
    )


# --- ROC AUC via the rank statistic ------------------------------------------

_AUC_SQL = """
WITH q AS (
  SELECT event_type = 'purchase' AS y, CAST(floor(value * 100) AS BIGINT) AS vq
  FROM events),
g AS (
  SELECT vq,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p,
         SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS ng,
         COUNT(*) AS cnt
  FROM q GROUP BY vq),
r AS (
  SELECT p, ng, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cprev
  FROM g),
s AS (
  SELECT SUM(p) AS n_pos, SUM(ng) AS n_neg,
         SUM(CAST(p AS HUGEINT) * (2 * cprev + cnt + 1)) AS r2p
  FROM r)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST((r2p - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
            // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_ppm
FROM s
"""


@query("q_roc_auc", sql=_AUC_SQL)
def q_roc_auc(spark, sf_dir):
    """ROC AUC of the value score against the 'purchase' label, computed as
    the Mann-Whitney rank statistic (AUC = U/(n+·n−), ties contributing
    half) in exact integers — the threshold-free companion to
    q_classifier_eval, sharing events_mannwhitney's doubled-midrank
    machinery with labels instead of arms. The only ordered window runs
    over DISTINCT CENTS ATOMS of the score — bounded by the metric's value
    domain, not the row count (whitelisted in tools/plan_lint.py like
    train_char_coverage's charset window); everything row-scaled is a hash
    aggregate. Sums widen through HUGEINT/DECIMAL(38)."""
    from ..operators.prefix import partitioned_cumsum

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        (F.col("event_type") == "purchase").alias("y"),
        F.floor(F.col("value") * 100).alias("vq"),
    )
    g = q.groupBy("vq").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("p"),
        F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("ng"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # r5 (VERDICT task 4): the cumulative rank pass runs through
    # partitioned_cumsum (range-bucketed distributed prefix sum) instead of
    # an unpartitioned ordered window — no single-task funnel at ANY domain
    # size, so the plan-lint whitelist entry is retired. cprev = inclusive
    # cumsum minus own count.
    r = partitioned_cumsum(g, ["vq"], "cnt", cum_name="cum").withColumn(
        "cprev", F.col("cum") - F.col("cnt")
    )
    s = r.agg(
        F.sum("p").alias("n_pos"),
        F.sum("ng").alias("n_neg"),
        F.sum(F.expr("CAST(p AS DECIMAL(38,0)) * (2 * cprev + cnt + 1)")).alias("r2p"),
    )
    return s.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.expr(
            "CAST((r2p - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# --- Calibration / reliability bins ------------------------------------------

_CAL_W = 5000  # 50.00-wide score bins (cents)

_CAL_SQL = f"""
WITH q AS (
  SELECT CAST(floor(value * 100) AS BIGINT) // {_CAL_W} AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events)
SELECT bin,
       CAST(bin * {_CAL_W} AS BIGINT) AS bin_lo_cents,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm
FROM q GROUP BY bin ORDER BY bin
"""


@query("q_calibration_bins", sql=_CAL_SQL, order_by=("bin",))
def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins for the value-score vs 'purchase' label:
    fixed-width score bins with observed positive rate in exact ppm — the
    calibration companion to q_classifier_eval (threshold point) and
    q_roc_auc (ranking). Fixed integer bin edges (vq // {_CAL_W}) mean both
    engines bucket identically with zero float; one hash aggregate,
    map-side combinable, bin count bounded by the score domain."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        F.expr(f"CAST(floor(value * 100) AS BIGINT) div {_CAL_W}").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    return (
        q.groupBy("bin")
        .agg(
            (F.col("bin") * _CAL_W).cast("long").alias("bin_lo_cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("sum(y) * 1000000 div count(1)").cast("long").alias("pos_rate_ppm"),
        )
    )


_CAL_EF_K = 10  # deciles — the standard reliability-diagram bin count

_CAL_EF_SQL = f"""
WITH q AS (
  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events),
r AS (
  SELECT cents, y,
         ROW_NUMBER() OVER (ORDER BY cents, event_id) - 1 AS rid,
         COUNT(*) OVER () AS n_tot
  FROM q)
SELECT CAST(rid * {_CAL_EF_K} // n_tot AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
       CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_score_cents
FROM r GROUP BY 1 ORDER BY bin
"""


@query("q_calibration_bins_ef", sql=_CAL_EF_SQL, order_by=("bin",))
def q_calibration_bins_ef(spark, sf_dir):
    """Equal-FREQUENCY (decile) reliability bins — the companion to
    q_calibration_bins' fixed-width form, and what practitioners plot
    when the score distribution is skewed (fixed-width bins go empty at
    the tails; deciles put n/10 rows in every bin by construction).

    Scale shape (NOTES r3 backlog item, landed r6): the global score rank
    comes from assign_contiguous_ids (range-partitioned sort over
    sampled bounds + per-bucket offsets — operators/rowids.py), NEVER a
    corpus-wide ROW_NUMBER window (one task at 100 TB; that spelling is
    the ORACLE's, where DuckDB materializes it fine at fixture scale).
    bin = rank * k div n on exact integers, so both engines bucket
    identically with zero float; everything after the rank is one hash
    aggregate. (cents, event_id) is a total order (unique event ids), so
    ranks — and therefore bins — are deterministic."""
    from ..operators.rowids import assign_contiguous_ids

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    n = q.count()
    ranked = assign_contiguous_ids(q, ["cents", "event_id"], id_name="rid", n_rows=n)
    return (
        ranked.select(
            F.expr(f"rid * {_CAL_EF_K} div {n}").alias("bin"), "cents", "y"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("sum(y) * 1000000 div count(1)").cast("long").alias("pos_rate_ppm"),
            F.expr("sum(cents) div count(1)").cast("long").alias("mean_score_cents"),
        )
    )


# --- Per-group weighted median (distributed, no fat-group window) ------------

_WMED_SQL = f"""
WITH b AS (
  SELECT l_returnflag AS flag,
         {sql_money_units('l_extendedprice')} AS cents,
         {sql_money_units('l_quantity')} AS w,
         l_orderkey, l_linenumber
  FROM lineitem),
c AS (
  SELECT flag, cents, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY cents, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY flag) AS tot
  FROM b)
SELECT flag AS l_returnflag,
       CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
       CAST(MAX(tot) AS BIGINT) AS total_weight_units
FROM c WHERE 2 * cumw >= tot GROUP BY flag ORDER BY flag
"""


@query("q_weighted_median", sql=_WMED_SQL, order_by=("l_returnflag",))
def q_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag — the weighted
    quantile a pricing dashboard wants (plain median over line items
    ignores volume). The oracle's per-group cumulative window is the
    SEMANTICS; the engine plan avoids the fat-group trap (3 groups → 3
    one-task window partitions at corpus scale): ONE GLOBAL
    partitioned_cumsum over the composite order (flag, cents, tiebreak)
    gives distributed running weights, and the per-flag cumulative falls
    out by subtracting the broadcast per-flag offsets (sum of earlier
    flags' totals) — group-local prefix sums from a global one, no
    skew-bound task anywhere. The weighted median is then the smallest
    cents with 2·cum ≥ total, an exact integer predicate."""
    l = load(spark, sf_dir, "lineitem")
    from ..operators.prefix import partitioned_cumsum

    b = l.select(
        F.col("l_returnflag").alias("flag"),
        money_units("l_extendedprice").alias("cents"),
        money_units("l_quantity").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    c = partitioned_cumsum(
        b,
        order_cols=["flag", "cents", "l_orderkey", "l_linenumber"],
        value_col="w",
        cum_name="gcum",
    )
    tots = b.groupBy("flag").agg(F.sum("w").alias("tot"))
    offs = (
        tots.alias("t1")
        .join(tots.alias("t2"), F.col("t2.flag") < F.col("t1.flag"), "left")
        .groupBy(F.col("t1.flag").alias("flag"), F.col("t1.tot").alias("tot"))
        .agg(F.coalesce(F.sum("t2.tot"), F.lit(0)).alias("off"))
    )
    j = c.join(F.broadcast(offs), "flag").withColumn(
        "cumw", F.col("gcum") - F.col("off")
    )
    return (
        j.filter(2 * F.col("cumw") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("long").alias("wmedian_cents"),
            F.max("tot").cast("long").alias("total_weight_units"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "wmedian_cents",
            "total_weight_units",
        )
    )


# --- Column cardinality / mode profile ---------------------------------------
#
# Mode values are compared on a CANONICAL STRING RENDER per column — engines
# disagree on native rendering of timestamps/doubles across all inputs, so
# ts renders as epoch micros and value as floor-cents; ids/strings render
# plainly. Grouping happens ON the render (both engines bucket identically);
# n_distinct stays on the raw column.

_CARD_RENDER_SQL = {
    "ts": "CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR)",
    "value": "CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)",
}


def _cardinality_sql() -> str:
    sels = []
    for c in _EVENT_COLS:
        r = _CARD_RENDER_SQL.get(c, f"CAST({c} AS VARCHAR)")
        sels.append(
            f"""SELECT '{c}' AS column_name,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       (SELECT v FROM (
          SELECT {r} AS v, COUNT(*) AS cnt FROM events WHERE {c} IS NOT NULL
          GROUP BY 1 ORDER BY cnt DESC, v LIMIT 1)) AS mode_value,
       CAST((SELECT cnt FROM (
          SELECT COUNT(*) AS cnt FROM events WHERE {c} IS NOT NULL
          GROUP BY {r} ORDER BY cnt DESC, {r} LIMIT 1)) AS BIGINT) AS mode_count
FROM events"""
        )
    return "\nUNION ALL\n".join(sels) + "\nORDER BY column_name"


@query("profile_cardinality", sql=_cardinality_sql(), order_by=("column_name",))
def profile_cardinality(spark, sf_dir):
    """Column cardinality + mode report over the events table — the
    companion to profile_completeness in a data-quality suite: per column,
    the exact distinct count and the most frequent value (deterministic
    ties: higher count first, then the canonical string render — see the
    module comment on why ts/value render as epoch-micros/floor-cents).
    Plan: one (column, render) hash-agg pass per column over the value
    domain, each reduced to its top-1 via ORDER+LIMIT
    (TakeOrderedAndProject); the unioned report is |columns| rows."""
    ev = load(spark, sf_dir, "events")
    render_spark = {
        "ts": F.unix_micros(F.col("ts")).cast("string"),
        "value": F.floor(F.col("value") * 100).cast("string"),
    }
    outs = []
    for c in _EVENT_COLS:
        base = ev.filter(F.col(c).isNotNull())
        r = render_spark.get(c, F.col(c).cast("string"))
        top = (
            base.groupBy(r.alias("vs"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "vs")
            .limit(1)
        )
        nd = base.agg(F.countDistinct(c).alias("n_distinct"))
        outs.append(
            nd.crossJoin(F.broadcast(top)).select(
                F.lit(c).alias("column_name"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                F.col("vs").alias("mode_value"),
                F.col("cnt").cast("long").alias("mode_count"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


# --- Right-to-be-forgotten erasure audit -------------------------------------

_ERASE_MOD = 37  # deterministic tombstone set: c_custkey % 37 == 0

_ERASE_SQL = f"""
WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0),
aff_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
c AS (SELECT 'customer' AS table_name,
             CAST((SELECT COUNT(*) FROM tomb) AS BIGINT) AS n_rows_affected,
             CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows_total
      UNION ALL
      SELECT 'orders',
             CAST((SELECT COUNT(*) FROM aff_orders) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 'lineitem',
             CAST((SELECT COUNT(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM aff_orders)) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT))
SELECT table_name, n_rows_affected, n_rows_total,
       CAST(n_rows_affected * 1000000 // n_rows_total AS BIGINT) AS affected_ppm
FROM c ORDER BY table_name
"""


@query("profile_erasure_audit", sql=_ERASE_SQL, order_by=("table_name",))
def profile_erasure_audit(spark, sf_dir):
    """Right-to-be-forgotten erasure audit: given a tombstoned customer set
    (deterministic id-mod subset standing in for a deletion-request list),
    report every table's blast radius — rows that an erasure job must
    delete or anonymize, directly (customer, orders) and transitively
    (lineitem through the affected orders) — the GDPR/CCPA preflight a
    governed lake runs before executing the delete plan. Plan: the
    tombstone set is a pushed scan filter; each hop is a SEMI-join whose
    build side AQE broadcasts (tombstones, then affected order keys);
    counts are 1-row aggregates unioned into the report. Complements
    profile_fk_orphans (referential integrity) with the deletion-impact
    direction."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    tomb = c.filter(F.col("c_custkey") % _ERASE_MOD == 0).select("c_custkey")
    aff_o = o.join(
        F.broadcast(tomb), o.o_custkey == tomb.c_custkey, "left_semi"
    ).select("o_orderkey")
    aff_l = l.join(
        F.broadcast(aff_o), l.l_orderkey == aff_o.o_orderkey, "left_semi"
    )

    def report(name, affected, total):
        return affected.agg(F.count(F.lit(1)).alias("n_rows_affected")).crossJoin(
            F.broadcast(total.agg(F.count(F.lit(1)).alias("n_rows_total")))
        ).select(
            F.lit(name).alias("table_name"),
            F.col("n_rows_affected").cast("long").alias("n_rows_affected"),
            F.col("n_rows_total").cast("long").alias("n_rows_total"),
            F.expr("n_rows_affected * 1000000 div n_rows_total")
            .cast("long")
            .alias("affected_ppm"),
        )

    return (
        report("customer", tomb, c)
        .unionAll(report("orders", aff_o, o))
        .unionAll(report("lineitem", aff_l, l))
    )


# --- Gains / lift by score decile --------------------------------------------

_GAINS_SQL = """
WITH q AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS vq,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         event_id
  FROM events),
r AS (
  SELECT vq, y,
         CAST(ROW_NUMBER() OVER (ORDER BY vq DESC, event_id) AS BIGINT) - 1 AS i,
         (SELECT COUNT(*) FROM q) AS n
  FROM q),
d AS (
  SELECT (i * 10) // n + 1 AS decile, y, n FROM r),
t AS (SELECT SUM(y) AS total_pos, MAX(n) AS n_total FROM d)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
       CAST(CAST(SUM(y) AS HUGEINT) * t.n_total * 1000000
            // (COUNT(*) * CAST(t.total_pos AS HUGEINT)) AS BIGINT) AS lift_ppm
FROM d CROSS JOIN t
GROUP BY decile, t.n_total, t.total_pos ORDER BY decile
"""


@query("q_gains_by_decile", sql=_GAINS_SQL, order_by=("decile",))
def q_gains_by_decile(spark, sf_dir):
    """Gains/lift table by score decile — 'how much better than random is
    the top 10%?': events ranked by descending value score into exact
    tenths via assign_contiguous_ids + the explicit (i·10)//n + 1 formula
    (no ntile remainder trap, no one-task window), then per-decile positive
    rate and lift vs the base rate, both exact integer ppm
    (lift = n_pos·N·1e6 // (n·P), HUGEINT/DECIMAL widened). Decile 1 lift
    above 1e6 means the score ranks positives ahead of random — the
    campaign-targeting / risk-scoring acceptance report."""
    from ..operators.rowids import assign_contiguous_ids

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        F.floor(F.col("value") * 100).alias("vq"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        "event_id",
    ).withColumn("neg_vq", -F.col("vq"))
    # one bounded collect gives BOTH the id-assign's sizing count and the
    # lift denominators (r10: was an internal count job inside the
    # id-assign plus a crossJoin(broadcast(agg)) at action time).
    # BUILD-TIME LITERAL: the denominators are folded in at plan-build
    # time, per the registry's build-then-execute contract (every
    # invocation rebuilds the plan from the live input). A consumer that
    # builds this DataFrame once and executes it later against CHANGED
    # data would see stale denominators — rebuild after data changes.
    tot = q.agg(F.sum("y").alias("total_pos"), F.count(F.lit(1)).alias("n_total")).collect()[0]
    total_pos, n_total = int(tot["total_pos"] or 0), int(tot["n_total"])
    ranked = assign_contiguous_ids(q, ["neg_vq", "event_id"], id_name="i", n_rows=n_total)
    d = ranked.select(
        F.expr(f"i * 10 DIV {n_total} + 1").alias("decile"),
        "y",
        F.lit(n_total).alias("n_total"),
        F.lit(total_pos).alias("total_pos"),
    )
    return (
        d.groupBy("decile", "n_total", "total_pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
        .select(
            "decile",
            F.col("n").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.expr("n_pos * 1000000 div n").cast("long").alias("pos_rate_ppm"),
            F.expr(
                "CAST(CAST(n_pos AS DECIMAL(38,0)) * n_total * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * total_pos) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# --- Hourly error-rate SLI ----------------------------------------------------

_SLI_BUDGET_PPM = 250_000  # SLO: <= 25% of events may be errors (fixture-scaled)

_SLI_SQL = f"""
WITH h AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_index,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events)
SELECT CAST(hour_index AS BIGINT) AS hour_index,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_err) AS BIGINT) AS n_errors,
       CAST(SUM(is_err) * 1000000 // COUNT(*) AS BIGINT) AS error_ppm,
       SUM(is_err) * 1000000 // COUNT(*) > {_SLI_BUDGET_PPM} AS slo_breach
FROM h GROUP BY hour_index ORDER BY hour_index
"""


@query("events_error_rate_sli", sql=_SLI_SQL, order_by=("hour_index",))
def events_error_rate_sli(spark, sf_dir):
    """Hourly error-rate SLI with SLO breach flags — the availability
    report an SRE dashboard burns alerts from (companion to
    events_tail_percentiles' latency side). Hour buckets come from pure
    integer epoch division (epoch_us // 3.6e9 — no calendar function to
    disagree on), the rate is exact ppm, and the breach predicate compares
    integers. Plan: ONE map-side-combinable hash aggregate over the scan;
    at 100 TB this is the minimal-shuffle shape (per-hour cardinality is
    bounded by the time span, not the row count)."""
    ev = load(spark, sf_dir, "events")
    h = ev.select(
        F.expr("unix_micros(ts) div 3600000000").alias("hour_index"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    return (
        h.groupBy("hour_index")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_err").cast("long").alias("n_errors"),
            F.expr("sum(is_err) * 1000000 div count(1)").cast("long").alias("error_ppm"),
            (F.expr("sum(is_err) * 1000000 div count(1)") > _SLI_BUDGET_PPM).alias(
                "slo_breach"
            ),
        )
    )
