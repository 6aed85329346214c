"""Aggregation inventory A1-A8 (SURVEY.md §2.4).

Every aggregate here is a hash aggregate with map-side partial combine —
the only shape that scales: the shuffle carries one row per (key, partial)
pair, not the data. Double-typed sums are decimal-through (combine-order
independent, see functions/numeric.py); stddev is computed from exact
decimal moments rather than the streaming estimator so results are
bit-stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import davg, dmoney, dsum, sql_davg, sql_dsum, sql_money
from ..caching import track
from .registry import query


@query(
    "agg_count_guard",
    sql="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CASE WHEN COUNT(*) = 0 THEN 'none'
                WHEN COUNT(*) = 1 THEN 'unique' ELSE 'many' END AS cardinality
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    order_by=("o_orderstatus",),
)
def agg_count_guard(spark, sf_dir):
    """A1: count with 0/1/many classification — the reference's
    assert-unique guard as data (copy_from_template.py:113-121)."""
    o = load(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return (
        o.groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            F.when(n == 0, "none").when(n == 1, "unique").otherwise("many").alias("cardinality"),
        )
    )


@query(
    "agg_groupby",
    sql=f"""
    SELECT n.n_name AS nation, COUNT(*) AS n_supp,
           {sql_dsum(sql_money("s.s_acctbal"), "total_bal")},
           {sql_davg(sql_money("s.s_acctbal"), "avg_bal")},
           MIN(s.s_acctbal) AS min_bal, MAX(s.s_acctbal) AS max_bal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("nation",),
)
def agg_groupby(spark, sf_dir):
    """A2: per-group hash aggregate with the full agg family (the per-study
    rollups the reference's wiki dashboards graph, copy_from_template.py:15-16)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            dsum(dmoney("s_acctbal"), "total_bal"),
            davg(dmoney("s_acctbal"), "avg_bal"),
            F.min("s_acctbal").alias("min_bal"),
            F.max("s_acctbal").alias("max_bal"),
        )
    )


@query(
    "agg_count_distinct",
    sql="""
    SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations, COUNT(*) AS n_custs
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    order_by=("c_mktsegment",),
)
def agg_count_distinct(spark, sf_dir):
    """A3: count-distinct (expand + two-phase agg under the hood)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_custs"),
        )
    )


@query(
    "agg_approx_count_distinct",
    sql="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(*) AS n_rows,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_approx_count_distinct(spark, sf_dir):
    """A4: HyperLogLog++ cardinality — the 100 TB substitute for exact
    distinct. ORACLED (r10, was rows-only): the estimate itself is
    engine-specific, so what goes under the hash gate is the accuracy
    CONTRACT — ``approx_ok`` asserts the HLL++ estimate lands within 3×rsd
    (±6%) of the true cardinality, which DuckDB computes exactly. The
    exact-distinct column exists for the gate's benefit; the production
    shape at 100 TB is the approx aggregate alone (exact distinct is A3's
    job). Measured estimate error on the fixture is ≤0.6%."""
    l = load(spark, sf_dir, "lineitem")
    est = F.approx_count_distinct("l_orderkey", 0.02)
    exact = F.countDistinct("l_orderkey")
    return (
        l.groupBy("l_returnflag")
        .agg(
            exact.alias("exact_orders"),
            F.count(F.lit(1)).alias("n_rows"),
            est.alias("_est"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            "n_rows",
            (
                F.abs(F.col("_est") - F.col("exact_orders"))
                <= F.col("exact_orders") * 0.06
            ).alias("approx_ok"),
        )
    )


@query(
    "agg_hll_sketch",
    sql="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_custs,
           COUNT(*) AS n_rows,
           TRUE AS est_ok
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT o_custkey), COUNT(*), TRUE FROM orders
    ORDER BY o_orderpriority
    """,
    order_by=("o_orderpriority",),
)
def agg_hll_sketch(spark, sf_dir):
    """A4b: mergeable HLL sketches (Apache DataSketches binary form) — the
    re-aggregatable cardinality path at 100 TB: per-group sketches UNION
    into coarser rollups without rescanning the fact table, which
    approx_count_distinct cannot do (its partials aren't a value you can
    store and merge later). The ALL row is hll_union_agg over the five
    per-priority sketches.

    ORACLED (r10, was rows-only): sketch estimates are engine-specific, so
    the hash gate checks the accuracy CONTRACT — every leaf estimate AND
    the union-rollup estimate within ±5% (3σ for lgK=12) of the exact
    distinct DuckDB computes. The union row is the critical check: it
    certifies sketch MERGE, not just per-group estimation. Exact-distinct
    columns exist for the gate; the sketch path alone is the 100 TB shape
    (measured fixture error ≤1.1%)."""
    o = load(spark, sf_dir, "orders")
    per = track(
        o.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_agg("o_custkey").alias("sk"),
            F.countDistinct("o_custkey").alias("exact_custs"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .persist()  # read twice: leaf rows + the union rollup
    )
    ok = lambda est, exact: (F.abs(est - exact) <= exact * 0.05).alias("est_ok")  # noqa: E731
    leaf = per.select(
        "o_orderpriority",
        "exact_custs",
        "n_rows",
        ok(F.hll_sketch_estimate("sk"), F.col("exact_custs")),
    )
    g_exact = o.agg(F.countDistinct("o_custkey").alias("exact_custs"))
    total = (
        per.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
            F.sum("n_rows").alias("n_rows"),
        )
        .crossJoin(g_exact)
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            "exact_custs",
            "n_rows",
            ok(F.col("_est"), F.col("exact_custs")),
        )
    )
    return leaf.unionByName(total)


@query(
    "agg_histogram",
    sql="""
    SELECT CAST(FLOOR(l_extendedprice / 10000.0) + 1 AS BIGINT) AS bucket,
           COUNT(*) AS n,
           10000.0 * FLOOR(l_extendedprice / 10000.0) AS lo,
           10000.0 * (FLOOR(l_extendedprice / 10000.0) + 1) AS hi
    FROM lineitem GROUP BY 1, 3, 4 ORDER BY bucket
    """,
    order_by=("bucket",),
)
def agg_histogram(spark, sf_dir):
    """Equi-width histogram via width_bucket — the one-pass distribution
    profile (bounds chosen so the bucket step 110000/11 is the exact double
    10000.0, making Spark's width-bucket division bit-identical to the
    oracle's floor(v/10000)). All prices sit inside [0, 110000), so the
    under/overflow buckets 0 and 12 are provably empty."""
    l = load(spark, sf_dir, "lineitem")
    b = F.width_bucket("l_extendedprice", F.lit(0.0), F.lit(110000.0), F.lit(11))
    return (
        l.groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo", (F.col("bucket") - 1).cast("double") * 10000.0)
        .withColumn("hi", F.col("bucket").cast("double") * 10000.0)
    )


@query(
    "agg_rollup",
    sql=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           GROUPING(r.r_name) AS g_region, GROUPING(n.n_name) AS g_nation,
           COUNT(*) AS n_custs, {sql_dsum(sql_money("c.c_acctbal"), "total_bal")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY g_region, g_nation, region NULLS FIRST, nation NULLS FIRST
    """,
    order_by=("g_region", "g_nation", "region", "nation"),
)
def agg_rollup(spark, sf_dir):
    """A5: hierarchy rollup region → nation → grand total (the
    app/study partition hierarchy of copy_from_template.py:316)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
        .rollup("region", "nation")
        .agg(
            F.grouping("region").alias("g_region"),
            F.grouping("nation").alias("g_nation"),
            F.count(F.lit(1)).alias("n_custs"),
            dsum(dmoney("c_acctbal"), "total_bal"),
        )
    )


@query(
    "agg_cube",
    sql="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    order_by=("g_rf", "g_ls", "l_returnflag", "l_linestatus"),
)
def agg_cube(spark, sf_dir):
    """A5: full cube over the two flag dimensions."""
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "agg_conditional",
    sql=f"""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           {sql_dsum(f"CASE WHEN o_orderstatus = 'O' THEN {sql_money('o_totalprice')} ELSE CAST(0 AS DECIMAL(12,2)) END", "open_value")}
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    order_by=("o_orderpriority",),
)
def agg_conditional(spark, sf_dir):
    """A6: filtered/conditional aggregates (count of isFirstAssessment-style
    boolean flags, copy_from_template.py:183-186)."""
    o = load(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            dsum(F.when(F.col("o_orderstatus") == "O", dmoney("o_totalprice")).otherwise(zero), "open_value"),
        )
    )


@query(
    "agg_collect_set",
    sql="""
    SELECT n_regionkey AS regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), '|') AS nations
    FROM nation GROUP BY 1 ORDER BY 1
    """,
    order_by=("regionkey",),
)
def agg_collect_set(spark, sf_dir):
    """A7: rebuild array cells from rows — the scopeIds array shape
    (copy_from_template.py:109-111). Sorted for determinism, then emitted as
    '|'-joined text: the driver's pandas canon cannot sort/hash list cells
    (r1 'unhashable type' failure), so every oracle query renders arrays as
    scalar text on BOTH engines. The array-typed form stays unit-tested."""
    return (
        load(spark, sf_dir, "nation")
        .groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), "|").alias("nations"))
    )


@query(
    "agg_percentiles",
    sql="""
    SELECT c_mktsegment,
           quantile_cont(c_acctbal, 0.5) AS p50,
           quantile_cont(c_acctbal, 0.9) AS p90
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    order_by=("c_mktsegment",),
)
def agg_percentiles(spark, sf_dir):
    """A8: exact interpolated percentiles (score-distribution semantics for
    the reference's scores folder, default.yaml:3-4). The approx variant for
    100 TB is `percentile_approx`, exercised rows-only in tests."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.percentile("c_acctbal", 0.5).alias("p50"),
            F.percentile("c_acctbal", 0.9).alias("p90"),
        )
    )


@query(
    "agg_stddev_moments",
    sql="""
    SELECT c_nationkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS s2,
           CASE WHEN COUNT(*) > 1 THEN
             sqrt(greatest(0.0,
               (CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                - CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                  * CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1)))
           END AS stddev_bal
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    order_by=("c_nationkey",),
)
def agg_stddev_moments(spark, sf_dir):
    """A8: sample stddev from exact decimal moments — deterministic under
    any combine order (the built-in streaming estimator is not bit-stable
    across partitionings; the final double arithmetic here is identical on
    both engines)."""
    c = load(spark, sf_dir, "customer")
    d = dmoney("c_acctbal")
    n = F.count(F.lit(1))
    s1 = F.sum(d).cast("double")
    s2 = F.sum(d * d).cast("double")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return (
        c.groupBy("c_nationkey")
        .agg(
            n.alias("n"),
            s1.alias("s1"),
            s2.alias("s2"),
            F.when(n > 1, F.sqrt(F.greatest(F.lit(0.0), var))).alias("stddev_bal"),
        )
    )


@query(
    "agg_mode_pdisc",
    sql="""
    SELECT l_returnflag,
           mode(CASE WHEN l_quantity <= 30 THEN 'small' ELSE 'big' END) AS qty_mode,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS qty_p50_disc,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS price_p90_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_mode_pdisc(spark, sf_dir):
    """Inverse-distribution aggregates: mode + percentile_disc (WITHIN
    GROUP). percentile_disc returns an ACTUAL data value (no interpolation),
    so the double compare is exact on both engines; mode is computed over a
    deliberately skewed bucket (quantity is uniform 1..50, so 'small' wins
    3:2 at any SF) — the raw columns here are near-uniform and would make
    mode a coin-flip tie."""
    l = load(spark, sf_dir, "lineitem")
    bucket = F.when(F.col("l_quantity") <= 30, F.lit("small")).otherwise(F.lit("big"))
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.mode(bucket).alias("qty_mode"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("qty_p50_disc"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("price_p90_disc"),
        )
    )


@query(
    "agg_approx_top_k",
    sql="""
    SELECT o_orderpriority AS item, COUNT(*) AS n
    FROM orders GROUP BY 1 ORDER BY n DESC, item LIMIT 5
    """,
    order_by=("n DESC", "item"),
)
def agg_approx_top_k(spark, sf_dir):
    """Heavy hitters via approx_top_k (Spark 4) — a bounded-memory sketch
    whose counts are EXACT whenever distinct values fit maxItemsTracked
    (here 5 distinct <= 100 tracked), which makes the oracle a plain
    top-5 group-count. Re-sorted deterministically after explode because
    the sketch's own tie order is not defined."""
    o = load(spark, sf_dir, "orders")
    return (
        o.agg(F.expr("approx_top_k(o_orderpriority, 5, 100)").alias("t"))
        .select(F.explode("t").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("n"))
    )


@query(
    "agg_hll_intersect",
    sql="""
    WITH e AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate < TIMESTAMP '1997-01-01'),
         l AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    SELECT (SELECT COUNT(*) FROM e) AS exact_early,
           (SELECT COUNT(*) FROM l) AS exact_late,
           (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS exact_union,
           (SELECT COUNT(*) FROM e JOIN l USING (o_custkey)) AS exact_overlap,
           TRUE AS singles_ok, TRUE AS union_ok, TRUE AS overlap_ok
    """,
)
def agg_hll_intersect(spark, sf_dir):
    """Sketch algebra: estimated customer overlap between two order-date
    halves by inclusion-exclusion — |A∩B| ≈ |A| + |B| − |A∪B| with every
    term an HLL estimate. HLL has no native intersect (only union is
    lossless on sketches); inclusion-exclusion is the standard recipe and
    its error grows with |A∪B|/|A∩B|. At 100 TB this runs from STORED
    per-partition sketches with zero fact rescan.

    ORACLED (r10, was rows-only): the hash gate checks the accuracy
    contract — each single estimate and the union within ±5% of exact,
    the inclusion-exclusion overlap within ±10% of the exact UNION size
    (the correct yardstick: i-e error scales with |A∪B|, not |A∩B|).
    Exact columns come from DuckDB set algebra; measured fixture errors
    are ≤1% (overlap 0.4% of union)."""
    o = load(spark, sf_dir, "orders")
    half = F.when(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"), "early"
    ).otherwise("late")
    per = track(
        o.groupBy(half.alias("half"))
        .agg(
            F.hll_sketch_agg("o_custkey").alias("sk"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .persist()
    )
    singles = per.select(
        "half",
        F.hll_sketch_estimate("sk").cast("long").alias("est"),
        "exact",
    )
    union = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est_union")
    )
    exact_union = o.agg(F.countDistinct("o_custkey").alias("exact_union"))
    cutoff = F.lit("1997-01-01").cast("timestamp")
    exact_overlap = (
        o.filter(F.col("o_orderdate") < cutoff)
        .select("o_custkey")
        .distinct()
        .intersect(
            o.filter(F.col("o_orderdate") >= cutoff).select("o_custkey").distinct()
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    wide = (
        singles.groupBy()
        .pivot("half", ["early", "late"])
        .agg(F.first("est").alias("est"), F.first("exact").alias("exact"))
        .crossJoin(union)
        .crossJoin(exact_union)
        .crossJoin(exact_overlap)
    )
    est_ov = F.col("early_est") + F.col("late_est") - F.col("est_union")
    return wide.select(
        F.col("early_exact").alias("exact_early"),
        F.col("late_exact").alias("exact_late"),
        "exact_union",
        "exact_overlap",
        (
            (F.abs(F.col("early_est") - F.col("early_exact")) <= F.col("early_exact") * 0.05)
            & (F.abs(F.col("late_est") - F.col("late_exact")) <= F.col("late_exact") * 0.05)
        ).alias("singles_ok"),
        (F.abs(F.col("est_union") - F.col("exact_union")) <= F.col("exact_union") * 0.05).alias(
            "union_ok"
        ),
        (F.abs(est_ov - F.col("exact_overlap")) <= F.col("exact_union") * 0.10).alias(
            "overlap_ok"
        ),
    )


@query(
    "agg_skew_kurtosis",
    sql="""
    WITH m AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(u) AS DOUBLE) AS s1,
             CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE) AS s2,
             CAST(SUM(CAST(u AS HUGEINT) * u * u) AS DOUBLE) AS s3,
             CAST(SUM(CAST(u AS HUGEINT) * u * u * u) AS DOUBLE) AS s4
      FROM (SELECT c_nationkey,
                   CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS u
            FROM customer) q
      GROUP BY c_nationkey)
    SELECT c_nationkey, n,
           s1 / n / 100.0 AS mean_bal,
           (s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * sqrt(s2 / n - (s1 / n) * (s1 / n))) AS skewness,
           (s4 / n - 4.0 * (s1 / n) * (s3 / n)
              + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
             - 3.0 AS ex_kurtosis
    FROM m WHERE n > 3 AND s2 / n - (s1 / n) * (s1 / n) > 0
    ORDER BY c_nationkey
    """,
    order_by=("c_nationkey",),
)
def agg_skew_kurtosis(spark, sf_dir):
    """A8+: population skewness and excess kurtosis from EXACT raw moments —
    the built-in skewness()/kurtosis() stream central moments in floats and
    are not bit-stable across partitionings; here Σu, Σu², Σu³, Σu⁴ are
    exact integers (int64 cents widened to DECIMAL(38,0)/HUGEINT for the
    cubes/quartics — 1e28 per row fits both), and the final expression is
    identical IEEE arithmetic on both engines. Skewness/kurtosis are
    scale-invariant, so the cents unit cancels; x^1.5 is written
    x*sqrt(x) (sqrt is correctly rounded; pow is not). One hash aggregate,
    map-side partials, 25 group keys."""
    from ..functions.numeric import money_units

    c = load(spark, sf_dir, "customer")
    u = money_units("c_acctbal")
    uw = u.cast("decimal(38,0)")
    m = c.select(F.col("c_nationkey"), u.alias("u"), uw.alias("uw")).groupBy(
        "c_nationkey"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").cast("double").alias("s1"),
        F.sum(F.col("uw") * F.col("u")).cast("double").alias("s2"),
        F.sum(F.col("uw") * F.col("u") * F.col("u")).cast("double").alias("s3"),
        F.sum(F.col("uw") * F.col("u") * F.col("u") * F.col("u")).cast("double").alias("s4"),
    )
    s1, s2, s3, s4, n = (F.col(x) for x in ("s1", "s2", "s3", "s4", "n"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return (
        m.filter((n > 3) & (m2 > 0))
        .select(
            "c_nationkey",
            "n",
            (s1 / n / F.lit(100.0)).alias("mean_bal"),
            (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
            (m4 / (m2 * m2) - F.lit(3.0)).alias("ex_kurtosis"),
        )
    )
