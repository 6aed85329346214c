"""SQL-API surface and remaining relational shapes: scalar/correlated
subqueries, range window frames, unpivot, approximate percentiles.

``spark.sql`` text and the DataFrame API compile to the same Catalyst plans;
`sql_api_revenue` exercises the text path end-to-end (view registration →
SQL → result) to pin that the engine exposes both entry points.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load, register_views
from .registry import query


@query(
    "sql_api_revenue",
    sql="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("nation",),
)
def sql_api_revenue(spark, sf_dir):
    """The SQL text entry point: register the catalog as temp views, run
    ANSI SQL through spark.sql — same optimizer, same plan as the
    DataFrame form."""
    register_views(spark, sf_dir, ("lineitem", "orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
        """
    )


@query(
    "agg_scalar_subquery",
    sql="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                                     / COUNT(*) FROM orders)
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def agg_scalar_subquery(spark, sf_dir):
    """Scalar subquery: orders above 2× the mean order value (decimal-exact
    mean on both sides). Catalyst plans the subquery as a one-row broadcast."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                                         / COUNT(*) FROM orders)
        """
    )


@query(
    "w_range_frame",
    sql="""
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
             AS n_orders_30d
    FROM orders ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def w_range_frame(spark, sf_dir):
    """W3 variant: RANGE frame over a time interval — trailing 30-day order
    count per customer (value-based frame, not row-based)."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                              RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                 AS n_orders_30d
        FROM orders
        """
    )


@query(
    "unpivot_stack",
    sql="""
    SELECT s_suppkey, metric, val FROM (
      SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier
      UNION ALL
      SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS val FROM supplier)
    ORDER BY s_suppkey, metric
    """,
    order_by=("s_suppkey", "metric"),
)
def unpivot_stack(spark, sf_dir):
    """Unpivot (melt): wide columns to (metric, value) rows via the native
    unpivot operator — the inverse of agg_pivot."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal"), F.col("s_nationkey").cast("double")
    )
    return (
        s.unpivot("s_suppkey", ["s_acctbal", "s_nationkey"], "metric", "val")
        .withColumn("metric", F.regexp_replace("metric", "^s_", ""))
    )


@query(
    "merge_upsert_cdc",
    sql="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    UNION ALL
    SELECT -1 AS c_custkey, 0.0 AS c_acctbal, 'INSERTED' AS c_mktsegment
    ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def merge_upsert_cdc(spark, sf_dir):
    """MERGE INTO emulation (operators/merge.py): a CDC batch updates every
    10th customer and inserts one new key; matched rows take the source
    version, the rest pass through. Anti-join + union — one keyed shuffle
    per side, no table-format dependency."""
    from ..operators.merge import merge_upsert

    target = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
    updates = target.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = spark.createDataFrame(
        [(-1, 0.0, "INSERTED")], "c_custkey long, c_acctbal double, c_mktsegment string"
    )
    return merge_upsert(target, updates.unionByName(inserts), ["c_custkey"])


from ..oracles.embeddings import ivf_oracle


@query("llm_knn_ivf", sql=ivf_oracle, order_by=("query_id", "rank"))
def llm_knn_ivf(spark, sf_dir):
    """L3c: IVF approximate top-k — coarse-quantize to 16 deterministic
    centroids, probe the 4 nearest lists per query (planted-neighbor
    recall asserted in tests/test_merge_ivf.py)."""
    from ..catalog import load as _load
    from ..llm.similarity import ivf_knn

    e = _load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ivf_knn(q, e, k=5).select("query_id", "neighbor_id", "rank")


@query(
    "t_stream_stateful",
    sql="""
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1 ORDER BY 1
    """,
    order_by=("user_id",),
)
def t_stream_stateful(spark, sf_dir):
    """T-custom (ORACLED — upgraded r7 from rows-only): applyInPandasWithState
    running per-user totals over the event stream. Per-user event counts
    are MONOTONE across update-mode emissions, so max(n_events) over the
    accumulated sink is the final state — the same monotone-reduction
    argument as the r6 stateful tier — and the genuinely-streaming run is
    value-exact against the one-line batch aggregate. Final state == batch
    is additionally asserted in tests/test_stateful_streaming.py."""
    import uuid

    from ..streaming.stateful import running_user_totals
    from ..streaming.windows import raise_if_read_nothing, stream_events

    out = running_user_totals(stream_events(spark, sf_dir))
    name = f"state_{uuid.uuid4().hex[:8]}"
    sq = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    raise_if_read_nothing(sq)
    final = spark.table(name).groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    return final


@query(
    "agg_approx_percentile",
    sql="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS d50,
           quantile_disc(l_extendedprice, 0.9) AS d90,
           quantile_disc(l_extendedprice, 0.99) AS d99,
           COUNT(*) AS n_rows,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_approx_percentile(spark, sf_dir):
    """A8 scale path: approximate percentiles (GK sketch) — the 100 TB
    substitute for exact quantiles. The sketch returns one array per
    group; flattened to scalar columns so no registered query emits a
    list cell (the driver canon cannot hash those — see
    aggregates.agg_collect_set).

    ORACLED (r10, was rows-only): the GK estimate is engine-specific, so
    the hash gate carries (a) the EXACT discrete percentiles — both
    engines pick the same data element (Spark percentile_disc ==
    DuckDB quantile_disc, verified on this fixture) — and (b) the GK
    accuracy contract: each approximate value must lie between the exact
    discrete percentiles at p∓0.005 (50× the sketch's 1e-4 rank
    guarantee at accuracy=10000)."""
    l = load(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)

    def disc(p):
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY l_extendedprice)")

    agg = l.groupBy("l_returnflag").agg(
        pcts.alias("_pc"),
        disc(0.5).alias("d50"),
        disc(0.9).alias("d90"),
        disc(0.99).alias("d99"),
        disc(0.495).alias("_d50lo"),
        disc(0.505).alias("_d50hi"),
        disc(0.895).alias("_d90lo"),
        disc(0.905).alias("_d90hi"),
        disc(0.985).alias("_d99lo"),
        disc(0.995).alias("_d99hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        "l_returnflag",
        "d50",
        "d90",
        "d99",
        "n_rows",
        F.element_at("_pc", 1).between(F.col("_d50lo"), F.col("_d50hi")).alias("p50_ok"),
        F.element_at("_pc", 2).between(F.col("_d90lo"), F.col("_d90hi")).alias("p90_ok"),
        F.element_at("_pc", 3).between(F.col("_d99lo"), F.col("_d99hi")).alias("p99_ok"),
    )


@query(
    "merge_scd2_history",
    sql="""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_orderdate,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM orders WHERE o_orderkey % 7 = 0),
    s AS (
      SELECT o_orderkey, 'X' AS o_orderstatus,
             o_orderdate + INTERVAL 30 DAY AS o_orderdate
      FROM orders WHERE o_orderkey % 14 = 0)
    SELECT t.o_orderkey, t.o_orderstatus, t.o_orderdate,
           s.o_orderdate AS valid_to
    FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_orderdate, CAST(NULL AS TIMESTAMP)
    FROM s
    ORDER BY o_orderkey, o_orderstatus
    """,
    order_by=("o_orderkey", "o_orderstatus"),
)
def merge_scd2_history(spark, sf_dir):
    """SCD2 close-and-insert (operators/merge.py) over a derived CDC batch:
    current versions of matched keys get valid_to = the incoming effective
    timestamp; incoming rows append as open versions. Oracle is the
    equivalent left-join + union."""
    from ..operators.merge import scd2_close_and_insert

    o = load(spark, sf_dir, "orders")
    target = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderdate",
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    source = (
        o.filter(F.col("o_orderkey") % 14 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("o_orderdate"),
        )
    )
    out = scd2_close_and_insert(target, source, ["o_orderkey"], "o_orderdate")
    return out


@query(
    "sql_udf_revenue",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def sql_udf_revenue(spark, sf_dir):
    """SQL-language UDF (Spark 4 CREATE FUNCTION ... RETURN expr): the
    revenue expression becomes a catalog-registered, reusable SQL function
    that Catalyst INLINES — zero overhead vs writing the expression, unlike
    a Python UDF. The oracle is the inlined form."""
    register_views(spark, sf_dir, ("lineitem",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_rev(p DECIMAL(12,2), d DECIMAL(3,2))
        RETURNS DECIMAL(16,4) RETURN p * (1 - d)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(disc_rev(CAST(l_extendedprice AS DECIMAL(12,2)),
                                 CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_returnflag
        """
    )


@query(
    "sql_parameterized",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    order_by=("o_orderpriority",),
)
def sql_parameterized(spark, sf_dir):
    """Parameterized spark.sql (named-arg binding, no string interpolation
    — the injection-safe templated-query API). Oracle inlines the same
    constants."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "O"},
    )


_RECURSIVE_WALK = """
    WITH RECURSIVE edges AS (
      SELECT n_nationkey AS child,
             lag(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS parent,
             n_name AS name, n_regionkey AS region
      FROM nation
    ),
    walk AS (
      SELECT child AS node, name, region, 0 AS depth, name AS path
      FROM edges WHERE parent IS NULL
      UNION ALL
      SELECT e.child, e.name, e.region, w.depth + 1, w.path || '/' || e.name
      FROM edges e JOIN walk w ON e.parent = w.node
    )
    SELECT node, name, region, depth, path FROM walk ORDER BY node
"""


@query("sql_recursive_cte", sql=_RECURSIVE_WALK)
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4, SPARK-24497): transitive hierarchy walk —
    depth and root-path over a parent chain derived from nations within
    each region. The oracle is the IDENTICAL SQL text run by DuckDB; the
    fixpoint iterates ~5 rounds (longest chain within a region). At scale
    the same shape resolves org trees / thread ancestry without a driver
    loop."""
    register_views(spark, sf_dir, ("nation",))
    return spark.sql(_RECURSIVE_WALK)


_PIPE_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                * (100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("sql_pipe_revenue", sql=_PIPE_ORACLE, order_by=("l_returnflag",))
def sql_pipe_revenue(spark, sf_dir):
    """SQL pipe syntax (Spark 4 `|>`): the same logical plan as the ANSI
    form, written as a linear pipeline — scan |> filter |> aggregate |>
    select. Compiles through the identical Catalyst path (one partial+final
    hash aggregate over the pushed-down scan filter)."""
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                              * (100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_items, revenue
        """
    )


@query(
    "join_lateral_topn",
    sql="""
    SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
           CAST(floor(t.o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    ORDER BY custkey, orderkey
    """,
    order_by=("custkey", "orderkey"),
)
def join_lateral_topn(spark, sf_dir):
    """LATERAL correlated subquery join (Spark 3.2+): top-2 orders per
    customer written as a per-row subquery. Catalyst decorrelates it into
    the same window top-k plan as `w_topk_per_group` — the LATERAL text
    form is the operator under test; the unique (o_totalprice, o_orderkey)
    ordering makes the top-2 deterministic."""
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
               CAST(floor(t.o_totalprice * 100) AS BIGINT) AS totalprice_cents
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@query(
    "sql_group_by_all",
    sql="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus
    """,
    order_by=("l_returnflag", "l_linestatus"),
)
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL (infer grouping keys from the non-aggregate select
    list) — identical text runs on both engines."""
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        FROM lineitem GROUP BY ALL
        """
    )


@query(
    "sql_identifier_binding",
    sql="""
    SELECT r_name AS name, COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    order_by=("name",),
)
def sql_identifier_binding(spark, sf_dir):
    """IDENTIFIER(:param) clause — table names bound as parameters, not
    spliced into SQL text (the injection-safe form of the reference's
    entityMap id-rebinding, /root/reference/src/copy_from_template.py:
    355-356, where wiki query text is rewritten old-id→new-id). The
    identifier resolves at analysis time; the plan is identical to the
    literal-name query."""
    register_views(spark, sf_dir, tables=("region", "nation"))
    return spark.sql(
        """
        SELECT r_name AS name, COUNT(*) AS n_nations
        FROM IDENTIFIER(:dim) r JOIN IDENTIFIER(:fact) n ON n.n_regionkey = r.r_regionkey
        GROUP BY r_name
        """,
        args={"dim": "region", "fact": "nation"},
    )


@query(
    "sql_unpivot_clause",
    sql="""
    SELECT p_partkey, metric, val FROM (
      UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, p_retailprice AS retailprice
               FROM part)
      ON size, retailprice INTO NAME metric VALUE val)
    ORDER BY p_partkey, metric
    """,
    order_by=("p_partkey", "metric"),
)
def sql_unpivot_clause(spark, sf_dir):
    """Native SQL UNPIVOT clause (wide→long without stack()): Spark's
    `UNPIVOT (val FOR metric IN ...)` vs DuckDB's `UNPIVOT ... INTO NAME
    ... VALUE ...` — different dialects, identical relational op. The
    value columns are pre-cast to one type (UNPIVOT requires a common
    value type on both engines)."""
    register_views(spark, sf_dir, tables=("part",))
    return spark.sql(
        """
        SELECT p_partkey, metric, val FROM (
          SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, p_retailprice AS retailprice FROM part)
        UNPIVOT (val FOR metric IN (size, retailprice))
        """
    )


@query(
    "sql_scripting_share",
    sql="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS DOUBLE)
             / (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                                     AS BIGINT)) AS DOUBLE)
                FROM orders) AS share
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
)
def sql_scripting_share(spark, sf_dir):
    """Spark 4 SQL SCRIPTING (BEGIN … END with DECLARE/SET): the grand
    total lands in a session variable via one scripted statement, then the
    final SELECT uses it — procedural control flow around set-based
    statements, the migration path for warehouse stored procedures. The
    oracle is the equivalent scalar-subquery formulation (a variable bound
    once IS a scalar subquery, semantically). Money stays exact cents;
    the share is one IEEE division per nation."""
    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        BEGIN
          DECLARE total DOUBLE;
          SET total = (
            SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                                 AS BIGINT)) AS DOUBLE)
            FROM orders);
          SELECT n.n_name AS nation,
                 CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                               AS BIGINT)) AS BIGINT) AS cents,
                 CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                               AS BIGINT)) AS DOUBLE) / total AS share
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY 1 ORDER BY 1;
        END
        """
    )


@query(
    "sql_user_functions",
    sql="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS margin_cents
    FROM lineitem
    WHERE CAST(floor(l_extendedprice * 100) AS BIGINT) >= 100000
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("l_returnflag",),
)
def sql_user_functions(spark, sf_dir):
    """SQL user-defined functions (Spark 4 `CREATE FUNCTION ... RETURN`):
    a SCALAR function (discounted margin in exact cents) and a TABLE
    function (price-filtered lineitem source) defined in pure SQL and
    composed in one query. SQL UDFs are INLINED by the analyzer — the
    executed plan is identical to writing the expressions by hand (the
    oracle), so they keep whole-stage codegen, pushdown, and zero
    serialization cost, unlike any Python-side UDF lane."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION margin_cents(p DOUBLE, d DOUBLE)"
        " RETURNS BIGINT RETURN CAST(floor(p * (1.0 - d) * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION priced_lineitem(min_cents BIGINT)"
        " RETURNS TABLE(l_returnflag STRING, l_extendedprice DOUBLE, l_discount DOUBLE)"
        " RETURN SELECT l_returnflag, l_extendedprice, l_discount FROM lineitem"
        " WHERE CAST(floor(l_extendedprice * 100) AS BIGINT) >= min_cents"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               SUM(margin_cents(l_extendedprice, l_discount)) AS margin_cents
        FROM priced_lineitem(100000)
        GROUP BY 1
        """
    )
