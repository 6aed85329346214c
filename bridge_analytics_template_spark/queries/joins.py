"""Join inventory J1-J10 (SURVEY.md §2.3).

The reference joins implicitly — every cross-referencing lookup matches one
collection against another by key (created-entities × template names,
copy_from_template.py:128-132; ACL entries × principal, :253-261; entityMap
old-id → new-id, :355-356). Here each join shape is explicit and planned for
scale: dimension sides broadcast, large-large goes sort-merge, and the as-of
join is a single-shuffle union+window composition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import (
    dmoney,
    drate,
    dsum,
    money_units,
    rate_units,
    sql_dsum,
    sql_money,
    sql_money_units,
    sql_rate,
    sql_rate_units,
    sql_usum,
    usum,
)
from ..operators.joins import asof_join, range_join
from .registry import query


@query(
    "join_inner",
    sql=f"""
    SELECT o.o_orderkey, o.o_orderdate,
           {sql_usum(f"{sql_money_units('l.l_extendedprice')} * (100 - {sql_rate_units('l.l_discount')})", 4, "revenue")}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 50
    """,
)
def join_inner(spark, sf_dir):
    """J1: inner equi-join, fact × fact, aggregated per order."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(usum(money_units("l_extendedprice") * (100 - rate_units("l_discount")), 4, "revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(50)
    )


@query(
    "join_left",
    sql="""
    SELECT o.o_orderkey, COUNT(r.l_orderkey) AS n_returned
    FROM orders o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_returnflag = 'R') r
      ON o.o_orderkey = r.l_orderkey
    GROUP BY o.o_orderkey
    ORDER BY o.o_orderkey
    """,
    order_by=("o_orderkey",),
)
def join_left(spark, sf_dir):
    """J2: left outer join — every order kept, enriched when returns exist
    (the reference's ACL-enrichment shape, copy_from_template.py:253-261)."""
    o = load(spark, sf_dir, "orders")
    r = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(r, o.o_orderkey == r.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_returned"))
    )


@query(
    "join_broadcast_dims",
    sql=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_custs,
           {sql_dsum(sql_money("c.c_acctbal"), "total_bal")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    ORDER BY region, nation
    """,
    order_by=("region", "nation"),
)
def join_broadcast_dims(spark, sf_dir):
    """J3: star-schema dim joins — both dims broadcast, zero shuffle on the
    fact side until the aggregate."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_custs"), dsum(dmoney("c_acctbal"), "total_bal"))
    )


@query(
    "join_sort_merge",
    sql="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 300000
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
    order_by=("l_orderkey", "l_linenumber"),
)
def join_sort_merge(spark, sf_dir):
    """J4: large-large join forced to sort-merge (the strategy that scales
    when neither side fits in memory)."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_linenumber", "o_totalprice")
    )


@query(
    "join_semi",
    sql="""
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def join_semi(spark, sf_dir):
    """J5: left-semi join (EXISTS) — no row duplication from the build side."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "join_anti",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def join_anti(spark, sf_dir):
    """J6: left-anti join (NOT EXISTS) — customers with no orders; the
    exclusion semantics of the reference's ACL skip
    (copy_from_template.py:253-255)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_range_bands",
    sql="""
    SELECT b.band, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 250.0), ('high', 250.0, 1000.0))
         AS b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    ORDER BY b.band
    """,
    order_by=("band",),
)
def join_range_bands(spark, sf_dir):
    """J7: theta/range join — interval containment against a broadcast
    band table (the sessionInstanceStartDay..EndDay window shape,
    copy_from_template.py:187-190)."""
    e = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 250.0), ("high", 250.0, 1000.0)],
        "band string, lo double, hi double",
    )
    joined = range_join(e, bands, F.col("value"), F.col("lo"), F.col("hi"))
    return (
        joined.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(dmoney("value"), "total_value"))
    )


@query(
    "join_asof",
    sql="""
    SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
           CAST(r.ts AS TIMESTAMP) AS signup_ts_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
    order_by=("event_id",),
)
def join_asof(spark, sf_dir):
    """J8: as-of join — each purchase aligned with the user's latest signup
    at or before it (nearest-earlier-event semantics of scheduleModifiedOn /
    eventTimestamp, copy_from_template.py:179-182). Union+window: one
    shuffle, no pair blowup."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    signups = e.filter(F.col("event_type") == "signup").select("user_id", F.col("ts").alias("signup_ts"))
    out = asof_join(
        purchases, signups, keys=["user_id"], left_ts="ts", right_ts="signup_ts",
        right_cols=["signup_ts"],
    )
    return out.select("event_id", "user_id", "ts", F.col("signup_ts_asof"))


@query(
    "join_cross",
    sql="""
    SELECT r.r_name AS region, f.l_returnflag AS returnflag
    FROM region r CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem) f
    ORDER BY region, returnflag
    """,
    order_by=("region", "returnflag"),
)
def join_cross(spark, sf_dir):
    """J9: cartesian panel of two small sides (the all-pairs scaffold used
    by the similarity ops at dimension scale)."""
    r = load(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    f = load(spark, sf_dir, "lineitem").select(F.col("l_returnflag").alias("returnflag")).distinct()
    return r.crossJoin(f)


@query(
    "join_stream_static_equiv",
    sql="""
    SELECT n.n_name AS nation, COUNT(*) AS n_events
    FROM events e JOIN nation n ON (e.user_id % 25) = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("nation",),
)
def join_stream_static_equiv(spark, sf_dir):
    """J10 (batch equivalent): enrich the event stream with a static
    broadcast dim. The streaming form (readStream → join → memory sink) is
    exercised in tests/test_streaming.py; this query verifies the same plan
    shape and result batch-side."""
    e = load(spark, sf_dir, "events")
    n = load(spark, sf_dir, "nation")
    return (
        e.join(F.broadcast(n), (F.col("user_id") % 25) == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# --- Blocked fuzzy record linkage -------------------------------------------

_FUZZY_SQL = """
    WITH p AS (
      SELECT p_partkey, p_name,
             array_to_string(list_slice(string_split(p_name, ' '), 1, 2), ' ') AS blk
      FROM part)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    ORDER BY key_a, key_b
"""


def _fuzzy_name_pairs(p: "DataFrame") -> "DataFrame":
    """Name-level fuzzy match: the expensive bounded-levenshtein verify runs
    over DISTINCT (block, name) values, never over records. Duplicated
    values are the norm in record linkage (the 10x scale sweep's replica has
    every name ~3500 times), and the naive record-level block join pays
    sum(|block|²) DP computations — 313M on the replica, found as a
    single-task >13-min cliff by tools/scale_sweep.py in r4. Distinct-first
    drops that to sum(|distinct-in-block|²) while the record fan-out becomes
    a cheap post-join. Self-pairs (n, n) are kept: they carry the dist-0
    edges between same-name records. Output: name_a, name_b, dist — both
    orientations, so the record join needs no order predicate on names."""
    names = p.select("blk", "p_name").distinct()
    na, nb = names.alias("na"), names.alias("nb")
    dist = F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"), 12)
    return (
        na.join(nb, F.col("na.blk") == F.col("nb.blk"))
        .select(
            F.col("na.p_name").alias("name_a"),
            F.col("nb.p_name").alias("name_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


@query("join_fuzzy_blocked", sql=_FUZZY_SQL, order_by=("key_a", "key_b"))
def join_fuzzy_blocked(spark, sf_dir):
    """Record linkage / fuzzy entity resolution: candidate pairs via a
    BLOCKING key (first two words of the name), verified by bounded edit
    distance — pairs are enumerated only within a block, never all-pairs.
    The verify is two-tier (r4 scale fix): bounded levenshtein over
    DISTINCT names per block (thresholded DP short-circuits past the
    bound, returns -1 above it; the oracle's unbounded levenshtein agrees
    exactly on every kept pair), then the record-level pairs fan out from
    the matched name pairs via broadcastable equi-joins. The record table
    is explicitly repartitioned first so the fan-out's parallelism comes
    from the cluster width, not the input split count (a single-file
    fixture otherwise funnels the entire pair enumeration through one
    task — the r4 sweep cliff)."""
    p = (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_name",
            F.concat_ws(" ", F.slice(F.split("p_name", " "), 1, 2)).alias("blk"),
        )
    )
    pairs = _fuzzy_name_pairs(p)
    keys = p.repartition(spark.sparkContext.defaultParallelism).select(
        "p_partkey", "p_name"
    )
    from ..caching import track

    linked = (
        keys.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
        .join(pairs, "name_a")
        .join(
            keys.select(
                F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
            ),
            "name_b",
        )
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "dist")
    )
    # Persist the linked pairs before the output ORDER BY: the range
    # partitioner's bounds-sampling pass otherwise RE-EXECUTES the whole
    # fan-out join subtree (measured 9.0-21.1 s noop -> 1.7-6.3 s at sf0.1,
    # sign-stable 3/3 interleaved). Same values, one computation.
    return track(linked.persist())


@query(
    "join_shuffled_hash",
    sql="""
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2 ORDER BY 1
    """,
    order_by=("s_suppkey",),
)
def join_shuffled_hash(spark, sf_dir):
    """J11: shuffled hash join — the third equi-join strategy after
    broadcast and sort-merge. Right for a mid-size build side that exceeds
    the broadcast threshold but fits per-partition memory: both sides
    shuffle on the key, the smaller builds an in-memory hash table per
    partition, NO sort of the big probe side (SMJ's dominant cost). Forced
    via the SHUFFLE_HASH hint; the plan guard asserts ShuffledHashJoin."""
    s = load(spark, sf_dir, "supplier").hint("SHUFFLE_HASH")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(dmoney("l_quantity"), "total_qty"),
        )
    )


@query(
    "er_entity_clusters",
    sql="""
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name,
             array_to_string(list_slice(string_split(p_name, ' '), 1, 2), ' ') AS blk
      FROM part),
    pairs AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 12),
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node),
    lab AS (SELECT node, MIN(label) AS ent FROM reach GROUP BY node)
    SELECT pp.p_partkey AS record_id,
           COALESCE(l.ent, pp.p_partkey) AS entity_id
    FROM part pp LEFT JOIN lab l ON l.node = pp.p_partkey
    ORDER BY record_id
    """,
    order_by=("record_id",),
)
def er_entity_clusters(spark, sf_dir):
    """End-to-end entity resolution — the record-linkage pipeline as ONE
    query: blocked fuzzy matching (join_fuzzy_blocked's block + bounded
    levenshtein verify) feeds transitive closure (connected components),
    and every record gets a canonical entity id (min key of its match
    cluster; unmatched records are their own entity, so the output covers
    the FULL record set). The standard dedupe/master-data shape: match →
    cluster → survivorship key.

    Scale shape: the match join enumerates pairs only inside blocks
    (sum(|block|^2), never all-pairs); closure is min-label propagation
    with 1 shuffle/round on the match-pair set (tiny vs the record set,
    driver union-find below the adaptive threshold); the final labeling is
    one keyed left join of the record table against the label map."""
    from ..llm.dedup import connected_components

    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.concat_ws(" ", F.slice(F.split("p_name", " "), 1, 2)).alias("blk"),
    )
    # Two-tier match (r4 scale fix, shared with join_fuzzy_blocked): fuzzy
    # verify over DISTINCT names; same-name records collapse to their MIN
    # key as the closure node, so the component graph has |distinct names|
    # nodes instead of |records| — the record-level dist-0 edge clique
    # (quadratic in the duplication factor) is never materialized. The
    # min-key node ids make the cluster label identical to the record-level
    # formulation's (min record key of the transitive match cluster).
    mk = p.groupBy("p_name").agg(F.min("p_partkey").alias("mk"))
    edges = (
        _fuzzy_name_pairs(p)
        .join(mk.select(F.col("p_name").alias("name_a"), F.col("mk").alias("doc_a")), "name_a")
        .join(mk.select(F.col("p_name").alias("name_b"), F.col("mk").alias("doc_b")), "name_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    lab = connected_components(edges).select(F.col("node").alias("mk"), "cluster_id")
    label_map = mk.join(lab, "mk", "left").select(
        "p_name", F.coalesce(F.col("cluster_id"), F.col("mk")).alias("entity_id")
    )
    # LEFT join + coalesce, not inner (ADVICE r4): a record whose p_name is
    # NULL (or otherwise misses the label map) must stay in the output with
    # entity_id = its own key — the full-cover contract. Fixture names are
    # non-null, so this only matters on arbitrary inputs.
    return (
        p.select(F.col("p_partkey").alias("record_id"), "p_name")
        .join(label_map, "p_name", "left")
        .select(
            "record_id",
            F.coalesce(F.col("entity_id"), F.col("record_id")).alias("entity_id"),
        )
    )


@query(
    "join_asof_forward",
    sql="""
    SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
           CAST(r.ts AS TIMESTAMP) AS next_signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    ORDER BY l.event_id
    """,
    order_by=("event_id",),
)
def join_asof_forward(spark, sf_dir):
    """J8b: FORWARD as-of join (pandas ``merge_asof(direction='forward')``) —
    each purchase aligned with the user's next signup at or after it
    (re-engagement lag). Same single-shuffle union+window plan as J8, scan
    order reversed; oracle is DuckDB's forward ``ASOF`` (``l.ts <= r.ts``)."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    out = asof_join(
        purchases, signups, keys=["user_id"], left_ts="ts", right_ts="signup_ts",
        right_cols=["signup_ts"], direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("signup_ts_asof").alias("next_signup_ts")
    )


@query(
    "join_asof_nearest",
    sql="""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    r AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
    pairs AS (
      SELECT l.event_id, l.user_id, l.ts, r.ts AS rts,
             abs(date_diff('microsecond', r.ts, l.ts)) AS dist,
             CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END AS fwd
      FROM l LEFT JOIN r USING (user_id)),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY dist, fwd, rts) AS rn
      FROM pairs)
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(rts AS TIMESTAMP) AS nearest_signup_ts
    FROM ranked WHERE rn = 1 ORDER BY event_id
    """,
    order_by=("event_id",),
)
def join_asof_nearest(spark, sf_dir):
    """J8c: NEAREST as-of join (pandas ``merge_asof(direction='nearest')``,
    exact ties prefer the earlier match) — closest signup in either time
    direction. Still ONE shuffle: both direction fills are windows over the
    same hash partitioning (two sorts, zero extra exchanges). The oracle
    ranks the per-user pair set by absolute distance — quadratic per user,
    fine for DuckDB at sf0.01; the Spark side never forms pairs."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    out = asof_join(
        purchases, signups, keys=["user_id"], left_ts="ts", right_ts="signup_ts",
        right_cols=["signup_ts"], direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("signup_ts_asof").alias("nearest_signup_ts")
    )
