"""Advanced corpus / graph / lifecycle analytics.

Operators a production curation stack layers on top of the §2 core
(reference scope: the score/table folders of
/root/reference/synapseformation_templates/default.yaml:3-10 hold exactly
these derived analytics): sketch-pruned heavy hitters, bounded-hop BFS,
snapshot/schema/distribution diffing for dataset versioning, association
rules and PMI collocations, crypto round-trip, calendar seasonality and
DAU/WAU, windowed funnels and CEP pattern runs, winnowing fingerprints,
hybrid RRF retrieval and MMR re-ranking, leakage-safe splits and balanced
sharding, Gini/decile/quantile statistics without global windows,
quantization calibration (int8 error + binary NDCG), embedding drift, and
join-explosion/watermark preflight profilers. Every query keeps the float
discipline from NOTES.md (exact integer accumulation; any final float op is
a fixed expression evaluated identically by both engines).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ..catalog import load, scratch_path
from ..functions.text import word_shingles, ws_tokens
from ..caching import track
from .registry import query

# --- Heavy hitters: local-candidate prune + exact verify -------------------
#
# The two-pass Misra-Gries/CMS shape for "frequent tokens over a 100-TB
# corpus" WITHOUT shuffling the full distinct-token domain: pass 1 counts
# tokens per partition in an Arrow-batched mapInPandas and emits only tokens
# with local_count * DEN >= local_total (a candidate SUPERSET by pigeonhole:
# if a token's global share is >= 1/DEN, some partition must hold it with
# local share >= 1/DEN — otherwise summing the strict inequalities over
# partitions contradicts the global share). Pass 2 exact-counts ONLY the
# candidates (broadcast semi-join prunes the token stream before the
# groupBy), so the shuffle carries candidate rows, not the whole vocabulary.
# All thresholds are exact integer comparisons (c * DEN >= n).

_HH_DEN = 50  # support threshold: share >= 1/50 = 2% of all tokens


@query(
    "llm_heavy_hitters",
    sql=rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents)
    SELECT tok, COUNT(*) AS n
    FROM toks
    GROUP BY tok
    HAVING COUNT(*) * {_HH_DEN} >= (SELECT COUNT(*) FROM toks)
    ORDER BY n DESC, tok
    """,
    order_by=("n DESC", "tok"),
)
def llm_heavy_hitters(spark, sf_dir):
    """Exact frequent-token mining, sketch-pruned: per-partition candidate
    generation (mapInPandas, emits only locally-frequent tokens) + exact
    verify of candidates only. The oracle is the plain GROUP BY ... HAVING
    — the pruned plan must reproduce it exactly."""
    d = load(spark, sf_dir, "documents")
    toks_arr = d.select(ws_tokens("text").alias("toks"))

    def local_candidates(batches):
        from collections import Counter

        counts: Counter = Counter()
        n = 0
        for pdf in batches:
            if "toks" not in pdf.columns:  # empty batch may lack columns
                continue
            for arr in pdf["toks"]:
                if arr is None:
                    continue
                counts.update(arr)
                n += len(arr)
        out = [t for t, c in counts.items() if c * _HH_DEN >= n]
        yield pd.DataFrame({"tok": pd.Series(out, dtype="object")})

    cands = toks_arr.mapInPandas(local_candidates, "tok string").distinct()
    # explode_outer (NOTES lesson 1: non-outer explode inlines the token
    # expression into a pushed filter) + isNotNull: a NULL/empty text row
    # must contribute ZERO rows to the denominator, exactly like the
    # oracle's unnest of a NULL list (ADVICE r2).
    toks = d.select(F.explode_outer(ws_tokens("text")).alias("tok")).where(
        F.col("tok").isNotNull()
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n") * _HH_DEN >= F.col("n_tokens"))
        .select("tok", "n")
    )


# --- Bounded-hop BFS (shortest paths from a source set) --------------------


@query(
    "graph_shortest_paths",
    sql="""
    WITH RECURSIVE arcs AS (
      SELECT e.user_id AS src, n.user_id AS dst
      FROM events e JOIN events n ON n.event_id = e.event_id + 1
      WHERE e.user_id <> n.user_id),
    edges AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM arcs),
    bi AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges),
    srcs AS (SELECT DISTINCT src AS node FROM bi WHERE src % 50 = 0),
    w(node, hop) AS (
      SELECT node, 0 FROM srcs
      UNION
      SELECT bi.dst, w.hop + 1 FROM w JOIN bi ON bi.src = w.node
      WHERE w.hop < 3),
    dist AS (SELECT node, MIN(hop) AS hops FROM w GROUP BY node)
    SELECT hops, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS sum_node
    FROM dist GROUP BY hops ORDER BY hops
    """,
    order_by=("hops",),
)
def graph_shortest_paths(spark, sf_dir):
    """Multi-source BFS, <= 3 hops, over the event hand-off graph (same edge
    derivation as graph_triangles). Level-synchronous frontier expansion —
    each hop is one equi-join frontier x edges plus an anti-join against the
    settled set, so per-level work is O(frontier-degree sum), never the
    path-explosion a naive transitive closure pays. The oracle's recursive
    CTE uses UNION (not ALL) for the same dedup-per-level semantics."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    nxt = e.select(
        (F.col("event_id") - 1).alias("event_id"), F.col("user_id").alias("next_user")
    )
    arcs = (
        e.join(nxt, "event_id")
        .where(F.col("next_user") != F.col("user_id"))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    edges = arcs.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    # Both orientations with ONE explode (NOTES.md lesson: unionAll of the
    # same build recomputes the distinct twice).
    bi = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                    F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
                )
            ).alias("a")
        )
        .select("a.src", "a.dst")
        .persist()  # reused by every BFS level
    )
    track(bi)
    dist = (
        bi.select(F.col("src").alias("node"))
        .where(F.col("node") % 50 == 0)
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    frontier = dist
    for h in (1, 2, 3):
        expanded = (
            frontier.join(bi, frontier["node"] == bi["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = expanded.join(dist.select("node"), "node", "left_anti").withColumn(
            "hops", F.lit(h)
        )
        dist = track(dist.union(fresh).persist())
        frontier = fresh
    return (
        dist.groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("node").alias("sum_node"))
    )


# --- Snapshot diff (dataset versioning) ------------------------------------


@query(
    "snapshot_diff",
    sql="""
    WITH v1 AS (
      SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0
                  THEN CAST(floor(o_totalprice * 100) AS BIGINT) * 2
                  ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END AS cents,
             o_orderstatus
      FROM orders WHERE o_orderkey % 5 <> 0),
    d AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
             CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                  WHEN v2.o_orderkey IS NULL THEN 'removed'
                  WHEN v1.cents <> v2.cents
                       OR v1.o_orderstatus <> v2.o_orderstatus THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
    SELECT status, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum
    FROM d GROUP BY status ORDER BY status
    """,
    order_by=("status",),
)
def snapshot_diff(spark, sf_dir):
    """Version-to-version dataset diff (added / removed / changed /
    unchanged) — the audit step of every incremental-snapshot pipeline
    (pairs with llm_dedup_incremental). One full outer join on the key;
    value comparison in exact integer cents. At scale both snapshots
    arrive partitioned by the key, so the join is co-located; counts
    aggregate map-side."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    v1 = o.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", cents.alias("cents"), "o_orderstatus"
    )
    v2 = o.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, cents * 2).otherwise(cents).alias("cents"),
        "o_orderstatus",
    )
    j = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.o_orderkey") == F.col("v2.o_orderkey"), "full_outer"
    )
    status = (
        F.when(F.col("v1.o_orderkey").isNull(), "added")
        .when(F.col("v2.o_orderkey").isNull(), "removed")
        .when(
            (F.col("v1.cents") != F.col("v2.cents"))
            | (F.col("v1.o_orderstatus") != F.col("v2.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("v1.o_orderkey"), F.col("v2.o_orderkey")).alias("k"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("key_sum"))
    )


# --- Association rules (support / confidence / lift) -----------------------


@query(
    "q_assoc_rules",
    sql="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
    bc AS (SELECT brand, COUNT(*) AS bn FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS pair_n
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2)
    SELECT p.brand_a, p.brand_b, p.pair_n, ba.bn AS a_n, bb.bn AS b_n,
           (p.pair_n * 1000000) // ba.bn AS conf_ppm,
           CAST((CAST(p.pair_n AS HUGEINT) * n.n_orders * 1000000)
                // (CAST(ba.bn AS HUGEINT) * bb.bn) AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN bc ba ON ba.brand = p.brand_a
    JOIN bc bb ON bb.brand = p.brand_b, n
    WHERE p.pair_n >= 5
    ORDER BY lift_ppm DESC, p.brand_a, p.brand_b LIMIT 50
    """,
)
def q_assoc_rules(spark, sf_dir):
    """Market-basket association rules over brands co-occurring in an order:
    support counts by self-joining the (order, brand) set on the order key
    (brand_a < brand_b canonical), confidence/lift as exact integer
    parts-per-million (BIGINT multiply then floor-div — no float division to
    disagree on). The per-order distinct set bounds pair fan-out at
    (basket size choose 2); brand counts are broadcast back onto pairs."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .persist()  # three appearances (pair self-join + brand counts + total)
    )
    track(ob)
    n_orders = ob.agg(F.countDistinct("okey").alias("n_orders"))
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("bn"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .where(F.col("pair_n") >= 5)
    )
    ba = bc.select(F.col("brand").alias("brand_a"), F.col("bn").alias("a_n"))
    bb = bc.select(F.col("brand").alias("brand_b"), F.col("bn").alias("b_n"))
    return (
        pairs.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "pair_n",
            "a_n",
            "b_n",
            F.expr("pair_n * 1000000 DIV a_n").alias("conf_ppm"),
            # The triple product overflows int64 around ~15M orders; widen
            # through DECIMAL(38,0) (Spark) / HUGEINT (oracle) — DIV on
            # decimals is the exact integral quotient, result BIGINT
            # (ADVICE r2).
            F.expr(
                "CAST(pair_n AS DECIMAL(38,0)) * n_orders * 1000000"
                " DIV (CAST(a_n AS DECIMAL(19,0)) * b_n)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "brand_a", "brand_b")
        .limit(50)
    )


# --- Crypto round-trip -----------------------------------------------------

_AES_KEY = "0123456789abcdef"  # 16-byte demo key (AES-128)


@query(
    "f_crypto_roundtrip",
    sql=f"""
    SELECT c_custkey, c_name AS name_rt,
           (octet_length(encode(c_name)) // 16 + 1) * 16 AS ct_len
    FROM customer ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def f_crypto_roundtrip(spark, sf_dir):
    """Column-level encryption round-trip (PII-at-rest shape):
    aes_encrypt -> aes_decrypt must restore the plaintext, and ECB/PKCS
    ciphertext length is deterministic (next full 16-byte block), which the
    oracle computes arithmetically. Runs entirely in codegen'd JVM
    expressions — no UDF."""
    c = load(spark, sf_dir, "customer")
    enc = F.expr(f"aes_encrypt(c_name, '{_AES_KEY}', 'ECB', 'PKCS')")
    dec = F.expr(
        f"CAST(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}', 'ECB', 'PKCS'),"
        f" '{_AES_KEY}', 'ECB', 'PKCS') AS STRING)"
    )
    return c.select(
        "c_custkey",
        dec.alias("name_rt"),
        F.octet_length(enc).cast("long").alias("ct_len"),
    )


# --- Calendar seasonality --------------------------------------------------


@query(
    "events_seasonality",
    sql="""
    WITH b AS (
      SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             user_id, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT (es // 86400 + 4) % 7 AS dow,
           (es % 86400) // 3600 AS hr,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("dow", "hr"),
)
def events_seasonality(spark, sf_dir):
    """Day-of-week x hour-of-day activity heatmap. Both engines derive the
    calendar buckets from the SAME integer epoch arithmetic (1970-01-01 was
    a Thursday; +4 makes 0=Sunday) instead of locale-dependent dayofweek
    functions, and values quantize to integer cents before summing."""
    e = load(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    return (
        e.select(
            (((es / F.lit(86400)).cast("long") + 4) % 7).alias("dow"),
            ((es % 86400) / F.lit(3600)).cast("long").alias("hr"),
            "user_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("dow", "hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("cents_sum"),
        )
    )


# --- Windowed funnel (ClickHouse windowFunnel shape) -----------------------


@query(
    "events_window_funnel",
    sql="""
    WITH v AS (SELECT user_id, ts AS t0 FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts AS tc FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS tp FROM events WHERE event_type = 'purchase'),
    vc AS (
      SELECT v.user_id, v.t0, MIN(c.tc) AS t1
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.tc > v.t0 AND c.tc <= v.t0 + INTERVAL 1 HOUR
      GROUP BY 1, 2),
    vcp AS (
      SELECT DISTINCT vc.user_id
      FROM vc JOIN p ON p.user_id = vc.user_id
       AND p.tp > vc.t1 AND p.tp <= vc.t0 + INTERVAL 1 HOUR),
    lvl AS (
      SELECT u.user_id,
             CASE WHEN u3.user_id IS NOT NULL THEN 3
                  WHEN u2.user_id IS NOT NULL THEN 2
                  ELSE 1 END AS level
      FROM (SELECT DISTINCT user_id FROM v) u
      LEFT JOIN (SELECT DISTINCT user_id FROM vc) u2 ON u2.user_id = u.user_id
      LEFT JOIN vcp u3 ON u3.user_id = u.user_id)
    SELECT level, COUNT(*) AS n_users FROM lvl GROUP BY 1 ORDER BY 1
    """,
    order_by=("level",),
)
def events_window_funnel(spark, sf_dir):
    """Time-bounded funnel (view -> click -> purchase, all within 1 hour of
    the anchoring view): the windowFunnel semantics events_funnel's
    unbounded-greedy chain can't express. Per anchor view the EARLIEST
    qualifying click is provably optimal (it maximizes the remaining
    window), so one min-aggregate per stage suffices — no per-path search.
    Every join is user_id-keyed: co-partitioned at scale, per-user range
    predicates evaluated within the partition."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = F.expr("INTERVAL 1 HOUR")
    v = e.where(F.col("event_type") == "view").select("user_id", F.col("ts").alias("t0"))
    c = e.where(F.col("event_type") == "click").select("user_id", F.col("ts").alias("tc"))
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("tp")
    )
    vc = (
        v.join(c, "user_id")
        .where((F.col("tc") > F.col("t0")) & (F.col("tc") <= F.col("t0") + w))
        .groupBy("user_id", "t0")
        .agg(F.min("tc").alias("t1"))
    )
    vcp = (
        vc.join(p, "user_id")
        .where((F.col("tp") > F.col("t1")) & (F.col("tp") <= F.col("t0") + w))
        .select("user_id")
        .distinct()
        .withColumn("l3", F.lit(True))
    )
    u2 = vc.select("user_id").distinct().withColumn("l2", F.lit(True))
    level = (
        F.when(F.col("l3").isNotNull(), 3).when(F.col("l2").isNotNull(), 2).otherwise(1)
    )
    return (
        v.select("user_id")
        .distinct()
        .join(u2, "user_id", "left")
        .join(vcp, "user_id", "left")
        .select(level.alias("level"))
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- Sequence pattern matching (MATCH_RECOGNIZE shape) ---------------------


@query(
    "events_pattern_runs",
    sql="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT user_id, len(seq) AS n_events,
           length(regexp_replace(seq, '[^v]', '', 'g')) AS n_v,
           len(regexp_extract_all(seq, 'vc*p')) AS n_funnel_runs
    FROM s ORDER BY user_id
    """,
    order_by=("user_id",),
)
def events_pattern_runs(spark, sf_dir):
    """Complex-event regex over per-user ordered event sequences (the
    MATCH_RECOGNIZE pattern 'V C* P' as a string regex): encode each event
    as one char (types have distinct initials), assemble the ordered
    sequence via array_sort over (ts, event_id, char) structs — collect_list
    alone is order-nondeterministic — and count non-overlapping matches.
    One user-keyed aggregate; the per-user sequence is bounded by events
    per user, not corpus size."""
    e = load(spark, sf_dir, "events")
    item = F.struct(
        F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("ch")
    )
    seq = F.array_join(
        F.transform(F.array_sort(F.collect_list(item)), lambda x: x["ch"]), ""
    )
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").cast("long").alias("n_events"),
            F.length(F.regexp_replace("seq", "[^v]", "")).cast("long").alias("n_v"),
            F.regexp_count("seq", F.lit("vc*p")).cast("long").alias("n_funnel_runs"),
        )
    )


# --- Winnowing fingerprints (Schleimer et al., MOSS) -----------------------

_WIN_K = 4  # shingle width (words)
_WIN_W = 4  # winnowing window (shingle hashes per window)


@query(
    "llm_winnowing",
    sql=f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               list_transform(
                 generate_series(1, greatest(len({{toks}}) - {_WIN_K - 1}, 0)),
                 i -> array_to_string({{toks}}[i:i+{_WIN_K - 1}], ' ')),
               s -> substr(md5(s), 1, 16)) AS hs
      FROM documents)
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             list_transform(
               generate_series(1, greatest(len(hs) - {_WIN_W - 1}, 0)),
               i -> list_min(hs[i:i+{_WIN_W - 1}])))), ',') AS fp
    FROM g ORDER BY doc_id
    """.replace("{toks}", "string_split_regex(trim(lower(text)), '\\s+')"),
    order_by=("doc_id",),
)
def llm_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    MOSS scheme): hash every k-word shingle, slide a w-hash window, keep
    each window's minimum — guarantees any shared run of >= k+w-1 words
    between two documents shares a fingerprint, at ~2/(w+1) selection
    density. All in-row higher-order functions (zero shuffle until the
    final sort); fingerprints emit as canonical sorted text for the
    driver's scalar canon."""
    from ..partitioning import ensure_parallelism

    d = load(spark, sf_dir, "documents")
    # Materialize the token array, then the hash array, as named columns:
    # referencing a raw expression inside a window lambda would re-evaluate
    # the whole shingle+md5 tree once per window — O(n^2) md5 calls per
    # document (measured ~100x on this fixture) — and the element_at-based
    # word_shingles references its token input n+2 times (r10).
    # r11: widen the scan first (no-op on a multi-file corpus): the fixture
    # is one single-row-group file, so the md5-per-shingle winnowing pass
    # ran in ONE task (guide §2.5). Per-row op — values unchanged.
    hsdf = ensure_parallelism(d.select("doc_id", "text")).select(
        "doc_id", ws_tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.transform(
            word_shingles(F.col("toks"), _WIN_K), lambda s: F.substring(F.md5(s), 1, 16)
        ).alias("hs"),
    )
    hs = F.col("hs")
    m = F.size(hs)
    wins = F.when(
        m >= _WIN_W,
        F.transform(
            F.sequence(F.lit(1), m - (_WIN_W - 1)),
            lambda i: F.array_min(F.slice(hs, i, _WIN_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fps = hsdf.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(wins)), ",").alias("fp"),
    )
    # Persist before the output ORDER BY: the subtree is map-only, so the
    # range partitioner's bounds-sampling pass otherwise re-runs the whole
    # winnowing expression over every row a second time.
    from ..caching import track

    return track(fps.persist())


# --- Cohort lifetime value -------------------------------------------------


@query(
    "q_cohort_ltv",
    sql="""
    WITH o AS (
      SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS m,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    first AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY 1)
    SELECT first.m0 AS cohort, o.m - first.m0 AS offset_m,
           COUNT(DISTINCT o.o_custkey) AS n_active, CAST(SUM(o.cents) AS BIGINT) AS cents_sum
    FROM o JOIN first ON o.o_custkey = first.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("cohort", "offset_m"),
)
def q_cohort_ltv(spark, sf_dir):
    """Cohorted lifetime value: customers grouped by first-order month
    (integer month index — no calendar-diff function to disagree on),
    revenue and active-customer counts per month offset. Two custkey-keyed
    aggregates sharing one shuffle partitioning; cents stay exact int64."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        o.join(first, "o_custkey")
        .groupBy(F.col("m0").alias("cohort"), (F.col("m") - F.col("m0")).alias("offset_m"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("cents_sum"),
        )
    )


# --- Hybrid retrieval: reciprocal-rank fusion ------------------------------


from .llm import _BM25_SQL
from .pipeline import _SQL_EDGES

_RRF_SQL = f"""
    WITH bm AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS r
      FROM ({_BM25_SQL})),
    kn AS (
      SELECT CAST(neighbor_id AS BIGINT) AS doc_id, CAST(rank AS BIGINT) AS r FROM (
        SELECT c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])) DESC,
                          c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id = 3 AND c.vec_id <> 3)
      WHERE rank <= 10)
    SELECT COALESCE(bm.doc_id, kn.doc_id) AS doc_id,
           COALESCE(1000000 // (60 + bm.r), 0)
             + COALESCE(1000000 // (60 + kn.r), 0) AS rrf_ppm,
           COALESCE(bm.r, 0) AS r_lex, COALESCE(kn.r, 0) AS r_sem
    FROM bm FULL JOIN kn ON bm.doc_id = kn.doc_id
    ORDER BY rrf_ppm DESC, doc_id
    """


@query("llm_hybrid_rrf", sql=_RRF_SQL, order_by=("rrf_ppm DESC", "doc_id"))
def llm_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval for probe id 3: fuse the BM25 lexical top-10 (doc
    3's tokens as the query) with the embedding cosine top-10 (vec 3 as the
    query) by reciprocal-rank fusion, RRF_k=60, scores as exact integer ppm
    (1e6 DIV (60+rank)) so the fusion is bit-stable. Both input rankings
    are k-bounded, so the fusion join and its row_number are over <= 2k
    rows — constant-size at any corpus scale; all the heavy lifting stays
    in the BM25/KNN operators' scale-shaped plans."""
    from pyspark.sql import Window

    from ..llm.similarity import knn_bruteforce_np
    from .llm import llm_bm25_topk

    bm10 = llm_bm25_topk(spark, sf_dir)
    bm = bm10.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_ppm"), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 3)
    kn = knn_bruteforce_np(q, e, k=10).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("long").alias("r_sem")
    )
    j = bm.alias("bm").join(kn.alias("kn"), "doc_id", "full_outer")
    rrf = F.coalesce(F.expr("1000000 DIV (60 + r_lex)"), F.lit(0)) + F.coalesce(
        F.expr("1000000 DIV (60 + r_sem)"), F.lit(0)
    )
    return j.select(
        "doc_id",
        rrf.cast("long").alias("rrf_ppm"),
        F.coalesce("r_lex", F.lit(0)).cast("long").alias("r_lex"),
        F.coalesce("r_sem", F.lit(0)).cast("long").alias("r_sem"),
    )


# --- Leakage-safe train/val split (cluster-aware) --------------------------


_LEAKAGE_SAFE_SQL = f"""
    WITH RECURSIVE
    {_SQL_EDGES},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node),
    cc AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
    rep AS (
      SELECT d.doc_id, d.lang, COALESCE(cc.cluster_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node)
    SELECT CASE WHEN substring(md5(CAST(rep_id AS VARCHAR)), 1, 2) <= '0c'
                THEN 'val' ELSE 'train' END AS split,
           lang, COUNT(*) AS n
    FROM rep GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("train_split_leakage_safe", sql=_LEAKAGE_SAFE_SQL, order_by=("split", "lang"))
def train_split_leakage_safe(spark, sf_dir):
    """Cluster-aware train/val split: hash the near-dup CLUSTER
    representative (min doc id of the 5-gram-Jaccard component, same edge
    set as llm_dedup_clusters) instead of the document id, so near-duplicate
    documents can never straddle the split — the eval-leakage failure mode
    of naive per-doc hashing. Singleton docs hash their own id; split rule
    matches train_split_assign (~5% val)."""
    from ..llm.dedup import _shingle_arrays, connected_components, prefix_filtered_pairs

    d = load(spark, sf_dir, "documents")
    arrays = _shingle_arrays(d, "text", "doc_id", 5, hashed=True)
    # Same edge source as llm_dedup_clusters (r3: prefix-filtered exact
    # join at the 0.5 near-dup threshold — scale-correct plan shape).
    edges = prefix_filtered_pairs(arrays, min_jaccard=0.5).select("doc_a", "doc_b")
    cc = connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    rep = d.join(cc, "doc_id", "left").select(
        "lang", F.coalesce("cluster_id", "doc_id").alias("rep_id")
    )
    split = F.when(
        F.substring(F.md5(F.col("rep_id").cast("string")), 1, 2) <= "0c", "val"
    ).otherwise("train")
    return (
        rep.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- Gini concentration (distributed rank, no global window) ----------------


@query(
    "q_gini_revenue",
    sql="""
    WITH pc AS (
      SELECT o_custkey,
             SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
    r AS (
      SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
      FROM pc)
    SELECT COUNT(*) AS n_customers, CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents) AS DOUBLE)
             / CAST(COUNT(*) * SUM(cents) AS DOUBLE) AS gini
    FROM r
    """,
)
def q_gini_revenue(spark, sf_dir):
    """Gini coefficient of per-customer revenue. The rank-weighted form
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) needs a GLOBAL rank of
    customers by revenue — routed through assign_contiguous_ids
    (range-partition + per-partition offsets), not an unpartitioned
    window, so no one-task sort at scale. Ties are ordered by custkey; the
    rank-weighted sum is tie-order invariant (equal x values contribute
    the same regardless of rank permutation). All sums exact int64; the
    final division is one IEEE op on identical operands."""
    from ..operators.rowids import assign_contiguous_ids

    o = load(spark, sf_dir, "orders")
    pc = (
        o.select("o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    ranked = assign_contiguous_ids(pc, ["cents", "o_custkey"], id_name="i0")
    return ranked.select("cents", (F.col("i0") + 1).alias("i")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        (
            (2 * F.sum(F.col("i") * F.col("cents")) - (F.count(F.lit(1)) + 1) * F.sum("cents")).cast("double")
            / (F.count(F.lit(1)) * F.sum("cents")).cast("double")
        ).alias("gini"),
    )


# --- PMI co-occurrence (collocation mining) ---------------------------------

# Relative floors (exact integer comparisons, SF-independent): a token must
# appear in >= 1/25 of documents, a pair must co-occur in >= 1/100.
_PMI_DF_DEN = 25
_PMI_AB_DEN = 100


@query(
    "llm_pmi_pairs",
    sql=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    df AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok
           HAVING COUNT(*) * {_PMI_DF_DEN} >= (SELECT n_docs FROM n)),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      JOIN df fa ON fa.tok = a.tok JOIN df fb ON fb.tok = b.tok
      GROUP BY 1, 2 HAVING COUNT(*) * {_PMI_AB_DEN} >= (SELECT n_docs FROM n))
    SELECT p.tok_a, p.tok_b, p.n_ab, fa.df AS df_a, fb.df AS df_b,
           CAST((CAST(p.n_ab AS HUGEINT) * n.n_docs * 1000000)
                // (CAST(fa.df AS HUGEINT) * fb.df) AS BIGINT) AS pmi_ratio_ppm
    FROM pairs p JOIN df fa ON fa.tok = p.tok_a
                 JOIN df fb ON fb.tok = p.tok_b, n
    ORDER BY pmi_ratio_ppm DESC, tok_a, tok_b LIMIT 40
    """,
)
def llm_pmi_pairs(spark, sf_dir):
    """Collocation mining: document-level PMI for frequent token pairs. The
    PMI *ratio* p(a,b)/(p(a)p(b)) = n_ab*N/(df_a*df_b) stays an exact
    integer ppm — no cross-engine log. Scale shape: the document-frequency
    floor is applied BEFORE the per-doc pair self-join (broadcast semi-join
    on the tiny hot-vocabulary), so pair fan-out is (hot tokens per doc
    choose 2), not (tokens per doc choose 2)."""
    d = load(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode_outer(ws_tokens("text")).alias("tok"))
        .where(F.col("tok").isNotNull())  # match unnest: NULL text → no rows
        .distinct()
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    df_ = (
        dt.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") * _PMI_DF_DEN >= F.col("n_docs"))
        .select("tok", "df")
        .persist()  # three appearances (prune + two count joins)
    )
    track(df_)
    hot = dt.join(F.broadcast(df_.select("tok")), "tok").select("doc_id", "tok")
    a, b = hot.alias("a"), hot.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("n_ab") * _PMI_AB_DEN >= F.col("n_docs"))
        .select("tok_a", "tok_b", "n_ab")
    )
    fa = df_.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    fb = df_.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "df_a",
            "df_b",
            # DECIMAL-widened like q_assoc_rules' lift_ppm: n_ab*n_docs*1e6
            # overflows int64 once the corpus passes ~10M docs (ADVICE r2).
            F.expr(
                "CAST(n_ab AS DECIMAL(38,0)) * n_docs * 1000000"
                " DIV (CAST(df_a AS DECIMAL(19,0)) * df_b)"
            ).alias("pmi_ratio_ppm"),
        )
        .orderBy(F.desc("pmi_ratio_ppm"), "tok_a", "tok_b")
        .limit(40)
    )


# --- Binary-quantization retrieval quality (NDCG@10) ------------------------
#
# NDCG weights 1/log2(i+1) quantized once driver-side to integer ppm and
# embedded as LITERALS in both engines — the log never runs inside either
# engine, so there is no cross-engine libm exposure. Sign-vector cosines are
# exact rationals m/64 on a 64-dim embedding (every product is ±1/64), so
# the proxy ranking ties deterministically on vec_id in both engines.

import math as _math

_NDCG_K = 10
_NDCG_W = [round(1_000_000 / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]
_NDCG_IDCG = sum((_NDCG_K + 1 - i) * _NDCG_W[i - 1] for i in range(1, _NDCG_K + 1))

_NDCG_CASE = "CASE rnk " + " ".join(
    f"WHEN {i} THEN {_NDCG_W[i - 1]}" for i in range(1, _NDCG_K + 1)
) + " END"


@query(
    "llm_binary_quant_ndcg",
    sql=f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END) AS semb
      FROM embeddings),
    true10 AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) AS rnk
        FROM s q JOIN s c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
      WHERE rnk <= {_NDCG_K}),
    proxy10 AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.semb, c.semb) DESC, c.vec_id) AS rnk
        FROM s q JOIN s c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
      WHERE rnk <= {_NDCG_K}),
    j AS (
      SELECT p.query_id, p.rnk,
             COALESCE({_NDCG_K + 1} - t.rnk, 0) AS rel
      FROM proxy10 p LEFT JOIN true10 t
        ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id)
    SELECT query_id, CAST(SUM(rel * {_NDCG_CASE}) AS BIGINT) AS dcg,
           CAST((SUM(rel * {_NDCG_CASE}) * 1000000) // {_NDCG_IDCG} AS BIGINT) AS ndcg_ppm
    FROM j GROUP BY 1 ORDER BY 1
    """,
    order_by=("query_id",),
)
def llm_binary_quant_ndcg(spark, sf_dir):
    """Retrieval-quality report for 1-bit (sign) embedding quantization:
    NDCG@10 of the sign-cosine ranking against the full-precision cosine
    ranking as graded truth (rel = 11 - true rank). The binary-quantization
    recall/quality check every embedding-compression rollout runs. Both
    rankings are the proven GEMM brute-force path; the NDCG arithmetic is
    exact integers end to end."""
    from ..llm.similarity import knn_bruteforce_np

    e = load(spark, sf_dir, "embeddings")
    sgn = F.transform(
        F.col("embedding"),
        lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)).cast("float"),
    )
    es = e.select("vec_id", sgn.alias("embedding"))
    probes = e.filter(F.col("vec_id") % 50 == 0)
    probes_s = es.filter(F.col("vec_id") % 50 == 0)
    true10 = knn_bruteforce_np(probes, e, k=_NDCG_K).select(
        "query_id", "neighbor_id", (_NDCG_K + 1 - F.col("rank")).cast("long").alias("rel")
    )
    proxy10 = knn_bruteforce_np(probes_s, es, k=_NDCG_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("rnk")
    )
    j = proxy10.join(true10, ["query_id", "neighbor_id"], "left").select(
        "query_id", "rnk", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    w = F.col("rnk")
    weight = F.lit(None).cast("long")
    for i in range(1, _NDCG_K + 1):
        weight = F.when(w == i, F.lit(_NDCG_W[i - 1])).otherwise(weight)
    return (
        j.select("query_id", (F.col("rel") * weight).alias("t"))
        .groupBy("query_id")
        .agg(F.sum("t").alias("dcg"))
        .select(
            "query_id",
            "dcg",
            F.expr(f"dcg * 1000000 DIV {_NDCG_IDCG}").alias("ndcg_ppm"),
        )
    )


# --- Exact decile binning (feature bucketization) ---------------------------


@query(
    "q_decile_bins",
    sql="""
    WITH pc AS (
      SELECT o_custkey, SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
    r AS (
      SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) - 1 AS i,
             (SELECT COUNT(*) FROM pc) AS n
      FROM pc)
    SELECT (i * 10) // n + 1 AS decile, COUNT(*) AS n_members,
           CAST(MIN(cents) AS BIGINT) AS min_cents, CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM r GROUP BY 1 ORDER BY 1
    """,
    order_by=("decile",),
)
def q_decile_bins(spark, sf_dir):
    """Exact decile bucketization of per-customer revenue — the quantile
    binning step of feature engineering, WITHOUT ntile's unpartitioned
    window: global position i comes from assign_contiguous_ids
    (range-partition + offsets) and the bucket is the explicit integer
    formula (i*10)//n + 1, identical in both engines (ntile's
    remainder-distribution rule would be a semantics trap)."""
    from ..operators.rowids import assign_contiguous_ids

    o = load(spark, sf_dir, "orders")
    pc = (
        o.select("o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    # one sizing count feeds both the id-assign and the decile denominator
    # (r10: was an internal count inside the id-assign plus a
    # crossJoin(broadcast(count-agg)) at action time).
    # BUILD-TIME LITERAL: `n` is folded into the plan at build time, per
    # the registry's build-then-execute contract (every invocation rebuilds
    # from the live input). Build-once-execute-later against CHANGED data
    # would see a stale denominator — rebuild after data changes.
    n = pc.count()
    ranked = assign_contiguous_ids(pc, ["cents", "o_custkey"], id_name="i", n_rows=n)
    return (
        ranked.select("cents", F.expr(f"i * 10 DIV {n} + 1").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.sum("cents").alias("cents_sum"),
        )
    )


# --- Within-group quantile normalization ------------------------------------


@query(
    "llm_length_quantile",
    sql="""
    WITH r AS (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
                  AS BIGINT) - 1 AS i,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM documents)
    SELECT doc_id, lang, (i * 1000000) // greatest(n - 1, 1) AS pct_ppm
    FROM r ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def llm_length_quantile(spark, sf_dir):
    """Quantile normalization of document length WITHIN language (the
    per-group score calibration every mixed-corpus quality filter needs —
    raw length thresholds are incomparable across languages). The window is
    PARTITIONED by lang, so each group sorts within its own partitions at
    scale; the percentile is the exact integer (i*1e6)//(n-1)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    wo = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            (F.row_number().over(wo).cast("long") - 1).alias("i"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .select("doc_id", "lang", F.expr("i * 1000000 DIV greatest(n - 1, 1)").alias("pct_ppm"))
    )


# --- Lexical vs semantic dedup agreement ------------------------------------


@query(
    "llm_dedup_agreement",
    sql="""
    WITH docs AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN embeddings e ON d.doc_id = e.vec_id),
    sh AS (
      SELECT doc_id AS doc,
             unnest(CASE WHEN len(list_transform(
                      generate_series(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 4, 0)),
                      i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+4], ' '))) > 0
                    THEN list_distinct(list_transform(
                      generate_series(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 4, 0)),
                      i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+4], ' ')))
                    ELSE [array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')] END) AS shingle
      FROM docs),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2),
    lex AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN sizes sa ON i.doc_a = sa.doc
                   JOIN sizes sb ON i.doc_b = sb.doc
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.3),
    sem AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4),
    j AS (
      SELECT CASE WHEN lex.doc_a IS NULL THEN 'sem_only'
                  WHEN sem.doc_a IS NULL THEN 'lex_only'
                  ELSE 'both' END AS status,
             COALESCE(lex.doc_a, sem.doc_a) + COALESCE(lex.doc_b, sem.doc_b) AS key_sum
      FROM lex FULL JOIN sem ON lex.doc_a = sem.doc_a AND lex.doc_b = sem.doc_b)
    SELECT status, COUNT(*) AS n_pairs, CAST(SUM(key_sum) AS BIGINT) AS keys_sum
    FROM j GROUP BY status ORDER BY status
    """,
    order_by=("status",),
)
def llm_dedup_agreement(spark, sf_dir):
    """Multi-signal dedup agreement matrix: which near-dup pairs does the
    LEXICAL detector (exact 5-gram Jaccard >= 0.3) flag vs the SEMANTIC one
    (exact blocked-GEMM cosine >= 0.4, embeddings keyed by the same ids)?
    The lex_only/sem_only/both contingency is the calibration report that
    decides cascade thresholds. Both pair sets are the proven exact
    operators; the fusion is one pair-keyed full outer join."""
    from ..llm.dedup import _shingle_arrays, prefix_filtered_pairs
    from ..llm.similarity import blocked_cosine_pairs

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    docs = d.join(e.select(F.col("vec_id").alias("doc_id")), "doc_id").select(
        "doc_id", "text"
    )
    arrays = _shingle_arrays(docs, "text", "doc_id", 5, hashed=True)
    # prefix-filtered exact join (same answer as the full index join at
    # any threshold; the prefix prune is what survives corpus scale).
    lex = prefix_filtered_pairs(arrays, min_jaccard=0.3).select("doc_a", "doc_b")
    sem = blocked_cosine_pairs(e, threshold=0.4).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    j = lex.alias("l").join(
        sem.alias("s"),
        (F.col("l.doc_a") == F.col("s.doc_a")) & (F.col("l.doc_b") == F.col("s.doc_b")),
        "full_outer",
    )
    status = (
        F.when(F.col("l.doc_a").isNull(), "sem_only")
        .when(F.col("s.doc_a").isNull(), "lex_only")
        .otherwise("both")
    )
    key_sum = F.coalesce(F.col("l.doc_a"), F.col("s.doc_a")) + F.coalesce(
        F.col("l.doc_b"), F.col("s.doc_b")
    )
    return (
        j.select(status.alias("status"), key_sum.alias("key_sum"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("key_sum").alias("keys_sum"))
    )


# --- int8 embedding quantization calibration --------------------------------


@query(
    "emb_quantize_error",
    sql="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (
      SELECT vec_id, e,
             greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) AS scale FROM v),
    qz AS (
      SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT)) AS codes
      FROM s),
    err AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(list_zip(e, codes),
               p -> CAST(floor(abs(p[1] / scale - p[2] / 127.0) * 1000000.0 + 0.5)
                         AS BIGINT))) AS BIGINT) AS abs_err_ppm,
             list_min(codes) AS min_code, list_max(codes) AS max_code,
             len(list_filter(codes, c -> abs(c) = 127)) AS n_saturated
      FROM qz)
    SELECT vec_id, abs_err_ppm, min_code, max_code, n_saturated
    FROM err ORDER BY vec_id
    """,
    order_by=("vec_id",),
)
def emb_quantize_error(spark, sf_dir):
    """int8 scalar-quantization calibration report: per-vector max-abs
    scale, symmetric round-to-127 codes, and the reconstruction error in
    scale-relative integer ppm PER DIMENSION (floored before summation, so
    the cross-dim sum is an exact integer — a float sum would be
    accumulation-order-dependent across engines). The go/no-go report
    before shipping quantized embeddings to the ANN tier; in-row
    higher-order functions, zero shuffle."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = e.select("vec_id", emb.alias("e"))
    # greatest(scale, tiny): an all-zero embedding would give scale=0 and
    # x/0 diverges cross-engine (Spark non-ANSI NULL vs DuckDB IEEE inf);
    # the tiny floor makes zero vectors quantize to all-zero codes with
    # zero error on BOTH engines (ADVICE r2).
    scale = F.greatest(F.array_max(F.transform(F.col("e"), F.abs)), F.lit(1e-30))
    s = v.select("vec_id", "e", scale.alias("scale"))
    codes = F.transform(
        F.col("e"), lambda x: F.floor(x / F.col("scale") * 127.0 + 0.5).cast("long")
    )
    qz = s.select("vec_id", "e", "scale", codes.alias("codes"))
    err_units = F.zip_with(
        F.col("e"),
        F.col("codes"),
        lambda x, c: F.floor(
            F.abs(x / F.col("scale") - c.cast("double") / 127.0) * 1000000.0 + 0.5
        ).cast("long"),
    )
    return qz.select(
        "vec_id",
        F.aggregate(err_units, F.lit(0).cast("long"), lambda acc, u: acc + u).alias(
            "abs_err_ppm"
        ),
        F.array_min("codes").alias("min_code"),
        F.array_max("codes").alias("max_code"),
        F.size(F.filter(F.col("codes"), lambda c: F.abs(c) == 127)).cast("long").alias(
            "n_saturated"
        ),
    )


# --- Balanced dataloader sharding -------------------------------------------

_N_SHARDS = 8


@query(
    "train_shard_assign",
    sql=f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) - 1 AS i
      FROM documents)
    SELECT i % {_N_SHARDS} AS shard, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM r GROUP BY 1 ORDER BY 1
    """,
    order_by=("shard",),
)
def train_shard_assign(spark, sf_dir):
    """Balanced dataloader sharding: documents ranked by size descending,
    dealt round-robin into N shards (the classic LPT-lite heuristic —
    round-robin over a sorted order bounds shard skew by one max-size doc).
    The global rank routes through assign_contiguous_ids, so no
    unpartitioned window at scale; output is the per-shard balance
    report."""
    from ..operators.rowids import assign_contiguous_ids

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (-F.col("n_chars")).alias("neg_chars")
    )
    ranked = assign_contiguous_ids(d, ["neg_chars", "doc_id"], id_name="i")
    return (
        ranked.select("doc_id", "n_chars", (F.col("i") % _N_SHARDS).alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# --- MMR diversified re-ranking ---------------------------------------------


@query(
    "llm_mmr_rerank",
    # The greedy loop UNROLLS as a recursive CTE (DuckDB): the accumulator
    # is the selected-id list, each step LATERAL-picks the argmax of
    # 0.7*rel - 0.3*max(sim to selected) with the same (score desc, id)
    # tie-break as the Spark-side loop. Cosines are floats computed
    # independently per engine — agreement is argmax-level (ids), pinned
    # at both fixture SFs; the selection margins at this fixture are far
    # above ulp noise, which is what makes the id sequence oracleable
    # (same evidence class as llm_knn_ids' float-ordered ranks).
    sql="""
    WITH RECURSIVE
    cand AS (
      SELECT c.vec_id, CAST(c.embedding AS DOUBLE[]) AS v,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS rel
      FROM embeddings c, embeddings q
      WHERE q.vec_id = 3 AND c.vec_id <> 3
      ORDER BY rel DESC, c.vec_id
      LIMIT 30
    ),
    sims AS (
      SELECT a.vec_id AS a, b.vec_id AS b, list_cosine_similarity(a.v, b.v) AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    mmr(step, sel, sel_list) AS (
      (SELECT 1, vec_id, [vec_id] FROM cand ORDER BY 0.7 * rel DESC, vec_id LIMIT 1)
      UNION ALL
      (SELECT m.step + 1, pick.vec_id, list_append(m.sel_list, pick.vec_id)
       FROM mmr m, LATERAL (
         SELECT c.vec_id
         FROM cand c
         WHERE NOT list_contains(m.sel_list, c.vec_id)
         ORDER BY 0.7 * c.rel
                  - 0.3 * (SELECT MAX(s.s) FROM sims s
                           WHERE s.a = c.vec_id AND list_contains(m.sel_list, s.b)) DESC,
                  c.vec_id
         LIMIT 1
       ) pick
       WHERE m.step < 10)
    )
    SELECT step AS rank, sel AS vec_id FROM mmr ORDER BY rank
    """,
)
def llm_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking for probe vec 3: from the
    cosine top-30 candidates, greedily pick 10 maximizing
    0.7*sim(q,d) - 0.3*max_{s in selected} sim(d,s) — the diversity pass a
    retrieval stack runs after ANN. Candidate scoring is the distributed
    GEMM path; the greedy loop runs driver-side over the k-bounded
    candidate set (30 vectors — bounded at ANY corpus scale, same
    precondition as every re-ranker). Ties break on vec_id.

    UPGRADED rows-only → ORACLED (r8, VERDICT task 3): the greedy
    selection unrolls as a DuckDB recursive CTE carrying the selected-id
    list (see the sql= comment) — the full 10-step MMR id SEQUENCE is
    value-checked, not just the candidate set."""
    import numpy as np

    from ..llm.similarity import knn_bruteforce_np

    e = load(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 3)
    cand_ids = [
        r["neighbor_id"]
        for r in knn_bruteforce_np(probe, e, k=30).orderBy("rank").collect()
    ]
    rows = (
        e.filter(F.col("vec_id").isin([3] + cand_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    for k in vecs:
        vecs[k] = vecs[k] / np.linalg.norm(vecs[k])
    q = vecs[3]
    selected: list[int] = []
    remaining = list(cand_ids)
    while remaining and len(selected) < 10:
        best, best_score = None, None
        for c in remaining:
            rel = float(vecs[c] @ q)
            div = max((float(vecs[c] @ vecs[s]) for s in selected), default=0.0)
            score = 0.7 * rel - 0.3 * div
            # deterministic: strictly-better, or equal score with smaller id
            if best is None or score > best_score or (score == best_score and c < best):
                best, best_score = c, score
        selected.append(best)
        remaining.remove(best)
    out = [(i + 1, v) for i, v in enumerate(selected)]
    return spark.createDataFrame(out, "rank long, vec_id long")


# --- Join-explosion preflight profiler ---------------------------------------


@query(
    "profile_join_explosion",
    sql="""
    WITH a AS (SELECT l_orderkey AS k, COUNT(*) AS n_a FROM lineitem GROUP BY 1),
    b AS (SELECT o_orderkey AS k, COUNT(*) AS n_b FROM orders GROUP BY 1),
    j AS (SELECT a.k, a.n_a, b.n_b, a.n_a * b.n_b AS out_rows
          FROM a JOIN b ON a.k = b.k)
    SELECT COUNT(*) AS n_join_keys,
           CAST(SUM(out_rows) AS BIGINT) AS est_output_rows,
           MAX(out_rows) AS worst_key_rows,
           MAX(n_a) AS max_mult_left, MAX(n_b) AS max_mult_right
    FROM j
    """,
)
def profile_join_explosion(spark, sf_dir):
    """Pre-flight join-cardinality profile (run BEFORE a 100 TB fact-fact
    join): per-key multiplicities on both sides, exact expected output rows
    = sum(n_a*n_b), and the worst single key — the number that decides
    between a plain join, AQE skew split, and salting. Two key-partitioned
    count aggregates and one co-keyed join of the (small) key-count
    tables; the facts themselves are touched once each."""
    li = load(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_a"))
    o = load(spark, sf_dir, "orders").groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    j = li.join(o, "k").select("n_a", "n_b", (F.col("n_a") * F.col("n_b")).alias("out_rows"))
    return j.agg(
        F.count(F.lit(1)).alias("n_join_keys"),
        F.sum("out_rows").alias("est_output_rows"),
        F.max("out_rows").alias("worst_key_rows"),
        F.max("n_a").alias("max_mult_left"),
        F.max("n_b").alias("max_mult_right"),
    )


# --- Event-time lateness report (watermark calibration) ----------------------


@query(
    "events_watermark_report",
    sql="""
    WITH l AS (
      SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             MAX(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
      FROM events),
    b AS (
      SELECT CASE WHEN hwm - es <= 0 THEN 'a_on_time'
                  WHEN hwm - es <= 60 THEN 'b_late_1m'
                  WHEN hwm - es <= 300 THEN 'c_late_5m'
                  WHEN hwm - es <= 1800 THEN 'd_late_30m'
                  ELSE 'e_later' END AS bucket,
             hwm - es AS late_s
      FROM l)
    SELECT bucket, COUNT(*) AS n, MAX(late_s) AS max_late_s
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    order_by=("bucket",),
)
def events_watermark_report(spark, sf_dir):
    """Watermark calibration: how late does event time arrive behind each
    stream's high-water mark? Lateness = per-user running max(event time)
    in ARRIVAL order (event_id) minus the event's own time, bucketed. The
    histogram is exactly the evidence that picks `withWatermark`'s delay —
    the bucket that still keeps (say) 99.9% of events. The window is
    PARTITIONED by user, so state is per-key — the same shape the streaming
    engine itself maintains."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = (F.max(es).over(w) - es).alias("late_s")
    bucket = (
        F.when(F.col("late_s") <= 0, "a_on_time")
        .when(F.col("late_s") <= 60, "b_late_1m")
        .when(F.col("late_s") <= 300, "c_late_5m")
        .when(F.col("late_s") <= 1800, "d_late_30m")
        .otherwise("e_later")
    )
    return (
        e.select(late)
        .select(bucket.alias("bucket"), "late_s")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.max("late_s").alias("max_late_s"))
    )


# --- Smoothed target encoding ------------------------------------------------

_TE_M = 10  # smoothing pseudo-count


@query(
    "q_target_encoding",
    sql=f"""
    WITH o AS (
      SELECT o_custkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    c AS (SELECT c_custkey, c_nationkey FROM customer),
    j AS (SELECT c.c_nationkey, o.cents FROM o JOIN c ON o.o_custkey = c.c_custkey),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all, SUM(cents) AS sum_all FROM j),
    per AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM j GROUP BY 1)
    SELECT per.c_nationkey, per.n, per.sum_cents,
           CAST((CAST(per.sum_cents AS DOUBLE) * g.n_all + {_TE_M}.0 * g.sum_all)
                / (CAST(per.n AS DOUBLE) * g.n_all + {_TE_M}.0 * g.n_all)
                AS DOUBLE) AS encoded_cents
    FROM per, g ORDER BY per.c_nationkey
    """,
    order_by=("c_nationkey",),
)
def q_target_encoding(spark, sf_dir):
    """Smoothed target encoding of nation → mean order value (the
    feature-engineering step for tabular models): enc = (sum + m*prior) /
    (n + m) with prior = global mean, rewritten over a COMMON denominator
    so the only float ops are one multiply-add tree on exact int64 sums and
    ONE division — identical IEEE expression both engines. Two key-
    partitioned aggregates; the global stats broadcast."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("c_nationkey", "cents")
    g = j.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("cents").alias("sum_all")
    )
    per = j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents")
    )
    enc = (
        F.col("sum_cents").cast("double") * F.col("n_all") + float(_TE_M) * F.col("sum_all")
    ) / (F.col("n").cast("double") * F.col("n_all") + float(_TE_M) * F.col("n_all"))
    return (
        per.crossJoin(F.broadcast(g))
        .select("c_nationkey", "n", "sum_cents", enc.alias("encoded_cents"))
    )


# --- Distribution drift (total variation distance) ----------------------------


@query(
    "profile_distribution_drift",
    sql="""
    WITH v1 AS (
      SELECT o_orderpriority AS v, COUNT(*) AS n1 FROM orders
      WHERE o_orderkey % 7 <> 0 GROUP BY 1),
    v2 AS (
      SELECT o_orderpriority AS v, COUNT(*) AS n2 FROM orders
      WHERE o_orderkey % 5 <> 0 GROUP BY 1),
    t AS (SELECT (SELECT SUM(n1) FROM v1) AS t1, (SELECT SUM(n2) FROM v2) AS t2),
    j AS (
      SELECT COALESCE(v1.v, v2.v) AS v, COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
      FROM v1 FULL JOIN v2 ON v1.v = v2.v)
    SELECT j.v, j.n1, j.n2,
           CAST(abs(j.n1 * t.t2 - j.n2 * t.t1) AS BIGINT) AS tvd_num,
           CAST((SELECT SUM(abs(jj.n1 * t.t2 - jj.n2 * t.t1)) * 1000000
                   // (2 * t.t1 * t.t2)
            FROM j jj) AS BIGINT) AS tvd_ppm
    FROM j, t ORDER BY j.v
    """,
    order_by=("v",),
)
def profile_distribution_drift(spark, sf_dir):
    """Snapshot-to-snapshot distribution drift of a categorical column as
    total variation distance — the drift gate a data-quality monitor runs
    on every refresh. TVD = 1/2 * sum |p1 - p2| stays EXACT integers over
    the common denominator t1*t2 (|n1*t2 - n2*t1|), quantized once to ppm
    — no per-bucket float division, no log (PSI's weakness). Two
    partitioned counts + one tiny full outer join on the category."""
    o = load(spark, sf_dir, "orders")
    v1 = (
        o.where(F.col("o_orderkey") % 7 != 0)
        .groupBy(F.col("o_orderpriority").alias("v"))
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    v2 = (
        o.where(F.col("o_orderkey") % 5 != 0)
        .groupBy(F.col("o_orderpriority").alias("v"))
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    j = (
        v1.join(v2, "v", "full_outer")
        .select(
            "v",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
        .persist()  # reused for the total and the per-bucket rows
    )
    track(j)
    tots = j.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    withT = j.crossJoin(F.broadcast(tots))
    num = F.abs(F.col("n1") * F.col("t2") - F.col("n2") * F.col("t1"))
    tvd = withT.agg(
        F.expr("SUM(abs(n1 * t2 - n2 * t1)) * 1000000 DIV (2 * first(t1) * first(t2))").alias(
            "tvd_ppm"
        )
    )
    return (
        withT.select("v", "n1", "n2", num.alias("tvd_num"))
        .crossJoin(F.broadcast(tvd))
    )


# --- DAU / WAU stickiness -----------------------------------------------------


@query(
    "events_dau_wau",
    sql="""
    WITH du AS (
      SELECT DISTINCT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS d,
             user_id
      FROM events),
    dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY d),
    credit AS (
      SELECT du.d + k.k AS target_d, du.user_id
      FROM du, (SELECT unnest(range(7)) AS k) k),
    wau AS (SELECT target_d AS d, COUNT(DISTINCT user_id) AS wau FROM credit GROUP BY 1)
    SELECT dau.d, dau.dau, wau.wau,
           (dau.dau * 1000000) // wau.wau AS stickiness_ppm
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY dau.d
    """,
    order_by=("d",),
)
def events_dau_wau(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness (DAU/WAU) — the product-health
    triple. The rolling distinct avoids a 7-day range self-join by the
    credit trick: each distinct (day, user) fans out to the 7 future days
    it keeps the user 'weekly-active' for, then one count-distinct per day
    — a fixed 7x fan-out of the already-deduped pairs, never a range join
    over raw events. Stickiness stays an exact integer ppm."""
    e = load(spark, sf_dir, "events")
    day = (F.unix_timestamp("ts") / F.lit(86400)).cast("long")
    du = track(e.select(day.alias("d"), "user_id").distinct().persist())
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    credit = du.select(
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("d"), "user_id"
    )
    wau = credit.groupBy("d").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "d")
        .select("d", "dau", "wau", F.expr("dau * 1000000 DIV wau").alias("stickiness_ppm"))
    )


# --- Schema drift report -------------------------------------------------------


@query(
    "profile_schema_drift",
    # UPGRADED rows-only → ORACLED (r8): DuckDB derives the OLD schema
    # independently from the same parquet footer (DESCRIBE), applies the
    # SAME declared evolution relationally, and emits the same report —
    # so the value check covers both the footer read and the diff
    # classification. Type-name normalization: lower() + varchar→string +
    # timestamp→timestamp_ntz maps DuckDB's renderings onto Spark's
    # simpleString (parquet isAdjustedToUTC=false is TIMESTAMP_NTZ to
    # Spark, plain TIMESTAMP to DuckDB — same logical type).
    sql="""
    WITH old AS (
      SELECT column_name AS name,
             replace(replace(lower(column_type), 'varchar', 'string'),
                     'timestamp', 'timestamp_ntz') AS t
      FROM (DESCRIBE SELECT * FROM orders)
    ),
    new AS (
      SELECT name, CASE WHEN name = 'o_totalprice' THEN 'string' ELSE t END AS t
      FROM old WHERE name <> 'o_orderpriority'
      UNION ALL
      SELECT 'o_priority_rank', 'int'
    )
    SELECT coalesce(o.name, n.name) AS "column",
           o.t AS old_type, n.t AS new_type,
           CASE WHEN n.name IS NULL THEN 'removed'
                WHEN o.name IS NULL THEN 'added'
                WHEN o.t <> n.t THEN 'retyped' ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON o.name = n.name
    ORDER BY 1
    """,
)
def profile_schema_drift(spark, sf_dir):
    """Schema-drift report between a dataset and an evolved copy (column
    added / dropped / retyped) — the contract check an ingest pipeline runs
    before trusting a new delivery. Driver-side metadata only: two parquet
    footer reads, no data scan; the diff logic is the same added/removed/
    changed classification as snapshot_diff, applied to (name, type)
    pairs. The evolved copy is derived deterministically here (drop
    `o_orderpriority`, add `o_priority_rank int`, retype `o_totalprice` to
    string) so the report is fixture-stable. Oracled since r8 — the SQL
    re-derives the old schema from the same footer via DuckDB DESCRIBE
    and replays the evolution relationally."""
    import os
    import tempfile

    o = load(spark, sf_dir, "orders")
    evolved = (
        o.drop("o_orderpriority")
        .withColumn("o_priority_rank", F.lit(1).cast("int"))
        .withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    )
    path = scratch_path(spark, "schema_drift_orders")
    evolved.limit(1).write.mode("overwrite").parquet(path)
    old = {f.name: f.dataType.simpleString() for f in o.schema.fields}
    new = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(path).schema.fields
    }
    rows = []
    for name in sorted(set(old) | set(new)):
        if name not in new:
            rows.append((name, old[name], None, "removed"))
        elif name not in old:
            rows.append((name, None, new[name], "added"))
        elif old[name] != new[name]:
            rows.append((name, old[name], new[name], "retyped"))
        else:
            rows.append((name, old[name], new[name], "unchanged"))
    return spark.createDataFrame(
        rows, "column string, old_type string, new_type string, status string"
    )


# --- Embedding distribution drift --------------------------------------------

_DRIFT_Q = 1 << 20  # per-dim quantization: 2^-20 resolution in int64 units


@query(
    "emb_drift_report",
    sql=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (
      SELECT vec_id % 2 AS grp, i AS dim,
             CAST(floor(emb[i] * {_DRIFT_Q}) AS BIGINT) AS q
      FROM e, unnest(generate_series(1, 64)) AS s(i)),
    g AS (SELECT grp, dim, SUM(q) AS s, COUNT(*) AS n FROM q GROUP BY 1, 2),
    p AS (SELECT a.dim, abs(a.s * b.n - b.s * a.n) AS num, a.n AS n1, b.n AS n2
          FROM g a JOIN g b ON a.dim = b.dim AND a.grp = 0 AND b.grp = 1)
    SELECT CAST(SUM(num) // (first(n1) * first(n2)) AS BIGINT) AS l1_drift_units,
           COUNT(*) AS n_dims, first(n1) AS n1, first(n2) AS n2
    FROM p
    """,
)
def emb_drift_report(spark, sf_dir):
    """Embedding-distribution drift between two halves of the corpus (the
    model-refresh monitor: did the embedding distribution move?): per-dim
    means compared over a COMMON denominator after 2^-20 quantization, so
    every cross-row accumulation is exact int64 and the whole L1 centroid
    distance is one integer division — no float mean, no combine-order
    exposure (same discipline as emb_covariance). One posexplode + one
    (grp, dim)-keyed aggregate; 2·d cells shuffle, not the corpus."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        (F.col("vec_id") % 2).alias("grp"),
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        "grp",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _DRIFT_Q).cast("long").alias("q"),
    )
    g = q.groupBy("grp", "dim").agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
    a = g.where(F.col("grp") == 0).select("dim", F.col("s").alias("s1"), F.col("n").alias("n1"))
    b = g.where(F.col("grp") == 1).select("dim", F.col("s").alias("s2"), F.col("n").alias("n2"))
    p = a.join(b, "dim").select(
        F.abs(F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")).alias("num"),
        "n1",
        "n2",
    )
    return p.agg(
        F.expr("SUM(num) DIV (first(n1) * first(n2))").alias("l1_drift_units"),
        F.count(F.lit(1)).alias("n_dims"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )


# --- Soft dedup: count-aware downweighting ------------------------------------


@query(
    "llm_soft_dedup_weights",
    sql="""
    WITH copies AS (
      SELECT md5(text) AS h, COUNT(*) AS n_copies
      FROM documents GROUP BY 1),
    w AS (
      SELECT d.lang, 1000000 // c.n_copies AS w_ppm
      FROM documents d JOIN copies c ON md5(d.text) = c.h)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(w_ppm) AS BIGINT) AS eff_docs_ppm
    FROM w GROUP BY lang ORDER BY lang
    """,
    order_by=("lang",),
)
def llm_soft_dedup_weights(spark, sf_dir):
    """Soft deduplication: instead of dropping duplicates, weight every
    copy by 1/n_copies (exact integer ppm) so each distinct content
    contributes unit mass — the gentler alternative to hard dedup when
    duplication correlates with quality. One content-hash aggregate plus a
    hash-keyed rejoin; eff_docs_ppm / 1e6 is the effective corpus size per
    language."""
    d = load(spark, sf_dir, "documents").select("lang", F.md5("text").alias("h"))
    copies = d.groupBy("h").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        d.join(copies, "h")
        .select("lang", F.expr("1000000 DIV n_copies").alias("w_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("w_ppm").alias("eff_docs_ppm"))
    )


# --- Funnel latency percentiles ------------------------------------------------


@query(
    "events_funnel_latency",
    sql="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    lags AS (
      SELECT CAST(floor(epoch(c.t_click)) - floor(epoch(v.t_view)) AS BIGINT) AS lag_s
      FROM v JOIN c ON v.user_id = c.user_id)
    SELECT COUNT(*) AS n_converted,
           MIN(lag_s) AS p0,
           quantile_disc(lag_s, 0.5) AS p50,
           quantile_disc(lag_s, 0.9) AS p90,
           MAX(lag_s) AS p100
    FROM lags
    """,
)
def events_funnel_latency(spark, sf_dir):
    """Funnel stage latency: view -> first-click conversion time
    percentiles. DISCRETE percentiles (an actual observed integer value,
    same rule both engines) — interpolated percentiles of integer seconds
    would reintroduce float division. Same two min-aggregates as
    events_funnel; the percentile runs on the (tiny) per-user lag set."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.join(v, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    lags = v.join(c, "user_id").select(
        (F.unix_timestamp("t_click") - F.unix_timestamp("t_view")).alias("lag_s")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lag_s").alias("p0"),
        # Spark's percentile_disc returns DOUBLE even over integer input;
        # the selected value IS an observed integer, so the cast is exact
        # (DuckDB's quantile_disc stays BIGINT natively).
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_s) AS BIGINT)").alias("p50"),
        F.expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_s) AS BIGINT)").alias("p90"),
        F.max("lag_s").alias("p100"),
    )


# --- Cross-language vocabulary overlap ------------------------------------------


@query(
    "llm_vocab_overlap",
    sql="""
    WITH lt AS (
      SELECT DISTINCT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents),
    sizes AS (SELECT lang, COUNT(*) AS n FROM lt GROUP BY 1),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_inter
      FROM lt a JOIN lt b ON a.tok = b.tok AND a.lang < b.lang
      GROUP BY 1, 2)
    SELECT i.lang_a, i.lang_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
           (i.n_inter * 1000000) // (sa.n + sb.n - i.n_inter) AS jaccard_ppm
    FROM inter i JOIN sizes sa ON i.lang_a = sa.lang
                 JOIN sizes sb ON i.lang_b = sb.lang
    ORDER BY lang_a, lang_b
    """,
    order_by=("lang_a", "lang_b"),
)
def llm_vocab_overlap(spark, sf_dir):
    """Cross-language vocabulary overlap matrix (pairwise Jaccard of
    distinct token sets, integer ppm) — the contamination/code-switching
    diagnostic for a multilingual corpus. The (lang, token) set is the
    deduped inverted index; the pair join is keyed on the token and
    bounded by true sharing, with only |langs| choose 2 output rows."""
    d = load(spark, sf_dir, "documents")
    lt = track(d.select(
        "lang", F.explode_outer(ws_tokens("text")).alias("tok")
    ).distinct().persist())
    sizes = lt.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a, b = lt.alias("a"), lt.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.lang") < F.col("b.lang")))
        .groupBy(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("n_inter * 1000000 DIV (n_a + n_b - n_inter)").alias("jaccard_ppm"),
        )
    )


# --- Per-type value tail percentiles -------------------------------------------


@query(
    "events_tail_percentiles",
    sql="""
    WITH q AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT event_type, COUNT(*) AS n,
           quantile_disc(cents, 0.5) AS p50,
           quantile_disc(cents, 0.95) AS p95,
           quantile_disc(cents, 0.99) AS p99,
           MAX(cents) AS p100
    FROM q GROUP BY event_type ORDER BY event_type
    """,
    order_by=("event_type",),
)
def events_tail_percentiles(spark, sf_dir):
    """Per-type tail percentiles (p50/p95/p99/max) of the event value — the
    SLO/tail-latency report shape. Discrete percentiles over exact integer
    cents (observed values, no interpolation float); one partitioned
    aggregate, percentile state bounded per group."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    def pd_(p):
        return F.expr(
            f"CAST(percentile_disc({p}) WITHIN GROUP (ORDER BY cents) AS BIGINT)"
        )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pd_(0.5).alias("p50"),
            pd_(0.95).alias("p95"),
            pd_(0.99).alias("p99"),
            F.max("cents").alias("p100"),
        )
    )


# --- Character-class profile per language ---------------------------------------


@query(
    "llm_charset_profile",
    sql="""
    WITH c AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_all,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
             CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space
      FROM documents)
    SELECT lang, CAST(SUM(n_all) AS BIGINT) AS chars,
           CAST((SUM(n_alpha) * 1000000) // SUM(n_all) AS BIGINT) AS alpha_ppm,
           CAST((SUM(n_digit) * 1000000) // SUM(n_all) AS BIGINT) AS digit_ppm,
           CAST((SUM(n_space) * 1000000) // SUM(n_all) AS BIGINT) AS space_ppm
    FROM c GROUP BY lang ORDER BY lang
    """,
    order_by=("lang",),
)
def llm_charset_profile(spark, sf_dir):
    """Per-language character-class composition (alpha/digit/space ppm) —
    the charset sanity check that catches mojibake, base64 blobs and
    wrong-language routing before any model sees the text. Exact integer
    character counts per class, one partitioned aggregate, single ppm
    division per class."""
    d = load(spark, sf_dir, "documents")
    def klass(pat):
        return F.length(F.regexp_replace("text", pat, "")).cast("long")
    c = d.select(
        "lang",
        F.length("text").cast("long").alias("n_all"),
        klass("[^a-zA-Z]").alias("n_alpha"),
        klass("[^0-9]").alias("n_digit"),
        klass("[^ ]").alias("n_space"),
    )
    return (
        c.groupBy("lang")
        .agg(
            F.sum("n_all").alias("chars"),
            F.expr("SUM(n_alpha) * 1000000 DIV SUM(n_all)").alias("alpha_ppm"),
            F.expr("SUM(n_digit) * 1000000 DIV SUM(n_all)").alias("digit_ppm"),
            F.expr("SUM(n_space) * 1000000 DIV SUM(n_all)").alias("space_ppm"),
        )
    )


# --- Deterministic UUID minting ---------------------------------------------------


@query(
    "f_deterministic_uuid",
    sql="""
    WITH h AS (
      SELECT c_custkey, md5(concat('customer:', c_name)) AS x FROM customer)
    SELECT c_custkey,
           concat(substr(x, 1, 8), '-', substr(x, 9, 4), '-3', substr(x, 14, 3),
                  '-8', substr(x, 18, 3), '-', substr(x, 21, 12)) AS stable_uuid
    FROM h ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def f_deterministic_uuid(spark, sf_dir):
    """Name-based deterministic UUIDs (UUIDv3 shape: md5 of a namespaced
    name, version nibble pinned to 3, variant nibble pinned to 8) — stable
    entity ids for resolution/linkage that any engine, any partitioning,
    any rerun mints identically. Pure string surgery on the md5 hex; no
    RNG (uuid() is banned in this engine for exactly this reason)."""
    c = load(spark, sf_dir, "customer")
    x = F.md5(F.concat(F.lit("customer:"), F.col("c_name")))
    uuid = F.concat(
        F.substring(x, 1, 8), F.lit("-"),
        F.substring(x, 9, 4), F.lit("-3"),
        F.substring(x, 14, 3), F.lit("-8"),
        F.substring(x, 18, 3), F.lit("-"),
        F.substring(x, 21, 12),
    )
    return c.select("c_custkey", uuid.alias("stable_uuid"))
