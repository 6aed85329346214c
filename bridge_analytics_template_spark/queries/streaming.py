"""Streaming inventory T1-T6 (SURVEY.md §2.9).

Oracle strategy: every window op is verified through its batch-equivalent
formulation (identical semantics, SQL-expressible); the genuinely-streaming
executions (readStream → watermark → memory sink) run as rows-only entries
and are asserted stream==batch in tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import Window, functions as F

from ..catalog import load
from ..functions.numeric import dmoney, dsum
from ..streaming.windows import (
    dedup_stream,
    run_to_memory,
    sessionize_batch,
    stream_events,
    tumbling_counts,
)
from .registry import query


@query(
    "t_tumbling_counts",
    sql="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT))
                AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("window_start", "event_type"),
)
def t_tumbling_counts(spark, sf_dir):
    """T1 (batch-equivalent): 10-minute tumbling windows per event type.
    `F.window` epoch-aligns window starts, which is exactly the epoch-floor
    bucketing the oracle computes."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(dmoney("value"), "total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query(
    "t_sliding_counts",
    sql="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 - 300 * k AS BIGINT))
                AS TIMESTAMP) AS window_start,
           COUNT(*) AS n
    FROM events, unnest([0, 1]) AS u(k)
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("window_start",),
)
def t_sliding_counts(spark, sf_dir):
    """T2 (batch-equivalent): 10-minute windows sliding by 5 — every event
    lands in exactly width/slide = 2 windows."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


@query(
    "t_session_islands",
    sql="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('microsecond', LAG(ts) OVER w, ts) > 300000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessioned AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id, session_seq,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events
    FROM sessioned GROUP BY 1, 2 ORDER BY user_id, session_seq
    """,
    order_by=("user_id", "session_seq"),
)
def t_session_islands(spark, sf_dir):
    """T3 (batch-equivalent): 5-minute-gap sessionization via lag + cumsum
    islands; semantically identical to `session_window(ts, '5 minutes')`,
    which tests/test_streaming.py asserts."""
    e = load(spark, sf_dir, "events")
    return sessionize_batch(e, gap_seconds=300)


@query(
    "t_dedup_equiv",
    sql="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique, COUNT(*) AS n_rows
    FROM events GROUP BY 1 ORDER BY 1
    """,
    order_by=("event_type",),
)
def t_dedup_equiv(spark, sf_dir):
    """T5 (batch-equivalent): dedup on event_id — the fixture is already
    unique, so n_unique == n_rows is itself part of the verified result."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("event_id").alias("n_unique"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "t_stream_tumbling",
    sql="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT))
                AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("window_start", "event_type"),
)
def t_stream_tumbling(spark, sf_dir):
    """T1/T4 (streaming execution, ORACLED — upgraded r7 from rows-only):
    readStream over the events parquet with a 10-minute watermark, tumbling
    counts, memory sink driven to completion. A COMPLETE-mode sink holds
    the final trigger's full aggregate — deterministic over the finite
    source (the watermark gates emission, never state retention, in
    complete mode) — so the genuinely-streaming run is value-exact against
    the same epoch-floor oracle as its batch twin t_tumbling_counts."""
    agg = tumbling_counts(stream_events(spark, sf_dir))
    return run_to_memory(agg, "complete")


@query(
    "t_stream_dedup",
    sql="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
    order_by=("event_type",),
)
def t_stream_dedup(spark, sf_dir):
    """T5 (streaming execution, ORACLED — upgraded r7 from rows-only):
    watermarked dropDuplicates over the stream; returns the per-type
    counts of the deduped stream. Deterministic because the file source
    admits whole files (a parquet file is never split across
    micro-batches), so no row can arrive behind the watermark and be
    late-dropped — the deduped stream is exactly the distinct event_id
    set, and the append-mode sink accumulates it all."""
    deduped = dedup_stream(stream_events(spark, sf_dir))
    out = run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "t_attribution_join",
    sql="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
    order_by=("purchase_id", "click_id"),
)
def t_attribution_join(spark, sf_dir):
    """T8 (batch-equivalent): time-bounded attribution self-join — each
    purchase matched to the same user's clicks in the preceding 30 minutes.
    The streaming form (stream_stream_attribution) runs the identical plan
    as a watermarked stream-stream join; equivalence asserted in
    tests/test_streaming.py."""
    from ..streaming.windows import stream_stream_attribution

    e = load(spark, sf_dir, "events")
    return stream_stream_attribution(e)


@query(
    "t_stream_session",
    sql="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('microsecond', LAG(ts) OVER w, ts) > 300000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessioned AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM flagged)
    SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start, user_id, COUNT(*) AS n_events
    FROM sessioned GROUP BY user_id, session_seq ORDER BY session_start, user_id
    """,
    order_by=("session_start", "user_id"),
)
def t_stream_session(spark, sf_dir):
    """T3 (streaming form, ORACLED — upgraded r7 from rows-only): native
    session_window with a 5-minute gap, driven through readStream → memory
    sink in complete mode (final trigger's full merged-session state —
    deterministic). Value-exact against the lag+cumsum island formulation,
    the same oracle its batch twin t_session_native_batch carries; the
    inclusive-merge boundary semantics are pinned in
    tests/test_properties.py."""
    from ..streaming.windows import session_windows_stream

    sess = session_windows_stream(stream_events(spark, sf_dir))
    return run_to_memory(sess, "complete")


@query(
    "t_resample_locf",
    sql="""
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900 AS BIGINT) AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS bucket_sum
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, 900)) AS bucket FROM spans
    )
    SELECT g.user_id, g.bucket,
           COALESCE(o.n_events, 0) AS n_events,
           last_value(o.bucket_sum IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.bucket) AS filled_sum
    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
    ORDER BY g.user_id, g.bucket
    """,
    order_by=("user_id", "bucket"),
)
def t_resample_locf(spark, sf_dir):
    """Gap-filled downsample (the hypertable-rollup / timeseries-resample
    shape): per user, 15-minute buckets over the user's own observed span,
    empty buckets materialized from a generated grid (sequence+explode, no
    driver loop) and value carried forward (LOCF via last_value IGNORE
    NULLS). Everything partitions by user_id — grid generation, join and
    fill window all co-key, so the whole query is two shuffles at any
    scale. Buckets are epoch-second integers (tz-proof); sums go
    decimal-through.

    Plan shape (r10): the grid is expanded FROM the observation rows — LOCF
    the (small) observed-bucket table first, lead() to the next observed
    bucket, then explode each row over its own gap span carrying the filled
    value. Same rows/values as the generate-grid + left-join + window-over-
    grid formulation (the oracle's shape), with the spans aggregate and the
    grid<-obs join removed outright and the fill window running over
    observed buckets only, never the dense grid."""
    e = load(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / F.lit(900)).cast("long") * 900
    obs = e.groupBy(F.col("user_id"), bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"), dsum(dmoney("value"), "bucket_sum")
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    spans = obs.select(
        "user_id",
        "bucket",
        "n_events",
        # LOCF over observed buckets == last_value IGNORE NULLS over the
        # dense grid: gap rows inherit their span head's filled value.
        F.last("bucket_sum", ignorenulls=True).over(w).alias("filled_sum"),
        F.lead("bucket").over(w).alias("next_bucket"),
    )
    dense = (
        spans.select(
            "user_id",
            "n_events",
            "filled_sum",
            F.col("bucket").alias("obs_bucket"),
            F.explode(
                F.sequence(
                    "bucket",
                    F.coalesce(F.col("next_bucket") - 900, F.col("bucket")),
                    F.lit(900).cast("long"),
                )
            ).alias("bucket"),
        )
        .select(
            "user_id",
            "bucket",
            F.when(F.col("bucket") == F.col("obs_bucket"), F.col("n_events"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_events"),
            "filled_sum",
        )
    )
    # Persist before the output ORDER BY: the range partitioner's
    # bounds-sampling pass otherwise re-executes the agg+window+explode
    # subtree a second time (sign-stable interleaved A/B).
    from ..caching import track

    return track(dense.persist())


@query(
    "events_funnel",
    sql="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           p.t_purchase IS NOT NULL AS completed
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    ORDER BY v.user_id
    """,
    order_by=("user_id",),
)
def events_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): earliest completion
    times per stage, each stage constrained to strictly after the previous
    one. Three conditional-min aggregates chained by keyed joins — the
    decomposed form of MATCH_RECOGNIZE's simplest pattern, all
    user_id-keyed (co-partitioned at scale, no per-event state)."""
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
    p = (
        e.join(c, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_purchase").isNotNull().alias("completed"),
        )
    )


@query(
    "events_retention",
    sql="""
    WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_d
               FROM events GROUP BY 1),
    a AS (SELECT DISTINCT e.user_id, f.cohort_d,
                 datediff('day', f.cohort_d, CAST(e.ts AS DATE)) AS day_offset
          FROM events e JOIN f USING (user_id))
    SELECT cohort_d, day_offset, COUNT(*) AS n_users
    FROM a GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("cohort_d", "day_offset"),
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen date, counted
    once per (cohort, day-offset) cell. Every stage is user_id-keyed until
    the final low-cardinality rollup — the first-touch aggregate, the
    enrichment join, and the per-user-day distinct all reuse one user_id
    shuffle partitioning, so at 100 TB the only data movement after the
    initial shuffle is the tiny (cohort, offset) combine."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = e.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_d",
            F.datediff("d", "cohort_d").cast("bigint").alias("day_offset"),
        )
        .distinct()
        .groupBy("cohort_d", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_transitions",
    sql="""
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM (SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
          FROM events)
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("prev_type", "next_type"),
)
def events_transitions(spark, sf_dir):
    """Event-type transition matrix (first-order Markov counts) — lag
    within each user's timeline then a count per (prev, next) pair. The
    window partitions by user_id, so the sequence reconstruction
    distributes; deterministic because (user_id, ts) is unique in the
    fixture."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return (
        e.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "events_time_weighted_avg",
    sql="""
    WITH seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(12,2)) AS v,
             (epoch_us(CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            AS TIMESTAMP))
               - epoch_us(CAST(ts AS TIMESTAMP))) // 1000000 AS secs
      FROM events)
    SELECT user_id,
           CAST(SUM(v * secs) AS DOUBLE) AS weighted_sum,
           CAST(SUM(secs) AS BIGINT) AS total_secs,
           CAST(SUM(v * secs) AS DOUBLE) / CAST(SUM(secs) AS DOUBLE) AS twa
    FROM seg WHERE secs IS NOT NULL AND secs > 0
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("user_id",),
)
def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average of a held value per user (hypertable
    `time_weight('locf')` semantics): each observation is weighted by how
    long it was the latest one. Durations are exact integer seconds
    (floored from microsecond epochs — keeps the decimal sums under 15
    significant digits, where the decimal→double cast is unambiguous
    across engines) and values go decimal-through, so the sums are
    order-independent — safe under any partial-aggregate combine order at
    scale. One window + one aggregate, both partitioned on user_id
    (single shuffle reused)."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", dmoney("value").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    seg = (
        e.select(
            "user_id",
            "v",
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("us"),
        )
        .select("user_id", "v", F.expr("us div 1000000").alias("secs"))
        .where(F.col("secs").isNotNull() & (F.col("secs") > 0))
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("secs")).cast("double").alias("weighted_sum"),
            F.sum("secs").alias("total_secs"),
            (
                F.sum(F.col("v") * F.col("secs")).cast("double")
                / F.sum("secs").cast("double")
            ).alias("twa"),
        )
    )


@query(
    "t_session_native_batch",
    sql="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('microsecond', LAG(ts) OVER w, ts) > 300000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessioned AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           COUNT(*) AS n_events
    FROM sessioned GROUP BY user_id, session_seq ORDER BY user_id, session_start
    """,
    order_by=("user_id", "session_start"),
)
def t_session_native_batch(spark, sf_dir):
    """T3 via the NATIVE `session_window` aggregate run in batch mode — the
    same physical operator the streaming form uses (merging session state),
    oracle-checked against the lag+cumsum island formulation. One shuffle
    on user_id; the session merge happens inside the aggregate.

    Boundary semantics: Spark merges session windows when next.start <=
    prev.end (INCLUSIVE), so an event at exactly the 5-minute gap stays in
    the previous session — the oracle's islands rule is strict `gap >
    300000000us`, empirically pinned at the boundary by
    tests/test_properties.py::test_native_session_window_equals_islands."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@query(
    "t_window_distinct_users",
    sql="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
    order_by=("window_start",),
)
def t_window_distinct_users(spark, sf_dir):
    """Windowed distinct cardinality — the per-window unique-actor count
    every dashboard wants. Exact COUNT(DISTINCT) expands to a two-level
    aggregate (distinct-ize on (window, user), then count); at 100 TB the
    drop-in is approx_count_distinct (single pass, mergeable HLL state —
    see agg_hll_sketch for the sketch-union form)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").start.alias("window_start"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "t_attribution_outer",
    sql="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
    order_by=("purchase_id", "click_id"),
)
def t_attribution_outer(spark, sf_dir):
    """T8b (batch-equivalent): LEFT OUTER attribution — every purchase
    appears, matched or with a null click. The streaming form
    (stream_stream_attribution_outer) runs the same join with
    watermark-gated null emission; equivalence (modulo the final-batch
    flush) is asserted in tests/test_streaming.py."""
    from ..streaming.windows import stream_stream_attribution_outer

    e = load(spark, sf_dir, "events")
    return stream_stream_attribution_outer(e)


@query(
    "t_activity_matrix",
    sql="""
    SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("dow", "hod"),
)
def t_activity_matrix(spark, sf_dir):
    """Day-of-week × hour-of-day activity matrix — the canonical usage
    heatmap. Spark's dayofweek is 1-based Sunday=1; DuckDB's dow is
    0-based Sunday=0 — normalized to the DuckDB convention here. One
    hash aggregate; the distinct rides the same grouping."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "t_trending_type",
    sql="""
    WITH wc AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT window_start, event_type, c,
             row_number() OVER (PARTITION BY window_start ORDER BY c DESC, event_type) AS rn
      FROM wc)
    SELECT window_start, event_type AS top_type, c AS n_events
    FROM ranked WHERE rn = 1 ORDER BY window_start
    """,
    order_by=("window_start",),
)
def t_trending_type(spark, sf_dir):
    """Trending event type per 30-minute window — argmax over grouped
    counts with a deterministic (count desc, type) tiebreak. The count
    aggregate and the per-window argmax window function share the
    window_start partitioning; WindowGroupLimit prunes to the top row
    map-side."""
    e = load(spark, sf_dir, "events")
    wc = (
        e.groupBy(F.window("ts", "30 minutes").start.alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("c"), "event_type")
    return (
        wc.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("window_start", F.col("event_type").alias("top_type"), F.col("c").alias("n_events"))
    )


# --- Gap-filled resample with LINEAR interpolation --------------------------

_INTERP_SQL = """
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT) AS bucket,
             MAX(value) AS v
      FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2),
    spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM obs GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket FROM spans),
    j AS (
      SELECT g.user_id, g.bucket, o.v,
             last_value(o.v IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN o.v IS NOT NULL THEN g.bucket END IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(o.v IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN o.v IS NOT NULL THEN g.bucket END IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket)
    SELECT user_id, bucket,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + ((nv - pv) * (CAST(bucket - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)))
           END AS v_interp
    FROM j ORDER BY user_id, bucket
"""


@query("t_resample_interp", sql=_INTERP_SQL, order_by=("user_id", "bucket"))
def t_resample_interp(spark, sf_dir):
    """Gap-filled resample with LINEAR interpolation — the companion to
    t_resample_locf for continuous signals (sensor feeds, metrics): per
    user, hourly buckets over the user's own span, empty buckets filled
    by interpolating between the bracketing observations (per-bucket MAX
    as the deterministic node value). The bracketing scan is two
    ignore-nulls frame windows (last preceding / first following value and
    its bucket), NOT an as-of self-join — grid generation, the obs join,
    and both windows all partition by user_id, so the whole query is two
    co-keyed shuffles at any scale. The interpolation itself is one
    fixed-parenthesization double expression over epoch-second integers
    (engine-stable per NOTES.md: identical IEEE ops on identical inputs);
    rows ON an observation short-circuit to the exact observed value. The
    user_id % 7 subset bounds the VERIFIED output (dense grids make rows,
    and a row-compare gate pays per row) — the operator itself has no such
    limit."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    bucket = (F.unix_timestamp("ts") / F.lit(3600)).cast("long") * 3600
    obs = e.groupBy(F.col("user_id"), bucket.alias("bucket")).agg(F.max("value").alias("v"))
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select("user_id", F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("bucket"))
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = grid.join(obs, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("bucket")), ignorenulls=True)
        .over(wb)
        .alias("pt"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(F.when(F.col("v").isNotNull(), F.col("bucket")), ignorenulls=True)
        .over(wf)
        .alias("nt"),
    )
    frac = (F.col("bucket") - F.col("pt")).cast("double") / (
        F.col("nt") - F.col("pt")
    ).cast("double")
    return j.select(
        "user_id",
        "bucket",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + ((F.col("nv") - F.col("pv")) * frac))
        .alias("v_interp"),
    )


@query(
    "t_stream_heavy_hitters",
    sql="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
    r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
      FROM c)
    SELECT user_id, event_type AS top_type, CAST(n AS BIGINT) AS n_top
    FROM r WHERE rk = 1 ORDER BY user_id
    """,
    order_by=("user_id",),
)
def t_stream_heavy_hitters(spark, sf_dir):
    """T-custom, ORACLED streaming execution: per-user heavy hitters via a
    bounded Misra-Gries summary in keyed state (streaming/stateful.py::
    heavy_hitters_stream), driven through readStream → applyInPandasWithState
    → memory sink to completion, then reduced to each user's top event type.

    Why a genuinely-streaming run can be value-exact against a batch SQL
    oracle: MG with k counters is EXACT whenever k exceeds the key's
    distinct-item count (no decrement ever fires), and the fixture has 5
    event types vs k=8. In the exact regime every update-mode emission is a
    monotone per-(user, type) count, so max() over the sink's accumulated
    rows is the final summary regardless of how many micro-batches the file
    source produced. The approximation guarantee at small k (est within
    N/k, order-free) is pinned separately in tests/test_stateful_streaming.py.
    State is O(k) per user — event-volume-independent, the 100 TB shape."""
    from ..streaming.stateful import heavy_hitters_stream

    hh = heavy_hitters_stream(stream_events(spark, sf_dir), k=8)
    out = run_to_memory(hh, "update")
    final = out.groupBy("user_id", "event_type").agg(F.max("n").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        final.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_type"),
            F.col("n").alias("n_top"),
        )
    )


@query(
    "t_stream_drift",
    sql="""
    WITH h AS (
      SELECT event_type,
             GREATEST(0, LEAST(7, CAST(floor(value / 20) AS BIGINT))) AS bin,
             COUNT(*) AS n
      FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1, 2),
    t AS (SELECT event_type, SUM(n) AS t FROM h GROUP BY 1),
    p AS (SELECT bin, SUM(n) AS pn FROM h GROUP BY 1),
    pt AS (SELECT SUM(pn) AS pt FROM p),
    d AS (
      SELECT g.event_type, g.t, pt.pt AS pt,
             ABS(COALESCE(hh.n, 0) * pt.pt - g.pn * g.t) AS diff
      FROM (SELECT t.event_type, t.t, p.bin, p.pn FROM t CROSS JOIN p) g
      LEFT JOIN h hh ON hh.event_type = g.event_type AND hh.bin = g.bin
      CROSS JOIN pt),
    s AS (SELECT event_type, MAX(t) AS total, SUM(diff) AS sd, MAX(pt) AS pt
          FROM d GROUP BY 1)
    SELECT event_type, CAST(total AS BIGINT) AS total,
           CAST(sd * 1000000 // (2 * total * pt) AS BIGINT) AS tvd_ppm,
           (sd * 1000000 // (2 * total * pt)) > 100000 AS drifted
    FROM s ORDER BY event_type
    """,
    order_by=("event_type",),
)
def t_stream_drift(spark, sf_dir):
    """T-custom, ORACLED streaming execution #2: distribution-drift
    monitoring. A bounded per-key value histogram accumulates in keyed
    state (streaming/stateful.py::value_histogram_stream — O(bins) state
    per event type, commutative counting so micro-batch order is
    irrelevant), then each type's running distribution is scored against
    the pooled corpus distribution by total-variation distance in exact
    ppm: tvd = |n·pt − pn·t| summed over the pooled bin grid, floored
    through one DECIMAL(38)/HUGEINT division. Types whose value mix
    diverges from the pooled mix by > 10% flag as drifted. The streamed
    histogram is value-exact (same IEEE floor(value/20) bin both engines,
    counts monotone per (type, bin) so max() over the update-mode sink is
    the final state), making the whole drift report hash-comparable —
    a genuinely-streaming drift monitor with a batch SQL oracle."""
    from ..streaming.stateful import value_histogram_stream

    hist = value_histogram_stream(stream_events(spark, sf_dir))
    out = run_to_memory(hist, "update")
    final = (
        out.groupBy("event_type", "bin")
        .agg(F.max("n").alias("n"))
        .filter(F.col("n") > 0)  # mirror the oracle's GROUP BY (observed bins only)
    )
    t = final.groupBy("event_type").agg(F.sum("n").alias("t"))
    p = final.groupBy("bin").agg(F.sum("n").alias("pn"))
    pt = p.agg(F.sum("pn").alias("pt"))
    grid = t.crossJoin(F.broadcast(p))
    # fresh exprIds on the probe side: grid and final share the memory-sink
    # lineage, and a straight self-join trips conflicting-reference resolution
    f2 = final.select(
        F.col("event_type").alias("et2"), F.col("bin").alias("bin2"), "n"
    )
    d = (
        grid.join(
            f2, (grid["event_type"] == f2["et2"]) & (grid["bin"] == f2["bin2"]), "left"
        )
        .crossJoin(F.broadcast(pt))
        .withColumn(
            "diff",
            F.expr("abs(CAST(coalesce(n, 0) AS DECIMAL(38,0)) * pt - CAST(pn AS DECIMAL(38,0)) * t)"),
        )
    )
    s = d.groupBy("event_type").agg(
        F.max("t").alias("total"), F.sum("diff").alias("sd"), F.max("pt").alias("ptt")
    )
    tvd = F.expr("CAST(sd * 1000000 div (2 * CAST(total AS DECIMAL(38,0)) * ptt) AS BIGINT)")
    return (
        s.select(
            "event_type",
            F.col("total").cast("long").alias("total"),
            tvd.alias("tvd_ppm"),
        )
        .withColumn("drifted", F.col("tvd_ppm") > 100000)
    )


@query(
    "t_stream_topk",
    sql="""
    SELECT event_type, rank, value, event_id FROM (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rank,
             value, event_id
      FROM events WHERE value IS NOT NULL AND NOT isnan(value))
    WHERE rank <= 3 ORDER BY event_type, rank
    """,
    order_by=("event_type", "rank"),
)
def t_stream_topk(spark, sf_dir):
    """T-custom, ORACLED streaming execution #3: per-event-type top-3
    records by value (streaming/stateful.py::topk_stream — 2k scalars of
    keyed state per type, the monitoring-feed shape).

    Why this genuinely-streaming run is value-exact against a batch SQL
    oracle: top-k maintenance under the (value desc, event_id asc) total
    order is a SEMILATTICE (merge-then-truncate), so the final state is
    the exact batch top-k regardless of arrival order or micro-batch
    boundaries; and because inserting elements only ever IMPROVES the
    occupant of each rank under that order, every intermediate update-mode
    emission is pointwise dominated — max(struct(value, -event_id)) per
    (type, rank) over the accumulated sink rows reconstructs the final
    trigger's state. That is the same monotone-reduction trick the
    heavy-hitters and drift ops use on counts, applied to order
    statistics; order-shuffle invariance is property-tested in
    tests/test_stateful_streaming.py. Values pass through untouched
    (parquet double in, same double out), so the comparison is bit-exact."""
    from ..streaming.stateful import topk_stream

    out = run_to_memory(topk_stream(stream_events(spark, sf_dir), k=3), "update")
    final = (
        out.groupBy("event_type", "rank")
        .agg(F.max(F.struct(F.col("value"), (-F.col("event_id")).alias("nid"))).alias("b"))
        .select(
            "event_type",
            F.col("rank").cast("long").alias("rank"),
            F.col("b.value").alias("value"),
            (-F.col("b.nid")).alias("event_id"),
        )
    )
    return final


from ..functions.numeric import sql_hash60 as _h60  # noqa: E402


@query(
    "t_stream_distinct_kmv",
    sql=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST({_h60("CAST(user_id AS VARCHAR)")} AS BIGINT) AS hv FROM events),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_exact
      FROM h)
    SELECT event_type,
           CASE WHEN n_exact < 64 THEN n_exact
                ELSE CAST((CAST(63 AS HUGEINT) * {16 ** 15}) // greatest(hv, 1) AS BIGINT)
           END AS est_users
    FROM ranked WHERE rn = least(64, n_exact) ORDER BY event_type
    """,
    order_by=("event_type",),
)
def t_stream_distinct_kmv(spark, sf_dir):
    """T-custom, ORACLED streaming execution #5 (upgraded from rows-only):
    bounded-state distinct counting — a K-Minimum-Values sketch (k=64
    longs per key) accumulates in keyed state (streaming/stateful.py::
    kmv_distinct_stream); union-distinct-then-truncate is a semilattice so
    the run is order-free-exact on the SKETCH, and the rank-r minimum only
    decreases, so min(h) per (type, rank) over the update sink
    reconstructs the final state. The hash is the md5-nibble 60-bit
    packing shared with agg_kmv_distinct — reproducible in BOTH engines —
    and the estimate (k-1)·2^60 // kth_min computes in exact
    DECIMAL(38)/HUGEINT arithmetic, so the genuinely-streaming sketch
    estimate itself is value-exact under the hash gate (with the standard
    small-set rule: fewer than k distinct values → exact count).
    Stream==batch sketch equality and the ±3/√k accuracy bound vs the
    true distinct count stay pinned in tests/test_stateful_streaming.py."""
    from ..streaming.stateful import kmv_distinct_stream

    k = 64
    out = run_to_memory(kmv_distinct_stream(stream_events(spark, sf_dir), k=k), "update")
    final = out.groupBy("event_type", "rank").agg(F.min("h").alias("h"))
    est = (
        final.groupBy("event_type")
        .agg(F.max("rank").alias("n_ranks"), F.max(F.struct("rank", "h")).alias("kth"))
        .select(
            "event_type",
            F.when(F.col("n_ranks") < k, F.col("n_ranks").cast("long")).otherwise(
                F.expr(
                    # greatest(h, 1): hash60's range includes 0 (the old
                    # xxhash64 form added 2^63 so the divisor was always
                    # >= 1); on a zero hash Spark's non-ANSI DECIMAL div
                    # yields NULL while DuckDB's HUGEINT // raises — the
                    # guard keeps both expressions total and identical
                    # (mirrored in the SQL oracle above).
                    f"CAST(CAST({k - 1} AS DECIMAL(38,0)) * CAST({16 ** 15} AS DECIMAL(38,0)) "
                    "div CAST(greatest(kth.h, 1) AS DECIMAL(38,0)) AS BIGINT)"
                )
            ).alias("est_users"),
        )
    )
    return est


@query(
    "t_stream_stream_join",
    sql="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
    order_by=("purchase_id", "click_id"),
)
def t_stream_stream_join(spark, sf_dir):
    """T8, ORACLED streaming execution: the watermarked stream-stream INNER
    join (streaming/windows.py::stream_stream_attribution) driven end-to-end
    through readStream → join → append-mode memory sink. Both sides carry
    watermarks and the join condition bounds event time on both ends, so
    buffered state evicts past watermark+gap — the property that makes
    stream-stream joins viable at 100 TB/day.

    Why a genuinely-streaming run is value-exact against the batch SQL
    oracle: an append-mode inner join emits each matched pair EXACTLY ONCE
    (when the later of the two rows arrives and meets the other side's
    buffered state), and emits nothing else — the sink's accumulated rows
    are therefore precisely the join's result SET, independent of
    micro-batch boundaries or arrival order. No monotone-reduction trick is
    even needed (unlike the update-mode stateful ops); the join output is
    set-semantics by construction. t_attribution_join oracles the batch
    formulation of the same plan; this entry puts the streaming EXECUTION
    itself under the hash gate."""
    from ..streaming.windows import stream_stream_attribution

    out = run_to_memory(
        stream_stream_attribution(stream_events(spark, sf_dir)), "append"
    )
    return out


@query(
    "t_stream_lww_upsert",
    sql="""
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_type, value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 ORDER BY user_id
    """,
    order_by=("user_id",),
)
def t_stream_lww_upsert(spark, sf_dir):
    """T-custom, ORACLED streaming execution #4: the last-writer-wins
    upsert view (streaming/stateful.py::last_writer_wins_stream) — per
    user, the latest event by (ts desc, event_id desc) maintained in ONE
    record of keyed state: the current-state materialized view a CDC feed
    keeps in a serving store. LWW under a total order is max — a
    semilattice — so the genuinely-streaming run is order-free-exact, and
    each update-mode emission is the running max, so max(struct(...))
    per user over the sink reconstructs the final view; value-exact
    against the batch ROW_NUMBER oracle (ts/value pass through
    untouched)."""
    from ..streaming.stateful import last_writer_wins_stream

    out = run_to_memory(last_writer_wins_stream(stream_events(spark, sf_dir)), "update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max(
                F.struct("last_ts", "last_event_id", "last_type", "last_value")
            ).alias("b")
        )
        .select(
            "user_id",
            F.col("b.last_ts").alias("last_ts"),
            F.col("b.last_event_id").alias("last_event_id"),
            F.col("b.last_type").alias("last_type"),
            F.col("b.last_value").alias("last_value"),
        )
    )


@query(
    "t_stream_state_inspect",
    sql="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT))
                AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("window_start", "event_type"),
)
def t_stream_state_inspect(spark, sf_dir):
    """T-custom, ORACLED: the State Data Source reader — Spark's
    observability surface for STATEFUL STREAMING STATE
    (``spark.read.format("statestore").load(checkpoint)``). Debugging a
    stateful job at 100 TB/day means inspecting what the state store
    actually holds (skewed keys, leaked state, watermark stalls) without
    stopping the query; this runs the watermarked tumbling aggregation to
    completion against its checkpoint, then reads the operator's state
    store AS A BATCH TABLE: one row per (window, event_type) key with the
    running count as the value struct.

    Value-exact against the batch epoch-floor oracle because a streaming
    aggregation's state IS the final merged aggregate per key (complete
    mode never evicts; the finite source drains fully), so the state dump
    equals the batch GROUP BY — which also pins that no state leaked and
    no key got dropped, exactly the invariant a production state
    inspection checks. The state-metadata reader (operator names, batch
    range, partition counts) rides the same checkpoint in
    tests/test_streaming.py."""
    import os
    import uuid

    from ..catalog import index_scratch_dir

    ck = index_scratch_dir(spark, sf_dir, "state_inspect_ck", "events.parquet")
    # Completion marker, NOT bare dir existence (mirrors streaming/
    # ingest.py's done file): a first attempt that dies after .start()
    # leaves a partial checkpoint; keying the cache on isdir(ck) would
    # read that partial state store as if it were final. The marker is
    # written only after processAllAvailable() succeeds; a retry with the
    # marker absent RESUMES the checkpoint and drains the remainder.
    done = ck + ".done"
    if not os.path.exists(done):
        agg = tumbling_counts(stream_events(spark, sf_dir))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(f"si_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        open(done, "w").close()
    st = spark.read.format("statestore").load(ck)
    return (
        st.select(
            F.col("key.window.start").alias("window_start"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
        )
    )


# shared with the llm dedup tier: the oracle re-derives 5-word shingles the
# same way on the DuckDB side (module import is one-way — llm.py never
# imports streaming.py)
from .llm import _SQL_SHINGLES5_PADDED  # noqa: E402


@query(
    "t_stream_ingest_dedup",
    sql=f"""
    WITH sh AS (
      SELECT doc_id AS doc, unnest({_SQL_SHINGLES5_PADDED}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc
    JOIN sizes sb ON i.doc_b = sb.doc
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    order_by=("doc_a", "doc_b"),
)
def t_stream_ingest_dedup(spark, sf_dir):
    """T-custom, ORACLED streaming execution #6: the CONTINUOUS-INGEST
    near-dedup pipeline — the lifecycle a 100 TB crawl actually runs.
    Documents arrive as micro-batches (file stream, one shard per
    trigger); each batch, inside ``foreachBatch``:

      1. PROBE the persisted MinHash index (llm/dedup.py::
         probe_minhash_index) for near-dups of the batch against every
         previously ingested document — stored text is never re-read,
         only the banded signatures and hashed shingle arrays;
      2. self-join the batch for WITHIN-batch near-dups
         (minhash_near_dups — same banding, batch-sized input);
      3. APPEND the batch to the index as an immutable Lucene-style
         segment (append_minhash_segment — O(batch), base never
         rewritten), so later batches see it.

    Pair emissions accumulate in epoch-keyed parquet (idempotent under
    replay). Why the genuinely-streaming run is value-exact against the
    batch full-corpus oracle: every near-dup pair (i, j) is emitted
    EXACTLY ONCE — by step 2 if i and j share a batch, else by step 1 of
    the LATER doc's batch (the earlier doc is in the index by then, and
    probe-before-append means a batch never matches itself through the
    index) — so the union over batches is the exact pair set at
    j ≥ 0.5, independent of shard order or batch boundaries. Oracle
    validity rides the same banding-recall fixture pin as
    llm_dedup_minhash; streaming==batch pair-set equality and
    shard-count invariance are pinned in tests/test_streaming.py."""
    from ..catalog import index_scratch_dir
    from ..streaming.ingest import stream_ingest_dedup_pairs

    run = index_scratch_dir(spark, sf_dir, "stream_ingest_dedup", "documents.parquet")
    d = load(spark, sf_dir, "documents")
    return stream_ingest_dedup_pairs(spark, d, run, n_shards=4)


@query(
    "t_stream_ingest_embed",
    sql="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    ORDER BY id_a, id_b
    """,
    order_by=("id_a", "id_b"),
)
def t_stream_ingest_embed(spark, sf_dir):
    """T-custom, ORACLED streaming execution #7: continuous-ingest
    EMBEDDING near-dedup — the t_stream_ingest_dedup lifecycle with the
    modality swapped (streaming/ingest.py::stream_ingest_embed_pairs).
    Each micro-batch of new vectors cross-joins the stored vector
    segments by exact bipartite blocked GEMM
    (llm/similarity.py::blocked_cosine_cross_pairs — O(batch·stored)
    flops at BLAS speed, never O(batch·stored) rows), self-joins within
    the batch (blocked_cosine_pairs), then lands as an immutable segment
    later batches probe. Every cosine-threshold pair emits exactly once
    (cross with the later vector's batch — the batch's own segment is
    written after the probe; self with the shared batch), so the epoch
    union equals the batch full-corpus pair set (llm_embed_neardup's
    oracle) for any shard count — pinned with shard-count invariance in
    tests/test_streaming.py. Ids only: float sims are engine-unstable
    (same contract as llm_embed_neardup)."""
    from ..catalog import index_scratch_dir
    from ..streaming.ingest import stream_ingest_embed_pairs

    run = index_scratch_dir(spark, sf_dir, "stream_ingest_embed", "embeddings.parquet")
    e = load(spark, sf_dir, "embeddings")
    return stream_ingest_embed_pairs(spark, e, run, n_shards=4, threshold=0.4)


@query(
    "t_stream_ingest_erasure",
    # The GDPR timeline stated as three id-arithmetic clauses over the
    # exact-Jaccard pair set: even ids streamed in first (phase 1), then
    # doc % 4 == 0 was erased, then odd ids streamed in. Pairs emitted
    # before the erasure are history (both-even clause INCLUDES deleted
    # docs); pairs after can only touch survivors (the cross clause
    # requires the stored side % 4 == 2); phase-2-internal pairs are
    # unaffected.
    sql=f"""
    WITH sh AS (
      SELECT doc_id AS doc, unnest({_SQL_SHINGLES5_PADDED}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc
    JOIN sizes sb ON i.doc_b = sb.doc
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
      AND (   (i.doc_a % 2 = 0 AND i.doc_b % 2 = 0)
           OR (i.doc_a % 2 = 1 AND i.doc_b % 2 = 1)
           OR (i.doc_a % 4 = 2 AND i.doc_b % 2 = 1)
           OR (i.doc_b % 4 = 2 AND i.doc_a % 2 = 1))
    ORDER BY doc_a, doc_b
    """,
    order_by=("doc_a", "doc_b"),
)
def t_stream_ingest_erasure(spark, sf_dir):
    """T-custom, ORACLED streaming execution: the RIGHT-TO-BE-FORGOTTEN
    timeline through the continuous-ingest dedup pipeline
    (streaming/ingest.py::stream_ingest_dedup_with_erasure). The initial
    corpus (even ids) streams in shard by shard; a deletion request
    erases half of it (doc % 4 == 0 — tombstoned in the persisted MinHash
    index, O(deletes), no rewrite); the stream keeps ingesting (odd ids)
    against the survivor index.

    Value-exact because erasure semantics are DETERMINISTIC IN THE
    TIMELINE: every pair emitted before the deletion stays in the pair
    log (an output is not the index — exactly how production pair logs
    behave under GDPR: the derived artifact is regenerated, the source
    doc stops matching), and every pair emitted after can only involve
    survivors, because the tombstone anti-join runs inside each probe.
    The epoch union is therefore the three-clause SQL above — no
    order-dependence remains once the phases are fixed, by the same
    exactly-once-per-pair argument as t_stream_ingest_dedup."""
    from ..catalog import index_scratch_dir
    from ..streaming.ingest import stream_ingest_dedup_with_erasure

    run = index_scratch_dir(spark, sf_dir, "stream_ingest_erasure", "documents.parquet")
    d = load(spark, sf_dir, "documents")
    # 2 shards per phase: still genuinely multi-batch on both sides of the
    # erasure (the result is shard-count invariant — same argument as
    # t_stream_ingest_dedup, pinned there at K=2,3) at half the fixture cost
    return stream_ingest_dedup_with_erasure(spark, d, run, n_shards=2)


@query(
    "t_stream_ingest_erasure_compact",
    # IDENTICAL oracle to t_stream_ingest_erasure: auto-compaction is a
    # result-invariant background policy, so the pair set must not move.
    sql=f"""
    WITH sh AS (
      SELECT doc_id AS doc, unnest({_SQL_SHINGLES5_PADDED}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc
    JOIN sizes sb ON i.doc_b = sb.doc
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
      AND (   (i.doc_a % 2 = 0 AND i.doc_b % 2 = 0)
           OR (i.doc_a % 2 = 1 AND i.doc_b % 2 = 1)
           OR (i.doc_a % 4 = 2 AND i.doc_b % 2 = 1)
           OR (i.doc_b % 4 = 2 AND i.doc_a % 2 = 1))
    ORDER BY doc_a, doc_b
    """,
    order_by=("doc_a", "doc_b"),
)
def t_stream_ingest_erasure_compact(spark, sf_dir):
    """T-custom, ORACLED: the GDPR timeline WITH the auto-compaction
    policy forced mid-stream (VERDICT r8 task 5) — ingest even ids →
    tombstone doc % 4 == 0 → the CONTINUING stream's own maybe_compact
    (max_segments=1) folds the index while tombstones are live, physically
    dropping the erased rows and retiring the deltas → later batches keep
    probing the compacted survivor base. n_shards=3 per phase gives the
    policy two trips inside phase 2 (epochs 0 and 2), i.e. probes run
    against the tombstone-anti-join index, the freshly compacted base,
    AND a post-compaction appended segment within one run.

    The oracle is t_stream_ingest_erasure's three-clause phase SQL,
    UNCHANGED: compaction is result-invariant by construction (the probe's
    tombstone anti-join equals the physical drop; folding segments is a
    pure file rewrite of content-deterministic signatures), so the exact
    pair set certifies both the policy's replay guard and the
    deferred-sweep lifecycle under live tombstones."""
    from ..catalog import index_scratch_dir
    from ..streaming.ingest import stream_ingest_dedup_with_erasure

    run = index_scratch_dir(
        spark, sf_dir, "stream_ingest_erasure_compact", "documents.parquet"
    )
    d = load(spark, sf_dir, "documents")
    return stream_ingest_dedup_with_erasure(
        spark, d, run, n_shards=3, max_segments=1
    )


@query(
    "t_stream_table_append",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS user_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    order_by=("event_type",),
)
def t_stream_table_append(spark, sf_dir):
    """T-custom, ORACLED streaming execution: the STREAMING LAKEHOUSE SINK
    — events stream in micro-batches (file source, one shard per trigger)
    into a manifest-versioned table (sources/manifest_table.py), each
    batch an atomic epoch-tagged append_rows commit. Exactly-once comes
    from the manifest itself: the epoch registry makes a replayed batch
    (the foreachBatch crash-between-commits window) a recognized no-op,
    so the final snapshot holds every source row exactly once regardless
    of retries — which is why the genuinely-streaming run is value-exact
    against the plain batch GROUP BY over the same fixture. Replay
    idempotence and resume are pinned in tests/test_manifest_table.py."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import read_snapshot
    from ..streaming.ingest import stream_append_table

    run = index_scratch_dir(spark, sf_dir, "stream_table_append", "events.parquet")
    base = os.path.join(run, "table")
    e = load(spark, sf_dir, "events")
    stream_append_table(spark, e, run, base, key_col="event_id", n_shards=4)
    return (
        read_snapshot(spark, base)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.sum("user_id").alias("user_sum"),
        )
    )


@query(
    "s_table_compact_optimize",
    sql="""
    SELECT user_id % 8 AS user_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY 1 ORDER BY 1
    """,
    order_by=("user_bucket",),
)
def s_table_compact_optimize(spark, sf_dir):
    """S10d: transactional OPTIMIZE — the small-files problem a streaming
    append sink creates, then solves: events stream into the manifest
    table in micro-batch appends (one small file per epoch), then
    compact_snapshot bin-packs the fragments into few range-clustered
    files as a NEW content-identical snapshot (readers of the pre-compact
    snapshot never block; superseded parts live until vacuum; tight
    per-file key bounds restored for later erases). The aggregate over the
    COMPACTED snapshot hash-matches the plain batch SQL — rewriting files
    moved bytes, not data. File-count reduction, content invariance, and
    the CAS commit-conflict path are pinned in
    tests/test_manifest_table.py."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import compact_snapshot, read_snapshot
    from ..streaming.ingest import stream_append_table

    run = index_scratch_dir(spark, sf_dir, "stream_table_compact", "events.parquet")
    base = os.path.join(run, "table")
    e = load(spark, sf_dir, "events")
    stream_append_table(spark, e, run, base, key_col="event_id", n_shards=4)
    v = compact_snapshot(spark, base, target_file_bytes=1 << 30)
    return (
        read_snapshot(spark, base, v)
        .groupBy((F.col("user_id") % 8).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@query(
    "t_stream_table_upsert",
    sql="""
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_type, value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 ORDER BY user_id
    """,
    order_by=("user_id",),
)
def t_stream_table_upsert(spark, sf_dir):
    """T-custom, ORACLED streaming execution: the STREAMING CDC-APPLY SINK
    — events stream in micro-batches into a manifest-versioned table
    through the CONDITIONAL newer-wins merge
    (sources/manifest_table.py::merge_rows(order_cols=...), driven by
    streaming/ingest.py::stream_upsert_table): per batch, one atomic
    epoch-tagged COW commit that replaces a key's row only when the
    incoming (ts, event_id) tuple is strictly newer. The shards split by
    id residue, NOT time, so batches arrive OUT OF EVENT-TIME ORDER — the
    delivery a real distributed CDC feed produces — and exactly-once comes
    from the manifest's epoch registry (a replayed batch is a recognized
    no-op). Because the conditional merge is a join-semilattice on
    (key -> max tuple), the final table equals the global last-writer-wins
    view REGARDLESS of batch order or boundaries — which is why the
    genuinely-streaming run is value-exact against the batch ROW_NUMBER
    oracle (same final view t_stream_lww_upsert maintains in keyed state;
    this is its TRANSACTIONAL-TABLE form, surviving restarts and serving
    readers mid-stream with snapshot isolation)."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import read_snapshot
    from ..streaming.ingest import stream_upsert_table

    run = index_scratch_dir(spark, sf_dir, "stream_table_upsert", "events.parquet")
    base = os.path.join(run, "table")
    e = load(spark, sf_dir, "events")
    stream_upsert_table(
        spark,
        e,
        run,
        base,
        key_col="user_id",
        order_cols=["ts", "event_id"],
        n_shards=4,
        id_col="event_id",
    )
    return (
        read_snapshot(spark, base)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "t_stream_drawdown",
    sql="""
    WITH q AS (
      SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS vq,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    c AS (
      SELECT user_id, rn,
             SUM(vq) OVER (PARTITION BY user_id ORDER BY rn
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM q),
    d AS (
      SELECT user_id, rn, cum,
             MAX(cum) OVER (PARTITION BY user_id ORDER BY rn
                            ROWS UNBOUNDED PRECEDING) AS runmax
      FROM c)
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(max_by(cum, rn) AS BIGINT) AS end_cents,
           CAST(MAX(cum) AS BIGINT) AS peak_cents,
           CAST(MAX(runmax - cum) AS BIGINT) AS max_drawdown_cents
    FROM d GROUP BY user_id ORDER BY user_id
    """,
    order_by=("user_id",),
)
def t_stream_drawdown(spark, sf_dir):
    """T-custom, ORACLED streaming execution: per-user MAX DRAWDOWN via
    applyInPandasWithState (streaming/stateful.py::drawdown_stream) — the
    first ORDER-DEPENDENT member of the stateful tier (everything else
    there is deliberately lattice/monotone). The statistic folds a running
    cents total, its running peak, and the max gap; that fold only makes
    sense over a TIME-ORDERED log, so the fixture streams as four
    event-time-contiguous shards (ntile over (ts, event_id) — the order a
    replayed commit log or a Kafka partition actually delivers), one
    micro-batch each, with each batch's rows sorted per key before the
    fold. State is four longs per user — |users|-proportional. Exact
    integer-cents arithmetic end to end (same quantization as the batch
    twin ts_drawdown), so the genuinely-streaming run is value-exact
    against the batch window replay; the final view is reconstructed from
    the update-mode sink by max_by on the strictly-increasing per-key
    event count."""
    from ..catalog import index_scratch_dir
    from ..streaming.ingest import _split_shards
    from ..streaming.stateful import drawdown_stream

    run = index_scratch_dir(spark, sf_dir, "stream_drawdown", "events.parquet")
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("tsu"),
        F.floor(F.col("value") * 100).cast("long").alias("vq"),
    )
    if not os.path.exists(os.path.join(run, "in")):
        w = Window.orderBy("tsu", "event_id")
        # materialize the time-quartile shard id (a window expression can't
        # live inside _split_shards' filter)
        sharded = ev.withColumn("_shard", F.ntile(4).over(w) - 1)
        _split_shards(sharded, run, 4, "event_id", shard_key=F.col("_shard"))
    src = (
        spark.readStream.schema(
            "user_id long, event_id long, tsu long, vq long, _shard long"
        )
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(os.path.join(run, "in"))
        .drop("_shard")
    )
    out = run_to_memory(drawdown_stream(src), "update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(end_cents, n_events)").alias("end_cents"),
            F.expr("max_by(peak_cents, n_events)").alias("peak_cents"),
            F.expr("max_by(max_drawdown_cents, n_events)").alias(
                "max_drawdown_cents"
            ),
        )
    )


@query(
    "t_stream_table_cdf",
    sql="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             'U-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 7),
    ins AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, 'I-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 13),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins),
    ins_rows AS (
      -- the BOOTSTRAP batch: the v1 publish arrives as pure inserts
      -- (startingversion defaults to 0 = before the initial publish) ...
      SELECT * FROM orders
      UNION ALL
      -- ... plus the merge commit's event-log inserts
      (SELECT * FROM merged EXCEPT ALL SELECT * FROM orders)),
    del_rows AS (
      SELECT * FROM orders EXCEPT ALL SELECT * FROM merged
      UNION ALL
      SELECT * FROM merged WHERE o_custkey % 37 = 0)
    SELECT * FROM (
      SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
      FROM del_rows
      UNION ALL
      SELECT 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             CAST(SUM(o_custkey) AS BIGINT)
      FROM ins_rows)
    ORDER BY change_type
    """,
    order_by=("change_type",),
)
def t_stream_table_cdf(spark, sf_dir):
    """T-custom, ORACLED streaming execution: the manifest table as a
    STREAMING SOURCE — `spark.readStream.format("manifest_table_changes")`
    (sources/table_connector.py) emits one micro-batch per COMMIT with the
    row-level insert/delete delta of that version transition (update =
    delete+insert pair), which is how a downstream pipeline subscribes to
    a governed table incrementally instead of rescanning it. Offsets ARE
    version numbers over immutable files, so replay (readBetweenOffsets)
    is exact by construction; evolve and compaction commits short-circuit
    to empty deltas off the manifest's op stamp. The table is the shared
    publish -> merge -> erase DML (_cdf_orders_base). Per-commit streaming
    is the full EVENT LOG, deliberately richer than the span-compacted
    batch feed (s_table_changes): rows the merge inserted that the very
    next commit erased appear here as their insert+delete pair (a span
    diff cancels them) — the oracle therefore replays commit by commit
    (merge delta + erase delta), putting the event-log semantics itself
    under the hash gate. The stream starts BEFORE the initial publish
    (startingversion defaults to 0), so the first micro-batch is the v1
    snapshot as pure inserts — the bootstrap contract a feed-built
    replica depends on (tests/test_table_connector.py::
    test_cdf_replication_loop). Per-commit batching, span replay, and schema
    fixing across evolves are pinned in tests/test_table_connector.py."""
    from ..sources.table_connector import register_changes
    from .pipeline import _cdf_orders_base

    base = _cdf_orders_base(spark, sf_dir)
    register_changes(spark)
    s = (
        spark.readStream.format("manifest_table_changes")
        .option("path", base)
        .load()
    )
    out = run_to_memory(s, "append")
    return (
        out.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
    )
