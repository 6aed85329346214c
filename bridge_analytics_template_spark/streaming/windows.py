"""Streaming window operators (T1-T6) and their batch equivalents.

The reference pipeline is batch, triggered per-export
(/root/reference/src/copy_from_template.py:1-21); the engine adds the
streaming mirror over the ``events`` fixture. Each streaming op has a
batch-equivalent formulation with identical semantics — that equivalence is
the verification strategy (the oracle checks the batch form; the tests drive
the same logic through ``readStream`` and assert stream == batch).

Watermarks bound state: at 100 TB/day the per-key window state is what
kills a stateful job, so every aggregation here declares one.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


#: Footer row count of the table behind each source :func:`stream_events`
#: built, keyed on the source's description in a query's progress (None:
#: unknown).
_SOURCE_ROWS: dict[str, int | None] = {}


def raise_if_read_nothing(q) -> None:
    """Fail a finished streaming query that committed no input row although
    its events source holds rows. A file source whose path or name filter
    matches no file streams nothing and raises nothing; this makes that
    loud."""
    progress = q.recentProgress
    if sum(p.numInputRows for p in progress):
        return
    for src in progress[-1].sources if progress else ():
        if _SOURCE_ROWS.get(src.description):
            raise RuntimeError(
                f"streaming query {q.name or q.id} committed 0 rows from {src.description}, "
                f"which holds {_SOURCE_ROWS[src.description]} rows"
            )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental scan of the events table (file streaming source). Its
    schema is the raw batch scan's (driver-side, metadata only), and its
    ``ts`` is normalized to a session-zone timestamp by the same column as
    the batch path (``catalog.events_source``)."""
    import os

    from .. import session
    from ..catalog import events_source
    from ..partitioning import estimated_scan_rows

    # Pin session defaults (UTC session zone above all): the ntz→timestamp
    # cast below renders wall clocks in the SESSION zone — without this, a
    # caller that never touched catalog.load would get shifted clocks
    # relative to the batch path.
    session.apply(spark)
    table = os.path.join(sf_dir, "events.parquet")
    probe, ts = events_source(spark, table)
    reader = spark.readStream.schema(probe.schema).format("parquet")
    # The file streaming source lists a *directory*. A table stored as a
    # directory of part files is streamed from that directory; a table
    # stored as one file is streamed from its parent, scoped to the file by
    # name (a name filter never matches a part file inside a directory).
    jpath = spark._jvm.org.apache.hadoop.fs.Path(table)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getFileStatus(jpath).isDirectory():
        source = fs.makeQualified(jpath)
        raw = reader.load(table)
    else:
        source = fs.makeQualified(jpath.getParent())
        raw = reader.option("pathGlobFilter", jpath.getName()).load(sf_dir)
    _SOURCE_ROWS[f"FileStreamSource[{source.toString()}]"] = estimated_scan_rows(probe)
    return raw.withColumn("ts", ts)


def tumbling_counts(events: DataFrame, width: str = "10 minutes", watermark: str = "10 minutes") -> DataFrame:
    """T1: tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def sliding_counts(events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    """T2: sliding-window counts (each event lands in width/slide windows)."""
    return (
        events.withWatermark("ts", width)
        .groupBy(F.window("ts", width, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def session_windows_stream(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """T3 (streaming form): native session windows with a gap timeout."""
    return (
        events.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 300) -> DataFrame:
    """T3 (batch form): gap-based island detection — lag + cumulative sum of
    session-break flags per user. One shuffle on user_id; no Python.

    Break rule is STRICT ``gap > gap_seconds``, matching the native
    ``session_window`` aggregate exactly: Spark merges two session windows
    when next.start <= prev.end (inclusive), so an event at exactly the gap
    still belongs to the previous session. Verified at the boundary by
    tests/test_properties.py::test_native_session_window_equals_islands,
    whose minute-stepped timestamps hit exact 300 s gaps on purpose."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T5: stateful exactly-once dedup on event_id; the watermark bounds the
    dedup state to the late-data horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_stream_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T5b: ``dropDuplicatesWithinWatermark`` — dedup WITHOUT the event-time
    column in the key. Plain stateful dedup keeps a key's state forever
    unless the event time is part of the key; the within-watermark variant
    expires each key after the watermark delay, so re-emissions of the same
    event_id with a *different* timestamp (retried uploads) still dedup
    while state stays bounded — the semantics an at-least-once ingest
    actually needs."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def _gap_bucket(ts_col, gap_minutes: int):
    """Event-time bucket of width ``gap_minutes`` — the interval-join key
    refinement (below)."""
    return F.floor(F.unix_timestamp(ts_col) / F.lit(gap_minutes * 60))


def stream_stream_attribution(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """T8: stream-stream inner join — attribute each purchase to the same
    user's clicks in the preceding ``gap_minutes``. Both sides carry
    watermarks and the join condition bounds event time on BOTH ends, so
    Spark can evict buffered state past ``watermark + gap`` instead of
    holding the full history (the thing that makes stream-stream joins
    viable at scale). Batch equivalent: the same time-bounded self-join.

    SKEW HARDENING (r8, found by the zipf skew-replica gate): Spark's
    symmetric-hash-join state stores buffered rows per EQUALITY key and
    linearly scans all of a key's values for every arriving row with that
    key — a user holding 30% of the stream makes that scan quadratic
    (the gate measured one task pinning a core for 15+ minutes at 10×
    sf0.1 with a 30% hot user, state probes in
    SymmetricHashJoinStateManager). The fix is the standard interval-join
    refinement: add the gap-width EVENT-TIME BUCKET to the equality key.
    A click registers under its own bucket and the next (one `explode` of
    two copies); a purchase joins only its own bucket, and since
    0 ≤ p_ts − c_ts ≤ gap implies floor(p/gap) ∈ {floor(c/gap),
    floor(c/gap)+1}, exactly ONE copy matches each qualifying pair —
    results identical (oracled in t_stream_stream_join, order-shuffle
    kernel test), but per-key buffered state is now one gap-window's
    events per user, so the hot key degrades to 2-bucket scans instead
    of full-history scans. Post-fix the same gate run completes in
    seconds (budget-pinned in tools/sweep_skew_list.txt)."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withColumn("p_bkt", _gap_bucket(F.col("p_ts"), gap_minutes))
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withColumn(
            "c_bkt",
            F.explode(
                F.array(
                    _gap_bucket(F.col("c_ts"), gap_minutes),
                    _gap_bucket(F.col("c_ts"), gap_minutes) + 1,
                )
            ),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_bkt") == F.col("c_bkt"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {gap_minutes} MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return purchases.join(clicks, cond, "inner").select("purchase_id", "click_id")


def run_foreach_batch_parquet(stream_df: DataFrame, path: str, checkpoint: str) -> None:
    """T7: exactly-once file sink via ``foreachBatch`` — each micro-batch
    overwrites its own epoch-keyed directory, so a replay after failure
    rewrites the same epoch instead of duplicating rows (idempotent-by-key,
    the standard exactly-once recipe for non-transactional sinks). The
    ``availableNow`` trigger drains the finite source then stops — the
    batch-backfill-through-the-streaming-path mode."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    raise_if_read_nothing(q)


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming DataFrame to completion over the finite fixture via
    a memory sink; returns the sink contents as a batch DataFrame. (Local
    verification harness — a real deployment writes to a table/queue sink.)"""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    raise_if_read_nothing(q)
    return stream_df.sparkSession.table(name)


def run_incremental_rollup(
    stream_df: DataFrame, rollup_path: str, checkpoint: str
) -> None:
    """Incremental aggregate maintenance: every micro-batch MERGEs its
    per-user partial aggregates into a persistent parquet rollup table —
    the streaming half of a materialized view (read old totals, combine
    with the batch's partials, atomically swap). Combine is (count, sum)
    — both associative — so batch boundaries never change the result; at
    scale the merge join is keyed on user_id and the rollup stays
    |users|-sized regardless of stream volume. Atomic swap via temp dir +
    rename keeps readers consistent."""
    import shutil

    from pyspark.sql import functions as F

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("_dec_sum"),
        )
        try:
            old = spark.read.parquet(rollup_path).select(
                "user_id",
                "n_events",
                F.col("total_value").cast("decimal(12,2)").alias("_dec_sum"),
            )
            combined = (
                old.unionByName(partial)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("_dec_sum").alias("_dec_sum"),
                )
            )
        except Exception:  # first epoch: no rollup yet
            combined = partial
        out = combined.select(
            "user_id", "n_events", F.col("_dec_sum").cast("double").alias("total_value")
        )
        tmp = f"{rollup_path}.epoch{epoch_id}.tmp"
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(rollup_path, ignore_errors=True)
        shutil.move(tmp, rollup_path)

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    raise_if_read_nothing(q)


def stream_stream_attribution_outer(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """T8b: stream-stream LEFT OUTER join — every purchase emits, matched
    to preceding clicks or with a null click_id once the watermark proves
    no match can still arrive. The null-side emission is the semantic
    step past the inner form: an unmatched purchase can only be emitted
    when the click-side watermark passes p_ts + gap (before that, a
    matching click could still be buffered), so outer results trail the
    inner ones by up to watermark + gap — and a final otherwise-empty
    batch is what flushes the last unmatched rows (see the test's filler
    file; the same one-batch watermark lag as aggregation).

    Same gap-bucket skew hardening as the inner form: the right-side
    duplication cannot duplicate LEFT rows (an outer join emits one null
    row per unmatched left row regardless of how many right rows fail the
    condition), and a matched pair still matches exactly one click copy."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withColumn("p_bkt", _gap_bucket(F.col("p_ts"), gap_minutes))
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withColumn(
            "c_bkt",
            F.explode(
                F.array(
                    _gap_bucket(F.col("c_ts"), gap_minutes),
                    _gap_bucket(F.col("c_ts"), gap_minutes) + 1,
                )
            ),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_bkt") == F.col("c_bkt"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {gap_minutes} MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return purchases.join(clicks, cond, "left_outer").select("purchase_id", "click_id")
