"""Stream == batch equivalence for the windowed operators (SURVEY.md §2.9
verification strategy)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.streaming.windows import (
    dedup_stream,
    run_to_memory,
    session_windows_stream,
    sessionize_batch,
    stream_events,
    tumbling_counts,
)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream_out = run_to_memory(tumbling_counts(stream_events(spark, sf_dir)), "complete")
    batch = load(spark, sf_dir, "events")
    batch_out = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    a = {(r["window_start"], r["event_type"]): r["n"] for r in stream_out.collect()}
    b = {(r["window_start"], r["event_type"]): r["n"] for r in batch_out.collect()}
    assert a == b and len(a) > 0


def _split_events(sf_dir, out_dir, parts=4):
    """The events table rewritten as ``events.parquet/part-*.parquet``."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    os.makedirs(os.path.join(out_dir, "events.parquet"))
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, "events.parquet", f"part-{i}.parquet")
        )
    return table.num_rows


def test_stream_reads_directory_layout_table(spark, sf_dir, tmp_path):
    """A table stored as a directory of part files streams every row (a
    file-name filter on the parent directory matched none of them)."""
    d = str(tmp_path)
    n = _split_events(sf_dir, d)
    stream_out = run_to_memory(tumbling_counts(stream_events(spark, d)), "complete")
    a = {(r["window_start"], r["event_type"]): r["n"] for r in stream_out.collect()}
    b = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(load(spark, d, "events")).collect()
    }
    assert a == b and sum(a.values()) == n


def test_stream_committing_no_rows_raises(spark, sf_dir, tmp_path):
    """A stream over a non-empty events table that commits no row fails
    loudly: here every part file is hidden after the source was built, so
    the source lists nothing."""
    d = str(tmp_path)
    _split_events(sf_dir, d)
    stream = tumbling_counts(stream_events(spark, d))
    part_dir = os.path.join(d, "events.parquet")
    for f in os.listdir(part_dir):
        os.rename(os.path.join(part_dir, f), os.path.join(part_dir, "_" + f))
    with pytest.raises(RuntimeError, match="committed 0 rows"):
        run_to_memory(stream, "complete")


def test_stream_sessions_equal_batch_islands(spark, sf_dir):
    stream_out = run_to_memory(session_windows_stream(stream_events(spark, sf_dir)), "complete")
    batch_out = sessionize_batch(load(spark, sf_dir, "events"), gap_seconds=300)
    a = {(r["user_id"], r["session_start"]): r["n_events"] for r in stream_out.collect()}
    b = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch_out.collect()}
    assert a == b and len(a) > 0


def test_stream_dedup_drops_duplicates(spark, sf_dir):
    deduped = run_to_memory(dedup_stream(stream_events(spark, sf_dir)), "append")
    batch = load(spark, sf_dir, "events")
    assert deduped.count() == batch.select("event_id").distinct().count()


def test_stream_dedup_within_watermark(spark, sf_dir):
    # Same unique-key count on the fixture (its event_ids are unique), and
    # retried event_ids with drifted timestamps still dedup to one row.
    from bridge_analytics_template_spark.streaming.windows import (
        dedup_stream_within_watermark,
    )

    deduped = run_to_memory(
        dedup_stream_within_watermark(stream_events(spark, sf_dir)), "append"
    )
    batch = load(spark, sf_dir, "events")
    assert deduped.count() == batch.select("event_id").distinct().count()


def test_foreach_batch_sink_idempotent_epochs(spark, sf_dir, tmp_path):
    from bridge_analytics_template_spark.streaming.windows import (
        run_foreach_batch_parquet,
        stream_events,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    run_foreach_batch_parquet(ev, out, ckpt)
    back = spark.read.parquet(out)
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == n_batch
    assert back.select("event_id").distinct().count() == n_batch


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from bridge_analytics_template_spark.streaming.windows import (
        run_to_memory,
        stream_events,
        stream_stream_attribution,
    )
    from bridge_analytics_template_spark.catalog import load

    batch = sorted(
        (r["purchase_id"], r["click_id"])
        for r in stream_stream_attribution(load(spark, sf_dir, "events")).collect()
    )
    streamed = sorted(
        (r["purchase_id"], r["click_id"])
        for r in run_to_memory(
            stream_stream_attribution(stream_events(spark, sf_dir)), output_mode="append"
        ).collect()
    )
    assert len(batch) > 0
    assert streamed == batch


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path, sql_conf):
    """Restarting an availableNow stream with the same checkpoint must pick
    up exactly the files added since the last run — the incremental-ingest
    contract that makes per-export batch triggers cheap."""
    import shutil

    from pyspark.sql import functions as F
    from bridge_analytics_template_spark.streaming.windows import run_foreach_batch_parquet

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events_a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # Subset schema: only the projected columns, so the test is agnostic to
    # the fixture's ts physical type (nanos-long vs ntz-micros).
    schema = "event_id long, user_id long"
    sql_conf("spark.sql.legacy.parquet.nanosAsLong", "true")

    def run():
        stream = (
            spark.readStream.schema(schema).format("parquet").load(str(src))
            .select("event_id", "user_id")
        )
        run_foreach_batch_parquet(stream, out, ckpt)

    run()
    n1 = spark.read.parquet(out).count()
    n_src = spark.read.parquet(str(src / "events_a.parquet")).count()
    assert n1 == n_src

    shutil.copy(f"{sf_dir}/events.parquet", src / "events_b.parquet")
    run()
    n2 = spark.read.parquet(out).count()
    assert n2 == 2 * n_src  # second run appended ONLY the new file's rows


def test_update_mode_emits_only_changed_windows(spark, sf_dir):
    """Update output mode re-emits only windows touched by the batch —
    with one availableNow pass every window appears at least once, and the
    final per-window counts equal the complete-mode result."""
    from bridge_analytics_template_spark.streaming.windows import (
        run_to_memory,
        stream_events,
        tumbling_counts,
    )

    agg = tumbling_counts(stream_events(spark, sf_dir))
    updates = run_to_memory(agg, "update").collect()
    complete = run_to_memory(
        tumbling_counts(stream_events(spark, sf_dir)), "complete"
    ).collect()
    last = {}
    for r in updates:  # memory sink appends updates in emission order
        last[(r["window_start"], r["event_type"])] = r["n"]
    want = {(r["window_start"], r["event_type"]): r["n"] for r in complete}
    assert last == want


def test_incremental_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming MERGE-maintained rollup == one-shot batch aggregate."""
    from bridge_analytics_template_spark.streaming.windows import (
        run_incremental_rollup,
        stream_events,
    )

    rollup = str(tmp_path / "rollup")
    run_incremental_rollup(
        stream_events(spark, sf_dir), rollup, str(tmp_path / "ckpt")
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(rollup).collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == want


def test_stream_sliding_equals_batch(spark, sf_dir):
    """T2: sliding-window counts, streaming execution == batch execution."""
    from bridge_analytics_template_spark.streaming.windows import sliding_counts

    stream_out = run_to_memory(sliding_counts(stream_events(spark, sf_dir)), "complete")
    batch_out = sliding_counts(load(spark, sf_dir, "events"))
    a = {(r["window_start"], r["event_type"]): r["n"] for r in stream_out.collect()}
    b = {(r["window_start"], r["event_type"]): r["n"] for r in batch_out.collect()}
    assert a == b and len(a) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """T4: an event older than (max seen ts - watermark) arriving in a
    LATER micro-batch is dropped from an append-mode windowed aggregate.
    Two files + maxFilesPerTrigger=1 force two batches: batch 1 advances
    the watermark past the late event's window; batch 2's late row must
    not resurrect it."""
    import uuid

    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    on_time = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": [base, base + pd.Timedelta(hours=2)],
            "user_id": [10, 11],
        }
    )
    filler = pd.DataFrame(
        {"event_id": [9], "ts": [base + pd.Timedelta(hours=2, minutes=30)], "user_id": [13]}
    )
    late = pd.DataFrame(
        {"event_id": [3], "ts": [base + pd.Timedelta(minutes=5)], "user_id": [12]}
    )
    # micro-precision timestamps: the session's nanosAsLong conf would
    # otherwise surface pandas' default nanos as INT64. A watermark
    # computed from batch N's data takes effect in batch N+1 (one-batch
    # lag, measured), so the late row rides the THIRD batch: a advances
    # max event time, b lets the 01:50 watermark become effective, c is
    # late. FileStreamSource orders batches by mtime.
    import os, time

    on_time.to_parquet(src / "a.parquet", index=False, coerce_timestamps="us")
    filler.to_parquet(src / "b.parquet", index=False, coerce_timestamps="us")
    late.to_parquet(src / "c.parquet", index=False, coerce_timestamps="us")
    now = time.time()
    os.utime(src / "a.parquet", (now - 120, now - 120))
    os.utime(src / "b.parquet", (now - 60, now - 60))
    os.utime(src / "c.parquet", (now, now))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src) + "/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .count()
        .select(F.col("window.start").alias("ws"), "count")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = {(r["ws"], r["count"]) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    # Append mode emits only windows finalized by the watermark: the
    # base-hour window closed at count 1 — event 3 (same window, late
    # beyond the 10-minute watermark) must NOT have been counted.
    assert (base.to_pydatetime(), 1) in rows
    assert (base.to_pydatetime(), 2) not in rows


def test_stream_stream_outer_join_equals_batch(spark, sf_dir, tmp_path):
    """T8b: left-outer stream-stream join == the batch left join — matched
    pairs AND watermark-flushed unmatched purchases (null click_id).

    Outer rows only emit once the watermark proves no match can arrive,
    and the watermark only advances in a LATER batch — so the fixture
    rides as batch 1 and a far-future heartbeat file (one purchase + one
    click, both excluded from the comparison) rides as batch 2 to flush
    the tail. Without it the last unmatched purchases never emit."""
    import os
    import time

    from bridge_analytics_template_spark.streaming.windows import (
        stream_stream_attribution_outer,
    )

    src = tmp_path / "src"
    src.mkdir()
    ev = load(spark, sf_dir, "events")
    ev.coalesce(1).write.parquet(str(src / "a.parquet"))
    hb_ts = "2100-01-01 00:00:00"
    heartbeat = spark.createDataFrame(
        [
            (-999, hb_ts, -1, "purchase", 0.0, "{}"),
            (-998, hb_ts, -2, "click", 0.0, "{}"),
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value", "props"
    )
    heartbeat.coalesce(1).write.parquet(str(src / "b.parquet"))
    now = time.time()
    for root, _dirs, files in os.walk(src):
        for f in files:
            full = os.path.join(root, f)
            os.utime(full, (now - 60, now - 60) if "a.parquet" in root else (now, now))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src) + "/*")
    )
    both = ev.unionByName(heartbeat)
    batch = sorted(
        (r["purchase_id"], r["click_id"])
        for r in stream_stream_attribution_outer(both).collect()
        if r["purchase_id"] != -999
    )
    streamed = sorted(
        (r["purchase_id"], r["click_id"])
        for r in run_to_memory(
            stream_stream_attribution_outer(stream), output_mode="append"
        ).collect()
        if r["purchase_id"] != -999
    )
    assert len(batch) > 0
    assert any(c is None for _, c in batch)  # fixture has unmatched purchases
    assert streamed == batch


def test_stream_ingest_dedup_equals_batch_and_shard_invariant(spark, sf_dir, tmp_path):
    """The continuous-ingest dedup pipeline (streaming/ingest.py) must
    produce EXACTLY the batch full-corpus near-dup pair set, for any shard
    count — each pair arrives once, via the within-batch self-join or the
    later doc's index probe (probe-before-append)."""
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.dedup import minhash_near_dups
    from bridge_analytics_template_spark.streaming.ingest import (
        stream_ingest_dedup_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    batch = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"])
        for r in minhash_near_dups(docs, min_jaccard=0.5)
        .select("doc_a", "doc_b", "n_inter")
        .collect()
    )
    assert len(batch) > 0
    for n_shards in (2, 3):
        streamed = sorted(
            (r["doc_a"], r["doc_b"], r["n_inter"])
            for r in stream_ingest_dedup_pairs(
                spark, docs, str(tmp_path / f"run{n_shards}"), n_shards=n_shards
            ).collect()
        )
        assert streamed == batch, f"n_shards={n_shards}"


def test_stream_ingest_embed_equals_batch_and_shard_invariant(spark, sf_dir, tmp_path):
    """The embedding continuous-ingest pipeline must produce EXACTLY the
    batch full-corpus cosine-threshold pair set, for any shard count —
    cross pairs via the bipartite blocked GEMM against earlier segments,
    self pairs within the batch."""
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.similarity import blocked_cosine_pairs
    from bridge_analytics_template_spark.streaming.ingest import (
        stream_ingest_embed_pairs,
    )

    vecs = load(spark, sf_dir, "embeddings")
    batch = sorted(
        (r["id_a"], r["id_b"])
        for r in blocked_cosine_pairs(vecs, 0.4).select("id_a", "id_b").collect()
    )
    assert len(batch) > 0
    for n_shards in (2, 3):
        streamed = sorted(
            (r["id_a"], r["id_b"])
            for r in stream_ingest_embed_pairs(
                spark, vecs, str(tmp_path / f"erun{n_shards}"), n_shards=n_shards
            ).collect()
        )
        assert streamed == batch, f"n_shards={n_shards}"


def test_stream_ingest_dedup_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """A crashed ingest run must RESUME from its checkpoint — remaining
    shards only — and still produce the exact batch pair set. Fault
    injection: the per-batch kernel raises on the 3rd micro-batch; the
    second invocation reuses the run dir's checkpoint."""
    import bridge_analytics_template_spark.llm.dedup as dedup_mod
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.dedup import minhash_near_dups
    from bridge_analytics_template_spark.streaming.ingest import (
        stream_ingest_dedup_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    batch = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"])
        for r in minhash_near_dups(docs, min_jaccard=0.5)
        .select("doc_a", "doc_b", "n_inter")
        .collect()
    )
    run = str(tmp_path / "resume_run")
    real = dedup_mod.minhash_near_dups
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected shard crash")
        return real(*args, **kwargs)

    dedup_mod.minhash_near_dups = flaky
    try:
        import pytest as _pytest

        with _pytest.raises(Exception, match="injected shard crash"):
            stream_ingest_dedup_pairs(spark, docs, run, n_shards=4)
    finally:
        dedup_mod.minhash_near_dups = real
    assert calls["n"] == 3  # two committed epochs, one failed
    import os

    assert os.path.exists(os.path.join(run, "ckpt"))  # resume state intact
    streamed = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"])
        for r in stream_ingest_dedup_pairs(spark, docs, run, n_shards=4).collect()
    )
    assert streamed == batch


def test_probe_minhash_index_exclude_segments(spark, sf_dir, tmp_path):
    """The crash-replay guard: probing with a batch's own segment excluded
    must find only pairs against the OTHER stored docs (a replayed epoch
    must not match itself through the index)."""
    from pyspark.sql import functions as F
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.dedup import (
        append_minhash_segment,
        probe_minhash_index,
        save_minhash_index,
    )

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    save_minhash_index(base, idx)
    append_minhash_segment(batch, idx, segment="e1")
    with_self = probe_minhash_index(spark, idx, batch, min_jaccard=0.5)
    without_self = probe_minhash_index(
        spark, idx, batch, min_jaccard=0.5, exclude_segments=("e1",)
    )
    # every doc matches itself at j=1.0 through its own segment...
    self_pairs = {(r["doc_a"], r["doc_b"]) for r in with_self.collect()}
    assert all((d, d) in self_pairs for d in [r["doc_id"] for r in batch.select("doc_id").limit(5).collect()])
    # ...and the exclusion removes exactly the own-segment matches
    cross_only = {(r["doc_a"], r["doc_b"]) for r in without_self.collect()}
    assert all(a != b or (a, b) not in cross_only for a, b in self_pairs)
    assert cross_only == {(a, b) for a, b in self_pairs if b % 2 == 0}


def test_stream_ingest_dedup_with_compaction_policy(spark, sf_dir, tmp_path):
    """The inline background-merge policy (maybe_compact at segment-count
    threshold) must leave the pair set bit-identical — compaction is a
    pure file rewrite — while actually folding segments during the run."""
    import json
    import os

    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.dedup import minhash_near_dups
    from bridge_analytics_template_spark.streaming.ingest import (
        stream_ingest_dedup_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    batch = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"])
        for r in minhash_near_dups(docs, min_jaccard=0.5)
        .select("doc_a", "doc_b", "n_inter")
        .collect()
    )
    run = str(tmp_path / "compact_run")
    streamed = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"])
        for r in stream_ingest_dedup_pairs(
            spark, docs, run, n_shards=4, max_segments=1
        ).collect()
    )
    assert streamed == batch
    meta = json.load(open(os.path.join(run, "idx", "meta.json")))
    # 3 segments appended (epochs after the base); threshold 1 must have
    # folded at least once, so fewer than 3 survive at the end
    assert len(meta["segments"]) < 3


def test_state_metadata_reader_describes_checkpoint(spark, sf_dir):
    """The state-metadata companion of the statestore reader must describe
    the aggregation operator's checkpoint (operator name, partitions,
    batch range) — the first thing a state inspection looks at."""
    from bridge_analytics_template_spark.catalog import index_scratch_dir
    from bridge_analytics_template_spark.queries import QUERIES

    # materialize the checkpoint via the registered query (cached per run)
    assert QUERIES["t_stream_state_inspect"].__wrapped__(spark, sf_dir).count() > 0
    ck = index_scratch_dir(spark, sf_dir, "state_inspect_ck", "events.parquet")
    meta = spark.read.format("state-metadata").load(ck).collect()
    assert len(meta) == 1
    row = meta[0]
    assert row["operatorName"] == "stateStoreSave"
    assert row["numPartitions"] > 0
    assert row["minBatchId"] == 0
