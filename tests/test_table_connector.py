"""Python DataSource connector for the manifest table
(sources/table_connector.py): snapshot-option resolution, pushed-filter
file pruning from manifest metadata, generation reconciliation, and
value-identity with read_snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThan,
)

from bridge_analytics_template_spark.sources import table_connector as tc
from bridge_analytics_template_spark.sources.manifest_table import (
    append_rows,
    erase_rows,
    evolve_schema,
    publish_snapshot,
    read_manifest,
    read_snapshot,
    tag_snapshot,
)


@pytest.fixture()
def table(spark, tmp_path):
    base = str(tmp_path / "t")
    df = spark.range(0, 2000).selectExpr(
        "id AS k",
        "id * 2 AS v",
        "CAST(timestamp_micros(CAST(id * 1000000 AS LONG)) AS timestamp) AS ts",
    )
    publish_snapshot(df, base, "k", n_files=8, stats_cols=["v"])
    evolve_schema(base, add=[("tag", "string", "L")])
    append_rows(
        spark.createDataFrame(
            [(9000 + i, 1, None, "N") for i in range(5)],
            "k long, v long, ts timestamp, tag string",
        ),
        base,
        epoch="e1",
    )
    tag_snapshot(base, "pin")
    tc.register(spark)
    return base


def test_connector_values_equal_read_snapshot(spark, table):
    """Full read through the connector == read_snapshot, column for
    column (longs, doubles-equivalent, strings, timestamps, evolved
    default backfill)."""
    got = {
        r["k"]: (r["v"], r["tag"], r["ts"])
        for r in spark.read.format("manifest_table")
        .option("path", table)
        .load()
        .collect()
    }
    want = {
        r["k"]: (r["v"], r["tag"], r["ts"])
        for r in read_snapshot(spark, table).collect()
    }
    assert got == want and len(got) == 2005


def test_connector_snapshot_options(spark, table):
    """versionAsOf pins a version (pre-evolve shape readable), tag
    resolves the reproducibility pin, and an unknown tag raises."""
    v1 = (
        spark.read.format("manifest_table")
        .option("path", table)
        .option("versionAsOf", 1)
        .load()
    )
    assert v1.columns == ["k", "v", "ts"] and v1.count() == 2000
    t = (
        spark.read.format("manifest_table")
        .option("path", table)
        .option("tag", "pin")
        .load()
    )
    assert t.count() == 2005
    with pytest.raises(Exception, match="no tag"):
        spark.read.format("manifest_table").option("path", table).option(
            "tag", "nope"
        ).load().count()


def test_connector_pushdown_prunes_partitions(spark, table):
    """pushFilters prunes the partition list from manifest metadata: a
    key range keeps a strict subset of files (bounds), a stats-column
    range prunes on its envelope, In prunes to point candidates, and a
    non-statted column never prunes. All filters are returned
    (re-applied by Spark), so end-to-end values stay exact."""
    total = len(read_manifest(table)["files"])

    def parts(filters):
        rd = tc._ManifestReader({"path": table})
        returned = rd.pushFilters(filters)
        assert list(returned) == list(filters)  # all re-applied by Spark
        return len(rd.partitions())

    assert parts([GreaterThanOrEqual(("k",), 0), LessThan(("k",), 100)]) < total
    assert parts([LessThan(("v",), 100)]) < total
    assert parts([In(("k",), (5, 7))]) < total
    assert parts([EqualTo(("ts",), None)]) == total  # not statted
    # disjoint range -> sentinel empty partition, read yields nothing
    rd = tc._ManifestReader({"path": table})
    rd.pushFilters([GreaterThanOrEqual(("k",), 10**12)])
    ps = rd.partitions()
    assert len(ps) == 1 and ps[0].path == ""
    assert list(rd.read(ps[0])) == []

    # end-to-end: filtered read through the connector == plain filter
    got = (
        spark.read.format("manifest_table")
        .option("path", table)
        .load()
        .filter((F.col("k") >= 500) & (F.col("k") < 600) & (F.col("v") > 1010))
        .count()
    )
    want = (
        read_snapshot(spark, table)
        .filter((F.col("k") >= 500) & (F.col("k") < 600) & (F.col("v") > 1010))
        .count()
    )
    assert got == want > 0


def test_cdf_stream_per_commit_batches_and_replay(spark, tmp_path):
    """The CDF stream source: one batch per commit (reader-level drive),
    evolve/compact short-circuit to empty deltas, rows always match the
    FIXED stream schema even for pre-evolve spans, replay
    (readBetweenOffsets) equals the live pass, and the streamed event log
    is the per-commit union — including insert+delete pairs for rows that
    lived exactly one commit, which a whole-span diff would cancel."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        compact_snapshot,
        merge_rows,
    )

    base = str(tmp_path / "t")
    df = spark.range(0, 200).selectExpr("id AS k", "id * 2 AS v")
    publish_snapshot(df, base, "k", n_files=4)                       # v1
    append_rows(
        spark.createDataFrame([(500, 1)], "k long, v long"), base, epoch="e1"
    )                                                                # v2
    erase_rows(spark, base, spark.createDataFrame([(500,)], "k long"), "k")  # v3
    evolve_schema(base, add=[("tag", "string", "L")])                # v4
    merge_rows(
        spark,
        base,
        spark.createDataFrame([(0, 99, "U")], "k long, v long, tag string"),
    )                                                                # v5
    compact_snapshot(spark, base, target_file_bytes=1 << 30)         # v6

    r = tc._CDFStreamReader(base, 1)
    batches = []
    off = r.initialOffset()
    while True:
        rows, noff = r.read(off)
        rows = sorted(rows)
        if noff == off:
            break
        batches.append((noff["v"], rows))
        off = noff
    assert [v for v, _ in batches] == [2, 3, 4, 5, 6]
    # every row is 4 columns wide (fixed post-evolve schema) + change type
    assert all(len(row) == 4 for _, rs in batches for row in rs)
    # v2: the appended row inserts with the evolved column's DEFAULT
    assert batches[0][1] == [(500, 1, "L", "insert")]
    # v3: the one-commit-lived row deletes — the event log keeps the pair
    assert batches[1][1] == [(500, 1, "L", "delete")]
    # v4 evolve and v6 compact: empty deltas
    assert batches[2][1] == [] and batches[4][1] == []
    # v5 merge: delete old + insert new for key 0
    assert batches[3][1] == [(0, 0, "L", "delete"), (0, 99, "U", "insert")]

    # replay any span == the union of its live per-commit batches
    replay = sorted(r.readBetweenOffsets({"v": 1}, {"v": 5}))
    live = sorted(
        row for v, rs in batches if v <= 5 for row in rs
    )
    # note: replay is the SPAN diff, so the (500,...) insert+delete pair
    # cancels; everything else must match
    live_compacted = [
        row for row in live if row[0] != 500
    ]
    assert replay == sorted(live_compacted)


def test_cdf_replication_loop(spark, tmp_path):
    """The composition the CDF contract exists for: a downstream REPLICA
    kept in sync by subscribing to the change feed — stream the source
    table's per-commit deltas and apply each batch to a second manifest
    table (deletes erase by key, inserts append, epoch-tagged for
    exactly-once). After draining, the replica must equal the source head
    row-for-row, without ever rescanning the source."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        merge_rows,
        read_manifest as rm,
    )
    from bridge_analytics_template_spark.streaming.ingest import (
        _run_available_now,  # noqa: F401  (pattern reference)
    )

    src_base = str(tmp_path / "src")
    dst_base = str(tmp_path / "dst")
    df = spark.range(0, 300).selectExpr("id AS k", "id * 2 AS v")
    publish_snapshot(df, src_base, "k", n_files=4)
    append_rows(
        spark.createDataFrame([(1000 + i, 1) for i in range(7)], "k long, v long"),
        src_base,
        epoch="e1",
    )
    erase_rows(
        spark, src_base, spark.createDataFrame([(k,) for k in range(0, 30)], "k long"), "k"
    )
    merge_rows(spark, src_base, spark.createDataFrame([(5, 999), (2000, 1)], "k long, v long"))

    # bootstrap an empty replica, then apply the feed batch by batch
    publish_snapshot(
        spark.createDataFrame([], "k long, v long"), dst_base, "k"
    )
    tc.register_changes(spark)
    feed = (
        spark.readStream.format("manifest_table_changes")
        .option("path", src_base)
        .load()
    )

    def apply_batch(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        dels = batch_df.filter(F.col("_change_type") == "delete").select("k")
        ins = batch_df.filter(F.col("_change_type") == "insert").drop("_change_type")
        if dels.count():
            erase_rows(spark, dst_base, dels, "k")
        if ins.count():
            append_rows(ins, dst_base, epoch=f"cdc{epoch_id}")

    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r["k"], r["v"]) for r in read_snapshot(spark, dst_base).collect()
    )
    want = sorted(
        (r["k"], r["v"]) for r in read_snapshot(spark, src_base).collect()
    )
    assert got == want and len(got) == 279
    # and the replica's history shows the applied commits, not a rescan
    assert rm(dst_base)["rows"] == 279


def test_native_writer_roundtrip(spark, tmp_path):
    """df.write.format("manifest_table"): first write CREATES the table
    (key option), append unions, an epoch-tagged append is idempotent
    under replay, overwrite replaces the file list — all through the
    library's read path."""
    tc.register(spark)
    base = str(tmp_path / "native")
    df = spark.range(0, 100).selectExpr("id AS k", "id * 3 AS v")
    (
        df.write.format("manifest_table")
        .option("key", "k")
        .option("statscols", "v")
        .mode("append")
        .save(base)
    )
    got = sorted((r["k"], r["v"]) for r in read_snapshot(spark, base).collect())
    assert got == [(i, 3 * i) for i in range(100)]
    m = read_manifest(base)
    assert m["stats_cols"] == ["v"] and m["op"] == "publish"
    assert all(e.get("stats", {}).get("v") for e in m["files"])

    extra = spark.createDataFrame([(1000, 1)], "k long, v long")
    extra.write.format("manifest_table").option("epoch", "e1").mode("append").save(base)
    assert read_manifest(base)["rows"] == 101
    # replayed micro-batch: same epoch -> byte-identical table, no new files
    files_before = {e["file"] for e in read_manifest(base)["files"]}
    extra.write.format("manifest_table").option("epoch", "e1").mode("append").save(base)
    m2 = read_manifest(base)
    assert m2["rows"] == 101
    assert {e["file"] for e in m2["files"]} == files_before
    assert read_snapshot(spark, base).count() == 101

    small = spark.createDataFrame([(5, 99)], "k long, v long")
    small.write.format("manifest_table").mode("overwrite").save(base)
    assert [(r["k"], r["v"]) for r in read_snapshot(spark, base).collect()] == [(5, 99)]
    assert read_manifest(base)["op"] == "overwrite"
    # connector read == library read after the whole DML sequence
    via_conn = spark.read.format("manifest_table").option("path", base).load()
    assert [(r["k"], r["v"]) for r in via_conn.collect()] == [(5, 99)]


def test_native_writer_bloom_matches_library(spark, tmp_path):
    """The write-time bloom/bounds metadata is BIT-IDENTICAL to the
    library's SQL-built entries for the same single-file content, and
    drives the same candidate-file pruning."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        _candidate_files,
    )

    tc.register(spark)
    df = spark.range(0, 500).selectExpr("id AS k", "id AS v").coalesce(1)
    nb, lb = str(tmp_path / "n"), str(tmp_path / "l")
    # Python DataSources support only Append/Overwrite save modes
    df.write.format("manifest_table").option("key", "k").mode("append").save(nb)
    publish_snapshot(df, lb, "k")
    en, el = read_manifest(nb)["files"], read_manifest(lb)["files"]
    assert len(en) == 1 and len(el) == 1
    assert en[0]["bloom"] == el[0]["bloom"]
    assert en[0]["bloom_m"] == el[0]["bloom_m"]
    assert (en[0]["lo"], en[0]["hi"], en[0]["rows"]) == (
        el[0]["lo"],
        el[0]["hi"],
        el[0]["rows"],
    )
    keys = spark.createDataFrame([(3,), (499,)], "k long")
    assert _candidate_files(spark, read_manifest(nb), keys, "k") == [en[0]["file"]]
    # a key outside every file's range/bloom prunes everything
    miss = spark.createDataFrame([(10**9,)], "k long")
    assert _candidate_files(spark, read_manifest(nb), miss, "k") == []


def test_native_writer_abort_leaves_table_intact(spark, tmp_path):
    """Two-phase commit, phase-1 failure: a task error aborts the write —
    the committed table (manifest, version, files/) is untouched and the
    staging dir is gone."""
    import os

    tc.register(spark)
    base = str(tmp_path / "abt")
    spark.range(0, 10).selectExpr("id AS k", "id AS v").write.format(
        "manifest_table"
    ).option("key", "k").mode("append").save(base)
    m0 = read_manifest(base)
    files0 = set(os.listdir(os.path.join(base, "files")))
    bad = spark.range(0, 10).selectExpr("id AS k").withColumn(
        "v", F.expr("k DIV (k - 7)")  # ANSI divide-by-zero at k = 7
    )
    with pytest.raises(Exception):
        bad.write.format("manifest_table").mode("append").save(base)
    assert read_manifest(base) == m0
    assert set(os.listdir(os.path.join(base, "files"))) == files0
    assert not [d for d in os.listdir(base) if d.startswith("_staging_")]


def test_native_writer_survives_lost_cas_race(spark, tmp_path):
    """A rival commit lands the version the connector's append was about
    to commit (injected once, as in test_commit_conflict_cas). The append
    loses the CAS, re-reads the head and commits on top of it: its rows
    land exactly once, the rival's commit survives, and the staging dir
    is gone. Spark runs a Python writer's commit in a worker process, so
    the race is injected by a test-local writer subclass, which travels
    to that worker by value."""
    import os
    import uuid
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    import bridge_analytics_template_spark.sources.manifest_table as mt

    base = str(tmp_path / "race")
    publish_snapshot(spark.range(0, 10).selectExpr("id AS k", "id AS v"), base, "k")
    rival_file = "part-rival.parquet"
    pq.write_table(
        pa.table({"k": pa.array([100], pa.int64()), "v": pa.array([1], pa.int64())}),
        os.path.join(base, "files", rival_file),
    )
    rival = {"file": rival_file, "rows": 1, "lo": 100, "hi": 100,
             "bloom": None, "bloom_m": None, "schema_id": 1}

    class RacedWriter(tc._ManifestWriter):
        def commit(self, messages):
            real = mt._commit_manifest
            raced = []

            def racing(b, version, manifest, op="commit"):
                if not raced:  # the rival wins the first attempt only
                    raced.append(version)
                    head = mt.read_manifest(b)
                    real(b, version, mt._carry(head, head["files"] + [rival]), "rival")
                real(b, version, manifest, op)

            mt._commit_manifest = racing
            try:
                tc._ManifestWriter.commit(self, messages)
            finally:
                mt._commit_manifest = real

    # a format name of its own: a registered name cannot be replaced
    name = f"manifest_table_raced_{uuid.uuid4().hex[:8]}"

    class RacedSource(tc.ManifestTableDataSource):
        @classmethod
        def name(cls):
            return name

        def writer(self, schema, overwrite):
            return RacedWriter(dict(self.options), schema, overwrite)

    spark.dataSource.register(RacedSource)
    spark.range(200, 205).selectExpr("id AS k", "id AS v").write.format(
        name
    ).mode("append").save(base)

    assert read_manifest(base, 2)["op"] == "rival"
    m = read_manifest(base)
    assert m["op"] == "append" and m["rows"] == 16
    got = Counter(r["k"] for r in read_snapshot(spark, base).collect())
    assert got == Counter([*range(10), 100, *range(200, 205)])
    assert not [d for d in os.listdir(base) if d.startswith("_staging_")]


def test_cdf_every_batching_rebuilds_head(spark, tmp_path):
    """CDF apply-feed invariant, exhaustively over BATCHINGS: for EVERY
    composition of the version range [0..head] into contiguous spans —
    including spans that merge DML with evolve/compact (empty-delta)
    commits — applying the spans' insert/delete multisets to an empty
    table must reconstruct the head snapshot exactly. This pins that
    span diffs compose: cancellation inside a span (a row inserted then
    erased), schema-fixed projection across the evolve, and the
    content-identical compaction all commute with batching."""
    from collections import Counter
    from itertools import combinations

    from bridge_analytics_template_spark.sources.manifest_table import (
        compact_snapshot,
        merge_rows,
    )

    base = str(tmp_path / "spans")
    publish_snapshot(
        spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v"), base, "k", n_files=2
    )                                                                # v1
    append_rows(
        spark.createDataFrame([(100, 1), (101, 1)], "k long, v long"), base, epoch="e"
    )                                                                # v2
    erase_rows(spark, base, spark.createDataFrame([(100,), (3,)], "k long"), "k")  # v3
    evolve_schema(base, add=[("tag", "string", "L")])                # v4
    merge_rows(
        spark, base, spark.createDataFrame([(0, 99, "U"), (200, 1, "N")],
                                           "k long, v long, tag string")
    )                                                                # v5
    compact_snapshot(spark, base, target_file_bytes=1 << 30)         # v6

    head = 6
    want = Counter(
        (r["k"], r["v"], r["tag"]) for r in read_snapshot(spark, base).collect()
    )
    r = tc._CDFStreamReader(base, 0)
    # every composition of [0..head]: choose the interior cut points
    for cuts in [
        c for n in range(head) for c in combinations(range(1, head), n)
    ]:
        bounds = [0, *cuts, head]
        state: Counter = Counter()
        for a, b in zip(bounds, bounds[1:]):
            for row in r.readBetweenOffsets({"v": a}, {"v": b}):
                *vals, change = row
                if change == "insert":
                    state[tuple(vals)] += 1
                else:
                    state[tuple(vals)] -= 1
        state = +state  # drop zero entries
        assert state == want, f"batching {bounds} diverged"
