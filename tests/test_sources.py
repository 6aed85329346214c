"""File view, annotation promotion, partitioned sink layout."""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark import partitioning
from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.partitioning import scope_footers
from bridge_analytics_template_spark.sources.fileview import METADATA_COLS, file_view, promote_annotations
from bridge_analytics_template_spark.sources.sink import read_partitioned, write_partitioned


def test_file_view_metadata_columns(spark, sf_dir):
    fv = file_view(spark, os.path.join(sf_dir, "documents.parquet"))
    row = fv.select("file_name", "file_size").limit(1).collect()[0]
    assert row["file_name"] == "documents.parquet"
    assert row["file_size"] > 0


def test_promote_annotations_sparse_keys(spark):
    df = spark.createDataFrame(
        [(1, {"color": "red", "size": "L"}), (2, {"color": "blue"}), (3, {})],
        "id long, ann map<string,string>",
    )
    out = promote_annotations(df, "ann")
    assert set(out.columns) == {"id", "color", "size"}
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["size"] == "L"
    assert rows[2]["size"] is None  # sparse key -> null, view semantics
    assert rows[3]["color"] is None


def _scanned_files(df):
    """Paths of the files the plan's one file scan selects after partition
    pruning (driver-side, no job). ``DataFrame.inputFiles()`` lists the
    relation's files before pruning, so it cannot show pruning."""
    scan = df._jdf.queryExecution().sparkPlan().collectLeaves().apply(0)
    files = [d.files() for d in scan.selectedPartitions().partitionDirectories()]
    return [fs.apply(i).getPath().toString() for fs in files for i in range(fs.size())]


def test_partitioned_sink_layout(spark, sf_dir):
    """The {app}/{study} directory layout of copy_from_template.py:316."""
    df = load(spark, sf_dir, "customer").select(
        F.lit("appA").alias("app"), F.col("c_mktsegment").alias("study"), "c_custkey"
    )
    base = os.path.join(tempfile.mkdtemp(), "sinktest")
    write_partitioned(df, base)
    assert os.path.isdir(os.path.join(base, "app=appA", "study=FURNITURE"))
    back = read_partitioned(spark, base)
    assert back.filter(F.col("study") == "FURNITURE").count() == df.filter(
        F.col("study") == "FURNITURE"
    ).count()
    # partition filter prunes: only files under the one directory are scanned
    pruned = _scanned_files(back.filter(F.col("study") == "FURNITURE"))
    assert pruned and all("/study=FURNITURE/" in p for p in pruned)
    assert len(pruned) < len(_scanned_files(back))


def test_clustered_layout_disjoint_file_ranges(spark, sf_dir, tmp_path):
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.sources.manifest_table import (
        publish_snapshot,
        read_snapshot,
    )

    path = str(tmp_path / "clustered")
    o = load(spark, sf_dir, "orders")
    publish_snapshot(o, path, "o_orderkey", n_files=4)
    snap = read_snapshot(spark, path)
    ranges = sorted(
        (r["lo"], r["hi"])
        for r in snap.groupBy(F.input_file_name())
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    assert len(ranges) >= 2
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint key ranges -> min/max file skipping
    # round-trip completeness
    assert snap.count() == o.count()


def test_observed_sink_reports_write_metrics(spark, sf_dir, tmp_path):
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.sources.sink import write_partitioned_observed

    o = load(spark, sf_dir, "orders").withColumn("app", F.lit("app1")).withColumn(
        "study", (F.col("o_orderkey") % 3).cast("string")
    )
    metrics = write_partitioned_observed(o, str(tmp_path / "obs"))
    assert metrics["rows_written"] == o.count()
    assert metrics["n_study"] == 3


def test_python_stream_datasource_matches_batch(spark):
    """The Python streaming DataSource replays exactly the batch source's
    rows across micro-batches (offset protocol: initialOffset/read)."""
    import uuid

    from bridge_analytics_template_spark.sources.pydatasource import (
        register,
        register_stream,
    )

    register(spark)
    register_stream(spark)
    batch = spark.read.format("synthetic_events").option("num_rows", 500).load()
    stream = (
        spark.readStream.format("synthetic_events_stream")
        .option("num_rows", 500)
        .option("batch_rows", 128)
        .load()
    )
    name = f"pyds_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 500:
            time.sleep(0.5)
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_binary_file_reader(spark, tmp_path):
    from bridge_analytics_template_spark.sources.readers import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01payload-a")
    (tmp_path / "b.bin").write_bytes(b"payload-b")
    (tmp_path / "skip.txt").write_text("not binary target")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01payload-a"
    assert rows["b.bin"].length == 9


def test_wholetext_reader_one_row_per_file(spark, tmp_path):
    from bridge_analytics_template_spark.sources.readers import read_text_files

    (tmp_path / "d1.txt").write_text("line one\nline two\n")
    (tmp_path / "d2.txt").write_text("solo")
    whole = read_text_files(spark, str(tmp_path), whole=True)
    assert sorted(r.value for r in whole.collect()) == ["line one\nline two\n", "solo"]
    lines = read_text_files(spark, str(tmp_path))
    assert sorted(r.value for r in lines.collect()) == ["line one", "line two", "solo"]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appended files with an added column read back under mergeSchema:
    union schema, NULLs for pre-evolution rows — the append-only schema
    drift a long-lived {app}/{study} prefix accumulates."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # without mergeSchema the picked footer may miss the new column —
    # the option is the contract, not a default behavior assumption
    plain = spark.read.parquet(path)
    assert set(plain.columns) <= {"id", "v", "score"}


def test_json_corrupt_record_modes(spark, tmp_path):
    """Malformed ingest rows: PERMISSIVE captures the raw line in the
    corrupt-record column, DROPMALFORMED silently drops, FAILFAST raises —
    the three contracts a permissive-ingest pipeline chooses between."""
    import pytest

    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\n{broken json!!\n{"id": 2, "v": "fine"}\n')
    schema = "id long, v string, _corrupt_record string"
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = perm.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("{broken")
    dropped = (
        spark.read.schema("id long, v string").option("mode", "DROPMALFORMED").json(str(p))
    )
    assert sorted(r.id for r in dropped.collect()) == [1, 2]
    with pytest.raises(Exception):
        spark.read.schema("id long, v string").option("mode", "FAILFAST").json(str(p)).collect()


def test_catalog_scan_cache_keys_on_sf_dir(spark):
    """The r5 scan cache must never cross-serve SF dirs or tables, and the
    cached plan must stay collectible (immutable logical plan)."""
    from bridge_analytics_template_spark.catalog import load

    a = load(spark, "/root/testdata/sf0.001", "region")
    b = load(spark, "/root/testdata/sf0.01", "region")
    c = load(spark, "/root/testdata/sf0.001", "region")
    assert c is a  # same key -> same cached object
    assert b is not a
    assert a.count() == b.count() == 5  # both real scans of their own dir
    n1 = load(spark, "/root/testdata/sf0.001", "nation")
    assert n1 is not a and n1.count() == 25


def test_catalog_sibling_session_gets_own_defaults_and_views(spark):
    """ADVICE r5 (medium): spark.newSession() shares the applicationId but
    has independent confs and a separate temp-view catalog. The scan cache
    must key on SESSION IDENTITY: the sibling gets its own
    session.apply (UTC pinned) and register_views() must land
    views in the SIBLING's catalog, visible to its spark.sql."""
    from bridge_analytics_template_spark.catalog import load, register_views

    sib = spark.newSession()
    try:
        sib.conf.set("spark.sql.session.timeZone", "America/New_York")
        a = load(spark, "/root/testdata/sf0.001", "region")
        b = load(sib, "/root/testdata/sf0.001", "region")
        # defaults were re-pinned for the sibling, not silently skipped
        assert sib.conf.get("spark.sql.session.timeZone") == "UTC"
        assert b is not a  # cache never crosses session boundaries
        assert b.sparkSession is sib
        register_views(sib, "/root/testdata/sf0.001", tables=("region",))
        assert sib.sql("select count(*) c from region").collect()[0].c == 5
    finally:
        # scrub the sibling's temp view so it can't shadow anything
        sib.catalog.dropTempView("region")


def test_catalog_scan_cache_staleness_and_clear(spark, tmp_path):
    """ADVICE r5: a fixture rewritten in-place must be a cache MISS (mtime
    token in the key), and clear_scan_cache() must drop cached plans."""
    import os
    import shutil

    from bridge_analytics_template_spark.catalog import clear_scan_cache, load

    d = tmp_path / "fixture"
    d.mkdir()
    src = "/root/testdata/sf0.001/region.parquet"
    dst = str(d / "region.parquet")
    shutil.copyfile(src, dst)
    a = load(spark, str(d), "region")
    assert load(spark, str(d), "region") is a  # warm hit
    # rewrite in place: same path, new mtime -> new plan
    shutil.copyfile(src, dst)
    os.utime(dst, (os.path.getmtime(dst) + 5, os.path.getmtime(dst) + 5))
    b = load(spark, str(d), "region")
    assert b is not a and b.count() == 5
    clear_scan_cache()
    assert load(spark, str(d), "region") is not b


# --- Avro Object Container codec (sources/avro_codec.py) ---------------------


def test_avro_roundtrip_matrix():
    """encode→decode identity across the supported schema subset: every
    primitive, nullable unions in both branch orders, arrays (empty and
    non-empty), both codecs, multi-block containers, and the empty
    container."""
    import math

    from bridge_analytics_template_spark.sources.avro_codec import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "u1", "type": ["null", "string"]},
            {"name": "u2", "type": ["long", "null"]},
            {"name": "a", "type": {"type": "array", "items": "long"}},
        ],
    }
    rows = [
        {
            "b": i % 2 == 0,
            "i": i - 5,
            "l": (i - 3) * 10**15,
            "f": 0.5 * i,
            "d": i / 7.0,
            "s": f"row {i} é中",
            "by": bytes([i % 256, 255 - i % 256]),
            "u1": None if i % 3 == 0 else f"u{i}",
            "u2": None if i % 4 == 0 else i * 7,
            "a": list(range(i % 4)),
        }
        for i in range(25)
    ]
    for codec in ("null", "deflate"):
        blob = encode_avro(rows, schema, codec=codec, records_per_block=7)
        got_schema, got = decode_avro(blob)
        assert got_schema == schema
        assert len(got) == len(rows)
        for a, b in zip(got, rows):
            for k in b:
                if k == "f":  # float32 roundtrip quantizes
                    assert a[k] == (
                        b[k]
                        if b[k] == 0
                        else __import__("struct").unpack(
                            "<f", __import__("struct").pack("<f", b[k])
                        )[0]
                    )
                elif k == "d":
                    assert a[k] == b[k] or (math.isnan(a[k]) and math.isnan(b[k]))
                else:
                    assert a[k] == b[k], (k, a[k], b[k])
    # empty container: header only, zero records
    assert decode_avro(encode_avro([], schema))[1] == []


def test_avro_hand_vector():
    """Spec hand-vector: the binary encoding of known values, computed by
    hand from the Avro 1.12 spec (zigzag+varint, length-prefixed string),
    must appear byte-for-byte in the container body — independent
    evidence the encoder isn't just self-consistent."""
    from bridge_analytics_template_spark.sources.avro_codec import (
        _enc_long,
        decode_avro,
        encode_avro,
    )

    # spec examples: 0→00, -1→01, 1→02, -2→03, 2→04, -64→7f, 64→80 01
    assert _enc_long(0) == b"\x00"
    assert _enc_long(-1) == b"\x01"
    assert _enc_long(1) == b"\x02"
    assert _enc_long(-2) == b"\x03"
    assert _enc_long(2) == b"\x04"
    assert _enc_long(-64) == b"\x7f"
    assert _enc_long(64) == b"\x80\x01"

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "n", "type": "long"}, {"name": "s", "type": "string"}],
    }
    blob = encode_avro([{"n": 1, "s": "ab"}], schema, codec="null")
    # record body: long 1 = 02, string "ab" = 04 61 62
    assert b"\x02\x04ab" in blob
    assert decode_avro(blob)[1] == [{"n": 1, "s": "ab"}]


def test_avro_corruption_rejected():
    """Hostile containers fail CLEANLY (ValueError), never crash or
    silently return wrong rows: bad magic, flipped sync marker, truncated
    block, trailing garbage inside a block."""
    import pytest

    from bridge_analytics_template_spark.sources.avro_codec import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "n", "type": "long"}],
    }
    blob = bytearray(encode_avro([{"n": i} for i in range(10)], schema))
    with pytest.raises(ValueError):
        decode_avro(b"Junk" + bytes(blob[4:]))
    flipped = bytearray(blob)
    flipped[-1] ^= 0xFF  # trailing sync marker byte
    with pytest.raises(ValueError):
        decode_avro(bytes(flipped))
    with pytest.raises(ValueError):
        decode_avro(bytes(blob[:-3]))  # truncated
    # random fuzz never raises anything but ValueError
    import random

    rng = random.Random(7)
    for _ in range(200):
        fz = bytearray(blob)
        for _ in range(rng.randrange(1, 6)):
            fz[rng.randrange(len(fz))] = rng.randrange(256)
        try:
            decode_avro(bytes(fz))
        except ValueError:
            pass
        except Exception as ex:  # noqa: BLE001
            raise AssertionError(f"non-ValueError escape: {type(ex).__name__}: {ex}")


def test_corrupt_file_skip_and_strict_failure(spark, sf_dir, tmp_path):
    """ignoreCorruptFiles must skip a planted garbage member and return
    exactly the healthy rows; the default strict read must RAISE on the
    same directory (the resilience is opt-in, never silent)."""
    import pytest

    from bridge_analytics_template_spark.catalog import load

    n = load(spark, sf_dir, "nation")
    path = str(tmp_path / "dirty")
    n.write.parquet(path)
    with open(f"{path}/zz_corrupt.parquet", "wb") as fh:
        fh.write(b"garbage that is not parquet" * 32)
    clean = spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    assert clean.count() == n.count()
    # strict default must fail ON THE CORRUPT FOOTER specifically — match
    # the corrupt-file error class so an unrelated failure can't pass
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        spark.read.parquet(path).count()


def test_python_sink_manifest_commit_and_abort(spark, sf_dir, tmp_path):
    """The Python DataSource WRITER's two-phase commit: only manifested
    files are readable; a failed job leaves the previous manifest intact
    (its staged leftovers invisible); the next successful write replaces
    the manifest atomically."""
    import pytest
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.sources.pydatasource import (
        read_manifested,
        register_sink,
    )

    register_sink(spark)
    path = str(tmp_path / "sink")
    d = load(spark, sf_dir, "documents").select("doc_id").limit(50)

    d.filter(F.col("doc_id") % 2 == 0).write.format("jsonl_manifest").option(
        "path", path
    ).mode("append").save()
    first = sorted(r["doc_id"] for r in read_manifested(spark, path, "doc_id long").collect())
    assert first and all(i % 2 == 0 for i in first)

    # poisoned write: one row makes its task raise -> abort, no commit
    from pyspark.sql.functions import udf

    @udf("long")
    def poison(v):
        if v == 1:
            raise ValueError("poisoned row")
        return v

    bad = d.withColumn("doc_id", poison("doc_id"))
    with pytest.raises(Exception):
        bad.write.format("jsonl_manifest").option("path", path).mode("append").save()
    # previous commit still the visible truth, failed staging invisible
    again = sorted(r["doc_id"] for r in read_manifested(spark, path, "doc_id long").collect())
    assert again == first

    # append MERGES with the committed manifest (ADVICE r8): the second
    # save must not hide the first commit's rows
    d.filter(F.col("doc_id") % 2 == 1).write.format("jsonl_manifest").option(
        "path", path
    ).mode("append").save()
    both = sorted(r["doc_id"] for r in read_manifested(spark, path, "doc_id long").collect())
    all_ids = sorted(r["doc_id"] for r in d.collect())
    assert both == all_ids

    # overwrite commits only the new files AND physically removes the
    # superseded parts — no silent staged-file leak
    import json
    import os

    d.filter(F.col("doc_id") % 2 == 1).write.format("jsonl_manifest").option(
        "path", path
    ).mode("overwrite").save()
    odd = sorted(r["doc_id"] for r in read_manifested(spark, path, "doc_id long").collect())
    assert odd and all(i % 2 == 1 for i in odd)
    with open(os.path.join(path, "_manifest.json")) as fh:
        manifest = json.load(fh)
    on_disk = {f for f in os.listdir(path) if f.startswith("part-")}
    # the aborted write's staging was removed by abort(); the overwrite
    # removed every superseded committed part — disk holds exactly the
    # manifested files
    assert on_disk == set(manifest["files"])


def test_python_sink_empty_commit_reads_empty(spark, tmp_path):
    """A zero-row write commits an empty manifest; read_manifested returns
    an empty DataFrame of the declared schema instead of raising (ADVICE
    r8)."""
    from bridge_analytics_template_spark.sources.pydatasource import (
        read_manifested,
        register_sink,
    )

    register_sink(spark)
    path = str(tmp_path / "empty_sink")
    empty = spark.range(0).selectExpr("id as doc_id")
    empty.write.format("jsonl_manifest").option("path", path).mode("append").save()
    out = read_manifested(spark, path, "doc_id long")
    assert out.count() == 0
    assert out.schema.fieldNames() == ["doc_id"]


# --- Footer-resolved read-back and one-pass annotation keys ------------------


def _typed_sink(spark, base):
    """A ``write_partitioned`` sink with every column family the read-back
    must round-trip, a non-nullable column and field metadata."""
    df = spark.range(0, 30, 1, 3).select(
        F.lit("appA").alias("app"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("study"),
        "id",
        F.timestamp_seconds(F.col("id") * 86_400).alias("ts"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.col("id").cast("decimal(12,3)").alias("amount"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("ann"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.struct(F.col("id").alias("x"), F.col("id").cast("string").alias("y")).alias("st"),
        F.col("id").cast("string").alias("note", metadata={"comment": "free text"}),
    )
    write_partitioned(df, base)
    return df


def test_read_partitioned_footer_schema_equals_inference(spark, tmp_path, jobs_of):
    base = str(tmp_path / "sink")
    _typed_sink(spark, base)
    assert {"_SUCCESS", "._SUCCESS.crc"} <= set(os.listdir(base))  # hidden, not a fallback
    back, jobs = jobs_of(lambda: read_partitioned(spark, base))
    want = spark.read.parquet(base).schema
    assert jobs == 0  # the schema came from the footers
    assert back.schema == want
    assert back.schema.json() == want.json()  # nullability and field metadata too
    assert back.schema["note"].metadata == {"comment": "free text"}
    assert sorted(back.collect()) == sorted(spark.read.parquet(base).collect())


def _assert_fallback(spark, base, jobs_of):
    back, jobs = jobs_of(lambda: read_partitioned(spark, base))
    assert jobs == 1  # Spark's schema-inference job
    assert back.schema == spark.read.parquet(base).schema
    return back


def _arrow_layout(base, tables):
    """A pyarrow-written ``app=appA/study=s<i>`` layout, one file per table."""
    import pyarrow.parquet as pq

    for i, table in enumerate(tables):
        part = base / "app=appA" / f"study=s{i}"
        part.mkdir(parents=True)
        pq.write_table(table, part / "part-0.parquet")
    return str(base)


def test_read_partitioned_plans_pyarrow_footers(spark, tmp_path, jobs_of):
    import pyarrow as pa

    table = pa.table({"id": [1, 2], "v": ["a", None]})
    base = _arrow_layout(tmp_path / "arrow", [table, table])
    back, jobs = jobs_of(lambda: read_partitioned(spark, base))
    assert jobs == 0  # Spark's converter on the one footer schema
    assert back.schema.json() == spark.read.parquet(base).schema.json()
    assert sorted(back.collect()) == sorted(spark.read.parquet(base).collect())


def test_read_partitioned_falls_back_without_spark_footers(spark, tmp_path, jobs_of):
    """pyarrow-written footers are not merged: with two schemas, or with a
    data column named like a partition directory, Spark's inference
    decides."""
    import pyarrow as pa

    mixed = [pa.table({"id": [1, 2], "v": ["a", None]}), pa.table({"id": [3], "w": [1.5]})]
    back = _assert_fallback(spark, _arrow_layout(tmp_path / "mixed", mixed), jobs_of)
    assert back.count() == 3
    holds_app = [pa.table({"app": ["x", "y"], "id": [1, 2]})] * 2
    back = _assert_fallback(spark, _arrow_layout(tmp_path / "holds_app", holds_app), jobs_of)
    assert back.columns == ["app", "id", "study"]


def test_read_partitioned_falls_back_on_summary_files(spark, tmp_path, jobs_of):
    import pyarrow.parquet as pq

    base = str(tmp_path / "sink")
    _typed_sink(spark, base)
    data = next(p for p in Path(base).rglob("part-*.parquet"))
    pq.write_metadata(pq.read_schema(data), os.path.join(base, "_common_metadata"))
    names = {p.name for p in Path(base).rglob("*")}
    assert {"_SUCCESS", "_common_metadata"} <= names
    assert any(n.endswith(".crc") for n in names)
    _assert_fallback(spark, base, jobs_of)


def test_read_partitioned_rereads_a_rewritten_footer(spark, tmp_path, jobs_of):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "sink")
    _typed_sink(spark, base)
    assert jobs_of(lambda: read_partitioned(spark, base))[1] == 0
    # Same path, new schema, no Spark footer key: the memo key (size, mtime)
    # must miss, so the stale Spark schema is not reused.
    data = next(p for p in Path(base).rglob("part-*.parquet"))
    pq.write_table(pa.table({"id": [7], "extra": ["x"]}), data)
    _assert_fallback(spark, base, jobs_of)


def test_read_partitioned_keeps_every_study_column(spark, tmp_path):
    """Studies promoted with different annotation keys share one sink: the
    read-back must hold the union of their columns, not one file's schema
    (the columns of the study written second were dropped)."""
    base = str(tmp_path / "sink")
    first = spark.createDataFrame([("a", "s0", "r0", {"k1": "x"})], "app string, study string, recordId string, ann map<string,string>")
    second = spark.createDataFrame(
        [("a", "s1", "r1", {"k1": "y", "k2": "z"})], "app string, study string, recordId string, ann map<string,string>"
    )
    write_partitioned(promote_annotations(first, "ann"), base, dynamic_overwrite=True)
    write_partitioned(promote_annotations(second, "ann"), base, dynamic_overwrite=True)
    back = read_partitioned(spark, base)
    assert {"recordId", "k1", "k2", "app", "study"} == set(back.columns)
    rows = {r["study"]: r for r in back.collect()}
    assert rows["s1"]["k2"] == "z" and rows["s1"]["k1"] == "y"
    assert rows["s0"]["k2"] is None and rows["s0"]["k1"] == "x"


def test_read_partitioned_raises_on_incompatible_study_types(spark, tmp_path):
    base = str(tmp_path / "sink")
    schema = "app string, study string, v {}"
    write_partitioned(spark.createDataFrame([("a", "s0", 1)], schema.format("int")), base, dynamic_overwrite=True)
    write_partitioned(spark.createDataFrame([("a", "s1", True)], schema.format("boolean")), base, dynamic_overwrite=True)
    with pytest.raises(Exception, match="cannot be merged"):
        read_partitioned(spark, base)


def file_view_two_pass(spark, scope, annotation_col):
    """``file_view`` before one-pass key discovery, kept as the reference:
    one ``withColumn`` per metadata column, then the key universe from a
    ``distinct().collect()`` of the exploded map keys."""
    df = spark.read.parquet(scope)
    for alias, src in METADATA_COLS.items():
        df = df.withColumn(alias, F.col(src))
    keys = sorted(
        r[0]
        for r in df.select(F.explode(F.map_keys(F.col(annotation_col))).alias("k")).distinct().collect()
    )
    cols = [F.col(c) for c in df.columns if c != annotation_col]
    cols += [F.element_at(F.col(annotation_col), F.lit(k)).alias(k) for k in keys]
    return df.select(cols)


_ANNOTATIONS = {
    "dotted_and_spaced_keys": [[("a.b", "1"), ("c d", "2")], None, [], [("plain", "3"), ("a.b", "4")]],
    "all_null_maps": [None, None, None],
    "empty_input": [],
}


@pytest.mark.parametrize("case", sorted(_ANNOTATIONS))
def test_file_view_matches_two_pass_form(spark, tmp_path, case, monkeypatch):
    """Both key paths: the driver read of the key leaf, and the observed
    Spark pass when the key bound is forced to 0."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    maps = _ANNOTATIONS[case]
    # file_size collides with a metadata column: replaced in place, not appended
    table = pa.table({
        "recordId": [f"r{i}" for i in range(len(maps))],
        "file_size": pa.array(["raw"] * len(maps), pa.string()),
        "annotations": pa.array(maps, pa.map_(pa.string(), pa.string())),
    })
    scope = tmp_path / "raw"
    scope.mkdir()
    pq.write_table(table, scope / "export-000.parquet")
    pq.write_table(table.slice(0, len(maps) // 2), scope / "export-001.parquet")
    want = file_view_two_pass(spark, str(scope), "annotations")
    for bound in (partitioning._MAX_KEY_LEAF_BYTES, 0):
        monkeypatch.setattr(partitioning, "_MAX_KEY_LEAF_BYTES", bound)
        got = file_view(spark, str(scope), annotation_col="annotations")
        assert got.columns == want.columns
        assert got.schema == want.schema
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


# --- Footer-planned file view: schema parity and fallbacks -------------------


def _arrow_column(name):
    """One column of each type the footer path plans, nested ones
    included, with a null row."""
    import datetime
    import decimal

    import pyarrow as pa

    values = {
        "string": pa.array(["a", None]),
        "binary": pa.array([b"\x00a", None]),
        "fixed_size_binary": pa.array([b"\x00a", None], pa.binary(2)),
        "large_string": pa.array(["a", None], pa.large_string()),
        "null": pa.array([None, None], pa.null()),
        "boolean": pa.array([True, None]),
        "int8": pa.array([1, None], pa.int8()),
        "int16": pa.array([1, None], pa.int16()),
        "int32": pa.array([1, None], pa.int32()),
        "int64": pa.array([1, None], pa.int64()),
        "uint32": pa.array([1, None], pa.uint32()),
        "uint64": pa.array([2**64 - 1, None], pa.uint64()),
        "float": pa.array([1.5, None], pa.float32()),
        "double": pa.array([1.5, None], pa.float64()),
        "date": pa.array([datetime.date(2024, 2, 29), None]),
        "decimal_5_2": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(5, 2)),
        "decimal_15_2": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(15, 2)),
        "decimal_30_2": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(30, 2)),
        "timestamp_s_utc": pa.array([86_400, None], pa.timestamp("s", "UTC")),
        "timestamp_ms_utc": pa.array([86_400_000, None], pa.timestamp("ms", "UTC")),
        "timestamp_us_zoned": pa.array([86_400_000_000, None], pa.timestamp("us", "America/New_York")),
        "naive_timestamp": pa.array([86_400_000_000, None], pa.timestamp("us")),
        "list": pa.array([[1, None], None], pa.list_(pa.int64())),
        "list_required_items": pa.array([[1], None], pa.list_(pa.field("item", pa.int64(), nullable=False))),
        "struct": pa.array([{"x": 1, "y": "a"}, None], pa.struct([("x", pa.int64()), ("y", pa.string())])),
        "map": pa.array([[("k", "v")], None], pa.map_(pa.string(), pa.string())),
        "map_of_struct": pa.array(
            [[("k", {"a": 1})], None], pa.map_(pa.string(), pa.struct([("a", pa.int64())]))
        ),
        "list_of_struct_of_list": pa.array(
            [[{"a": [1]}], None], pa.list_(pa.struct([("a", pa.list_(pa.int64()))]))
        ),
    }
    return values[name]


_PROVEN_TYPES = [
    "string", "binary", "fixed_size_binary", "large_string", "null", "boolean", "int8", "int16",
    "int32", "int64", "uint32", "uint64", "float", "double", "date", "decimal_5_2", "decimal_15_2",
    "decimal_30_2", "timestamp_s_utc", "timestamp_ms_utc", "timestamp_us_zoned", "naive_timestamp",
    "list", "list_required_items", "struct", "map", "map_of_struct", "list_of_struct_of_list",
]


def _inferred_view(spark, scope):
    """``file_view`` as it reads without footers: Spark's own inference."""
    df = spark.read.format("parquet").load([scope] if isinstance(scope, str) else scope)
    return df.withColumns({alias: F.col(src) for alias, src in METADATA_COLS.items()})


def _assert_same_view(got, want):
    from collections import Counter

    assert got.schema.json() == want.schema.json()
    assert Counter(map(repr, got.collect())) == Counter(map(repr, want.collect()))


@pytest.mark.parametrize("name", _PROVEN_TYPES)
def test_footer_schema_equals_inference(spark, tmp_path, jobs_of, name):
    import pyarrow as pa
    import pyarrow.parquet as pq

    column = _arrow_column(name)
    required = pa.field("required_id", pa.int64(), nullable=False)
    # a dot in a column's name is part of the name, not a struct field access
    table = pa.table([pa.array([1, 2]), column], schema=pa.schema([required, ("c.d", column.type)]))
    for i in range(2):
        pq.write_table(table, tmp_path / f"export-{i:03d}.parquet")
    scope = str(tmp_path)
    footers, jobs = jobs_of(lambda: scope_footers(spark, [scope]))
    assert jobs == 0 and len(footers.schemas) == 1
    assert footers.schemas[0].json() == spark.read.parquet(scope).schema.json()
    view, jobs = jobs_of(lambda: file_view(spark, scope))
    assert jobs == 0
    _assert_same_view(view, _inferred_view(spark, scope))


def _fallback_scope(spark, root, case):
    """A raw folder for each scope the footer path must leave to Spark, or
    must plan to exactly Spark's schema. Returns (scope, jobs file_view
    runs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir()
    ids = pa.array(["r0", "r1"])
    annotations = pa.array([[("k", "v")], [("j", "w")]], pa.map_(pa.string(), pa.string()))
    if case == "different_schemas":
        pq.write_table(pa.table({"id": ids, "annotations": annotations}), root / "a.parquet")
        pq.write_table(pa.table({"id": ids, "extra": pa.array([1, 2])}), root / "b.parquet")
    elif case == "converted_schemas_agree":  # two Parquet schemas, one Spark schema (n: long)
        pq.write_table(pa.table({"id": ids, "n": pa.array([1, None], pa.uint32())}), root / "a.parquet")
        pq.write_table(pa.table({"id": ids, "n": pa.array([2, 3], pa.int64())}), root / "b.parquet")
        return str(root), 0
    elif case == "single_file":
        pq.write_table(pa.table({"id": ids, "annotations": annotations}), root / "a.parquet")
        return str(root / "a.parquet"), 1
    elif case == "success_and_crc":  # hidden names: skipped by Spark's listing and by the footer walk
        pq.write_table(pa.table({"id": ids, "annotations": annotations}), root / "a.parquet")
        (root / "_SUCCESS").write_bytes(b"")
        (root / "._SUCCESS.crc").write_bytes(b"crc")
        return str(root), 0
    elif case == "spark_written":  # the footers' schema key is what Spark's inference returns
        rows = [("r0", {"k": "v"}), ("r1", {"j": "w"})]
        spark.createDataFrame(rows, "id string, annotations map<string,string>").write.mode("overwrite").parquet(str(root))
        return str(root), 0
    return str(root), 1


_FALLBACKS = ["different_schemas", "converted_schemas_agree", "single_file", "success_and_crc", "spark_written"]


@pytest.mark.parametrize("case", _FALLBACKS)
def test_file_view_keeps_spark_schema_outside_the_proven_set(spark, tmp_path, jobs_of, case):
    """Scopes whose footers do not give one Spark schema keep Spark's
    inference; the others keep Spark's exact schema at 0 jobs."""
    scope, want_jobs = _fallback_scope(spark, tmp_path / "raw", case)
    view, jobs = jobs_of(lambda: file_view(spark, scope))
    assert jobs == want_jobs
    _assert_same_view(view, _inferred_view(spark, scope))
    if "annotations" in view.columns:
        from collections import Counter

        got = file_view(spark, scope, annotation_col="annotations")
        want = file_view_two_pass(spark, scope, "annotations")
        assert got.schema == want.schema
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def test_file_view_reads_binary_as_string_when_configured(spark, tmp_path, jobs_of, sql_conf):
    """The conversion obeys the conf of the call; binary map keys, which
    pyarrow reads as bytes, are found by Spark's pass instead."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    ann = pa.array([[(b"k", b"v")], None], pa.map_(pa.binary(), pa.binary()))
    pq.write_table(pa.table({"b": pa.array([b"a", None]), "ann": ann}), tmp_path / "export-000.parquet")
    scope = str(tmp_path)
    assert file_view(spark, scope).schema["b"].dataType.simpleString() == "binary"
    sql_conf("spark.sql.parquet.binaryAsString", "true")
    assert scope_footers(spark, [scope]).schemas[0].json() == spark.read.parquet(scope).schema.json()
    view, jobs = jobs_of(lambda: file_view(spark, scope))
    assert jobs == 0  # Spark's converter reads the binary leaf as a string
    _assert_same_view(view, _inferred_view(spark, scope))
    assert view.schema["b"].dataType.simpleString() == "string"
    got, jobs = jobs_of(lambda: file_view(spark, scope, annotation_col="ann"))
    assert jobs == 1  # the observed key pass
    want = file_view_two_pass(spark, scope, "ann")
    assert got.schema == want.schema and "k" in got.columns
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_file_view_converts_under_the_current_conf(spark, tmp_path, jobs_of, sql_conf):
    """One unchanged nanosecond file: Spark's inference error with
    ``nanosAsLong`` off, a ``long`` column at 0 jobs with it on. No schema
    converted under the other setting is reused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([86_400_000_000_123, None], pa.timestamp("ns", "UTC"))
    pq.write_table(pa.table({"id": ["r0", "r1"], "ts": ts}), tmp_path / "export-000.parquet")
    scope = str(tmp_path)
    for _ in range(2):
        sql_conf(_NANOS_AS_LONG, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL") as want:
            _inferred_view(spark, scope)
        with pytest.raises(type(want.value)) as got:
            file_view(spark, scope)
        assert str(got.value) == str(want.value)
        sql_conf(_NANOS_AS_LONG, "true")
        view, jobs = jobs_of(lambda: file_view(spark, scope))
        assert jobs == 0
        assert view.schema["ts"].dataType.simpleString() == "bigint"
        _assert_same_view(view, _inferred_view(spark, scope))


def test_events_source_leaves_the_conf_for_a_micros_ts(spark, sf_dir, sql_conf):
    """The fixtures' ``ts`` is ``timestamp[us]``: loading the events table
    must not set ``nanosAsLong`` on the caller's session."""
    from bridge_analytics_template_spark.catalog import events_source, table_path

    sql_conf(_NANOS_AS_LONG, None)
    raw, ts = events_source(spark, table_path(sf_dir, "events"))
    assert raw.select(ts.alias("ts")).schema["ts"].dataType.simpleString() == "timestamp"
    assert spark.conf.get(_NANOS_AS_LONG, None) is None


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_events_source_reads_a_nanos_ts(spark, tmp_path, sql_conf, layout):
    """A nanosecond ``ts`` still sets the conf and normalizes to the same
    micro-precision UTC instants, truncating the sub-microsecond digits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bridge_analytics_template_spark.catalog import events_source

    nanos = [86_400_000_000_123, 1_700_000_000_123_456_789, None]
    table = pa.table({"event_id": [1, 2, 3], "ts": pa.array(nanos, pa.timestamp("ns", "UTC"))})
    path = tmp_path / "events.parquet"
    if layout == "file":
        pq.write_table(table, path)
    else:
        path.mkdir()
        pq.write_table(table.slice(0, 2), path / "part-0.parquet")
        pq.write_table(table.slice(2), path / "part-1.parquet")
    sql_conf(_NANOS_AS_LONG, None)
    raw, ts = events_source(spark, str(path))
    assert spark.conf.get(_NANOS_AS_LONG) == "true"
    got = dict(raw.select("event_id", F.unix_micros(ts)).collect())
    assert got == {1: 86_400_000_000, 2: 1_700_000_000_123_456, 3: None}


def test_file_view_infers_when_the_converter_fails(spark, tmp_path, jobs_of, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JError

    def refuse(spark, path):
        raise Py4JError("converter unavailable")

    pq.write_table(pa.table({"id": ["r0", "r1"], "n": [1, None]}), tmp_path / "export-000.parquet")
    scope = str(tmp_path)
    monkeypatch.setattr(partitioning, "_spark_schema", refuse)
    assert scope_footers(spark, [scope]) is None
    view, jobs = jobs_of(lambda: file_view(spark, scope))
    assert jobs == 1  # Spark's inference job
    _assert_same_view(view, _inferred_view(spark, scope))


@pytest.mark.parametrize("layout", ["empty", "plain_subdirectories"])
def test_file_view_raises_spark_error_where_inference_fails(spark, tmp_path, layout):
    """Spark lists no data file under a folder that is empty or holds its
    files only in plain (not ``key=value``) subdirectories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if layout == "plain_subdirectories":
        for sub in ("a", "b"):
            (tmp_path / sub).mkdir()
            pq.write_table(pa.table({"id": ["r0"]}), tmp_path / sub / "export-000.parquet")
    with pytest.raises(Exception) as want:
        _inferred_view(spark, str(tmp_path))
    with pytest.raises(type(want.value)) as got:
        file_view(spark, str(tmp_path))
    assert str(got.value) == str(want.value)
