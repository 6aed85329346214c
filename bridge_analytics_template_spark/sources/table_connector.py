"""Spark-native read API for the manifest-versioned table: a Python
DataSource (`spark.read.format("manifest_table")`) over
``sources/manifest_table.py``'s snapshot layout — the connector form of
``read_snapshot``, so the table plugs into any tool that only speaks
``spark.read`` (the reference's consumers read published datasets through
the platform's generic read surface, `/root/reference/src/
copy_from_template.py:316-327`; this is that surface for our table).

What the connector adds over a plain parquet read:

- SNAPSHOT RESOLUTION from options: ``versionAsOf`` (pinned version),
  ``timestampAsOf`` (epoch seconds — the commit that was current then),
  ``tag`` (named reproducibility pin); default = latest. Only manifested
  files are ever listed — orphans from crashed commits are invisible.
- ONE InputPartition PER DATA FILE, so a 10k-file snapshot reads with
  10k-way parallelism and Spark's scheduler does the balancing.
- PUSHED-FILTER FILE PRUNING (`pushFilters`): comparison/In/EqualTo
  filters on the table key prune partitions against the manifest's
  per-file [lo, hi] bounds, and on any ``stats_cols`` column against its
  recorded envelope — the planner never schedules a task for a file the
  metadata rules out. Pruning is containment-based, so every filter is
  RETURNED as unsupported (Spark re-applies it post-scan); the connector
  uses it purely to shrink the partition list, which keeps correctness
  independent of the pruning logic.
- GENERATION RECONCILIATION inside ``read``: each partition reads its
  parquet file with pyarrow and projects the snapshot's column spec —
  a column comes from bytes only when the file's write generation is >=
  the column's ``since``, else its default (identical rule to
  ``manifest_table._read_entries``), so evolved tables read correctly
  through the connector too.

The executor-side read is pyarrow (the Python DataSource contract); for
the JVM-speed path use ``read_snapshot`` — this connector is the API
surface, priced accordingly and tested value-identical.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from .manifest_table import (
    _pruned_entries,
    _spec_from_schema,
    _versions,
    read_manifest,
    resolve_tag,
    version_as_of,
)

FORMAT_NAME = "manifest_table"


def _resolve_manifest(options: dict) -> tuple[str, dict]:
    base = options["path"]
    # option keys arrive lowercased from the Spark side
    if options.get("versionasof") is not None:
        version = int(options["versionasof"])
    elif options.get("timestampasof") is not None:
        version = version_as_of(base, float(options["timestampasof"]))
    elif options.get("tag") is not None:
        version = resolve_tag(base, options["tag"])
    else:
        version = None
    return base, read_manifest(base, version)


@dataclass
class _FilePartition(InputPartition):
    path: str
    schema_id: int


def _narrow(a, b, pick):
    return b if a is None else pick(a, b)


class _ManifestReader(DataSourceReader):
    def __init__(self, options: dict):
        self._base, self._manifest = _resolve_manifest(options)
        self._spec = self._manifest["columns"]
        # col -> conjunctive (lo, hi, values) accumulated from pushed
        # filters (None = open side / no explicit candidate set)
        self._ranges: dict[str, tuple] = {}

    def pushFilters(self, filters):
        """Remember prunable predicates; return EVERY filter as
        unsupported so Spark re-applies them — file skipping here is a
        pure optimization, never a correctness dependency."""
        key = self._manifest["key_col"]
        statted = set(self._manifest.get("stats_cols", []))
        for f in filters:
            col = getattr(f, "attribute", (None,))
            col = col[0] if isinstance(col, tuple) and len(col) == 1 else None
            if col != key and col not in statted:
                continue
            lo, hi, values = self._ranges.get(col, (None, None, None))
            if isinstance(f, EqualTo):
                lo, hi = _narrow(lo, f.value, max), _narrow(hi, f.value, min)
            elif isinstance(f, In):
                vs = [v for v in f.value if v is not None]
                if vs:
                    values = [
                        v for v in (vs if values is None else values) if v in set(vs)
                    ]
                    lo, hi = _narrow(lo, min(vs), max), _narrow(hi, max(vs), min)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = _narrow(lo, f.value, max)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                hi = _narrow(hi, f.value, min)
            self._ranges[col] = (lo, hi, values)
        return filters  # all re-applied by Spark post-scan

    def partitions(self):
        out = [
            _FilePartition(
                os.path.join(self._base, "files", e["file"]), e["schema_id"]
            )
            for e in _pruned_entries(self._manifest, self._ranges)
        ]
        # zero surviving files: Spark requires >= 1 partition; emit one
        # sentinel whose read yields nothing
        return out or [_FilePartition("", 1)]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        yield from _reconciled_table(
            partition.path, self._spec, partition.schema_id
        ).to_batches()


def _reconciled_table(path: str, spec: list[dict], schema_id: int):
    """One data file as a pyarrow Table projected to the snapshot's column
    spec under the generation rule (bytes iff file generation >= column
    ``since``, else the default) — identical semantics to
    ``manifest_table._read_entries``, pyarrow-side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    n = t.num_rows
    arrays, names = [], []
    for c in spec:
        names.append(c["name"])
        typ = _arrow_type(c["type"])
        if c["name"] in t.column_names and schema_id >= c["since"]:
            arrays.append(t.column(c["name"]).cast(typ))
        else:
            arrays.append(pa.array([c["default"]] * n, type=typ))
    return pa.table(arrays, names=names)


def _arrow_type(spark_type: str):
    import pyarrow as pa

    m = {
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if spark_type not in m:
        raise NotImplementedError(
            f"manifest_table connector: unmapped column type {spark_type!r} "
            "(extend _arrow_type)"
        )
    return m[spark_type]


# --- Native WRITE path --------------------------------------------------------
#
# ``df.write.format("manifest_table")`` — the declarative sink completing the
# Delta/Iceberg-style UX next to the read connector (reference analog: the
# declarative sink setup, /root/reference/src/copy_from_template.py:316-327).
# Two-phase commit on the library's manifest protocol:
#
#   1. Each write TASK streams its Arrow batches into one parquet part under
#      a staging dir and returns a commit message carrying the entry
#      metadata — rows, key [lo, hi], declared-column stats, and the per-file
#      bloom bitmap, all computed AT WRITE TIME from the bytes in hand (the
#      production shape _ingest_parts' re-read stands in for; the bitmap uses
#      the same pmod(xxhash64(key, i), m) probes via the spec-pinned
#      pure-Python XXH64, oracles/hashes.py, so probe-side candidate_files
#      reads it unchanged).
#   2. ``commit`` (driver) moves parts to content-addressed names under
#      files/ and CAS-commits the next manifest version — append unions with
#      the current file list, overwrite replaces it; an ``epoch`` option makes
#      the append idempotent under replay (retried batches no-op), and a lost
#      CAS race re-reads and retries against the new head (the library's
#      ``retry_on_conflict``). ``abort`` removes
#      the staging dir; files moved by a crashed commit stay invisible
#      (nothing references them until the manifest lands) and are vacuum's
#      business — identical orphan semantics to the library write paths.
#
# A first write to an empty path CREATES the table (requires the ``key``
# option; optional ``statscols`` declares per-file stat envelopes).


@dataclass
class _WriteMessage(WriterCommitMessage):
    file: str | None
    rows: int
    lo: object
    hi: object
    stats: dict | None
    bloom: str | None
    bloom_m: int | None


def _json_safe(v):
    """lo/hi must survive the JSON manifest; non-JSON key types degrade to
    no-bounds (None = never pruned) rather than corrupt the manifest."""
    return v if isinstance(v, (int, float, str, type(None))) else None


def _bloom_bitmap(keys, key_type: str) -> tuple[str | None, int | None]:
    """Per-file bloom over the key column, bit-identical to the SQL build
    (manifest_table._bloom_build): position i = pmod(xxhash64(key, i), m),
    words packed little-endian. Python's ``%`` IS pmod for positive m."""
    from ..oracles.hashes import xxhash64_int, xxhash64_long, xxhash64_str

    hasher = {
        "bigint": xxhash64_long,
        "long": xxhash64_long,
        "int": xxhash64_int,
        "integer": xxhash64_int,
        "string": xxhash64_str,
    }.get(key_type)
    if hasher is None:
        return None, None  # no bloom -> file always MIGHT match (back-compat)
    from .manifest_table import _BLOOM_K, _bloom_bits

    m = _bloom_bits(len(keys))
    buf = bytearray(m // 8)
    for k in keys:
        # a NULL child leaves the running seed unchanged in Spark's hash
        # chain, so xxhash64(NULL, i) == xxhash64_int(i, 42) — match it
        h1 = 42 if k is None else hasher(k)
        for i in range(_BLOOM_K):
            p = xxhash64_int(i, seed=h1) % m
            buf[p // 8] |= 1 << (p % 8)
    return buf.hex(), m


class _ManifestWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema, overwrite: bool):
        self._base = options["path"]
        self._overwrite = overwrite
        self._epoch = options.get("epoch")
        self._schema_json = None
        if _versions(self._base):
            m = read_manifest(self._base)
            self._key = m["key_col"]
            self._spec = m["columns"]
            self._schema_id = m["schema_id"]
            self._stats_cols = m.get("stats_cols") or []
        else:
            key = options.get("key")
            if not key:
                raise ValueError(
                    "manifest_table write to a new path needs .option('key', <col>)"
                )
            self._key = key
            self._spec = _spec_from_schema(schema, 1)
            self._schema_id = 1
            self._stats_cols = [
                c.strip() for c in options.get("statscols", "").split(",") if c.strip()
            ]
            self._schema_json = schema.json()
        if self._key not in {c["name"] for c in self._spec}:
            raise ValueError(f"key column {self._key!r} not in the written schema")
        self._key_type = next(c["type"] for c in self._spec if c["name"] == self._key)
        self._staging = os.path.join(self._base, f"_staging_{uuid.uuid4().hex}")
        os.makedirs(self._staging, exist_ok=True)

    # -- executor side ------------------------------------------------------
    def write(self, iterator) -> _WriteMessage:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _WriteMessage(None, 0, None, None, None, None, None)
        t = pa.Table.from_batches(batches)
        missing = [c["name"] for c in self._spec if c["name"] not in t.column_names]
        if missing:
            raise ValueError(f"manifest_table append: missing columns {missing}")
        t = pa.table(
            [t.column(c["name"]).cast(_arrow_type(c["type"])) for c in self._spec],
            names=[c["name"] for c in self._spec],
        )
        name = f"task-{uuid.uuid4().hex}.parquet"
        pq.write_table(t, os.path.join(self._staging, name))
        key_arr = t.column(self._key)
        stats = {
            c: [
                _json_safe(pc.min(t.column(c)).as_py()),
                _json_safe(pc.max(t.column(c)).as_py()),
            ]
            for c in self._stats_cols
        } or None
        bloom, bloom_m = _bloom_bitmap(key_arr.to_pylist(), self._key_type)
        return _WriteMessage(
            name,
            t.num_rows,
            _json_safe(pc.min(key_arr).as_py()),
            _json_safe(pc.max(key_arr).as_py()),
            stats,
            bloom,
            bloom_m,
        )

    # -- driver side --------------------------------------------------------
    def commit(self, messages) -> None:
        try:
            self._commit([m for m in messages if m is not None and m.file])
        finally:
            shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self._staging, ignore_errors=True)

    def _commit(self, msgs: list[_WriteMessage]) -> None:
        from .manifest_table import _carry, _commit_manifest, retry_on_conflict

        files_dir = os.path.join(self._base, "files")
        os.makedirs(files_dir, exist_ok=True)
        entries = []
        for msg in msgs:
            final = f"part-{uuid.uuid4().hex}.parquet"
            os.rename(
                os.path.join(self._staging, msg.file), os.path.join(files_dir, final)
            )
            e = {
                "file": final,
                "rows": msg.rows,
                "lo": msg.lo,
                "hi": msg.hi,
                "bloom": msg.bloom,
                "bloom_m": msg.bloom_m,
                "schema_id": self._schema_id,
            }
            if msg.stats:
                e["stats"] = msg.stats
            entries.append(e)

        def attempt() -> None:
            # entries are final; only the manifest race re-resolves
            vs = _versions(self._base)
            if not vs:
                manifest = {
                    "key_col": self._key,
                    "schema": self._schema_json,
                    "schema_id": 1,
                    "columns": self._spec,
                    "files": entries,
                    "rows": sum(e["rows"] for e in entries),
                    "epochs": [self._epoch] if self._epoch else [],
                }
                if self._stats_cols:
                    manifest["stats_cols"] = self._stats_cols
                _commit_manifest(self._base, 1, manifest, op="publish")
                return
            m = read_manifest(self._base)
            if self._epoch and self._epoch in m.get("epochs", []):
                # replayed micro-batch: exactly-once means OUR files must
                # not land twice — drop them, keep the recorded commit
                for e in entries:
                    os.remove(os.path.join(files_dir, e["file"]))
                return
            files = entries if self._overwrite else m["files"] + entries
            epochs = m.get("epochs", []) + ([self._epoch] if self._epoch else [])
            _commit_manifest(
                self._base,
                vs[-1] + 1,
                _carry(m, files, epochs),
                op="overwrite" if self._overwrite else "append",
            )

        retry_on_conflict(attempt)


class ManifestTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        _, m = _resolve_manifest(self.options)
        return ", ".join(f"`{c['name']}` {c['type']}" for c in m["columns"])

    def reader(self, schema) -> DataSourceReader:
        return _ManifestReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> _ManifestWriter:
        return _ManifestWriter(dict(self.options), schema, overwrite)


def register(spark) -> None:
    """Register the format and enable Python-source filter pushdown (a
    runtime conf, off by default in 4.1 — Spark refuses to plan a reader
    that implements pushFilters while it is disabled, so the two must
    travel together)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ManifestTableDataSource)


# --- Streaming CHANGE DATA FEED source ----------------------------------------
#
# The table as a STREAMING SOURCE: `spark.readStream.format(
# "manifest_table_changes").option("path", base)` emits one micro-batch per
# COMMIT — the row-level insert/delete feed of that version transition
# (update = delete+insert pair, same contract as manifest_table.read_changes)
# — which is how a downstream pipeline subscribes to a governed table
# incrementally instead of rescanning it (Delta's CDF streaming read, here on
# our manifest layout). Offsets ARE version numbers, so replay
# (readBetweenOffsets) is exact by construction: the files of both versions
# are immutable.
#
# The simple-reader API materializes each batch driver-side, which is the
# right price for change feeds (a commit's delta is bounded by the files it
# rewrote, not by table size); a table whose single commits rewrite
# petabytes would use the partition-based stream reader with the same
# version offsets. Commit kinds short-circuit from the manifest's op stamp:
# evolve touches no files and compaction is content-identical (pinned by
# test), so both emit empty batches; appends emit pure inserts without a
# diff pass.


class _CDFStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, base: str, starting_version: int):
        self._base = base
        self._start = starting_version
        # the stream's schema is FIXED at start (the latest spec, matching
        # DataSource.schema()); every span reconciles to it — old-version
        # files project later-added columns as their defaults through the
        # generation rule, so row width always matches the source schema
        self._fixed_spec = read_manifest(base)["columns"]

    def initialOffset(self):
        return {"v": self._start}

    def _rows_for_span(self, a: int, b: int):
        """Insert/delete rows for the version span a -> b (exclusive of a,
        inclusive of b), computed pyarrow-side: multiset difference of the
        span's added-files rows vs removed-files rows, both reconciled to
        the stream's fixed column spec."""
        from collections import Counter

        # Version 0 is the empty table BEFORE the initial publish — no
        # manifest file exists for it, so a span that starts below the
        # first committed version diffs against an empty file set. This is
        # what makes a feed-bootstrapped replica receive the v1 snapshot
        # as pure inserts instead of silently losing the base table.
        first = _versions(self._base)[0]
        m_from = {"files": []} if a < first else read_manifest(self._base, a)
        m_to = read_manifest(self._base, b)
        spec = self._fixed_spec
        from_files = {e["file"]: e for e in m_from["files"]}
        to_files = {e["file"]: e for e in m_to["files"]}

        def rows(entries):
            c: Counter = Counter()
            for e in entries:
                t = _reconciled_table(
                    os.path.join(self._base, "files", e["file"]),
                    spec,
                    e["schema_id"],
                )
                for row in zip(*(t.column(i).to_pylist() for i in range(t.num_columns))):
                    c[row] += 1
            return c

        added = rows([e for f, e in to_files.items() if f not in from_files])
        removed = rows([e for f, e in from_files.items() if f not in to_files])
        out = []
        ins = added - removed
        dels = removed - added
        for row, k in ins.items():
            out.extend([row + ("insert",)] * k)
        for row, k in dels.items():
            out.extend([row + ("delete",)] * k)
        return iter(out)

    def read(self, start: dict):
        head = _versions(self._base)[-1]
        a = start["v"]
        if a >= head:
            return iter([]), {"v": a}
        b = a + 1  # ONE commit per micro-batch
        op = read_manifest(self._base, b).get("op", "commit")
        if op in ("evolve", "compact"):
            # no file change / content-identical rewrite: empty delta
            return iter([]), {"v": b}
        return self._rows_for_span(a, b), {"v": b}

    def readBetweenOffsets(self, start: dict, end: dict):
        if start["v"] >= end["v"]:
            return iter([])
        return self._rows_for_span(start["v"], end["v"])


class ManifestTableChangesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_table_changes"

    def schema(self) -> str:
        base = self.options["path"]
        m = read_manifest(base)
        cols = ", ".join(f"`{c['name']}` {c['type']}" for c in m["columns"])
        return f"{cols}, `_change_type` string"

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _CDFStreamReader(
            self.options["path"],
            int(self.options.get("startingversion", 0)),
        )


def register_changes(spark) -> None:
    spark.dataSource.register(ManifestTableChangesDataSource)
