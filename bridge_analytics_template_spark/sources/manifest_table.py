"""Manifest-versioned parquet table: snapshot isolation, copy-on-write row
erasure, vacuum — the lakehouse commit protocol reduced to what a governed
100 TB lake actually needs to EXECUTE a deletion request (the reference's
data-governance surface is ACL curation, `/root/reference/src/
copy_from_template.py:244-277`; this module is the row-level enforcement
side of the same governance story, and the table-level completion of the
r8 index-erasure tier).

Layout::

    base/files/part-<uuid>.parquet   immutable data files, content-addressed
                                     names — a file is NEVER rewritten in
                                     place, only referenced or replaced
    base/v=N.manifest.json           snapshot N = the member-file list with
                                     per-file row counts and key bounds

Why manifests and not a directory per version: a deletion that touches
0.1% of files must not copy the other 99.9%. A manifest snapshot
references unchanged files VERBATIM — copy-on-write at file granularity,
which is exactly the Iceberg/Delta data-file reuse contract. The commit
point is one ``tmp + os.replace`` of the manifest (the same atomicity
discipline as the persisted-index ``meta.json`` and the Python DataSource
sink): a crash mid-erase leaves orphan data files and the OLD snapshot
fully intact; ``vacuum`` collects the orphans.

Erasure plan at scale (``erase_rows``):

1. FILE PRUNING from bounded metadata — the per-file [min, max] key bounds
   stored in the manifest (a file-level bounds index, written with the
   files it describes) range-semi-join the tombstone keys; a file whose
   envelope contains no tombstone is reused by reference without being
   opened. Range-clustered publishes make the bounds tight.
2. EXACT AFFECTED SET — scan only the candidate files, semi-join the
   tombstones, collect the distinct file list (bounded by file count,
   never rows).
3. REWRITE survivors of affected files only (one distributed anti-join
   write), ingest the new parts with fresh stats.
4. COMMIT a new manifest: untouched entries verbatim + replacement entries.

Old snapshots stay readable (audit/time-travel) until ``vacuum`` drops
their exclusive files — GDPR practice: the deletion SLA is met at commit
time by the new snapshot, physical destruction completes at vacuum, both
timestamps auditable.

Constraint: the table key must be a numeric or string column — its
per-file min/max bounds are stored as JSON in the manifest (a timestamp
key would need an epoch-micros surrogate column).

Beyond bounds, every data file carries a PER-FILE BLOOM FILTER over the
key in its manifest entry (hex bitmap + bit count): range bounds prune
range-clustered layouts, but an append-heavy or hash-distributed table has
near-full-range bounds on every file, and there a point probe (equality
tombstone, CDC merge key, lookup) still has to open everything. The bloom
answers "might this file hold this key?" from manifest metadata alone —
the same role as Parquet footer blooms / Iceberg puffin sidecars, kept in
the manifest here because fixture files are small; at real file sizes the
bitmap would move to a sidecar referenced by the entry. Probing is pure
JVM expression (xxhash64 + shift/mask on a broadcast stats relation), so
a million tombstones probe |files| blooms in one tiny join.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST = re.compile(r"^v=(\d+)\.manifest\.json$")


def _versions(base: str) -> list[int]:
    if not os.path.isdir(base):
        return []
    return sorted(
        int(m.group(1)) for d in os.listdir(base) if (m := _MANIFEST.match(d))
    )


def _manifest_path(base: str, version: int) -> str:
    return os.path.join(base, f"v={version}.manifest.json")


def read_manifest(base: str, version: int | None = None) -> dict:
    vs = _versions(base)
    if not vs:
        raise FileNotFoundError(f"no snapshots under {base}")
    v = version if version is not None else vs[-1]
    if v not in vs:
        raise FileNotFoundError(f"snapshot v={v} not in {vs}")
    with open(_manifest_path(base, v)) as fh:
        return json.load(fh)


class CommitConflict(Exception):
    """Another writer committed this version first — re-read the table
    state and retry the operation (optimistic concurrency)."""


def _commit_manifest(
    base: str, version: int, manifest: dict, op: str = "commit"
) -> None:
    """Atomic compare-and-swap commit: the manifest for ``version`` is
    created EXCLUSIVELY (write tmp, then ``os.link`` — link fails if the
    target exists), so two writers that both read snapshot N and try to
    commit N+1 cannot both win; the loser gets :class:`CommitConflict`
    and must re-read + retry. This is the version-file CAS every
    manifest-log table format builds its isolation on (on object stores
    the same contract comes from if-none-match puts).

    Every commit is stamped with its operation kind and wall-clock time —
    the audit trail ``table_history`` surfaces (DESCRIBE HISTORY) and the
    index ``read_snapshot(as_of=...)`` time-travels on."""
    import time

    manifest = {**manifest, "op": op, "committed_at": time.time()}
    tmp = _manifest_path(base, version) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, _manifest_path(base, version))
    except FileExistsError:
        raise CommitConflict(
            f"snapshot v={version} was committed concurrently at {base}; "
            "re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)


# --- Schema evolution ---------------------------------------------------------
#
# The manifest carries the TABLE schema as an ordered column spec
# ``columns: [{name, type, since, default}]`` plus a monotonically bumped
# ``schema_id``; every data-file entry records the schema_id it was WRITTEN
# under. ADD and DROP are metadata-only commits (no file is touched — the
# operation is O(1) regardless of table size, the property that makes schema
# change viable on a 100 TB table). Readers reconcile per generation:
#
# - a column is taken from a file's bytes only when the file's generation is
#   >= the column's ``since``; otherwise the column's DEFAULT is projected.
#   This gives Delta/Iceberg ADD-with-default semantics (existing rows show
#   the default, new writes materialize real values) — and, crucially, makes
#   DROP + re-ADD of the same name safe: old files' bytes can never
#   resurrect through the re-added column, because their generation predates
#   its ``since`` (the same guarantee real formats get from field IDs).
# - a dropped column simply leaves the spec; old files still carry the bytes
#   (time travel to a pre-drop snapshot still sees them) until a rewrite
#   (erase/merge/compact) materializes the current spec.


def _spec_from_schema(schema: StructType, since: int) -> list[dict]:
    return [
        {
            "name": f.name,
            "type": f.dataType.simpleString(),
            "since": since,
            "default": None,
        }
        for f in schema.fields
    ]


def _schema_from_spec(columns: list[dict]) -> StructType:
    return StructType.fromDDL(
        ", ".join(f"`{c['name']}` {c['type']}" for c in columns)
    )


def _read_entries(
    spark: SparkSession, base: str, m: dict, entries: list[dict]
) -> DataFrame:
    """Read the given manifest entries reconciled to ``m``'s CURRENT column
    spec: files are grouped by the generation they were written under (one
    group per schema_id — a handful, never per-file), each group projects
    spec columns present in its physical schema and >= their ``since``
    generation from bytes, everything else from the column's default."""
    files_dir = os.path.join(base, "files")
    columns = m["columns"]
    if not entries:
        return spark.createDataFrame([], _schema_from_spec(columns))
    groups: dict[int, list[str]] = {}
    for e in entries:
        groups.setdefault(e["schema_id"], []).append(e["file"])
    out = None
    for sid in sorted(groups):
        df = spark.read.parquet(
            *(os.path.join(files_dir, f) for f in groups[sid])
        )
        have = set(df.columns)
        sel = [
            (
                F.col(c["name"])
                if c["name"] in have and sid >= c["since"]
                else F.lit(c["default"])
            )
            .cast(c["type"])
            .alias(c["name"])
            for c in columns
        ]
        g = df.select(*sel)
        out = g if out is None else out.unionByName(g)
    return out


def evolve_schema(
    base: str,
    add: list[tuple[str, str, object]] | None = None,
    drop: list[str] | None = None,
) -> int:
    """Metadata-only schema change: ADD columns (name, sparkSQL type,
    default — shown for every row written before the add) and/or DROP
    columns. Commits a new snapshot with the SAME file list — zero bytes
    rewritten, the O(1)-in-table-size property a 100 TB ALTER TABLE needs.
    The table key cannot be dropped (pruning metadata lives on it).
    Returns the new version."""
    m = read_manifest(base)
    columns = m["columns"]
    sid = m["schema_id"] + 1
    names = [c["name"] for c in columns]
    for d in drop or []:
        if d == m["key_col"]:
            raise ValueError(f"cannot drop the table key {d!r}")
        if d not in names:
            raise ValueError(f"cannot drop unknown column {d!r}")
    columns = [c for c in columns if c["name"] not in set(drop or [])]
    for name, typ, default in add or []:
        if name in (c["name"] for c in columns):
            raise ValueError(f"column {name!r} already exists")
        columns.append(
            {"name": name, "type": typ, "since": sid, "default": default}
        )
    v = _versions(base)[-1] + 1
    manifest = {
        "key_col": m["key_col"],
        "schema": _schema_from_spec(columns).json(),
        "schema_id": sid,
        "columns": columns,
        "files": m["files"],
        "rows": m["rows"],
        "epochs": m.get("epochs", []),
    }
    # declared stats columns survive the evolve (minus any just dropped —
    # their envelopes would be unreconstructable without a rewrite)
    kept_stats = [c for c in m.get("stats_cols", []) if c not in set(drop or [])]
    if kept_stats:
        manifest["stats_cols"] = kept_stats
    _commit_manifest(base, v, manifest, op="evolve")
    return v


# --- Per-file key bloom filters ----------------------------------------------

_BLOOM_K = 3  # probe positions per key; with ~10 bits/key -> ~1.7% fp
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 20  # cap: a saturated bloom is a harmless all-pass;
# past ~100k rows/file the bitmap belongs in a sidecar, not the manifest


def _bloom_bits(rows: int) -> int:
    """Size of a file's bloom: ~10 bits per row rounded up to a power of
    two, clamped to [_BLOOM_MIN_BITS, _BLOOM_MAX_BITS] — the one sizing
    rule for the SQL build below and the connector's write-time bitmap."""
    pow2 = 1 << max(0, 10 * rows - 1).bit_length()
    return min(_BLOOM_MAX_BITS, max(_BLOOM_MIN_BITS, pow2))


def _bloom_position_sql(key_sql: str, i: int, m_sql: str) -> str:
    """Probe position i of a key in an m-bit bloom, as a SQL fragment —
    the ONE definition both the build aggregation and the candidate-file
    probe compile from, so the two can never drift (seeded by mixing a
    literal into xxhash64's input; the key expression must already be
    cast to the table key's physical type — xxhash64 is
    type-width-sensitive)."""
    return f"pmod(xxhash64({key_sql}, {i}), {m_sql})"


def _bloom_positions(key_sql: str, m: int):
    """The k probe positions as JVM columns (build side)."""
    return [
        F.expr(_bloom_position_sql(key_sql, i, str(m)))
        for i in range(_BLOOM_K)
    ]


def _bloom_build(
    spark: SparkSession, staging: str, key_col: str, rows_per_file: dict[str, int]
) -> tuple[int, dict[str, str]]:
    """One JVM pass over the staged parts: explode each key's probe
    positions, bit_or them into 64-bit words per (file, word) — the only
    thing the driver ever sees is |files| x (set words) of metadata, never
    rows. Returns (m, {staged part basename: hex bitmap})."""
    if not rows_per_file:
        return _BLOOM_MIN_BITS, {}
    m = _bloom_bits(max(rows_per_file.values()))
    df = spark.read.parquet(staging).select(
        F.input_file_name().alias("_f"), F.col(key_col).alias("_k")
    )
    words = (
        df.select("_f", F.explode(F.array(*_bloom_positions("_k", m))).alias("_p"))
        .groupBy("_f", (F.col("_p") / 64).cast("long").alias("_w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT)))"
            ).alias("_bits")
        )
        .collect()
    )
    maps: dict[str, bytearray] = {}
    for r in words:
        name = os.path.basename(
            r["_f"].removeprefix("file://").removeprefix("file:")
        )
        buf = maps.setdefault(name, bytearray(m // 8))
        w = r["_bits"] & ((1 << 64) - 1)  # signed long -> raw bits
        buf[8 * r["_w"] : 8 * r["_w"] + 8] = w.to_bytes(8, "little")
    return m, {name: buf.hex() for name, buf in maps.items()}


def _bloom_words(entry: dict) -> list[int] | None:
    """Manifest entry's bitmap as SIGNED 64-bit words (Spark LongType), or
    None for entries written before blooms existed (back-compat: no bloom
    means the file always MIGHT match)."""
    hx = entry.get("bloom")
    if not hx:
        return None
    raw = bytes.fromhex(hx)
    out = []
    for i in range(0, len(raw), 8):
        w = int.from_bytes(raw[i : i + 8], "little")
        out.append(w - (1 << 64) if w >= (1 << 63) else w)
    return out


def _candidate_files(
    spark: SparkSession, m: dict, keys: DataFrame, key: str
) -> list[str]:
    """Files of snapshot-manifest ``m`` that MIGHT hold any key of
    ``keys`` — pruned purely from manifest metadata: the per-file
    [lo, hi] range envelope AND the per-file key bloom, both evaluated in
    one broadcast join (the stats side is |files| rows by construction).
    Sound (never drops a file that holds a key); the exact affected set
    still needs a scan of the survivors."""
    entries = m["files"]
    if not entries:
        return []
    # cast the probe keys to the table key's PHYSICAL type: xxhash64 is
    # type-width-sensitive (hash of INT 5 != hash of BIGINT 5), so an
    # int-typed tombstone column probed against a bigint-built bloom
    # would silently rule out every file that truly holds the key —
    # bounds alone tolerated the mismatch via numeric coercion, blooms
    # must not reintroduce it
    key_type = StructType.fromJson(json.loads(m["schema"]))[key].dataType
    k = keys.select(
        F.col(keys.columns[0]).cast(key_type).alias(key)
    ).distinct()
    have_bloom = any(e.get("bloom") for e in entries)
    if have_bloom:
        stats = spark.createDataFrame(
            [
                (e["file"], e["lo"], e["hi"], _bloom_words(e), e.get("bloom_m"))
                for e in entries
            ],
            ["file", "lo", "hi", "_bm", "_m"],
        )
    else:
        stats = spark.createDataFrame(
            [(e["file"], e["lo"], e["hi"]) for e in entries],
            ["file", "lo", "hi"],
        )
    cond = (F.col(key) >= F.col("lo")) & (F.col(key) <= F.col("hi"))
    if have_bloom:
        # probe positions come from the SAME SQL fragment builder as the
        # build side (_bloom_position_sql) — the two must never drift
        bit_checks = [
            F.expr(
                f"(shiftright(element_at(_bm, CAST({pos} DIV 64 AS INT) + 1), "
                f"CAST({pos} % 64 AS INT)) & 1) = 1"
            )
            for pos in (
                _bloom_position_sql(f"`{key}`", i, "_m")
                for i in range(_BLOOM_K)
            )
        ]
        maybe = bit_checks[0]
        for c in bit_checks[1:]:
            maybe = maybe & c
        cond = cond & (F.col("_bm").isNull() | maybe)
    # stream the (arbitrarily large) key set against the BROADCAST stats
    # relation; distinct collapses to <= |files| rows map-side before the
    # driver ever sees anything
    return [
        r["file"]
        for r in k.join(F.broadcast(stats), cond, "inner")
        .select("file")
        .distinct()
        .collect()
    ]


def _carry(m: dict, files: list[dict], epochs: list[str] | None = None) -> dict:
    """Next-version manifest dict carrying the table-level metadata (key,
    schema spec + generation, epoch registry) forward unchanged."""
    out = {
        "key_col": m["key_col"],
        "schema": m["schema"],
        "schema_id": m["schema_id"],
        "columns": m["columns"],
        "files": files,
        "rows": sum(e["rows"] for e in files),
        "epochs": epochs if epochs is not None else m.get("epochs", []),
    }
    if m.get("stats_cols"):
        out["stats_cols"] = m["stats_cols"]
    return out


def _ingest_parts(
    spark: SparkSession,
    base: str,
    staging: str,
    key_col: str,
    schema_id: int = 1,
    stats_cols: list[str] | None = None,
) -> list[dict]:
    """Move a staged parquet write's parts into ``files/`` under fresh
    content-addressed names and return their manifest entries. Stats come
    from ONE re-read of the staged parts grouped by file (column-pruned to
    the key + declared stats columns — bounded metadata out, |files| rows);
    at real scale the same numbers come free from write-time observed
    metrics, the re-read keeps this implementation honest and simple.
    ``stats_cols`` adds per-file [min, max] envelopes for NON-key columns
    to each entry (Iceberg-style column stats — the data-skipping input
    for predicates the key bounds can't serve)."""
    parts = [
        f
        for f in os.listdir(staging)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    if not parts:
        return []
    extra = []
    for c in stats_cols or []:
        extra.append(F.min(c).alias(f"_lo_{c}"))
        extra.append(F.max(c).alias(f"_hi_{c}"))
    stats = {
        os.path.basename(
            r["file"].removeprefix("file://").removeprefix("file:")
        ): r
        for r in spark.read.parquet(staging)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(key_col).alias("lo"),
            F.max(key_col).alias("hi"),
            *extra,
        )
        .collect()
    }
    m_bits, blooms = _bloom_build(
        spark, staging, key_col, {p: stats[p]["rows"] for p in parts if p in stats}
    )
    files_dir = os.path.join(base, "files")
    os.makedirs(files_dir, exist_ok=True)
    entries = []
    for p in parts:
        if p not in stats:
            # a zero-row partition still writes a part file; an empty part
            # has no stats group — drop it rather than manifest it
            os.remove(os.path.join(staging, p))
            continue
        final = f"part-{uuid.uuid4().hex}.parquet"
        os.rename(os.path.join(staging, p), os.path.join(files_dir, final))
        s = stats[p]
        entry = {
            "file": final,
            "rows": s["rows"],
            "lo": s["lo"],
            "hi": s["hi"],
            "bloom": blooms.get(p),
            "bloom_m": m_bits if p in blooms else None,
            "schema_id": schema_id,
        }
        if stats_cols:
            entry["stats"] = {
                c: [s[f"_lo_{c}"], s[f"_hi_{c}"]] for c in stats_cols
            }
        entries.append(entry)
    return entries


def publish_snapshot(
    df: DataFrame,
    base: str,
    key_col: str,
    n_files: int | None = None,
    stats_cols: list[str] | None = None,
    cluster_expr=None,
) -> int:
    """Publish ``df`` as a full new snapshot; returns its version. When
    ``n_files`` is given the write is RANGE-CLUSTERED first — on
    ``cluster_expr`` when provided (e.g. a z-order key over two dimensions,
    operators/zorder.py::zorder_key), else on the key — tight per-file
    envelopes are what make file pruning selective. ``stats_cols`` declares
    NON-key columns whose per-file [min, max] envelopes go into every
    manifest entry (here and on every later rewrite): the data-skipping
    input for ``scan_pruned`` predicates the key bounds can't serve."""
    os.makedirs(base, exist_ok=True)
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    if n_files:
        ckey = cluster_expr if cluster_expr is not None else F.col(key_col)
        out = (
            df.withColumn("_ck", ckey)
            .repartitionByRange(n_files, F.col("_ck"))
            .sortWithinPartitions("_ck")
            .drop("_ck")
        )
    else:
        out = df
    out.write.parquet(staging)
    try:
        entries = _ingest_parts(
            df.sparkSession, base, staging, key_col, 1, stats_cols
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    vs = _versions(base)
    v = (vs[-1] + 1) if vs else 1
    manifest = {
        "key_col": key_col,
        "schema": df.schema.json(),
        "schema_id": 1,
        "columns": _spec_from_schema(df.schema, 1),
        "files": entries,
        "rows": sum(e["rows"] for e in entries),
        "epochs": [],
    }
    if stats_cols:
        manifest["stats_cols"] = stats_cols
    _commit_manifest(base, v, manifest, op="publish")
    return v


def read_snapshot(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot (default latest): exactly the manifested
    files — an uncommitted/orphan part can never leak into a read — and
    reconciled per generation to the snapshot's column spec (added columns
    backfill their default on pre-add files; see ``evolve_schema``)."""
    m = read_manifest(base, version)
    return _read_entries(spark, base, m, m["files"])


def read_changes(
    spark: SparkSession, base: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """CHANGE DATA FEED: the row-level changes between two snapshots —
    every row inserted after ``from_version`` (tagged ``_change_type =
    'insert'``) and every row deleted (``'delete'``); an update surfaces
    as its delete+insert pair. The downstream-incremental primitive: a
    consumer that materialized ``from_version`` applies exactly these rows
    to reach ``to_version`` instead of re-reading the table.

    Computed from the manifests' FILE set difference, so only files that
    changed across the span are ever opened — a 0.1% erase on 10k files
    reads the handful of rewritten files, not the table. Within the
    changed files, net row changes are two EXCEPT ALLs (a COW rewrite
    copies the surviving rows into new files; survivors cancel exactly,
    multiplicity included). A pure compaction span nets zero changes by
    the same argument. Both span manifests must still be within vacuum
    retention (their files on disk); ``read_manifest`` raises otherwise.
    """
    m_from = read_manifest(base, from_version)
    m_to = read_manifest(base, to_version)
    if (
        to_version is not None and to_version < from_version
    ):  # pragma: no cover - caller error
        raise ValueError(f"empty span: {from_version} -> {to_version}")
    from_files = {e["file"] for e in m_from["files"]}
    to_files = {e["file"] for e in m_to["files"]}
    by_name = {e["file"]: e for e in m_from["files"] + m_to["files"]}

    def scan(names: set[str]) -> DataFrame:
        # both sides reconcile to the TO-snapshot's column spec (each
        # entry's own write generation decides bytes-vs-default), so a
        # span crossing an evolve_schema diffs in one consistent shape.
        # persist(): each side feeds BOTH exceptAll branches — without it
        # every changed file is scanned twice (the caller's clearCache
        # hygiene reclaims the storage; lifetime spans the returned plan)
        return _read_entries(
            spark, base, m_to, [by_name[n] for n in sorted(names)]
        ).persist()

    added = scan(to_files - from_files)
    removed = scan(from_files - to_files)
    return (
        added.exceptAll(removed)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            removed.exceptAll(added).withColumn("_change_type", F.lit("delete"))
        )
    )


def lookup_rows(spark: SparkSession, base: str, keys: DataFrame) -> DataFrame:
    """Point lookup: the current snapshot's rows whose key is in ``keys``,
    scanning only files whose manifest metadata (bounds + bloom) cannot
    rule the probe out. On a hash-distributed or append-fragmented layout
    the range bounds are all-pass and the BLOOM does the pruning — the
    case per-file min/max fundamentally cannot help with. The scan of the
    surviving files is a plain semi-join (no exact-affected refinement
    needed: a bloom false positive costs one extra file read, never a
    wrong row)."""
    m = read_manifest(base)
    key = m["key_col"]
    k = keys.select(F.col(keys.columns[0]).alias(key)).distinct()
    cand = set(_candidate_files(spark, m, k, key))
    return _read_entries(
        spark, base, m, [e for e in m["files"] if e["file"] in cand]
    ).join(F.broadcast(k), key, "left_semi")


def erase_rows(
    spark: SparkSession, base: str, tombstones: DataFrame, key_col: str | None = None
) -> int:
    """Copy-on-write DELETE: commit a new snapshot in which every row whose
    key appears in ``tombstones`` is gone. Files whose key bounds exclude
    all tombstones are reused BY REFERENCE (never opened); only files that
    actually hold a tombstoned row are rewritten. Returns the new version —
    or the CURRENT version unchanged when nothing matches (idempotent
    re-issue of a deletion request is a no-op, not a new snapshot)."""
    m = read_manifest(base)
    if not m["files"]:
        return _versions(base)[-1]
    key = key_col or m["key_col"]
    if key != m["key_col"]:
        # bounds and blooms in the manifest are built on the PUBLISHED key;
        # pruning on any other column would be unsound (silently missed
        # files). Tombstones on a non-key column must first be resolved to
        # key tombstones (see s_table_erasure_cascade / s_table_changes).
        raise ValueError(
            f"tombstone column {key!r} != table key {m['key_col']!r}"
        )
    tomb = tombstones.select(F.col(tombstones.columns[0]).alias(key)).distinct()

    # 1. prune candidates from the manifest's bounded stats: per-file key
    # bounds AND per-file blooms, one broadcast join over |files| rows
    cand = _candidate_files(spark, m, tomb, key)
    if not cand:
        return _versions(base)[-1]

    # 2. exact affected files: scan candidates ONLY (key column alone —
    # present in every generation since the key can never be dropped);
    # collect is bounded by the file count, never by rows
    files_dir = os.path.join(base, "files")
    cand_paths = [os.path.join(files_dir, f) for f in cand]
    scan = spark.read.parquet(*cand_paths).select(
        F.col(key), F.input_file_name().alias("_f")
    )
    affected = {
        os.path.basename(r["_f"].removeprefix("file://").removeprefix("file:"))
        for r in scan.join(tomb, key, "left_semi").select("_f").distinct().collect()
    }
    if not affected:
        return _versions(base)[-1]

    # 3. rewrite survivors of the affected files in one distributed pass
    # (reconciled to the current column spec — a COW rewrite of a pre-add
    # file materializes the evolved schema, like Delta's rewrite path)
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    survivors = _read_entries(
        spark, base, m, [e for e in m["files"] if e["file"] in affected]
    ).join(tomb, key, "left_anti")
    survivors.write.parquet(staging)
    try:
        new_entries = _ingest_parts(
            spark, base, staging, key, m["schema_id"],
            m.get("stats_cols"),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    # 4. the commit: untouched entries verbatim + replacements; the
    # manifest replace is the single visibility flip (the epoch registry
    # survives every commit kind: an erase or merge mid-stream must not
    # reopen replayed appends)
    entries = [e for e in m["files"] if e["file"] not in affected] + new_entries
    v = _versions(base)[-1] + 1
    _commit_manifest(base, v, _carry(m, entries), op="erase")
    return v


def append_rows(df: DataFrame, base: str, epoch: str | None = None) -> int:
    """Atomic APPEND: new data files + a manifest that unions them with the
    current snapshot's list. With ``epoch`` set, the append is IDEMPOTENT
    under replay: an epoch tag already recorded in the manifest makes the
    call a no-op returning the current version — the exactly-once
    discipline a streaming foreachBatch sink needs (a retried micro-batch
    must not double its rows)."""
    m = read_manifest(base)
    if epoch is not None and epoch in m.get("epochs", []):
        return _versions(base)[-1]
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    df = df.select(
        *[F.col(c["name"]).cast(c["type"]).alias(c["name"]) for c in m["columns"]]
    )
    df.write.parquet(staging)
    try:
        new_entries = _ingest_parts(
            df.sparkSession, base, staging, m["key_col"],
            m["schema_id"], m.get("stats_cols"),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    entries = m["files"] + new_entries
    v = _versions(base)[-1] + 1
    _commit_manifest(
        base,
        v,
        _carry(
            m,
            entries,
            m.get("epochs", []) + ([epoch] if epoch is not None else []),
        ),
        op="append",
    )
    return v


def merge_rows(
    spark: SparkSession,
    base: str,
    source: DataFrame,
    order_cols: list[str] | None = None,
    epoch: str | None = None,
) -> int:
    """Atomic MERGE / upsert: rows of ``source`` REPLACE current rows with
    the same key; source keys absent from the table are inserts. One
    snapshot commit covers both — the storage-level transactional form of
    ``operators/merge.py::merge_upsert`` (which computes the merged
    RELATION; this commits it with copy-on-write file granularity). The
    delete half reuses erase_rows' plan shape: bounds+bloom-prune candidate
    files against the source keys, rewrite only files holding a matched
    key, reference the rest verbatim; the insert half is one staged write
    of the full source. A crash anywhere before the manifest replace
    leaves the old snapshot intact and only orphan files behind.

    ``order_cols`` turns the unconditional replace into a CONDITIONAL
    newer-wins merge (CDC apply): a source row replaces the table row of
    the same key only when its ``order_cols`` tuple is STRICTLY greater
    (struct comparison, ties keep the table row); duplicate keys inside
    ``source`` collapse to the per-key maximum first. This makes the merge
    a join-semilattice on (key -> max tuple): applying update batches in
    ANY order — including the out-of-order delivery a distributed CDC feed
    actually produces — converges to the same last-writer-wins table.

    ``epoch`` gives the merge the same replay idempotence as
    ``append_rows``: an epoch tag already in the manifest makes the call a
    recognized no-op — the exactly-once contract a streaming foreachBatch
    upsert sink needs."""
    m = read_manifest(base)
    if epoch is not None and epoch in m.get("epochs", []):
        return _versions(base)[-1]
    key = m["key_col"]
    if order_cols:
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        source = (
            source.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    src_keys = source.select(key).distinct()

    affected: set[str] = set()
    files_dir = os.path.join(base, "files")
    cand = _candidate_files(spark, m, src_keys, key)
    if cand:
        scan = spark.read.parquet(
            *(os.path.join(files_dir, f) for f in cand)
        ).select(F.col(key), F.input_file_name().alias("_f"))
        affected = {
            os.path.basename(
                r["_f"].removeprefix("file://").removeprefix("file:")
            )
            for r in scan.join(src_keys, key, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        }

    cols = [f.name for f in StructType.fromJson(json.loads(m["schema"])).fields]
    affected_entries = [e for e in m["files"] if e["file"] in affected]
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    if affected and order_cols:
        # winner set per KEY, not per table row: the table may legally
        # hold several rows for a key (append never dedupes), and a
        # full-outer row-level compare would fan the single winning
        # source row out once per table copy. A source row wins its key
        # when it beats the key's MAX table tuple; winning keys have all
        # their table copies replaced by the one source row, losing /
        # absent-from-source keys keep every copy.
        table = _read_entries(spark, base, m, affected_entries)
        t_max = table.groupBy(key).agg(
            F.max(F.struct(*[F.col(c) for c in order_cols])).alias("_t")
        )
        src = source.select(*cols)
        s_tuple = F.struct(*[F.col(c) for c in order_cols])
        winners = (
            src.join(t_max, key, "left")
            .filter(F.col("_t").isNull() | (s_tuple > F.col("_t")))
            .drop("_t")
        )
        out = table.join(
            winners.select(key).distinct(), key, "left_anti"
        ).unionByName(winners)
    elif affected:
        survivors = _read_entries(spark, base, m, affected_entries).join(
            src_keys, key, "left_anti"
        )
        out = survivors.unionByName(source.select(*survivors.columns))
    else:
        out = source.select(*cols)
    out.write.parquet(staging)
    try:
        new_entries = _ingest_parts(
            spark, base, staging, key, m["schema_id"],
            m.get("stats_cols"),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    entries = [e for e in m["files"] if e["file"] not in affected] + new_entries
    v = _versions(base)[-1] + 1
    _commit_manifest(
        base,
        v,
        _carry(
            m,
            entries,
            m.get("epochs", []) + ([epoch] if epoch is not None else []),
        ),
        op="merge",
    )
    return v


def compact_snapshot(
    spark: SparkSession, base: str, target_file_bytes: int = 128 << 20
) -> int:
    """Transactional OPTIMIZE: bin-pack the current snapshot's small files
    into ~``target_file_bytes`` files, committed as a new snapshot that is
    CONTENT-IDENTICAL (pure file rewrite — the lakehouse answer to the
    small-files problem a streaming append sink creates; readers of the
    old snapshot are never blocked, and the superseded parts stay on disk
    for them until vacuum). Range-clusters on the key while rewriting, so
    compaction also restores tight per-file bounds for later erases.
    Returns the new version; a snapshot that is already one file (or
    empty) is left alone."""
    m = read_manifest(base)
    files_dir = os.path.join(base, "files")
    if len(m["files"]) <= 1:
        return _versions(base)[-1]
    total = sum(
        os.path.getsize(os.path.join(files_dir, e["file"])) for e in m["files"]
    )
    n_files = max(1, -(-total // target_file_bytes))
    if n_files >= len(m["files"]):
        return _versions(base)[-1]
    df = read_snapshot(spark, base)
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    df.repartitionByRange(n_files, F.col(m["key_col"])).write.parquet(staging)
    try:
        entries = _ingest_parts(
            spark, base, staging, m["key_col"], m["schema_id"],
            m.get("stats_cols"),
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    v = _versions(base)[-1] + 1
    _commit_manifest(base, v, _carry(m, entries), op="compact")
    return v


_COMMIT_ATTEMPTS = 5


def retry_on_conflict(op):
    """Optimistic-concurrency driver: run ``op`` (a zero-arg closure over
    one DML call — erase_rows/append_rows/merge_rows/compact_snapshot, or
    the connector's manifest commit), retrying on :class:`CommitConflict`
    up to ``_COMMIT_ATTEMPTS`` times. Safe because every DML function
    re-reads the CURRENT manifest at entry, so a retry replans against
    the winner's snapshot rather than replaying a stale one; a conflicted
    attempt's already-ingested parts become orphans vacuum collects (the
    same crash-orphan class the commit protocol already tolerates)."""
    for attempt in range(_COMMIT_ATTEMPTS):
        try:
            return op()
        except CommitConflict:
            if attempt == _COMMIT_ATTEMPTS - 1:
                raise


# --- Snapshot tags ------------------------------------------------------------

_TAGS = "tags.json"


def tag_snapshot(base: str, name: str, version: int | None = None) -> int:
    """Pin a named TAG to a snapshot (default: the current one) — the
    provenance primitive a training pipeline needs: 'model X trained on
    tag run-2026-08'. Tagged snapshots are excluded from vacuum's
    retention sweep, so the exact bytes a model saw stay reproducible
    until the tag is deleted (``untag_snapshot``), however many newer
    versions land. Tag updates are last-write-wins via atomic replace
    (tags are operator-issued, not racing writers). Returns the tagged
    version."""
    vs = _versions(base)
    v = version if version is not None else vs[-1]
    if v not in vs:
        raise FileNotFoundError(f"snapshot v={v} not in {vs}")
    tags = read_tags(base)
    tags[name] = v
    _write_tags(base, tags)
    return v


def untag_snapshot(base: str, name: str) -> None:
    tags = read_tags(base)
    tags.pop(name, None)
    _write_tags(base, tags)


def _write_tags(base: str, tags: dict[str, int]) -> None:
    tmp = os.path.join(base, f"{_TAGS}.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(tags, fh)
    os.replace(tmp, os.path.join(base, _TAGS))


def read_tags(base: str) -> dict[str, int]:
    try:
        with open(os.path.join(base, _TAGS)) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}
    except FileNotFoundError:
        return {}


def resolve_tag(base: str, name: str) -> int:
    """The version a tag points at — pass to ``read_snapshot``."""
    tags = read_tags(base)
    if name not in tags:
        raise FileNotFoundError(f"no tag {name!r} under {base} (have {sorted(tags)})")
    return tags[name]


def vacuum(
    base: str, keep_versions: int = 1, retain_seconds: float | None = None
) -> list[str]:
    """Physically drop everything no KEPT snapshot references: old
    manifests beyond the retention, their exclusive data files, and any
    orphan parts from crashed commits or staging. Until vacuum runs, every
    retained snapshot stays readable — the audit window between logical
    deletion (erase_rows commit) and physical destruction. TAGGED
    snapshots are always kept (reproducibility pins outrank retention),
    and ``retain_seconds`` additionally keeps every snapshot committed
    within that window (the time-based retention SLA real formats express
    as RETAIN n HOURS — timestamp time travel stays answerable across the
    whole window). Returns the deleted file names."""
    import time

    vs = _versions(base)
    keep = vs[-keep_versions:] if keep_versions > 0 else []
    keep = sorted(set(keep) | (set(read_tags(base).values()) & set(vs)))
    if retain_seconds is not None:
        horizon = time.time() - retain_seconds
        keep = sorted(
            set(keep)
            | {
                v
                for v in vs
                if (read_manifest(base, v).get("committed_at") or 0) >= horizon
            }
        )
    referenced: set[str] = set()
    for v in keep:
        referenced.update(e["file"] for e in read_manifest(base, v)["files"])
    removed = []
    files_dir = os.path.join(base, "files")
    if os.path.isdir(files_dir):
        for f in os.listdir(files_dir):
            if f not in referenced:
                os.remove(os.path.join(files_dir, f))
                removed.append(f)
    for v in vs:
        if v not in keep:
            os.remove(_manifest_path(base, v))
            removed.append(f"v={v}.manifest.json")
    for d in os.listdir(base):
        if d.startswith("_staging_"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            removed.append(d)
        elif ".tmp." in d:
            # a crash between CAS link and tmp unlink leaves the tmp copy
            os.remove(os.path.join(base, d))
            removed.append(d)
    return removed


def _pruned_entries(m: dict, ranges: dict[str, tuple]) -> list[dict]:
    """The entries of manifest ``m`` whose recorded envelopes can
    intersect every ``col -> (lo, hi, values)`` range: ``lo``/``hi`` may be
    None (open side), ``values`` is None or an explicit candidate set. The
    key column's envelope is the entry's [lo, hi] bounds, a
    ``stats_cols`` column's its per-file stats; a column with no recorded
    envelope never prunes (sound). Shared by ``scan_pruned`` and the
    connector's pushed-filter partition pruning."""
    key = m["key_col"]

    def may_hold(e: dict) -> bool:
        for c, (lo, hi, values) in ranges.items():
            flo, fhi = (
                (e["lo"], e["hi"]) if c == key else (e.get("stats") or {}).get(c)
            ) or (None, None)
            if flo is None or fhi is None:
                continue
            if (lo is not None and fhi < lo) or (hi is not None and flo > hi):
                return False
            if values is not None and not any(flo <= v <= fhi for v in values):
                return False
        return True

    return [e for e in m["files"] if may_hold(e)]


def scan_pruned(
    spark: SparkSession, base: str, ranges: dict[str, tuple]
) -> DataFrame:
    """DATA-SKIPPING scan: read only files whose recorded envelopes can
    intersect every ``col -> (lo, hi)`` range (either bound may be None =
    open). The key column prunes on the entry's [lo, hi] bounds; any
    column declared in ``publish_snapshot(stats_cols=...)`` prunes on its
    per-file stats envelope; columns without stats never prune (sound).
    The pruning pass is a driver-side sweep of manifest METADATA —
    O(|files| x |ranges|), no data touched — and the survivors come back
    reconciled to the current column spec; the caller applies the exact
    predicate to the returned rows (skipping is containment-based, so a
    kept file may still hold non-matching rows).

    Layout matters: with a z-order clustered publish
    (cluster_expr=operators/zorder.py::zorder_key(x, y)) each file owns a
    contiguous z-range, i.e. a bounded rectangle union in (x, y) space —
    so BOTH dimensions' envelopes are tight and a 2-D box predicate
    prunes on either column; a single-column range clustering serves only
    its leading column."""
    m = read_manifest(base)
    ranges = {c: (lo, hi, None) for c, (lo, hi) in ranges.items()}
    return _read_entries(spark, base, m, _pruned_entries(m, ranges))


def table_history(spark: SparkSession, base: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained snapshot — version,
    operation kind, commit wall-clock, row/file counts, schema generation.
    Pure manifest metadata (no data file is opened); after a vacuum only
    the retained versions remain, which is exactly the auditable window."""
    rows = []
    for v in _versions(base):
        m = read_manifest(base, v)
        rows.append(
            (
                v,
                m.get("op", "commit"),
                m.get("committed_at"),
                m["rows"],
                len(m["files"]),
                m["schema_id"],
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, op string, committed_at double, n_rows long, "
        "n_files long, schema_id long",
    )


def version_as_of(base: str, ts: float) -> int:
    """TIME TRAVEL by timestamp: the latest retained version committed at
    or before ``ts`` (epoch seconds) — pass the result to
    ``read_snapshot``. Raises if ``ts`` predates the oldest retained
    commit (vacuum may have dropped the version that was current then —
    answering with a LATER snapshot would be silently wrong)."""
    best = None
    for v in _versions(base):
        at = read_manifest(base, v).get("committed_at")
        if at is not None and at <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no retained snapshot at or before ts={ts} under {base}"
        )
    return best
