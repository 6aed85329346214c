"""Partitioning utilities, the package's one plan-leaf sizing path and its
one footer read.

At cluster scale, inputs arrive in many partitions and these helpers are
no-ops; on small/local inputs (one parquet file → one partition) they unlock
the CPU-bound operators (hashing, shingling, vector folds) that would
otherwise run single-threaded regardless of cores.

Sizing contract. Every size the package plans by comes from
:func:`leaf_stats`: the parquet footers of the analyzed plan's leaves,
counted once per leaf OCCURRENCE (a self-union counts its files twice),
read through one memoized footer reader. It is *unknown* (None) when any
leaf is not a file relation (a local relation, ``range``, an RDD) or a file
is not a local parquet file. The row count is a pre-filter file count:
exact for a scan, an upper bound through filters, aggregates and
non-multiplying joins, and an UNDER-count past an explode or a
row-multiplying join.

An estimate ``n`` may change cost, never rows. Consumers use it only for
sample rates, one-bucket cutovers, block sizes and bucket counts; the one
value-bearing use — the blocked-GEMM block grid — fails loudly
(``raise_error``) on an under-count instead of dropping pairs.
:func:`sizing_rows` is the single "estimate, else ``count()``" entry point.
Callers pass ``n_rows`` (``assign_contiguous_ids``) when they already hold
an exact count, or when their plan expands rows far past its scan so the
cost is not planned off an under-count.

Schema contract. :func:`scope_footers` plans a read of local Parquet
folders from the same memoized footers, with the schema Spark's inference
would return computed by Spark's own code on the driver: a Spark-written
file's stored schema as it is, and for any other file Spark's Parquet
converter (:func:`_spark_schema`), run once per distinct Parquet schema on
every call, under the session's SQL conf as it is at that call. The
conversion is not memoized, since a conf such as ``nanosAsLong`` may change
within a session. A caller passes a schema to ``spark.read.schema`` only
when the converted schemas agree; anything else, a type the converter
refuses included, is left to Spark's inference job. Like an estimate, the
footer path may change cost, never rows or columns.
"""

from __future__ import annotations

import functools
import json
import os
import sys
from typing import NamedTuple
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

#: Leaf files above which footer probing costs more than the answer is
#: worth (many files ⇒ the scan is parallel anyway).
_MAX_LEAF_FILES = 10_000

#: Uncompressed bytes of a map column's key leaf, summed over a scope's
#: footers, above which the driver does not read the keys itself and a
#: Spark pass finds them instead.
_MAX_KEY_LEAF_BYTES = 32 << 20


class LeafStats(NamedTuple):
    rows: int  # footer rows summed per leaf occurrence (pre-filter)
    row_groups: int  # parquet's real parallelism unit
    partitions: int  # Spark's FilePartition packing estimate


#: Footer key under which Spark's Parquet writer stores the written
#: schema as JSON; Spark's own schema inference returns that value.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class Footer(NamedTuple):
    rows: int
    row_groups: int
    spark_schema: str | None  # the schema JSON Spark's writer stored; None for another writer
    parquet_schema: str  # the file's Parquet schema as text: files that share it convert alike
    key_bytes: tuple[tuple[str, int], ...]  # (top-level map column, uncompressed bytes of its key leaf)
    nanos_columns: tuple[str, ...]  # top-level columns stored as INT64 nanosecond timestamps


@functools.lru_cache(maxsize=65_536)
def _footer(path: str, size: int, mtime_ns: int) -> Footer:
    """One parquet footer — the package's only footer read. ``size`` and
    ``mtime_ns`` are part of the cache key so a rewritten file is read
    again. Nothing in it depends on the session's conf.

    ``spark_schema`` is the schema Spark's writer stored under its footer
    key, which Spark's inference returns as it is. ``parquet_schema`` is
    the file's Parquet schema as pyarrow prints it (names, repetitions,
    physical and logical types); :func:`scope_footers` converts one file
    per distinct value. Both are interned: the files of one table share one
    copy in the cache. ``key_bytes`` sizes the key leaf
    (``<col>.key_value.key``) of each top-level map column, summed over the
    row groups, for a driver read of only the keys. ``nanos_columns``
    names the top-level columns Spark reads only under
    ``spark.sql.legacy.parquet.nanosAsLong`` (as ``bigint``)."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        md = pf.metadata
    stored = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    key_bytes = []
    nanos_columns = []
    for i in range(md.num_columns):
        leaf = md.schema.column(i)
        col = leaf.path.removesuffix(".key_value.key")
        if col != leaf.path and "." not in col and leaf.max_repetition_level == 1:
            size = sum(md.row_group(g).column(i).total_uncompressed_size for g in range(md.num_row_groups))
            key_bytes.append((col, size))
        if leaf.path == leaf.name and leaf.logical_type.type == "TIMESTAMP":
            if json.loads(leaf.logical_type.to_json())["timeUnit"] == "nanoseconds":
                nanos_columns.append(leaf.name)
    return Footer(
        md.num_rows,
        md.num_row_groups,
        None if stored is None else sys.intern(stored.decode()),
        # str() opens with the object's address line; the schema follows it
        sys.intern(str(md.schema).partition("\n")[2]),
        tuple(key_bytes),
        tuple(nanos_columns),
    )


@functools.lru_cache(maxsize=None)
def _converter_classes(jvm) -> tuple:
    """The JVM classes :func:`_spark_schema` calls, resolved once per
    gateway: each name resolution is a py4j round trip."""
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return (
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile,
        parquet.ParquetFooterReader,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
        jvm.org.apache.parquet.hadoop.Footer,
        parquet.ParquetToSparkSchemaConverter,
        parquet.ParquetFileFormat,
    )


def _spark_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of the Parquet file at ``path``, by the call Spark's
    inference task makes (``ParquetFileFormat.readSchemaFromFooter``), on
    the driver and under the session's SQL conf as it is now
    (``binaryAsString``, ``nanosAsLong`` and the like)."""
    Path, InputFile, FooterReader, no_filter, JFooter, Converter, FileFormat = _converter_classes(spark._jvm)
    hpath = Path(path)
    meta = FooterReader.readFooter(InputFile.fromPath(hpath, spark._jsc.hadoopConfiguration()), no_filter)
    converter = Converter(spark._jsparkSession.sessionState().conf())
    schema = FileFormat.readSchemaFromFooter(JFooter(hpath, meta), converter).asNullable()
    return _parse_datatype_json_string(schema.json())


def _hidden(name: str) -> bool:
    """Spark's rule for the file and directory names a file listing skips
    (``HadoopFSUtils.shouldFilterOutPathName``, without its exception for
    the parquet summary files, which :func:`scope_footers` refuses)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


class ScopeFooters(NamedTuple):
    schemas: list[StructType]  # the distinct footer schemas
    spark_written: bool  # every schema is the one Spark's writer stored
    files: dict[str, Footer]  # data file -> its footer


def _listed_footers(paths: list[str]) -> tuple[dict[str, Footer], set[str]] | None:
    """The footers of the data files Spark would list under the local
    directories ``paths``, and the keys of their partition directories.
    None for a path that is not a local directory, a subdirectory that is
    not a ``key=value`` partition directory, a parquet summary file, or
    more than ``_MAX_LEAF_FILES`` files. An unreadable file or footer
    raises (``OSError``, or pyarrow's ``ValueError``)."""
    files: dict[str, Footer] = {}
    partition_keys: set[str] = set()
    for base in paths:
        url = urlparse(base)
        root = url.path if url.scheme == "file" else base
        if url.scheme not in ("", "file") or not os.path.isdir(root):
            return None
        for dirpath, dirnames, filenames in os.walk(root, followlinks=True):
            if any(n.startswith(("_metadata", "_common_metadata")) for n in dirnames + filenames):
                return None
            dirnames[:] = [d for d in dirnames if not _hidden(d)]
            if any("=" not in d for d in dirnames):
                return None
            partition_keys.update(d.split("=", 1)[0].lower() for d in dirnames)
            for name in filenames:
                if _hidden(name):
                    continue
                if len(files) >= _MAX_LEAF_FILES:
                    return None
                path = os.path.join(dirpath, name)
                st = os.stat(path)
                files[path] = _footer(path, st.st_size, st.st_mtime_ns)
    return files, partition_keys


def scope_footers(spark: SparkSession, paths: list[str]) -> ScopeFooters | None:
    """The footers of the data files Spark would list under ``paths``, and
    their distinct Spark schemas (see the module's schema contract) — no
    Spark job. None when only Spark's own inference is safe: a path
    :func:`_listed_footers` refuses, no file, a footer or schema that is
    unreadable or that Spark's converter refuses (an illegal type, or a
    converter API this Spark lacks: its inference then raises its own
    error), or a schema field named like a partition directory's key
    (Spark would move it)."""
    try:
        listed = _listed_footers(paths)
        if listed is None or not listed[0]:
            return None
        files, partition_keys = listed
        one_per_schema = {f.spark_schema or f.parquet_schema: (path, f.spark_schema) for path, f in files.items()}
        found = [
            _spark_schema(spark, path) if stored is None else _parse_datatype_json_string(stored)
            for path, stored in one_per_schema.values()
        ]
    except (OSError, ValueError, TypeError, KeyError, Py4JError, PySparkException):
        return None  # an unreadable file, footer or schema, or one the converter refuses
    if not all(isinstance(s, StructType) for s in found):
        return None
    schemas = list({s.json(): s for s in found}.values())
    if any(f.name.lower() in partition_keys for s in schemas for f in s.fields):
        return None
    return ScopeFooters(schemas, all(f.spark_schema is not None for f in files.values()), files)


def nanos_columns(path: str) -> set[str] | None:
    """The top-level columns that the local Parquet file ``path``, or any
    data file Spark would list under the local directory ``path``, stores
    as nanosecond timestamps, from the memoized footers — no Spark job.
    None when that cannot be told on the driver: a path that is not
    local, or one :func:`_listed_footers` refuses or cannot read."""
    url = urlparse(path)
    root = url.path if url.scheme == "file" else path
    try:
        if url.scheme in ("", "file") and os.path.isfile(root):
            st = os.stat(root)
            footers = [_footer(root, st.st_size, st.st_mtime_ns)]
        else:
            listed = _listed_footers([path])
            if listed is None:
                return None
            footers = listed[0].values()
    except (OSError, ValueError):
        return None
    return {c for f in footers for c in f.nanos_columns}


def _leaf_files(df: DataFrame) -> list[str] | None:
    """Input files of every leaf occurrence of the analyzed plan (repeated
    when a leaf repeats, unlike ``df.inputFiles()``), or None when a leaf
    is not a file relation."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: list[str] = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        files.extend(rel.inputFiles())
    return files


def leaf_stats(df: DataFrame) -> LeafStats | None:
    """Driver-side stats of the plan's parquet leaves — no Spark job.

    ``partitions`` mirrors ``FilePartition.maxSplitBytes`` (file sizes plus
    openCostInBytes padding, packed into maxSplitBytes bins): 500 tiny
    files can plan as 4 tasks. ``row_groups`` sees through byte-range
    splits: a one-row-group file plans 32 splits, 31 of them empty."""
    try:
        files = _leaf_files(df)
        if files is None or len(files) > _MAX_LEAF_FILES:
            return None
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        max_part, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
        rows = row_groups = padded = 0
        for f in files:
            if not f.endswith(".parquet"):
                return None
            path = f[7:] if f.startswith("file://") else f
            st = os.stat(path)
            footer = _footer(path, st.st_size, st.st_mtime_ns)
            rows += footer.rows
            row_groups += footer.row_groups
            padded += st.st_size + open_cost
    except (OSError, ValueError, Py4JError):  # unreadable leaf: unknown is always safe
        return None
    cores = df.sparkSession.sparkContext.defaultParallelism
    max_split = min(max_part, max(padded // max(cores, 1), open_cost))
    return LeafStats(rows, row_groups, max(1, -(-padded // max(max_split, 1))))


def estimated_scan_rows(df: DataFrame) -> int | None:
    """Footer row count of the plan's leaves (see the module's sizing
    contract), or None when unknown."""
    stats = leaf_stats(df)
    return None if stats is None else stats.rows


def sizing_rows(df: DataFrame) -> int:
    """The row count to size a plan by: the footer estimate, or one
    column-pruned ``count()`` job when it is unknown. The package's only
    sizing ``count()``."""
    n = estimated_scan_rows(df)
    return df.count() if n is None else n


def adaptive_group_buckets(
    df: DataFrame, floor: int, target_rows_per_bucket: int = 1_000_000
) -> int:
    """Bucket count for hash-bucketed ``groupBy(...).applyInPandas`` ops:
    at least ``floor`` (keep every core busy), and GROWING with the input
    so one bucket's pandas frame stays bounded at roughly
    ``target_rows_per_bucket`` rows regardless of corpus size (VERDICT
    r10: a cores-only bucket count makes per-bucket memory O(N/cores) —
    a multi-GB pandas frame in one Python worker at 100 TB). Returns
    ``floor`` when the input size can't be estimated without a job.
    Bucket count never changes RESULTS for per-key ops (the grouping key
    only sets shuffle granularity), only memory/balance."""
    est = estimated_scan_rows(df)
    if est is None:
        return floor
    return max(floor, -(-est // max(target_rows_per_bucket, 1)))


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan can't actually execute at the
    session's parallelism. A shuffle of the (small) input buys full-width
    execution of every CPU-heavy stage after it; when the input is already
    wide, returns the plan untouched.

    The leaf stats answer first, from local metadata: too few parquet row
    groups ⇒ widen; enough packed scan partitions ⇒ keep. Only an unknown
    or narrow-looking packing pays the ``df.rdd`` fallback, a full
    logical→RDD plan translation (~50 ms of driver latency per build).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    stats = leaf_stats(df)
    if stats is not None:
        if stats.row_groups < target:
            return df.repartition(target)
        if stats.partitions >= target:
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
