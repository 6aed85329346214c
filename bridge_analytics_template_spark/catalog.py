"""Table catalog over the fixture parquet datasets.

The reference's "file view" is a virtual table over a folder scope
(synapseformation_templates/default.yaml:5-10); here the analogous catalog
maps logical table names to parquet paths and registers temp views, so both
the DataFrame API and ``spark.sql`` address the same tables.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from . import session
from .partitioning import nanos_columns

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scratch_path(spark: SparkSession, name: str) -> str:
    """Per-session scratch directory for round-trip sinks.

    Keyed on ``applicationId`` so two concurrent sessions (parallel test
    workers, a second driver) never overwrite each other's round-trip data
    mid-read (ADVICE r2: fixed paths under gettempdir raced)."""
    import tempfile

    app = spark.sparkContext.applicationId
    return os.path.join(tempfile.gettempdir(), f"{name}-{app}")


def index_scratch_dir(
    spark: SparkSession, sf_dir: str, name: str, src_table: str
) -> str:
    """On-disk location for a derived artifact (persisted index, ingest
    run) keyed by corpus identity AND session: the fixture basename +
    source-file mtime invalidate on regeneration (build-once/probe-many
    within a process), while ``applicationId`` keeps concurrent sessions
    from racing on one directory — the same isolation rule as
    :func:`scratch_path` (ADVICE r2: fixed paths under gettempdir raced
    across parallel drivers; a torn concurrent index build is the same
    failure one layer up)."""
    import tempfile

    src = os.path.join(sf_dir, src_table)
    token = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_{int(os.path.getmtime(src))}"
        f"_{spark.sparkContext.applicationId}"
    )
    return os.path.join(tempfile.gettempdir(), f"{name}_{token}")


#: Session-scoped scan cache, keyed on the SparkSession OBJECT (a
#: WeakKeyDictionary, so no id()-reuse aliasing): session → {(sf_dir,
#: table, mtime_token) → DataFrame}. A DataFrame is an immutable logical
#: plan, so handing the same object to every query is safe; what the cache
#: saves is the ~100 ms of file listing + footer schema read + analysis
#: that spark.read.parquet pays per call — pure driver latency, multiplied
#: by every query build in a bench pass.
#:
#: Keyed on session identity, NOT applicationId (ADVICE r5): sibling
#: sessions (``spark.newSession()``, or a second SparkSession over the same
#: SparkContext) share one applicationId but have independent session confs
#: and temp-view catalogs — an appId key would skip ``session.apply``
#: for the sibling (UTC/AQE unpinned → timestamp-correctness
#: risk) and hand it DataFrames whose temp views land in the FIRST
#: session's catalog. The cached DataFrames reference their session, so an
#: entry lives as long as its session — exactly the intended lifetime.
_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def clear_scan_cache() -> None:
    """Drop every cached scan (all sessions). Call from harness reset
    points after rewriting a fixture directory in-place — a cached plan
    pins the old file listing, so re-execution after a rewrite would throw
    FileNotFoundException or read stale data (ADVICE r5)."""
    _SESSIONS.clear()


def _dir_token(path: str) -> float:
    """Cheap staleness token for a fixture path: the file/dir mtime. The
    driver regenerates ``/root/testdata`` per round while long-lived
    sessions may survive; folding the mtime into the cache key makes a
    rewritten fixture a cache miss instead of a stale plan."""
    try:
        return os.stat(path).st_mtime
    except OSError:
        return 0.0


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain ``spark.read.parquet`` so Catalyst gets
    predicate pushdown / column pruning for free (SURVEY.md §4); the events
    table's ``ts`` is normalized by :func:`events_source`."""
    state = _SESSIONS.get(spark)
    if state is None:
        session.apply(spark)
        state = {}
        _SESSIONS[spark] = state
    key = (sf_dir, name, _dir_token(table_path(sf_dir, name)))
    cached = state.get(key)
    if cached is not None:
        return cached
    df = _scan(spark, sf_dir, name)
    state[key] = df
    return df


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        raw, ts = events_source(spark, table_path(sf_dir, name))
        return raw.withColumn("ts", ts)
    return spark.read.parquet(table_path(sf_dir, name))


def events_source(spark: SparkSession, path: str) -> tuple[DataFrame, Column]:
    """The raw batch scan of the events table at ``path`` and the ``ts``
    column that batch and streaming reads of it both select.

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) or naive
    TIMESTAMP(MICROS) (``isAdjustedToUTC=false`` → Spark
    ``timestamp_ntz``). Both become a session-zone (UTC) micro-precision
    ``timestamp`` — the same wall-clock values DuckDB produces with
    ``CAST(ts AS TIMESTAMP)``. The column refers to ``ts`` by name, so it
    applies to a streaming read with the raw scan's schema.

    Spark reads a nanosecond timestamp only under the session-wide
    ``spark.sql.legacy.parquet.nanosAsLong`` conf (as long nanos), which
    also retypes every later Parquet read of the session. So this sets the
    conf only when the memoized footers show a nanosecond ``ts``, or
    cannot be read on the driver; a micros ``ts`` leaves the conf as it
    was."""
    nanos = nanos_columns(path)
    if nanos is None or "ts" in nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(path)
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw, F.timestamp_micros(F.expr("ts div 1000"))
    # Session TZ is pinned to UTC, so this cast keeps the wall clock.
    return raw, F.col("ts").cast("timestamp")


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
