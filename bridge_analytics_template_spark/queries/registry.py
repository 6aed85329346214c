"""Query/oracle registry.

Each query is a callable ``(spark, sf_dir) -> DataFrame``; the optional
``sql`` is the ANSI-SQL equivalent DuckDB runs on the same parquet tables
(views pre-registered by the driver). Column names are aliased identically on
both sides — the driver's comparator sorts columns by name before hashing.

Output order is declared, not executed. A query's DataFrame is a row
multiset: its plan ends in no global sort, because every consumer that
checks rows (the driver's value-hash, ``tools/check_oracle.py``, the
benchmark's check) compares them without regard to order, and a root sort
costs a range-partition sampling job plus an exchange. The order a query's
rows are presented in is registered as ``order_by`` — sort specs in SQL
form, e.g. ``("revenue DESC", "mktsegment")`` — and applied only by a
consumer that presents or indexes rows, through :func:`ordered`. Sorts that
decide WHICH rows come out (one feeding a ``limit``, a rank or a window)
stay in the body; so does a ``sortWithinPartitions`` that lays out a sink.
A body that composes another query's function and needs its rows in order
sorts them itself.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# str, or a LAZY generator () -> str for oracles derived from a reference
# computation over the fixture (resolved by __spark_entry__.oracle_sql();
# see bridge_analytics_template_spark/oracles/).
ORACLES: dict[str, str | Callable[[], str]] = {}
# Declared output order: sort specs in SQL form (``"expr [ASC|DESC]
# [NULLS FIRST|LAST]"``), kept as strings so registration builds no Column
# (building one needs an active SparkContext).
ORDERS: dict[str, tuple[str, ...]] = {}

try:
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover - py4j ships with pyspark
    _Py4JError = RuntimeError


_SORT_SPEC = re.compile(r"(.+?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?", re.IGNORECASE)


def _sort_column(spec: str) -> Column:
    expr, direction, nulls = _SORT_SPEC.fullmatch(spec.strip()).groups()
    method = (direction or "asc").lower()
    if nulls:
        method += f"_nulls_{nulls.lower()}"
    return getattr(F.expr(expr), method)()


def ordered(name: str, df: DataFrame) -> DataFrame:
    """``df`` sorted by query ``name``'s declared order; ``df`` itself when
    the query declares none. The way to present or index a query's rows."""
    specs = ORDERS.get(name)
    if not specs:
        return df
    return df.orderBy(*[_sort_column(s) for s in specs])


def query(name: str, sql: str | None = None, order_by: tuple[str, ...] = ()):
    """Register a query (and its oracle SQL, when SQL-expressible, and its
    presentation order — see the module docstring and :func:`ordered`).

    The REGISTERED callable clears leftover cached data before building its
    plan: several operators persist() intermediates whose lifetime spans the
    returned plan (so they cannot unpersist themselves), and a caller
    iterating hundreds of registry entries — the verification driver — would
    otherwise accumulate them in executor storage memory. Clearing BEFORE
    the build only drops previous queries' leftovers, never this query's
    own. Module-level callers (queries composing other queries, tests that
    import the function directly) get the UNWRAPPED function back from the
    decorator, so a composite build never clears its own intermediates.

    CONTRACT (ADVICE r2): registered callables assume build-then-execute,
    one at a time — execute (collect/write) each returned DataFrame before
    invoking the next registered query. A caller that interleaves builds
    and executions would have an earlier query's persisted intermediates
    dropped here; since round 3 every operator whose RESULT depends on a
    persisted intermediate (assign_contiguous_ids) is deterministic under
    recompute, so even that pattern can only cost time, not correctness."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # A silent overwrite shadows an existing query (and its oracle)
            # for every consumer, including the official driver — fail at
            # import so the collision is caught the moment it's authored.
            raise ValueError(f"duplicate query registration: {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            try:
                spark.catalog.clearCache()
            except (_Py4JError, RuntimeError, AttributeError):
                pass  # session being torn down — proceed without hygiene
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        wrapped.__wrapped__ = fn
        QUERIES[name] = wrapped
        if sql is not None:
            ORACLES[name] = sql
        if order_by:
            ORDERS[name] = tuple(order_by)
        return fn

    return deco
