"""Filter-and-assert-unique lookups (reference parity: the three ``get_*``
helpers at ``/root/reference/src/copy_from_template.py:99-161``).

The reference evaluates a predicate over a collection of records and raises
if the match count is 0 or >1. Here the predicate is a Catalyst expression
(so it pushes down to the scan) and the cardinality guard is a cheap
``limit(2).collect()`` — never a full count over the dataset, which matters
when the underlying table is 100 TB: Spark stops scanning once two matching
rows are found.

The session (``session.get_spark``) sets the take's first job to one wave
of partitions (``spark.sql.limit.initialNumPartitions`` = cores). The
normal one-match lookup must read every partition to prove there is no
second row, so on an input of at most one wave it runs one job, not a
1-partition job followed by one over the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


class LookupError0(ValueError):
    """No row matched (parity: copy_from_template.py:113-116)."""


class LookupErrorMany(ValueError):
    """More than one row matched (parity: copy_from_template.py:117-120)."""


def assert_unique(df: DataFrame, what: str = "row") -> Row:
    """Return the single row of ``df``; raise LookupError0/Many otherwise."""
    rows = df.limit(2).collect()
    if len(rows) == 0:
        raise LookupError0(f"{what}: no matching row")
    if len(rows) > 1:
        raise LookupErrorMany(f"{what}: more than one matching row")
    return rows[0]


def filter_unique(df: DataFrame, predicate: Column, what: str = "row") -> Row:
    """Predicate + exactly-one guard in one call."""
    return assert_unique(df.filter(predicate), what)


def get_scoped_view(entities: DataFrame, concrete_type: str, scope_id: str) -> Row:
    """Engine analog of ``get_raw_data_view`` (copy_from_template.py:99-122):
    type match AND scope contains the folder AND scope has exactly one member."""
    pred = (
        (F.col("concreteType") == F.lit(concrete_type))
        & F.array_contains(F.col("scopeIds"), scope_id)
        & (F.size("scopeIds") == 1)
    )
    return filter_unique(entities, pred, "scoped view")


def get_named_entity(entities: DataFrame, concrete_type: str, name: str) -> Row:
    """Engine analog of ``get_folder`` (copy_from_template.py:125-142)."""
    pred = (F.col("concreteType") == F.lit(concrete_type)) & (F.col("name") == F.lit(name))
    return filter_unique(entities, pred, f"entity {name!r}")


def get_titled_row(rows: DataFrame, title: str) -> Row:
    """Engine analog of ``get_wiki_sub_page`` (copy_from_template.py:145-161)."""
    return filter_unique(rows, F.col("title") == F.lit(title), f"title {title!r}")
