"""Declarative data-quality expectations.

The reference's schema pass encodes constraints as data — string columns
sized 128/512 "so the file view won't break"
(`/root/reference/src/copy_from_template.py:164-176`). This module
generalizes that: a rule list (not-null / unique / max-length / in-set /
expression) compiles into ONE conditional-aggregate pass over the table,
emitting a (rule, n_violations, n_checked) report. No per-rule scans: at
100 TB the whole report costs a single partial+final aggregate, plus one
distinct-count per uniqueness rule.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    #: Boolean Column: True where the row VIOLATES the rule.
    violation: Column


def not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNull())


def max_length(col: str, n: int) -> Rule:
    """The reference's maximumSize contract (128 default / 512 xl)."""
    return Rule(f"{col}_max_length_{n}", F.length(col) > n)


def in_set(col: str, values: tuple) -> Rule:
    return Rule(f"{col}_in_set", ~F.col(col).isin(list(values)))


def expression(name: str, violated_when: Column) -> Rule:
    return Rule(name, violated_when)


def validate(df: DataFrame, rules: list[Rule], unique_cols: list[str] = ()) -> DataFrame:
    """(rule, n_violations, n_checked) for every rule, one aggregate pass.
    ``unique_cols`` adds a duplicate-count rule per column (needs its own
    count-distinct, the only non-single-pass check)."""
    aggs = [F.count(F.lit(1)).alias("n_checked")]
    for r in rules:
        aggs.append(F.sum(F.when(r.violation, 1).otherwise(0)).alias(r.name))
    for c in unique_cols:
        aggs.append((F.count(c) - F.count_distinct(F.col(c))).alias(f"{c}_unique"))
    wide = df.agg(*aggs)
    names = [r.name for r in rules] + [f"{c}_unique" for c in unique_cols]
    stack = ", ".join(f"'{n}', cast({n} as bigint)" for n in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) as (rule, n_violations)", "n_checked"
    )


def quarantine(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Per-row routing: every input row plus a ``violated`` column listing
    the comma-joined (rule-name-sorted) rules it breaks, empty string for
    clean rows. The split a 100-TB ingest pipeline makes — valid rows
    onward, violators to a quarantine sink with the reason attached — costs
    ONE narrow projection (all rule predicates evaluate in a single
    codegen'd pass; no join, no shuffle); callers filter
    ``violated == ''`` / ``!= ''`` for the two routes and both filters push
    into the same scan. Rule names are emitted pre-sorted as TEXT, not
    array, so the result is canon-comparable row-wise."""
    flags = [F.when(r.violation, F.lit(r.name)) for r in sorted(rules, key=lambda r: r.name)]
    return df.withColumn(
        "violated", F.concat_ws(",", F.array_compact(F.array(*flags)))
    )
