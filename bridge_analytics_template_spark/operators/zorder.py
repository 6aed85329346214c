"""Z-order (Morton) clustering key — multi-dimensional data layout.

A single sort column whose bit-interleaving preserves locality on BOTH
input dimensions: files written in z-key order get tight min/max ranges on
each dimension simultaneously, so parquet row-group/file skipping prunes
on either predicate (a plain sort gives locality on the leading column
only). This is the layout half of data skipping: pass the key as
``cluster_expr`` to `sources/manifest_table.py::publish_snapshot`, whose
``n_files`` write range-clusters on it (on the table key when omitted).

The key is built as one unrolled JVM expression tree (2×bits shift/and/or
terms — whole-stage codegen compiles it; see NOTES.md lesson 2: unrolled
expressions beat higher-order lambdas ~75×). `zorder_sql` emits the same
arithmetic as ANSI SQL so the computation is DuckDB-oracle-checkable
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` of two non-negative integer columns:
    bit i of x lands at position 2i, bit i of y at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    key = terms[0]
    for t in terms[1:]:
        key = key.bitwiseOR(t)
    return key


def zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical interleave spelled in portable SQL (>> & <<  |)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)

