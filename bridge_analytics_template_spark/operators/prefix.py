"""Distributed prefix aggregation (cumulative sum) without the
single-partition window.

``SUM(...) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` with no PARTITION BY
funnels the whole dataset through ONE task — same cliff as global
``row_number`` (operators/rowids.py). The distributed recipe is identical:
bucket rows by explicit range boundaries, sum values per bucket, prefix-sum
those totals into per-bucket offsets (driver-side over num_partitions
numbers), then one mapInPandas pass adds offset + local running sum.

DETERMINISM (ADVICE r2, same hazard as rowids): boundaries come from
``deterministic_bounds`` — a pure function of the data — and routing is a
hash partition on the bucket id, so re-executing the returned DataFrame
after an unpersist reproduces identical cumsums (the old recipe pinned a
RangePartitioner sampling with persist; a recompute could re-sample
different partition boundaries than the collected offsets).

Exact for integer value columns (the engine's money columns are int64
units); float cumsums are sequential left-to-right within the global order,
matching the single-partition window's summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rowids import bucket_expression, deterministic_bounds


def partitioned_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    cum_name: str = "cum",
    total_name: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Add ``cum_name`` = running sum of ``value_col`` in ``order_cols``
    order, fully distributed. When ``total_name`` is given, also add the
    grand total as a constant column (it falls out of the offset pass for
    free — no extra job, no unpartitioned window). ``n`` only sets cost
    (partitioning.py's sizing contract); an input small enough for one
    bucket with no grand total requested runs no driver-blocking job."""
    from ..partitioning import sizing_rows

    n = sizing_rows(df)
    bounds = deterministic_bounds(df, order_cols, num_partitions, n)
    bucket_expr = bucket_expression(df, order_cols, bounds)

    if not bounds and total_name is None:
        # one bucket, no total requested: offsets are known without a job
        offsets: dict = {0: 0}
        total = None
    else:
        # Per-bucket sums -> offsets + grand total (one aggregate job; the
        # deterministic bucket expression makes this reproducible against
        # any later execution of the routed plan below).
        sums = (
            df.select(bucket_expr.alias("_bkt"), F.col(value_col))
            .groupBy("_bkt")
            .agg(F.sum(value_col).alias("s"))
            .collect()
        )
        by_bkt = {r["_bkt"]: r["s"] for r in sums}
        offsets, acc = {}, 0
        for bkt in sorted(by_bkt):
            offsets[bkt] = acc
            acc += by_bkt[bkt] or 0
        total = acc
    spark = df.sparkSession
    b_offsets = spark.sparkContext.broadcast(offsets)

    out = df.withColumn(cum_name, F.col(value_col))
    if total_name is not None:
        out = out.withColumn(total_name, F.col(value_col))
    out_schema = out.schema

    def add_cumsum(pdf_iter):
        # Buckets live wholly in one partition (hash on _bkt) and arrive
        # key-sorted; per-bucket running sums carry across Arrow batches.
        run: dict[int, float] = {}
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            res = pdf.drop(columns=["_bkt"])
            grouped = pdf[value_col].groupby(pdf["_bkt"]).cumsum()
            base = pdf["_bkt"].map(lambda b: b_offsets.value.get(int(b), 0) + run.get(int(b), 0))
            res[cum_name] = grouped + base
            if total_name is not None:
                res[total_name] = total
            for bkt, s in pdf.groupby("_bkt")[value_col].sum().items():
                run[int(bkt)] = run.get(int(bkt), 0) + s
            yield res

    routed = (
        df.withColumn("_bkt", bucket_expr)
        .repartition(max(1, num_partitions), "_bkt")
        .sortWithinPartitions("_bkt", *order_cols)
    )
    return routed.mapInPandas(add_cumsum, schema=out_schema)
