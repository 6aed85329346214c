"""Pin the r11 scale-adaptive bucket sizing (VERDICT r10 "What's wrong #1").

``ts_ewma_int``'s hash-bucket count used to scale with cores only, making
per-bucket pandas memory O(N/cores). It now derives from a parquet-footer
row estimate with the parallelism value as the floor:

* ``estimated_scan_rows`` must return the footer row count of the plan's
  file leaves, per leaf occurrence and before any filter, without running
  a Spark job — exact for a plain scan, unknown for a non-file leaf;
* ``adaptive_group_buckets`` must grow with row count above the floor and
  sit at the floor below it.
"""

from __future__ import annotations

import pytest

from bridge_analytics_template_spark.partitioning import (
    adaptive_group_buckets,
    estimated_scan_rows,
    leaf_stats,
)

pytestmark = pytest.mark.usefixtures("spark")


def _write(spark, path, n):
    spark.range(n).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_estimated_scan_rows_exact(spark, tmp_path):
    df = _write(spark, f"{tmp_path}/t1", 12_345)
    assert estimated_scan_rows(df) == 12_345


def test_estimated_scan_rows_counts_files_not_filters(spark, tmp_path):
    # pre-filter file rows: an upper bound is the contract
    df = _write(spark, f"{tmp_path}/t2", 1_000).filter("id % 2 = 0")
    assert estimated_scan_rows(df) == 1_000


def test_bucket_count_grows_with_rows(spark, tmp_path):
    small = _write(spark, f"{tmp_path}/small", 1_000)
    big = _write(spark, f"{tmp_path}/big", 50_000)
    target = 10_000
    # below the target, the floor rules
    assert adaptive_group_buckets(small, floor=8, target_rows_per_bucket=target) == 8
    # above it, bucket count is ceil(rows / target) — grows with the input
    assert adaptive_group_buckets(big, floor=2, target_rows_per_bucket=target) == 5
    assert adaptive_group_buckets(big, floor=2, target_rows_per_bucket=target) > \
        adaptive_group_buckets(small, floor=2, target_rows_per_bucket=target)
    # the floor still wins when it is larger
    assert adaptive_group_buckets(big, floor=8, target_rows_per_bucket=target) == 8


def test_bucket_count_floor_without_estimate(spark):
    # non-file-backed plan: no footer estimate -> floor
    df = spark.range(10)
    assert adaptive_group_buckets(df, floor=16) == 16


def test_leaf_stats_count_per_leaf_occurrence(spark, tmp_path):
    # df.inputFiles() de-duplicates a self-union's files; the rows do not
    path = f"{tmp_path}/t3"
    spark.range(300).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    one = leaf_stats(df)
    two = leaf_stats(df.unionByName(df))
    assert (one.rows, one.row_groups) == (300, 1)
    assert (two.rows, two.row_groups) == (600, 2)
    assert estimated_scan_rows(df.unionByName(df)) == df.unionByName(df).count()


def test_leaf_stats_unknown_for_non_file_leaves(spark, tmp_path):
    df = _write(spark, f"{tmp_path}/t4", 10)
    local = spark.createDataFrame([(1,)], "id long")
    assert leaf_stats(spark.range(10)) is None
    assert leaf_stats(local) is None
    # one non-file leaf makes the whole plan unknown
    assert leaf_stats(df.unionByName(local)) is None
    assert estimated_scan_rows(df.unionByName(spark.range(5))) is None
