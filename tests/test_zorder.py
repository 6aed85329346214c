"""Z-order layout: key correctness vs a Python reference and the skipping
property — files written in z-key order bound BOTH dimensions at once,
which a single-column sort cannot."""

from __future__ import annotations

import glob

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark.operators.zorder import zorder_key
from bridge_analytics_template_spark.sources.manifest_table import (
    publish_snapshot,
    read_manifest,
)


def _py_interleave(x: int, y: int, bits: int = 16) -> int:
    k = 0
    for i in range(bits):
        k |= ((x >> i) & 1) << (2 * i)
        k |= ((y >> i) & 1) << (2 * i + 1)
    return k


def test_zorder_key_matches_python(spark):
    rows = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("k")).collect()
    for r in got:
        assert r["k"] == _py_interleave(r["x"], r["y"])


def test_zordered_files_bound_both_dims(spark, tmp_path):
    # Uniform 64x64 grid; 16 z-ordered files => each file's bounding box
    # must cover at most 1/4 of each dimension's range (the z-curve at
    # depth 2 confines a contiguous 1/16 key range to a 16x16 quadrant).
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    path = str(tmp_path / "zorder")
    publish_snapshot(
        df, path, "x", n_files=16, cluster_expr=zorder_key(F.col("x"), F.col("y"), bits=6)
    )
    files = read_manifest(path)["files"]
    assert len(files) == 16
    for e in files:
        pdf = pd.read_parquet(f"{path}/files/{e['file']}")
        assert pdf["x"].max() - pdf["x"].min() <= 16
        assert pdf["y"].max() - pdf["y"].min() <= 16


def test_zorder_beats_linear_sort_on_second_dim(spark, tmp_path):
    """The point of z-order: a linear sort on x leaves y unbounded per
    file; the z-layout bounds it."""
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    lin = str(tmp_path / "linear")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lin)
    )
    y_spans = [
        pd.read_parquet(f)["y"].pipe(lambda s: s.max() - s.min())
        for f in glob.glob(f"{lin}/part-*.parquet")
    ]
    assert min(y_spans) == 63  # linear layout: every file spans all of y
