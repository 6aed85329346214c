"""Assert-unique lookups raise exactly like the reference's get_* helpers
(/root/reference/src/copy_from_template.py:99-161)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.lookups import (
    LookupError0,
    LookupErrorMany,
    assert_unique,
    filter_unique,
    get_named_entity,
    get_scoped_view,
)
from bridge_analytics_template_spark.session import runtime_confs


@pytest.fixture(scope="module")
def entities(spark):
    rows = [
        ("syn1", "EntityView", "raw_view", ["syn9"]),
        ("syn2", "Folder", "parquet", []),
        ("syn3", "Folder", "scores", []),
        ("syn4", "EntityView", "wide_view", ["syn9", "syn10"]),
        ("syn5", "Folder", "parquet", []),  # duplicate name
    ]
    return spark.createDataFrame(
        rows, "id string, concreteType string, name string, scopeIds array<string>"
    )


def test_exactly_one(entities):
    row = get_named_entity(entities, "Folder", "scores")
    assert row["id"] == "syn3"


def test_zero_matches_raises(entities):
    with pytest.raises(LookupError0):
        get_named_entity(entities, "Folder", "missing")


def test_many_matches_raises(entities):
    with pytest.raises(LookupErrorMany):
        get_named_entity(entities, "Folder", "parquet")


def test_scoped_view_requires_single_scope(entities):
    """copy_from_template.py:105-112 — scope contains the folder AND has
    exactly one member, so the two-folder view must not match."""
    row = get_scoped_view(entities, "EntityView", "syn9")
    assert row["id"] == "syn1"


def test_assert_unique_direct(entities):
    assert assert_unique(entities.filter(F.col("id") == "syn2"))["name"] == "parquet"
    with pytest.raises(LookupError0):
        filter_unique(entities, F.col("id") == "nope")


def test_one_match_scans_every_partition_in_one_job(spark, jobs_of):
    """The normal lookup: one match, in the last of four partitions. The
    limit(2) guard must read all four to rule out a second row, and the
    session's first take covers them in one wave: one job, not a
    1-partition job followed by one over the rest."""
    df = spark.range(0, 400, 1, 4)
    row, jobs = jobs_of(lambda: filter_unique(df, F.col("id") == 399))
    assert row["id"] == 399
    assert jobs == 1
    with pytest.raises(LookupErrorMany):
        filter_unique(df, F.col("id").isin(0, 399))  # partitions 0 and 3
    with pytest.raises(LookupError0):
        filter_unique(df, F.col("id") == 400)


def test_first_load_restores_runtime_defaults_on_a_sibling(spark, sf_dir, jobs_of):
    """A session built without ``get_spark``'s builder, here a sibling with
    every runtime default unset, gets them all back from its first
    ``catalog.load``; until then the one-match lookup takes more than one
    job, since the first take reads a single partition."""
    want = runtime_confs(spark.sparkContext.defaultParallelism)
    sib = spark.newSession()
    for key in want:
        sib.conf.unset(key)
    df = sib.range(0, 400, 1, 4)
    assert jobs_of(lambda: filter_unique(df, F.col("id") == 399))[1] > 1
    load(sib, sf_dir, "region")
    assert {key: sib.conf.get(key) for key in want} == want
    row, jobs = jobs_of(lambda: filter_unique(df, F.col("id") == 399))
    assert row["id"] == 399
    assert jobs == 1
