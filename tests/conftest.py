from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bridge_analytics_template_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


_JOB_GROUPS = itertools.count()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn) -> (fn(), jobs)``: the Spark jobs ``fn`` ran, counted
    through a job group of its own, as ``tools/ab.py`` counts a phase."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, "jobs_of")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
