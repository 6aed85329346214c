"""``tools/ab.py``, the one timing runner: labels, paired deltas and the
per-phase job counts its job groups attribute."""

from __future__ import annotations

import os
import shutil

import pytest

from bridge_analytics_template_spark.catalog import load
from tools.ab import measure

pytestmark = pytest.mark.usefixtures("spark")


def one_count_build(spark, sf_dir):
    """A variant whose build runs exactly one job: a count over a
    one-partition range (no exchange, so no separate map-stage job)."""
    n = spark.range(0, 100, 1, 1).count()
    return load(spark, sf_dir, "orders").limit(n)


def orders_scan(spark, sf_dir):
    return load(spark, sf_dir, "orders")


def test_warm_at_measured_sf(spark, sf_dir, tmp_path):
    """Warm-up runs at the scale being timed: the catalog scan's one-time
    schema job over a fresh data directory lands in no timed pass, so pass
    1 reports the same build jobs as pass 2."""
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    spec = f"{__name__}:orders_scan"
    rec = measure(spark, [spec], 2, str(tmp_path), "count")[spec]
    assert rec["build_jobs"][0] == rec["build_jobs"][1]


def test_aa_run_labels_and_paired_delta(spark, sf_dir):
    out = measure(spark, ["flagship", "flagship"], 1, sf_dir, "count")
    a, b = out["flagship#0"], out["flagship#1"]
    for rec in (a, b):
        assert len(rec["passes"]) == 1
        assert rec["min"] == rec["passes"][0]
        assert rec["exec_jobs"][0] >= 1
        assert rec["passes"][0] == pytest.approx(rec["build_s"][0] + rec["exec_s"][0], abs=0.002)
    delta = out["paired_delta_b_minus_a"]
    assert delta["per_pass"] == [round(b["passes"][0] - a["passes"][0], 3)]
    assert delta["sign_stable"] is True


def test_build_jobs_attributed_to_build_phase(spark, sf_dir):
    spec = f"{__name__}:one_count_build"
    out = measure(spark, [spec], 1, sf_dir, "count")
    rec = out[spec]
    assert rec["build_jobs"] == [1]
    assert rec["exec_jobs"][0] >= 1
    assert "paired_delta_b_minus_a" not in out
