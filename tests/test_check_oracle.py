"""``tools/check_oracle.py`` counts a degraded oracle as a failure: a lazy
oracle generator that throws drops out of ``oracle_sql()``, and that
query is then checked rows-only without saying so."""

from __future__ import annotations

import sys

from bridge_analytics_template_spark.queries import ORACLES
from tools import check_oracle


def test_failed_oracle_generator_reported_as_fail(spark, sf_dir, monkeypatch, capsys):
    def boom() -> str:
        raise RuntimeError("fixture missing")

    monkeypatch.setitem(ORACLES, "topk_global", boom)
    monkeypatch.setattr(check_oracle, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)  # restored after main() sets it
    monkeypatch.setattr(sys, "argv", ["check_oracle.py", "--sf", sf_dir, "topk_global", "flagship"])
    assert check_oracle.main() == 1
    out = capsys.readouterr().out
    line = next(l for l in out.splitlines() if "topk_global" in l)
    assert line.startswith("[FAIL]")
    assert "oracle generator failed (rows-only)" in line
    assert any(l.startswith("[PASS] flagship") for l in out.splitlines())
    assert "1 pass, 1 fail" in out
