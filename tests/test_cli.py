"""End-to-end test of the provisioning CLI (reference main() parity)."""

from __future__ import annotations

import json
import os

from bridge_analytics_template_spark import cli
from bridge_analytics_template_spark.cli import provision, read_args


def test_provision_end_to_end(spark, sf_dir, tmp_path):
    project = tmp_path / "study-project"
    catalog = tmp_path / "catalog.json"
    owner = tmp_path / "owner.txt"
    owner.write_text("3432808\n")
    args = read_args(
        [
            "--parent-project", str(project),
            "--bridge-raw-data", os.path.join(sf_dir, "customer.parquet"),
            "--app", "demo-app",
            "--study", "study-1",
            "--owner-txt", str(owner),
            "--project-view", str(catalog),
        ]
    )
    report = provision(spark, args)

    # folder layout created (template resources)
    assert sorted(report["folders"]) == ["examples", "parquet", "scores"]
    for name in report["folders"]:
        assert (project / name).is_dir()

    # claim marker written at the reference's key layout (under the
    # discovery-ignored _claims root)
    assert report["claim_marker"].endswith(
        "_claims/bridge-downstream/demo-app/study-1/owner.txt"
    )
    with open(report["claim_marker"]) as f:
        assert f.read().strip() == "3432808"

    # partitioned dataset wrote every raw row, partition dirs by app/study
    src_rows = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).count()
    assert report["n_rows"] == src_rows
    assert os.path.isdir(
        os.path.join(report["dataset_path"], "app=demo-app", "study=study-1")
    )

    # registered view is queryable
    assert spark.table(report["view_name"]).count() == src_rows

    # dashboard rebound to the concrete dataset
    dash = (project / "parquet" / "dashboard.md").read_text()
    assert report["dataset_path"] in dash and report["view_name"] in dash

    # project-view scope union: append once, idempotent
    scope = json.load(open(catalog))["scope"]
    assert scope == [str(project)]
    provision(spark, args)
    scope = json.load(open(catalog))["scope"]
    assert scope == [str(project)]


def test_provision_second_study_same_bucket(spark, sf_dir, tmp_path):
    """Two studies share the bucket; partition dirs keep them separate."""
    base = tmp_path / "p2"
    bucket = tmp_path / "shared-bucket"
    for study in ("s-a", "s-b"):
        args = read_args(
            [
                "--parent-project", str(base / study),
                "--bridge-raw-data", os.path.join(sf_dir, "nation.parquet"),
                "--app", "demo-app",
                "--study", study,
                "--parquet-bucket", str(bucket),
            ]
        )
        report = provision(spark, args)
        assert report["n_rows"] == 25
    root = bucket / "bridge-downstream" / "app=demo-app"
    assert sorted(p.name for p in root.iterdir()) == ["study=s-a", "study=s-b"]


def test_main_builds_its_session_through_get_spark(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """``main`` takes the engine's session defaults: it asks
    ``session.get_spark`` for its session instead of a builder of its own."""
    apps = []

    def recorder(app_name="bridge-analytics-spark", cores=None):
        apps.append(app_name)
        return spark

    monkeypatch.setattr(cli, "get_spark", recorder)
    rc = cli.main(
        [
            "--parent-project", str(tmp_path / "project"),
            "--bridge-raw-data", os.path.join(sf_dir, "nation.parquet"),
            "--app", "demo-app",
            "--study", "study-main",
        ]
    )
    assert rc == 0
    assert apps == ["bridge-analytics-provision"]
    assert json.loads(capsys.readouterr().out)["n_rows"] == 25
