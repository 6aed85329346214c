"""Command-line entry point — the engine's analog of the reference CLI.

The reference is invoked as ``python copy_from_template.py --parent-project
... --bridge-raw-data ... --app ... --study ...`` and provisions the study's
analytics surface (src/copy_from_template.py:279-363). This CLI reproduces
that pipeline's DATA semantics over local or s3:// paths, step for step:

==========================================  =================================
reference step (file:line)                  engine step
==========================================  =================================
read_args (:37-82)                          :func:`read_args` — same arg
                                            names where semantics translate
template load + {param} bind (:288-297)     plans.templates.load_resource_spec
entity creation (:298-302)                  folder layout under
                                            --parent-project + an entity
                                            record per resource
parquet-folder lookup (:304-306, :99-161)   lookups.get_named_entity over the
                                            created-entities DataFrame
                                            (filter + assert-unique)
owner.txt put + storage location (:316-327) sources.objectstore.claim_marker
file view over Bridge Raw Data              sources.fileview.file_view
(default.yaml:5-10)                         (metadata pseudo-columns)
view retype (:164-232)                      coercion.apply_coercion
parquet sink ``bridge-downstream/{app}/     sources.sink.write_partitioned
{study}/parquet`` (:316)                    under --parquet-bucket
wiki copy + entityMap rebind (:343-356)     dashboard.md written with
                                            plans.templates.rebind_ids
project-view scope union (:234-242)         scope list appended in the
                                            catalog JSON (--project-view)
==========================================  =================================

Deliberately NOT reproduced (SURVEY.md §7 non-goals — service side-effects,
not data semantics): Synapse REST entity writes, SSM auth (:85-96), ACL
REST grants (:256-277; the grants-as-rows semantics live in
queries/bridge.py::bridge_acl_copy).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession, functions as F

from .coercion import apply_coercion
from .lookups import get_named_entity
from .plans.templates import load_resource_spec, rebind_ids
from .session import get_spark
from .sources.fileview import file_view
from .sources.objectstore import claim_marker
from .sources.sink import read_partitioned, write_partitioned

_DEFAULT_TEMPLATE = """\
# Declarative resource spec for one study's analytics surface (the engine's
# analog of the reference's synapseformation template: folders + a file
# view over the raw-data scope).
- name: parquet
  type: folder
- name: examples
  type: folder
- name: scores
  type: folder
- name: raw data view
  type: file_view
  scopes: ['{bridge_raw_data}']
  include_entity_types: [file]
  add_default_view_columns: true
  add_annotation_columns: true
"""

_DASHBOARD_TEMPLATE = """\
# {app}/{study} parquet dashboard

Analytics-ready copy of this study's data lives at `{dataset_path}`.
Query it as the registered view `{view_name}`.
"""


def read_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Reference-parity argument surface (copy_from_template.py:37-82);
    Synapse/AWS service args translate to paths, service-only args are
    dropped (see module docstring)."""
    p = argparse.ArgumentParser(description="provision a study's analytics surface")
    p.add_argument("--parent-project", required=True,
                   help="Workspace directory of the study project")
    p.add_argument("--bridge-raw-data", required=True,
                   help="Path of the raw exported study data (dir or file)")
    p.add_argument("--app", required=True,
                   help="App identifier associated with --parent-project")
    p.add_argument("--study", required=True,
                   help="Study identifier associated with --parent-project")
    p.add_argument("--template", default=None,
                   help="Path to a YAML resource template; defaults to the built-in spec")
    p.add_argument("--owner-txt", default=None,
                   help="Path to a file holding the bucket-claim principal id")
    p.add_argument("--parquet-bucket", default=None,
                   help="Base dir or s3:// bucket for the parquet sink; "
                        "defaults to <parent-project>/parquet-store")
    p.add_argument("--project-view", default=None,
                   help="Path of the catalog JSON whose scope gains this project")
    p.add_argument("--raw-format", default="parquet",
                   choices=("parquet", "json", "csv", "orc", "binaryFile"),
                   help="Format of the raw data files")
    return p.parse_args(argv)


def provision(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Run the pipeline; returns a summary report dict (the engine's analog
    of the reference's log output)."""
    # 1. template load + parameter bind (:288-297)
    if args.template:
        with open(args.template) as f:
            template_text = f.read()
    else:
        template_text = _DEFAULT_TEMPLATE
    spec = load_resource_spec(template_text, {"bridge_raw_data": args.bridge_raw_data})

    # 2. create resources (:298-302): folders on disk + one entity record per
    #    resource — the created_entities IR the reference's lookups consume.
    created = []
    for res in spec:
        rtype = res.get("type", "folder")
        if rtype == "folder":
            path = os.path.join(args.parent_project, res["name"])
            os.makedirs(path, exist_ok=True)
            created.append((res["name"], "folder", path, []))
        elif rtype == "file_view":
            created.append(
                (res["name"], "file_view", args.bridge_raw_data, list(res.get("scopes", [])))
            )
    entities = spark.createDataFrame(
        created, "name string, concreteType string, path string, scopeIds array<string>"
    )

    # 3. parquet-folder lookup (:304-306): filter + assert-unique (P2/P4).
    parquet_folder = get_named_entity(entities, "folder", "parquet")

    bucket = args.parquet_bucket or os.path.join(args.parent_project, "parquet-store")

    # 5. file view over the raw-data scope (default.yaml:5-10).
    raw = file_view(spark, args.bridge_raw_data, fmt=args.raw_format)

    # 6. schema retype pass (:164-232).
    typed = apply_coercion(raw)

    # 7. partitioned parquet sink, bridge-downstream/{app}/{study} (:316-327).
    #    Dynamic overwrite: only THIS study's partition is replaced —
    #    re-provisioning never wipes sibling studies in the shared bucket.
    dataset_base = os.path.join(bucket, "bridge-downstream")
    typed_with_keys = typed.withColumn("app", F.lit(args.app)).withColumn(
        "study", F.lit(args.study)
    )
    write_partitioned(
        typed_with_keys, dataset_base, partition_cols=("app", "study"),
        dynamic_overwrite=True,
    )

    # 4'. bucket claim (:316-322). The marker lives under the
    #     underscore-prefixed `_claims` root: Spark's partition discovery
    #     ignores `_`/`.`-prefixed paths, so the claim can never collide
    #     with the `app=/study=` directory structure of the dataset.
    principal = "0"
    if args.owner_txt:
        with open(args.owner_txt) as f:
            principal = f.read().strip()
    marker = claim_marker(os.path.join(bucket, "_claims"), args.app, args.study, principal)
    back = read_partitioned(spark, dataset_base).where(
        (F.col("app") == args.app) & (F.col("study") == args.study)
    )
    n_rows = back.count()
    safe = "".join(c if c.isalnum() else "_" for c in f"{args.app}_{args.study}")
    view_name = f"{safe}_parquet"
    back.createOrReplaceTempView(view_name)

    # 8. dashboard copy with entityMap-style rebinding (:343-356).
    dashboard = rebind_ids(
        _DASHBOARD_TEMPLATE,
        {
            "{app}": args.app,
            "{study}": args.study,
            "{dataset_path}": dataset_base,
            "{view_name}": view_name,
        },
    )
    dash_path = os.path.join(parquet_folder["path"], "dashboard.md")
    with open(dash_path, "w") as f:
        f.write(dashboard)

    # 9. project-view scope union (:234-242): append-once to the scope list.
    if args.project_view:
        scope: list[str] = []
        if os.path.exists(args.project_view):
            with open(args.project_view) as f:
                scope = json.load(f).get("scope", [])
        if args.parent_project not in scope:
            scope.append(args.parent_project)
        with open(args.project_view, "w") as f:
            json.dump({"scope": scope}, f, indent=2)

    return {
        "app": args.app,
        "study": args.study,
        "folders": [c[0] for c in created if c[1] == "folder"],
        "claim_marker": marker,
        "dataset_path": dataset_base,
        "view_name": view_name,
        "n_rows": n_rows,
        "n_columns": len(back.columns),
        "dashboard": dash_path,
    }


def main(argv: list[str] | None = None) -> int:
    args = read_args(argv)
    spark = get_spark("bridge-analytics-provision")
    report = provision(spark, args)
    print(json.dumps(report, indent=2))
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
