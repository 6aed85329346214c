"""The job budget of one Bridge study ingest, step by step.

One study is ingested with the same package calls as the benchmark's
``bridge_etl`` op: file view with annotation promotion, coercion,
quarantine, dynamic-overwrite partitioned write, read-back and a
single-record lookup. A job here is a fixed cost per ingest (scheduling,
planning, task launch) that the ~hundreds of rows it moves never amortize,
so the count per step is pinned:

* ``file_view``: 0 — the schema comes from the raw files' footers and the
  annotation keys from a driver read of the map's key leaf (1, the
  observed key pass, when that leaf is over the read bound);
* ``apply_coercion`` and ``quarantine``: 0 — pure projections;
* ``write_partitioned``: 1;
* ``read_partitioned``: 0 — the schema comes from the sink's footers;
* ``filter_unique``: 1 — the first take reads every partition in one wave.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bridge_analytics_template_spark import partitioning
from bridge_analytics_template_spark.coercion import apply_coercion
from bridge_analytics_template_spark.lookups import filter_unique
from bridge_analytics_template_spark.sources.fileview import file_view
from bridge_analytics_template_spark.sources.sink import read_partitioned, write_partitioned
from bridge_analytics_template_spark.validation import max_length, not_null, quarantine

BUDGET = {
    "file_view": 0,
    "apply_coercion": 0,
    "quarantine": 0,
    "write_partitioned": 1,
    "read_partitioned": 0,
    "filter_unique": 1,
}


def _raw_study(root, app, study, rows_per_file=(40, 120, 80)):
    """An all-string Bridge export folder: three files, an annotations map,
    one bad date and one oversized clientInfo blob."""
    folder = root / "raw" / app / study
    folder.mkdir(parents=True)
    for f, n in enumerate(rows_per_file):
        dates = [f"2024-0{1 + i % 9}-1{i % 10} 10:00:00" for i in range(n)]
        client = ['{"appVersion": 3}'] * n
        if f == 0:
            dates[0], client[1] = "not-a-date", "x" * 600
        pq.write_table(pa.table({
            "recordId": [f"{study}-{f:03d}-{i:05d}" for i in range(n)],
            "app": [app] * n,
            "study": [study] * n,
            "exportedOn": dates,
            "isFirstAssessment": ["true" if i % 2 else "false" for i in range(n)],
            "assessmentRevision": [str(i % 7) for i in range(n)],
            "clientInfo": client,
            "annotations": pa.array(
                [[("taskIdentifier", f"t{i % 3}")] + ([("osName", "iOS")] if i % 4 else []) for i in range(n)],
                pa.map_(pa.string(), pa.string()),
            ),
        }), folder / f"export-{f:03d}.parquet")
    return str(folder)


def test_ingest_runs_two_jobs(spark, tmp_path, jobs_of):
    app, study, key = "app0", "study000", "study000-001-00077"
    raw = _raw_study(tmp_path, app, study)
    sink = str(tmp_path / "sink")
    jobs = {}
    df, jobs["file_view"] = jobs_of(lambda: file_view(spark, raw, annotation_col="annotations"))
    typed, jobs["apply_coercion"] = jobs_of(lambda: apply_coercion(df))
    routed, jobs["quarantine"] = jobs_of(
        lambda: quarantine(typed, [not_null("exportedOn"), max_length("clientInfo", 512)])
    )
    _, jobs["write_partitioned"] = jobs_of(lambda: write_partitioned(routed, sink, dynamic_overwrite=True))
    back, jobs["read_partitioned"] = jobs_of(lambda: read_partitioned(spark, sink))
    row, jobs["filter_unique"] = jobs_of(lambda: filter_unique(
        back, (F.col("app") == app) & (F.col("study") == study) & (F.col("recordId") == key), "record"
    ))
    assert jobs == BUDGET
    assert row["recordId"] == key and row["osName"] == "iOS" and row["violated"] == ""
    types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert (types["exportedOn"], types["isFirstAssessment"]) == ("timestamp", "boolean")
    assert back.filter(F.col("violated") != "").count() == 2


def test_file_view_over_the_key_bound_runs_one_job(spark, tmp_path, jobs_of, monkeypatch):
    """With the key leaf over the driver-read bound, the keys come from the
    one observed Spark pass; the view is the same."""
    from collections import Counter

    raw = _raw_study(tmp_path, "app0", "study000")
    read, jobs = jobs_of(lambda: file_view(spark, raw, annotation_col="annotations"))
    assert jobs == 0
    monkeypatch.setattr(partitioning, "_MAX_KEY_LEAF_BYTES", 0)
    observed, jobs = jobs_of(lambda: file_view(spark, raw, annotation_col="annotations"))
    assert jobs == 1
    assert observed.columns == read.columns and "osName" in read.columns
    assert observed.schema == read.schema
    assert Counter(map(tuple, observed.collect())) == Counter(map(tuple, read.collect()))
