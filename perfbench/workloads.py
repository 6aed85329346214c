"""The benchmark's workloads: what one op is, how set-up warms it, and how
its outputs are checked (once per run, untimed).

* :class:`Analytics` (``analytics``): one op builds one registered query
  and executes it through the noop sink, so every row of every column is
  computed. The check collects each query once and compares
  it with its DuckDB oracle SQL over the same generated files, with
  ``tools/check_oracle.py``'s comparator.
* :class:`BridgeEtl` (``bridge_etl``): one op ingests one study of the
  generated Bridge Raw Data folder: file view, coercion, quarantine,
  partitioned write into one shared ``{app}/{study}`` sink, read-back and a
  single-record lookup.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

ANALYTICS = [
    "flagship",
    "pricing_summary",
    "join_inner",
    "join_sort_merge",
    "join_asof",
    "agg_rollup",
    "w_running_sum",
    "t_tumbling_counts",
    "t_session_islands",
]


class WrongAnswer(AssertionError):
    pass


def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


class Analytics:
    def __init__(self, data_dir):
        from bridge_analytics_template_spark.queries import QUERIES

        self.queries, self.data_dir = QUERIES, data_dir

    def ops(self) -> list[str]:
        return ANALYTICS

    def warm(self, spark, spans) -> None:
        for name in ANALYTICS:
            self.run_op(spark, name, spans, None)

    def run_op(self, spark, name, spans, rng):
        with spans("queries.build"):
            df = self.queries[name](spark, self.data_dir)
        with spans("queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def after_op(self, name) -> dict:
        return {}

    def check(self, spark, ran) -> dict[str, str]:
        """``{query: error}`` for every query whose result differs from its oracle."""
        from bridge_analytics_template_spark.queries import ORACLES
        from check_oracle import compare_frames, frame_to_rows

        con = duck_views(self.data_dir)
        errors = {}
        for name in sorted(ran):
            try:
                sdf = self.queries[name](spark, self.data_dir)
                got = frame_to_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
                cur = con.execute(ORACLES[name])
                want = frame_to_rows([d[0] for d in cur.description], cur.fetchall())
                ok, msgs = compare_frames(*got, *want)
                if not ok:
                    errors[name] = "; ".join(msgs)[:300]
            except Exception as ex:  # a check that cannot run fails the op
                errors[name] = f"check raised {ex!r}"[:300]
        spark.catalog.clearCache()
        return errors


#: Quarantine rules: a date cell the coercion could not parse, and a JSON
#: blob over the reference's 512-character limit (the two defects the
#: generator plants).
def bridge_rules():
    from bridge_analytics_template_spark.validation import max_length, not_null

    return [not_null("exportedOn"), max_length("clientInfo", 512)]


BRIDGE_QUARANTINE_SQL = (
    "SELECT count(*) FROM read_parquet('{}/*.parquet') "
    "WHERE TRY_CAST(exportedOn AS TIMESTAMP) IS NULL OR length(clientInfo) > 512"
)


class BridgeEtl:
    def __init__(self, data_dir, manifest, work_dir):
        self.data_dir = data_dir
        self.sink = os.path.join(work_dir, "sink")
        self.warm_sink = os.path.join(work_dir, "warm_sink")
        self.studies = {study: app for app, study in gen.bridge_studies(gen.SCALES["bridge_etl"])}
        self.files = manifest["files"]
        self.quarantined: dict[str, int] = {}

    def ops(self) -> list[str]:
        return sorted(self.studies)

    def _files(self, study):
        prefix = f"raw/{self.studies[study]}/{study}/"
        return {rel: meta for rel, meta in self.files.items() if rel.startswith(prefix)}

    def _ingest(self, spark, spans, sink, study, rng):
        from bridge_analytics_template_spark.coercion import apply_coercion
        from bridge_analytics_template_spark.lookups import filter_unique
        from bridge_analytics_template_spark.sources.fileview import file_view
        from bridge_analytics_template_spark.sources.sink import read_partitioned, write_partitioned
        from bridge_analytics_template_spark.validation import quarantine
        from pyspark.sql import functions as F

        app, study_files = self.studies[study], self._files(study)
        f = int(rng.integers(0, len(study_files)))
        key = gen.record_id(study, f, int(rng.integers(0, study_files[gen.export_path(app, study, f)]["rows"])))
        with spans("fileview.file_view"):
            df = file_view(spark, os.path.join(self.data_dir, "raw", app, study), annotation_col="annotations")
        with spans("coercion.apply_coercion"):
            typed = apply_coercion(df)
        with spans("validation.quarantine"):
            routed = quarantine(typed, bridge_rules())
        with spans("sink.write_partitioned"):
            write_partitioned(routed, sink, dynamic_overwrite=True)
        with spans("sink.read_partitioned"):
            back = read_partitioned(spark, sink)
        with spans("lookups.filter_unique"):
            row = filter_unique(
                back,
                (F.col("app") == app) & (F.col("study") == study) & (F.col("recordId") == key),
                "record",
            )
        if row["recordId"] != key:
            raise WrongAnswer(f"lookup of {key} returned {row['recordId']}")
        return df

    def warm(self, spark, spans) -> None:
        """Every study once, into a sink of its own. One study would warm the
        plan shape, but the JIT then keeps warming through the first measured
        rounds, and the op times drift with the number of rounds a run fits."""
        rng = np.random.default_rng(0)
        for study in self.ops():
            self._ingest(spark, spans, self.warm_sink, study, rng)

    def run_op(self, spark, study, spans, rng):
        return self._ingest(spark, spans, self.sink, study, rng)

    def partition_files(self, study) -> list[str]:
        part = os.path.join(self.sink, f"app={self.studies[study]}", f"study={study}")
        return sorted(glob.glob(os.path.join(part, "*.parquet")))

    def after_op(self, study) -> dict:
        files = self.partition_files(study)
        return {"files_written": len(files), "bytes_written": sum(os.path.getsize(f) for f in files)}

    def raw_bytes(self, study) -> int:
        return sum(m["bytes"] for m in self._files(study).values())

    def sink_bytes(self, study) -> int:
        return sum(os.path.getsize(f) for f in self.partition_files(study))

    def check(self, spark, ran) -> dict[str, str]:
        """Per ingested study: rows read == rows written == rows read back,
        the coerced column types, and the quarantine count against DuckDB
        over the raw files."""
        from bridge_analytics_template_spark.sources.sink import read_partitioned

        con = duckdb.connect()
        back = read_partitioned(spark, self.sink)
        types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
        want_types = {c: "timestamp" for c in gen.BRIDGE_DATE}
        want_types.update({c: "boolean" for c in gen.BRIDGE_BOOL})
        want_types.update({c: "bigint" for c in gen.BRIDGE_INT})
        bad_types = {c: types.get(c) for c, t in want_types.items() if types.get(c) != t}
        errors = {}
        for study in sorted(ran):
            problems = [f"column types {bad_types}"] if bad_types else []
            try:
                problems += self._check_study(con, back, study)
            except Exception as ex:  # a check that cannot run fails the op
                problems.append(f"check raised {ex!r}"[:300])
            if problems:
                errors[study] = "; ".join(problems)
        return errors

    def _check_study(self, con, back, study) -> list[str]:
        from pyspark.sql import functions as F

        app, problems = self.studies[study], []
        rows_read = sum(m["rows"] for m in self._files(study).values())
        rows_written = sum(pq.ParquetFile(f).metadata.num_rows for f in self.partition_files(study))
        back = back.filter((F.col("app") == app) & (F.col("study") == study))
        rows_back = back.count()
        if not rows_read == rows_written == rows_back:
            problems.append(f"rows read {rows_read}, written {rows_written}, read back {rows_back}")
        quarantined = back.filter(F.col("violated") != "").count()
        raw_dir = os.path.join(self.data_dir, "raw", app, study)
        want = con.execute(BRIDGE_QUARANTINE_SQL.format(raw_dir)).fetchone()[0]
        if quarantined != want:
            problems.append(f"quarantined {quarantined}, DuckDB counts {want}")
        self.quarantined[study] = quarantined
        return problems


def make(workload, data_dir, manifest, work_dir):
    if workload == "bridge_etl":
        return BridgeEtl(data_dir, manifest, work_dir)
    return Analytics(data_dir)
