"""Partitioned Parquet sink — the reference's S3 analytics layout.

The reference declares its analytics copy at
``bridge-downstream/{app}/{study}/parquet/``
(/root/reference/src/copy_from_template.py:316-327). The engine writes the
same deterministic layout with ``partitionBy``: directory-level partition
values give static + dynamic partition pruning on read-back, which is the
mechanism that keeps per-study queries from scanning 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..partitioning import scope_footers


def write_partitioned(
    df: DataFrame,
    base_path: str,
    partition_cols: tuple[str, ...] = ("app", "study"),
    dynamic_overwrite: bool = False,
) -> str:
    """Write ``df`` under ``base_path`` partitioned by the layout columns
    (defaults mirror the reference's ``{app}/{study}``).

    ``dynamic_overwrite=True`` replaces only the partitions present in
    ``df`` (partitionOverwriteMode=dynamic) — the multi-study semantics:
    re-provisioning one study must not wipe its siblings under the shared
    bucket."""
    writer = df.write.mode("overwrite").partitionBy(*partition_cols)
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(base_path)
    return base_path


def write_partitioned_observed(
    df: DataFrame,
    base_path: str,
    partition_cols: tuple[str, ...] = ("app", "study"),
    mode: str = "overwrite",
) -> dict:
    """:func:`write_partitioned` plus pipeline metrics via ``Observation`` —
    row count and per-layout-key cardinality measured ON THE WRITE itself
    (no second scan), the numbers an ETL run logs for monitoring/audit."""
    obs = Observation("sink_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        *[F.approx_count_distinct(c).alias(f"n_{c}") for c in partition_cols],
    )
    observed.write.mode(mode).partitionBy(*partition_cols).parquet(base_path)
    return dict(obs.get)


def read_partitioned(spark: SparkSession, base_path: str) -> DataFrame:
    """Read the layout back; Spark discovers the partition columns from the
    directory structure, so filters on them prune before any file IO.

    The data schema comes from the files' footers when it can
    (``partitioning.scope_footers``): when every footer yields the same
    Spark schema — the one Spark's writer stored, or Spark's own conversion
    of a pyarrow-written file's Parquet schema — it is passed as the read
    schema and the inference job is skipped. When Spark-written footers carry several
    (studies promoted with different annotation keys), the read merges
    them, so every column appears and reads null where a file lacks it;
    incompatible types raise, as Spark's merge does. Any other layout,
    pyarrow-written files with more than one schema included, is left to
    Spark's inference, which reads one file's schema."""
    scope = scope_footers(spark, [base_path])
    if scope is None:
        return spark.read.parquet(base_path)
    if len(scope.schemas) == 1:
        return spark.read.schema(scope.schemas[0]).parquet(base_path)
    if scope.spark_written:
        return spark.read.option("mergeSchema", "true").parquet(base_path)
    return spark.read.parquet(base_path)

