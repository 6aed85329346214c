"""Partitioned Parquet sink — the reference's S3 analytics layout.

The reference declares its analytics copy at
``bridge-downstream/{app}/{study}/parquet/``
(/root/reference/src/copy_from_template.py:316-327). The engine writes the
same deterministic layout with ``partitionBy``: directory-level partition
values give static + dynamic partition pruning on read-back, which is the
mechanism that keeps per-study queries from scanning 100 TB.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_json_string

from ..partitioning import _MAX_LEAF_FILES, _footer


def write_partitioned(
    df: DataFrame,
    base_path: str,
    partition_cols: tuple[str, ...] = ("app", "study"),
    mode: str = "overwrite",
    dynamic_overwrite: bool = False,
) -> str:
    """Write ``df`` under ``base_path`` partitioned by the layout columns
    (defaults mirror the reference's ``{app}/{study}``).

    ``dynamic_overwrite=True`` replaces only the partitions present in
    ``df`` (partitionOverwriteMode=dynamic) — the multi-study semantics:
    re-provisioning one study must not wipe its siblings under the shared
    bucket."""
    writer = df.write.mode(mode).partitionBy(*partition_cols)
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


def _hidden(name: str) -> bool:
    """Spark's rule for the file and directory names a file listing skips
    (``HadoopFSUtils.shouldFilterOutPathName``, without its exception for
    the parquet summary files, which :func:`_footer_schemas` refuses)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_schemas(base_path: str) -> list[StructType] | None:
    """The distinct Spark schemas in the footers of the data files Spark
    would list under ``base_path``, or None when only Spark's own inference
    is safe: a path that is not a local directory, a parquet summary file, no
    file, more than ``_MAX_LEAF_FILES`` files, or a footer that is unreadable
    or holds no Spark schema."""
    url = urlparse(base_path)
    root = url.path if url.scheme == "file" else base_path
    if url.scheme not in ("", "file") or not os.path.isdir(root):
        return None
    found: set[str] = set()
    n_files = 0
    try:
        for dirpath, dirnames, filenames in os.walk(root, followlinks=True):
            if any(n.startswith(("_metadata", "_common_metadata")) for n in dirnames + filenames):
                return None
            dirnames[:] = [d for d in dirnames if not _hidden(d)]
            for name in filenames:
                if _hidden(name):
                    continue
                n_files += 1
                if n_files > _MAX_LEAF_FILES:
                    return None
                path = os.path.join(dirpath, name)
                st = os.stat(path)
                schema = _footer(path, st.st_size, st.st_mtime_ns)[2]
                if schema is None:
                    return None
                found.add(schema)
        schemas = [_parse_datatype_json_string(s) for s in found]
    except (OSError, ValueError, TypeError, KeyError):  # unreadable file, footer or schema
        return None
    if not schemas or not all(isinstance(s, StructType) for s in schemas):
        return None
    return schemas


def read_partitioned(spark: SparkSession, base_path: str) -> DataFrame:
    """Read the layout back; Spark discovers the partition columns from the
    directory structure, so filters on them prune before any file IO.

    The data schema comes from the files' footers when it can: Spark's
    writer stores the schema it wrote under one footer key, and Spark's own
    inference returns that value, so when every footer carries the same one
    it is passed as the read schema and the inference job is skipped. When
    the footers carry several (studies promoted with different annotation
    keys), the read merges them, so every column appears and reads null
    where a file lacks it; incompatible types raise, as Spark's merge does.
    Any other layout is left to Spark's inference (:func:`_footer_schemas`)."""
    schemas = _footer_schemas(base_path)
    if schemas is None:
        return spark.read.parquet(base_path)
    if len(schemas) > 1:
        return spark.read.option("mergeSchema", "true").parquet(base_path)
    return spark.read.schema(schemas[0]).parquet(base_path)


def write_clustered(
    df: DataFrame,
    base_path: str,
    cluster_cols: tuple[str, ...],
    num_files: int = 8,
    mode: str = "overwrite",
) -> str:
    """Range-clustered layout: ``repartitionByRange`` splits the key space
    into ``num_files`` contiguous ranges and ``sortWithinPartitions`` orders
    rows inside each file. Every output file then covers a disjoint key
    range, so parquet row-group min/max statistics skip whole files for
    point/range predicates on the cluster key — the complement of directory
    partitioning for high-cardinality keys (where one directory per value
    would explode the namespace)."""
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(base_path)
    )
    return base_path
