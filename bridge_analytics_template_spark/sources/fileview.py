"""File-view scan — the reference's EntityView as a Spark source.

The reference's core table abstraction is a *view over a folder of files*
(synapseformation_templates/default.yaml:5-10: one row per file entity in
scope, columns = entity metadata + annotation columns). The Spark-native
equivalent: scan the files, attach the engine's file metadata pseudo-columns,
and promote annotation maps to columns.

Scale note: scope is a path list, so partition pruning applies before any
file is opened; metadata columns come from the scan itself (``_metadata``),
not a secondary lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: Default entity-metadata columns a file view exposes (default.yaml:9
#: ``addDefaultViewColumns`` — id/name/size/modifiedOn analogs).
METADATA_COLS = {
    "file_path": "_metadata.file_path",
    "file_name": "_metadata.file_name",
    "file_size": "_metadata.file_size",
    "file_modification_time": "_metadata.file_modification_time",
}


def file_view(
    spark: SparkSession,
    scope: list[str] | str,
    fmt: str = "parquet",
    annotation_col: str | None = None,
) -> DataFrame:
    """One DataFrame row per record in the scoped files, with the file-level
    metadata columns attached. ``scope`` is the view's folder list (the
    ``scopeIds`` analog); ``binaryFile`` format gives the one-row-per-file
    shape for opaque content.

    If ``annotation_col`` names a map column, its keys are promoted to
    top-level columns (``addAnnotationColumns: true``, default.yaml:10) via
    :func:`promote_annotations`.
    """
    paths = [scope] if isinstance(scope, str) else list(scope)
    df = spark.read.format(fmt).load(paths)
    df = df.withColumns({alias: F.col(src) for alias, src in METADATA_COLS.items()})
    if annotation_col:
        df = promote_annotations(df, annotation_col)
    return df


def promote_annotations(df: DataFrame, map_col: str) -> DataFrame:
    """Two-pass map→column promotion (SURVEY.md §4 custom op): pass 1 infers
    the key universe, pass 2 projects ``element_at`` per key. Sparse keys
    yield nulls, matching the view semantics of annotation columns absent on
    some files.

    Pass 1 is one observed pass over just the exploded keys: a ``noop``
    write carrying a ``collect_set`` ``Observation``, so each task merges
    its partial key set into the driver. One job and no shuffle, where a
    ``distinct().collect()`` runs a shuffle-map job and a result job."""
    obs = Observation()
    keys = df.select(F.explode(F.map_keys(F.col(map_col))).alias("k"))
    keys.observe(obs, F.collect_set("k").alias("keys")).write.format("noop").mode("overwrite").save()
    cols = [F.col(c) for c in df.columns if c != map_col]
    cols += [F.element_at(F.col(map_col), F.lit(k)).alias(k) for k in sorted(obs.get["keys"])]
    return df.select(cols)
