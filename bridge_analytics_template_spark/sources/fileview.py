"""File-view scan — the reference's EntityView as a Spark source.

The reference's core table abstraction is a *view over a folder of files*
(synapseformation_templates/default.yaml:5-10: one row per file entity in
scope, columns = entity metadata + annotation columns). The Spark-native
equivalent: scan the files, attach the engine's file metadata pseudo-columns,
and promote annotation maps to columns.

A local Parquet scope is planned from its footers, with no Spark job: the
schema is the one Spark's own converter gives every footer
(``partitioning.scope_footers``), and the annotation keys are read on the
driver from only the map's key leaf. Any scope the footers cannot answer
for exactly — another format, a non-local or single-file path, files whose
schemas differ, a type Spark's converter refuses — keeps Spark's schema
inference, and keys the footers cannot bound keep one observed Spark pass.
Either way the rows and columns are the same; only the number of jobs
differs. The view itself is one projection: the data columns, the
metadata columns and the promoted keys in a single select.

Scale note: scope is a path list, so partition pruning applies before any
file is opened; metadata columns come from the scan itself (``_metadata``),
not a secondary lookup.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import partitioning
from ..partitioning import ScopeFooters, scope_footers

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

    When ``fmt`` is parquet and every data file under the local folders of
    ``scope`` yields the same Spark schema from its footer (the stored one,
    or Spark's conversion of its Parquet schema under the current conf),
    that schema is the read schema and Spark's inference job is skipped.
    Otherwise the read is ``spark.read.format(fmt).load(scope)`` and Spark
    infers it.

    If ``annotation_col`` names a map column, its keys are promoted to
    top-level columns (``addAnnotationColumns: true``, default.yaml:10).
    On a footer-planned scope the key set is read on the driver from only
    the map's key leaf, when the footers size that leaf within
    ``partitioning._MAX_KEY_LEAF_BYTES``; otherwise one observed Spark
    pass finds it (:func:`_observed_keys`). A data column named like a
    metadata column is replaced by it in place.
    """
    paths = [scope] if isinstance(scope, str) else list(scope)
    footers = scope_footers(spark, paths) if fmt == "parquet" else None
    if footers is not None and len(footers.schemas) > 1:
        footers = None
    reader = spark.read if footers is None else spark.read.schema(footers.schemas[0])
    df = reader.format(fmt).load(paths)
    keys = None
    if annotation_col:
        keys = None if footers is None else _footer_keys(footers, annotation_col)
        if keys is None:
            keys = _observed_keys(df, annotation_col)
    return _project(df, METADATA_COLS, annotation_col, keys)


def _footer_keys(footers: ScopeFooters, map_col: str) -> list[str] | None:
    """The distinct keys of the map ``map_col`` over the scope's files, read
    on the driver from only the map's key leaf; None when a footer has no
    such leaf, the leaf's uncompressed bytes exceed
    ``partitioning._MAX_KEY_LEAF_BYTES`` or the leaf is not a string."""
    sizes = [dict(f.key_bytes).get(map_col) for f in footers.files.values()]
    if None in sizes or sum(sizes) > partitioning._MAX_KEY_LEAF_BYTES:
        return None
    keys: set[str] = set()
    for path in footers.files:
        with pq.ParquetFile(path) as pf:
            leaf = pf.read(columns=[f"{map_col}.key_value.key"]).column(0)
        values = pc.struct_field(pc.list_flatten(leaf), [0])
        if values.type != pa.string():  # not a string-keyed map, or binary keys read as strings
            return None
        keys.update(pc.unique(values).to_pylist())
    return list(keys)


def promote_annotations(df: DataFrame, map_col: str) -> DataFrame:
    """Two-pass map→column promotion (SURVEY.md §4 custom op) for any map,
    computed ones included: pass 1 infers the key universe
    (:func:`_observed_keys`), pass 2 projects ``element_at`` per key. Sparse
    keys yield nulls, matching the view semantics of annotation columns
    absent on some files."""
    return _project(df, {}, map_col, _observed_keys(df, map_col))


def _observed_keys(df: DataFrame, map_col: str) -> list:
    """The distinct keys of ``map_col`` from one observed pass over just the
    exploded keys: a ``noop`` write carrying a ``collect_set``
    ``Observation``, so each task merges its partial key set into the
    driver. One job and no shuffle, where a ``distinct().collect()`` runs a
    shuffle-map job and a result job."""
    obs = Observation()
    keys = df.select(F.explode(F.map_keys(_col(map_col))).alias("k"))
    keys.observe(obs, F.collect_set("k").alias("keys")).write.format("noop").mode("overwrite").save()
    return obs.get["keys"]


def _col(name: str) -> Column:
    """The top-level column ``name``, quoted so a dot in it is not read as
    a struct field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _project(df: DataFrame, metadata: dict[str, str], map_col: str | None, keys: list | None) -> DataFrame:
    """One select: every column of ``df`` but ``map_col``, a column named
    like a ``metadata`` column replaced by it in place (case-insensitively,
    as ``withColumns`` resolves by default); then the remaining ``metadata``
    columns; then, when ``map_col`` is given, one column per key in sorted
    order."""
    meta = {alias: F.col(src).alias(alias) for alias, src in metadata.items()}
    cols = [meta.pop(c.lower()) if c.lower() in meta else _col(c) for c in df.columns if c != map_col]
    cols += meta.values()
    if map_col:
        cols += [F.element_at(_col(map_col), F.lit(k)).alias(k) for k in sorted(keys)]
    return df.select(cols)
