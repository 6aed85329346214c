"""File-view scan — the reference's EntityView as a Spark source.

The reference's core table abstraction is a *view over a folder of files*
(synapseformation_templates/default.yaml:5-10: one row per file entity in
scope, columns = entity metadata + annotation columns). The Spark-native
equivalent: scan the files, attach the engine's file metadata pseudo-columns,
and promote annotation maps to columns.

A local Parquet scope is planned from its footers, with no Spark job: the
schema is the one every footer yields (``partitioning.scope_footers``), and
the annotation keys are read on the driver from only the map's key leaf.
Any scope the footers cannot answer for exactly — another format, a
non-local or single-file path, files whose schemas differ, a type outside
the proven Arrow mapping — keeps Spark's schema inference, and keys the
footers cannot bound keep one observed Spark pass. Either way the rows and
columns are the same; only the number of jobs differs.

Scale note: scope is a path list, so partition pruning applies before any
file is opened; metadata columns come from the scan itself (``_metadata``),
not a secondary lookup.
"""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType

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
    ``scope`` yields the same Spark schema from its footer, that schema is
    the read schema and Spark's inference job is skipped. Otherwise the
    read is ``spark.read.format(fmt).load(scope)`` and Spark infers it.

    If ``annotation_col`` names a map column, its keys are promoted to
    top-level columns (``addAnnotationColumns: true``, default.yaml:10).
    On a footer-planned scope the key set is read on the driver from only
    the map's key leaf, when the footers size that leaf within
    ``partitioning._MAX_KEY_LEAF_BYTES``; otherwise
    :func:`promote_annotations` finds it with one Spark pass.
    """
    paths = [scope] if isinstance(scope, str) else list(scope)
    footers = scope_footers(spark, paths) if fmt == "parquet" else None
    if footers is not None and len(footers.schemas) > 1:
        footers = None
    reader = spark.read if footers is None else spark.read.schema(footers.schemas[0])
    df = reader.format(fmt).load(paths)
    df = df.withColumns({alias: F.col(src) for alias, src in METADATA_COLS.items()})
    if annotation_col:
        keys = None if footers is None else _footer_keys(footers, annotation_col)
        df = promote_annotations(df, annotation_col) if keys is None else _project_keys(df, annotation_col, keys)
    return df


def _footer_keys(footers: ScopeFooters, map_col: str) -> list[str] | None:
    """The distinct keys of the string-keyed map ``map_col`` over the
    scope's files, read on the driver from only the map's key leaf; None
    when a footer has no such leaf or the leaf's uncompressed bytes exceed
    ``partitioning._MAX_KEY_LEAF_BYTES``."""
    field = next((f for f in footers.schemas[0].fields if f.name == map_col), None)
    if field is None or not isinstance(field.dataType, MapType) or field.dataType.keyType != StringType():
        return None
    sizes = [dict(f.key_bytes).get(map_col) for f in footers.files.values()]
    if None in sizes or sum(sizes) > partitioning._MAX_KEY_LEAF_BYTES:
        return None
    keys: set[str] = set()
    for path in footers.files:
        with pq.ParquetFile(path) as pf:
            leaf = pf.read(columns=[f"{map_col}.key_value.key"]).column(0)
        keys.update(pc.unique(pc.struct_field(pc.list_flatten(leaf), [0])).to_pylist())
    return list(keys)


def promote_annotations(df: DataFrame, map_col: str) -> DataFrame:
    """Two-pass map→column promotion (SURVEY.md §4 custom op): pass 1 infers
    the key universe, pass 2 projects ``element_at`` per key. Sparse keys
    yield nulls, matching the view semantics of annotation columns absent on
    some files.

    Pass 1 is one observed pass over just the exploded keys: a ``noop``
    write carrying a ``collect_set`` ``Observation``, so each task merges
    its partial key set into the driver. One job and no shuffle, where a
    ``distinct().collect()`` runs a shuffle-map job and a result job. It is
    the pass for any map, computed ones included; :func:`file_view` skips it
    when the footers let the driver read the keys."""
    obs = Observation()
    keys = df.select(F.explode(F.map_keys(F.col(map_col))).alias("k"))
    keys.observe(obs, F.collect_set("k").alias("keys")).write.format("noop").mode("overwrite").save()
    return _project_keys(df, map_col, obs.get["keys"])


def _project_keys(df: DataFrame, map_col: str, keys: list) -> DataFrame:
    """Pass 2: every column but ``map_col``, then one column per key in
    sorted order."""
    cols = [F.col(c) for c in df.columns if c != map_col]
    cols += [F.element_at(F.col(map_col), F.lit(k)).alias(k) for k in sorted(keys)]
    return df.select(cols)
