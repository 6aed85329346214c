"""Bridge-semantics queries — the part that makes this engine
*bridge-analytics*, not generic (SURVEY.md §7 step 2).

Each query exercises one reference behavior end-to-end through the engine
modules (coercion spec, file view, partitioned sink, annotation promotion,
scoped lookups) against the fixture tables.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ..catalog import load, scratch_path
from ..coercion import CoercionSpec, apply_coercion
from ..sources.fileview import file_view, promote_annotations
from ..sources.sink import read_partitioned, write_partitioned
from .registry import query


@query(
    "bridge_coercion",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS exportedOn,
           CAST(CAST(o_orderstatus = 'O' AS VARCHAR) AS BOOLEAN) AS schedulePublished,
           CAST(CAST(o_custkey AS VARCHAR) AS BIGINT) AS participantVersion,
           CAST(o_orderpriority AS VARCHAR) AS name
    FROM orders ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def bridge_coercion(spark, sf_dir):
    """The reference's schema-change transaction (modify_file_view_types,
    copy_from_template.py:164-232) end-to-end: a raw all-strings frame —
    the permissive schema-on-read state — is promoted to typed columns by
    the declarative CoercionSpec. Column names reuse the reference's own
    (exportedOn → DATE, schedulePublished → BOOLEAN, participantVersion →
    INTEGER, name → ignored)."""
    o = load(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("exportedOn"),
        (F.col("o_orderstatus") == "O").cast("string").alias("schedulePublished"),
        F.col("o_custkey").cast("string").alias("participantVersion"),
        F.col("o_orderpriority").alias("name"),
    )
    return apply_coercion(raw, CoercionSpec())


@query(
    "bridge_lookup_unique",
    sql="""
    SELECT r_regionkey, r_name FROM region
    WHERE r_name = 'ASIA'
    """,
)
def bridge_lookup_unique(spark, sf_dir):
    """P2/P4: equality-filter lookup that must match exactly one row (the
    get_folder shape, copy_from_template.py:125-142). The raising guard
    (`assert_unique` / limit(2) early-stop) is unit-tested in
    tests/test_lookups.py; the filter itself is oracle-verified here."""
    r = load(spark, sf_dir, "region")
    return r.filter(F.col("r_name") == "ASIA").select("r_regionkey", "r_name")


@query(
    "bridge_annotation_promotion",
    sql="""
    SELECT doc_id, lang AS ann_lang, source AS ann_source, n_chars
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def bridge_annotation_promotion(spark, sf_dir):
    """Annotation map→column promotion (addAnnotationColumns,
    default.yaml:10): attributes packed into an open-ended map are promoted
    back to typed top-level columns via the two-pass key-inference op."""
    d = load(spark, sf_dir, "documents")
    bagged = d.select(
        "doc_id",
        "n_chars",
        F.create_map(
            F.lit("ann_lang"), F.col("lang"), F.lit("ann_source"), F.col("source")
        ).alias("annotations"),
    )
    return promote_annotations(bagged, "annotations").select(
        "doc_id", "ann_lang", "ann_source", "n_chars"
    )


@query(
    "bridge_partitioned_sink",
    sql="""
    SELECT c_mktsegment AS study, c_nationkey, COUNT(*) AS n
    FROM customer GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("study", "c_nationkey"),
)
def bridge_partitioned_sink(spark, sf_dir):
    """S1/S5: write the `{app}/{study}` analytics layout
    (copy_from_template.py:316-327) and read it back with partition
    discovery; the aggregate over the round-tripped data must match the
    source exactly. Partition values become directory names — the pruning
    mechanism at 100 TB."""
    c = load(spark, sf_dir, "customer").withColumn("study", F.col("c_mktsegment"))
    out = scratch_path(spark, "bridge_sink_demo")
    write_partitioned(c, out, partition_cols=("study",))
    back = read_partitioned(spark, out)
    return (
        back.groupBy("study", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "bridge_file_view",
    sql="""
    SELECT 'documents.parquet' AS file_name,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_entities,
           TRUE AS file_size_positive
    FROM documents
    """,
)
def bridge_file_view(spark, sf_dir):
    """S2: the EntityView analog (default.yaml:5-10) — one row per record in
    the folder scope with file metadata pseudo-columns attached from the
    scan itself (no secondary lookup). Upgraded from rows-only to hash-
    checked (VERDICT r3 item 7): the fixture is a single plain file, so
    ``file_name`` and the per-file row/entity counts are deterministic;
    the environment-local byte size is reduced to an invariant (positive
    for every row in scope) rather than excluded."""
    fv = file_view(spark, os.path.join(sf_dir, "documents.parquet"))
    return fv.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_entities"),
        (F.min("file_size") > 0).alias("file_size_positive"),
    )


@query(
    "bridge_validate",
    sql="""
    WITH wide AS (
      SELECT COUNT(*) AS n_checked,
             SUM(CASE WHEN length(lang) > 2 THEN 1 ELSE 0 END) AS lang_max_length_2,
             SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS lang_in_set,
             SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS n_chars_consistent,
             SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_not_null,
             COUNT(doc_id) - COUNT(DISTINCT doc_id) AS doc_id_unique
      FROM documents)
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, n_checked FROM (
      SELECT 'lang_max_length_2' AS rule, lang_max_length_2 AS n_violations, n_checked FROM wide
      UNION ALL SELECT 'lang_in_set', lang_in_set, n_checked FROM wide
      UNION ALL SELECT 'n_chars_consistent', n_chars_consistent, n_checked FROM wide
      UNION ALL SELECT 'text_not_null', text_not_null, n_checked FROM wide
      UNION ALL SELECT 'doc_id_unique', doc_id_unique, n_checked FROM wide)
    ORDER BY rule
    """,
    order_by=("rule",),
)
def bridge_validate(spark, sf_dir):
    """Declarative expectations (validation.py) — the engine form of the
    reference's string-size contract (copy_from_template.py:164-176): rules
    compile into one conditional-aggregate pass, reported per rule."""
    from ..validation import expression, in_set, max_length, not_null, validate

    d = load(spark, sf_dir, "documents")
    rules = [
        max_length("lang", 2),
        in_set("lang", ("en", "de", "es", "fr", "zh")),
        expression("n_chars_consistent", F.col("n_chars") != F.length("text")),
        not_null("text"),
    ]
    return validate(d, rules, unique_cols=["doc_id"])


@query(
    "bridge_acl_copy",
    sql="""
    WITH source_acl AS (
      SELECT s_nationkey AS entity_id, s_suppkey AS principal_id, 'read' AS access
      FROM supplier),
    copied AS (
      SELECT entity_id, principal_id, access FROM source_acl
      WHERE principal_id NOT IN (7, 11, 13)),
    granted AS (
      SELECT entity_id, principal_id, access FROM copied
      UNION ALL
      SELECT DISTINCT entity_id, -1 AS principal_id, 'admin' AS access FROM source_acl)
    SELECT entity_id, COUNT(*) AS n_grants,
           CAST(SUM(CASE WHEN access = 'admin' THEN 1 ELSE 0 END) AS BIGINT) AS n_admin
    FROM granted GROUP BY entity_id ORDER BY entity_id
    """,
    order_by=("entity_id",),
)
def bridge_acl_copy(spark, sf_dir):
    """ACL copy-with-exception (reference semantics:
    /root/reference/src/copy_from_template.py:244-277 — copy the
    benefactor's ACL, *skipping* the excluded principal's entries
    (:253-255), then add the service's own grant (:256-261)). Mapped onto
    the fixture: suppliers are grants (nation = entity), three principals
    are excluded, and one admin grant per entity is appended. Exclusion is
    a pushed-down NOT IN filter; the append is a unionByName of a
    distinct-entity projection — no join anywhere."""
    s = load(spark, sf_dir, "supplier")
    source_acl = s.select(
        F.col("s_nationkey").alias("entity_id"),
        F.col("s_suppkey").alias("principal_id"),
        F.lit("read").alias("access"),
    )
    copied = source_acl.filter(~F.col("principal_id").isin(7, 11, 13))
    new_grants = (
        source_acl.select("entity_id").distinct()
        .select("entity_id", F.lit(-1).alias("principal_id"), F.lit("admin").alias("access"))
    )
    granted = copied.unionByName(new_grants)
    return (
        granted.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_grants"),
            F.sum(F.when(F.col("access") == "admin", 1).otherwise(0)).alias("n_admin"),
        )
    )


# --- Per-row quarantine routing ---------------------------------------------

_QUARANTINE_SQL = """
    SELECT doc_id,
           concat_ws(',',
             CASE WHEN lang NOT IN ('en','de','es','fr','zh') THEN 'lang_in_set' END,
             CASE WHEN length(lang) > 2 THEN 'lang_max_length_2' END,
             CASE WHEN n_chars <> length(text) THEN 'n_chars_consistent' END,
             CASE WHEN text IS NULL THEN 'text_not_null' END) AS violated
    FROM documents
    ORDER BY doc_id
"""


@query("bridge_quarantine", sql=_QUARANTINE_SQL, order_by=("doc_id",))
def bridge_quarantine(spark, sf_dir):
    """Row-level companion to bridge_validate (the reference's contract,
    copy_from_template.py:164-176, enforced per row instead of summarized):
    each document annotated with the comma-joined sorted list of rules it
    violates — '' means route onward, anything else routes to the
    quarantine sink with the reason attached. All rule predicates evaluate
    in ONE codegen'd projection; no shuffle."""
    from ..validation import expression, in_set, max_length, not_null, quarantine

    d = load(spark, sf_dir, "documents")
    rules = [
        max_length("lang", 2),
        in_set("lang", ("en", "de", "es", "fr", "zh")),
        expression("n_chars_consistent", F.col("n_chars") != F.length("text")),
        not_null("text"),
    ]
    return quarantine(d, rules).select("doc_id", "violated")
