"""Scalar-function inventory F1-F9 (SURVEY.md §2.8).

Each family is exercised as a projection query so the driver verifies the
function semantics value-by-value against DuckDB. Everything here is
whole-stage-codegen'd JVM expressions — no Python in the row path.

Cross-engine determinism rules learned the hard way:
* never ROUND a computed double (Spark rounds the shortest-string repr,
  DuckDB the binary value) — floor/ceil/abs/sqrt/mod are IEEE-exact and safe;
* transcendentals (exp/ln/pow) are libm-dependent — kept out of oracle
  queries (squares are written x*x).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from .registry import query


@query(
    "f_string",
    sql="""
    SELECT c_custkey,
           CAST(replace(c_name, 'Customer#', '') AS BIGINT) AS name_id,
           upper(c_mktsegment) AS seg_upper,
           lower(c_mktsegment) AS seg_lower,
           length(c_name) AS name_len,
           substr(c_name, 1, 8) AS name_prefix,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           trim(concat('  ', c_mktsegment, ' ')) AS seg_trim
    FROM customer ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def f_string(spark, sf_dir):
    """F1: string family — the reference's 'syn'-prefix strip
    (copy_from_template.py:109), template replace (:295), key-path concat
    (:316) as engine expressions."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("")).cast("long").alias("name_id"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
    )


@query(
    "f_casts_roundtrip",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS date_roundtrip,
           CAST(CAST(o_totalprice > 100000 AS VARCHAR) AS BOOLEAN) AS big_flag
    FROM orders ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def f_casts_roundtrip(spark, sf_dir):
    """F2: the reference's STRING→DATE/BOOLEAN/INTEGER coercion family
    (copy_from_template.py:195-206) as round-trip casts — ingest-as-string
    then promote-to-typed, the schema regime of SURVEY.md §1.3."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").cast("long").alias("key_roundtrip"),
        F.col("o_orderdate").cast("string").cast("timestamp").alias("date_roundtrip"),
        (F.col("o_totalprice") > 100000).cast("string").cast("boolean").alias("big_flag"),
    )


@query(
    "f_datetime",
    sql="""
    SELECT l_orderkey, l_linenumber,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(month(l_shipdate) AS INT) AS ship_month,
           CAST(dayofmonth(l_shipdate) AS INT) AS ship_day,
           CAST(date_trunc('quarter', l_shipdate) AS TIMESTAMP) AS ship_quarter,
           CAST(l_shipdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST(epoch(l_shipdate) AS BIGINT) AS ship_epoch
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    order_by=("l_orderkey", "l_linenumber"),
)
def f_datetime(spark, sf_dir):
    """F3: date/time extraction and bucketing over the fixture instants (the
    five reference date columns, copy_from_template.py:179-182)."""
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.dayofmonth("l_shipdate").alias("ship_day"),
        F.date_trunc("quarter", "l_shipdate").alias("ship_quarter"),
        (F.col("l_shipdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.unix_timestamp("l_shipdate").alias("ship_epoch"),
    )


@query(
    "f_array",
    sql="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct_tokens,
           array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\\s+')))[1:3],
                           '|') AS first_tokens,
           list_contains(string_split_regex(trim(text), '\\s+'), 'spark') AS has_spark
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_array(spark, sf_dir):
    """F4: array family — contains/size/distinct/sort/slice, the scopeIds
    array predicates of copy_from_template.py:109-111 generalized to token
    arrays. The sliced array is emitted '|'-joined: the driver canon cannot
    hash list cells (see agg_collect_set)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), "|").alias("first_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )


@query(
    "f_json",
    sql="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0) AS k_round
    FROM events ORDER BY event_id
    """,
    order_by=("event_id",),
)
def f_json(spark, sf_dir):
    """F5: JSON blob parsing — the clientInfo/appInfo 512-char JSON columns
    (copy_from_template.py:177,207-208). from_json into a typed struct, the
    permissive-ingest half of the coercion regime."""
    e = load(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), T.StructType([T.StructField("k", T.LongType())]))
    return e.select(
        "event_id",
        parsed["k"].alias("k_value"),
        ((parsed["k"] % 10) == 0).alias("k_round"),
    )


@query(
    "f_variant",
    sql="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
           event_type AS t,
           value AS v0
    FROM events ORDER BY event_id
    """,
    order_by=("event_id",),
)
def f_variant(spark, sf_dir):
    """F5b: semi-structured VARIANT column (Spark 4) — ingest the JSON blob
    once as an open-schema variant and extract TYPED fields lazily at query
    time: the schema-on-read half of the coercion regime
    (copy_from_template.py:164-232) without committing to a struct schema at
    ingest, and the storage shape for open-ended annotation bags
    (default.yaml:10) at scale. The nested path round-trips typed columns
    through in-row JSON to exercise object/array traversal; the oracle
    shortcuts to the original columns (shortest-repr double round-trip is
    exact)."""
    e = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    nested = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.array(F.col("value")).alias("vals"),
            )
        )
    )
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "long").alias("k_long"),
        F.variant_get(nested, "$.t", "string").alias("t"),
        F.variant_get(nested, "$.vals[0]", "double").alias("v0"),
    )


@query(
    "f_map",
    sql="""
    SELECT doc_id,
           concat('lang=', lang, ',source=', source) AS packed,
           lang AS lang_out, source AS source_out, 2 AS n_keys
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_map(spark, sf_dir):
    """F6: map family — annotation key→value bags pre-promotion
    (addAnnotationColumns, default.yaml:10): pack attributes into a map,
    read them back with element_at, count keys."""
    d = load(spark, sf_dir, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source"))
    packed = F.concat_ws(
        ",",
        F.concat(F.lit("lang="), F.element_at(m, "lang")),
        F.concat(F.lit("source="), F.element_at(m, "source")),
    )
    return d.select(
        "doc_id",
        packed.alias("packed"),
        F.element_at(m, "lang").alias("lang_out"),
        F.element_at(m, "source").alias("source_out"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "f_math",
    sql="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - l_quantity) AS diff_abs,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kilo,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil,
           sqrt(l_extendedprice) AS price_sqrt,
           l_discount * l_discount AS disc_sq,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    order_by=("l_orderkey", "l_linenumber"),
)
def f_math(spark, sf_dir):
    """F7: math family restricted to IEEE-exact ops (see module docstring).
    Spark floor/ceil return LONG while DuckDB's return DOUBLE, and the
    driver's pandas canon hashes 1 and 1.0 differently — the oracle casts
    them to BIGINT so both engines emit int64."""
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - F.col("l_quantity")).alias("diff_abs"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_kilo"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
        (F.col("l_orderkey") % 97).alias("key_mod"),
    )


@query(
    "f_conditional",
    sql="""
    SELECT l_orderkey, l_linenumber,
           greatest(l_discount, l_tax) AS max_rate,
           least(l_discount, l_tax) AS min_rate,
           coalesce(nullif(l_returnflag, 'N'), 'NONE') AS flag_or_none,
           CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    order_by=("l_orderkey", "l_linenumber"),
)
def f_conditional(spark, sf_dir):
    """F8: conditional family — when/otherwise, coalesce/nullif,
    greatest/least (the retype CASE chain, copy_from_template.py:194-210)."""
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("NONE")).alias("flag_or_none"),
        F.when(F.col("l_quantity") >= 25, "bulk").otherwise("small").alias("qty_class"),
    )


@query(
    "f_hash",
    sql="""
    SELECT doc_id,
           md5(text) AS text_md5,
           sha256(text) AS text_sha256
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_hash(spark, sf_dir):
    """F9: content hashing for dedup identity (the basis of L1)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
    )


from ..oracles.scalars import xxhash_oracle


@query("f_hash_xxhash", sql=xxhash_oracle, order_by=("doc_id",))
def f_hash_xxhash(spark, sf_dir):
    """F9: xxhash64 + murmur3 hashing — the cheap JVM-side hashes the
    MinHash/SimHash band ops and hash-rank seeding build on. ORACLED (r10,
    was rows-only): DuckDB has no xxhash64, so the oracle is GENERATED — a
    pure-Python re-implementation of both public algorithms
    (oracles/hashes.py, written from the XXH64 / Murmur3_x86_32 specs,
    pinned against the engine for every length class in
    tests/test_oracle_hashes.py) re-derives every doc's hashes and emits
    them as a VALUES query."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("text_xx64"),
        F.hash("text").alias("text_hash32"),
    )


@query(
    "f_regexp",
    sql="""
    SELECT c_custkey,
           len(regexp_extract_all(c_name, '[0-9]+')) AS n_digit_runs,
           array_to_string(regexp_extract_all(c_name, '[0-9]+'), '|') AS digit_runs,
           split_part(c_name, '#', 2) AS name_num,
           CASE WHEN regexp_matches(c_mktsegment, '^[A-Z]+$') THEN 1 ELSE 0 END AS seg_alpha,
           strpos(c_name, '#') AS hash_pos
    FROM customer ORDER BY c_custkey
    """,
    order_by=("c_custkey",),
)
def f_regexp(spark, sf_dir):
    """F1b: modern regexp family — regexp_count / regexp_extract_all /
    split_part / regexp_like / instr. All JVM codegen expressions; the
    oracle spells each with DuckDB's names (regexp_count == len of
    extract_all, instr == strpos). digit_runs is '|'-joined text — the
    driver canon cannot hash list cells (see agg_collect_set)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_count("c_name", F.lit("[0-9]+")).alias("n_digit_runs"),
        F.array_join(F.regexp_extract_all("c_name", F.lit("[0-9]+"), 0), "|").alias("digit_runs"),
        F.split_part("c_name", F.lit("#"), F.lit(2)).alias("name_num"),
        F.regexp_like("c_mktsegment", F.lit("^[A-Z]+$")).cast("int").alias("seg_alpha"),
        F.instr("c_name", "#").alias("hash_pos"),
    )


@query(
    "f_xml",
    sql="""
    SELECT event_id, event_type AS t, value AS v, user_id AS uid
    FROM events ORDER BY event_id
    """,
    order_by=("event_id",),
)
def f_xml(spark, sf_dir):
    """F5c: XML ingest (Spark 4 to_xml/from_xml) — typed columns round-trip
    through an in-row XML document and back out through an explicit
    schema. Doubles survive exactly (shortest-repr serialization, same
    guarantee the JSON/VARIANT paths rely on), so the oracle shortcuts to
    the original columns."""
    e = load(spark, sf_dir, "events")
    xml = F.to_xml(
        F.struct(
            F.col("event_type").alias("t"),
            F.col("value").alias("v"),
            F.col("user_id").alias("uid"),
        )
    )
    parsed = F.from_xml(xml, "t STRING, v DOUBLE, uid BIGINT")
    return e.select(
        "event_id",
        parsed.getField("t").alias("t"),
        parsed.getField("v").alias("v"),
        parsed.getField("uid").alias("uid"),
    )


@query(
    "f_url",
    sql="""
    SELECT event_id,
           event_type AS path_seg,
           CAST(user_id AS VARCHAR) AS uid_param,
           'events.example.com' AS host
    FROM events ORDER BY event_id
    """,
    order_by=("event_id",),
)
def f_url(spark, sf_dir):
    """F1c: URL functions — build a URL from columns (url_encode), then
    tear it apart with parse_url (HOST / PATH / QUERY key) and url_decode.
    Encoded bytes never reach the comparator (Java uses '+' for space,
    others use %20): the oracle sees only the decoded round-trip, which is
    the identity."""
    e = load(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://events.example.com/"),
        F.url_encode("event_type"),
        F.lit("?uid="),
        F.col("user_id").cast("string"),
    )
    return e.select(
        "event_id",
        F.url_decode(
            F.regexp_extract(F.parse_url(url, F.lit("PATH")), "^/(.*)$", 1)
        ).alias("path_seg"),
        F.parse_url(url, F.lit("QUERY"), F.lit("uid")).alias("uid_param"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
    )


@query(
    "f_vector",
    sql="""
    SELECT vec_id,
           len(v) AS n_dims,
           v[1] AS x1,
           v[2] AS x2,
           2.0 * v[1] AS x1_scaled,
           list_aggregate(list_transform(v, x -> x * x), 'sum') AS sq_norm,
           sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS l2,
           list_aggregate(v, 'max') AS max_elem,
           list_aggregate(v, 'min') AS min_elem
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ORDER BY vec_id
    """,
    order_by=("vec_id",),
)
def f_vector(spark, sf_dir):
    """F4b: vector arithmetic over embedding arrays — element access,
    scaling, squared-norm fold, l2, min/max. Both engines fold the
    float32-exact doubles sequentially, and sqrt is IEEE-exact, so the
    whole family oracle-compares bit-for-bit. (The hot-path GEMM versions
    of these live in llm/similarity.py; this is the expression-level
    surface.)"""
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return e.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        F.element_at(v, 1).alias("x1"),
        F.element_at(v, 2).alias("x2"),
        (F.element_at(v, 1) * 2.0).alias("x1_scaled"),
        sq.alias("sq_norm"),
        F.sqrt(sq).alias("l2"),
        F.array_max(v).alias("max_elem"),
        F.array_min(v).alias("min_elem"),
    )


@query(
    "f_edit_distance",
    sql="""
    SELECT p_partkey,
           levenshtein(p_name, p_type) AS lev,
           levenshtein(p_brand, p_type) AS lev_short,
           CASE WHEN levenshtein(p_brand, p_type) <= 5
                THEN levenshtein(p_brand, p_type) ELSE -1 END AS lev_capped
    FROM part ORDER BY p_partkey
    """,
    order_by=("p_partkey",),
)
def f_edit_distance(spark, sf_dir):
    """String edit distance (Levenshtein) — the fuzzy-match primitive for
    entity resolution over the reference's name-keyed lookups
    (copy_from_template.py:128-132 matches folders by exact name; the
    engine generalizes to approximate matching). The threshold-capped form
    is the scale path: Spark's bounded levenshtein short-circuits the DP
    once the budget is exceeded, turning O(len^2) worst cases into
    O(len*k) — essential when this runs inside a similarity join."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", "p_type").alias("lev"),
        F.levenshtein("p_brand", "p_type").alias("lev_short"),
        F.levenshtein("p_brand", "p_type", 5).alias("lev_capped"),
    )


@query(
    "f_map_transform",
    sql="""
    SELECT doc_id,
           n_chars * 2 AS dbl_chars,
           CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS n_big,
           n_chars + doc_id AS zipped_sum,
           lang AS parsed_lang
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def f_map_transform(spark, sf_dir):
    """F6 extension: higher-order map functions — transform_values,
    map_filter, map_zip_with, str_to_map. The Spark side routes every value
    through REAL map expressions; the oracle states the algebraically equal
    scalar results (DuckDB's MAP surface differs, the VALUES are what's
    checked). All in-row codegen'd expressions."""
    d = load(spark, sf_dir, "documents")
    m = F.create_map(F.lit("chars"), F.col("n_chars").cast("long"))
    m2 = F.create_map(F.lit("chars"), F.col("doc_id"))
    doubled = F.transform_values(m, lambda k, v: v * 2)
    big_only = F.map_filter(m, lambda k, v: v > 300)
    zipped = F.map_zip_with(m, m2, lambda k, v1, v2: v1 + v2)
    parsed = F.str_to_map(
        F.concat(F.lit("lang:"), F.col("lang"), F.lit(",id:"), F.col("doc_id")),
        F.lit(","), F.lit(":"),
    )
    return d.select(
        "doc_id",
        F.element_at(doubled, "chars").alias("dbl_chars"),
        F.size(big_only).alias("n_big"),
        F.element_at(zipped, "chars").alias("zipped_sum"),
        F.element_at(parsed, "lang").alias("parsed_lang"),
    )


@query(
    "f_collation",
    sql="""
    SELECT lower(CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority ELSE lower(o_orderpriority) END) AS priority,
           COUNT(*) AS n
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    order_by=("priority",),
)
def f_collation(spark, sf_dir):
    """Collation-aware grouping (Spark 4 `collate`): group a mixed-case
    column under UTF8_LCASE so 'URGENT' and 'urgent' are one group —
    collation is an attribute of the comparison, not a lower() rewrite of
    the data. The emitted key is lower(representative): representative
    choice within a collation group is engine-arbitrary, its lowercase
    form is not."""
    o = load(spark, sf_dir, "orders")
    mixed = F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderpriority")).otherwise(
        F.lower(F.col("o_orderpriority"))
    )
    return (
        o.select(F.collate(mixed, "UTF8_LCASE").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("k")).alias("priority"), "n")
    )


@query(
    "f_interval",
    sql="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 90 MINUTE AS plus_90m,
           o_orderdate + INTERVAL 7 DAY AS plus_7d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP) AS plus_2mo,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
    FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def f_interval(spark, sf_dir):
    """Interval arithmetic family: timestamp +/- calendar intervals
    (minute/day/month — month addition clamps to month end identically on
    both engines) and exact day distances. months_between and
    sub-day boundary-crossing counts are deliberately absent: their
    fractional/crossing semantics differ across engines."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 MINUTES")).alias("plus_90m"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("plus_7d"),
        F.add_months(F.to_date("o_orderdate"), 2).cast("timestamp").alias("plus_2mo"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
    )
