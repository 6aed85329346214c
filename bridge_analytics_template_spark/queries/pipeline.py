"""Training-data-pipeline batch 2: composite quality scoring, near-dup
clustering (connected components), positional tokenization, median
aggregates, correlated scalar subqueries, ORC round-trip.

All numeric oracle outputs are either integers or single IEEE operations on
exactly-representable integers (int/int division, (a+b)/2), so Spark and
DuckDB agree bit-for-bit without rounding tricks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ..caching import track
from ..catalog import load, register_views, scratch_path
from ..functions.text import (
    STOPWORDS,
    alpha_ratio,
    normalized_fingerprint,
    stopword_hits,
    token_length_sum,
    ws_tokens,
)
from ..llm.dedup import (
    _shingle_arrays,
    collapse_exact_duplicates,
    connected_components,
    prefix_filtered_pairs,
)
from ..sources.readers import read_orc
from .registry import query

_SQL_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"
_EN_PANEL = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@query(
    "llm_quality_score",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_SQL_TOKENS} AS toks FROM documents)
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
             / greatest(len(toks), 1) AS mean_token_len,
           CAST(len(list_filter(toks, x -> list_contains([{_EN_PANEL}], x))) AS DOUBLE)
             / greatest(len(toks), 1) AS stopword_ratio,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS alpha_ratio,
           (len(toks) BETWEEN 5 AND 100000)
             AND (CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1) >= 0.5) AS keep
    FROM t ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def llm_quality_score(spark, sf_dir):
    """L4e: composite document quality score — the C4/Gopher-style filter
    pass (token count bounds, mean token length, English stopword ratio,
    alphabetic ratio) plus the resulting keep/drop verdict. Pure codegen'd
    expressions: one projection over the corpus, no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_tokens = F.size(toks)
    denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    a_ratio = alpha_ratio("text")
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        (token_length_sum(toks).cast("double") / denom).alias("mean_token_len"),
        (stopword_hits(toks, "en").cast("double") / denom).alias("stopword_ratio"),
        a_ratio.alias("alpha_ratio"),
        (n_tokens.between(5, 100000) & (a_ratio >= 0.5)).alias("keep"),
    )


_SQL_SHINGLES5 = (
    f"list_transform(generate_series(1, greatest(len({_SQL_TOKENS}) - 4, 0)), "
    f"i -> array_to_string({_SQL_TOKENS}[i:i+4], ' '))"
)

#: Word-5-gram Jaccard edges at >= 0.5 (near-dup threshold). r3: raised
#: from 0.05 — at j=0.05 the prefix filter is useless and ANY shared
#: shingle forms a candidate, so the edge build degenerates to the full
#: inverted-index self-join (quadratic posting-list blowup on hub
#: shingles at corpus scale). At 0.5 the Spark side routes through
#: prefix_filtered_pairs (PPJoin — exact, scale-correct) and this oracle
#: stays the plain exact formulation.
_SQL_EDGES = f"""
    sh AS (
      SELECT doc_id AS doc,
             unnest(CASE WHEN len({_SQL_SHINGLES5}) > 0 THEN list_distinct({_SQL_SHINGLES5})
                         ELSE [array_to_string({_SQL_TOKENS}, ' ')] END) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc
      JOIN sizes sb ON i.doc_b = sb.doc
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
    )
"""


@query(
    "llm_dedup_clusters",
    sql=f"""
    WITH RECURSIVE
    {_SQL_EDGES},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach
    GROUP BY node ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def llm_dedup_clusters(spark, sf_dir):
    """L2e: near-dup clustering — group the 5-gram-Jaccard edge set into
    connected components and label every member with the minimum doc id of
    its component (the canonical survivor). Min-label propagation, one
    shuffle per round, rounds = component diameter (tiny for dedup
    graphs); oracle is the same closure via DuckDB's recursive CTE.

    r3 (VERDICT task 5): edges come from the EXACT prefix-filtered
    self-join (PPJoin) at j >= 0.5, not the full inverted-index join at
    0.05 — the low-threshold index join is quadratic in hub posting lists
    at corpus scale (vacuous prefixes). Same answer (exact algorithm,
    exact verify), scale-correct plan; guarded by
    test_cluster_edges_use_prefix_filter. The MinHash-LSH edge tier is the
    sibling llm_dedup_clusters_lsh (same oracle, probabilistic edge
    build).

    r6: DISTINCT-FIRST edge build (collapse_exact_duplicates): pair
    discovery runs over one representative per exact text, copies attach
    by star edges — bit-identical components (clique ≡ star for
    jaccard-1 groups; see the helper's proof sketch), but the verify
    tier shrinks by the duplication factor squared. 100x replica:
    27.31M verified pairs → ~3k rep pairs + 495k star edges, 57.6s →
    ~8s, and CC's edge set drops to its union-find path."""
    d = load(spark, sf_dir, "documents")
    reps, star = collapse_exact_duplicates(d)
    # Hashed (long) shingles: the clustering only consumes the PAIR SET, so
    # the strings never need to survive tokenization — same pairs as the
    # string form modulo 2^-64 collisions, at a fraction of the join bytes.
    arrays = _shingle_arrays(reps, "text", "doc_id", 5, hashed=True)
    rep_pairs = prefix_filtered_pairs(arrays, min_jaccard=0.5).select("doc_a", "doc_b")
    edges = rep_pairs if star is None else rep_pairs.unionByName(star)
    return (
        connected_components(edges)
        .select(F.col("node").alias("doc_id"), "cluster_id")
    )


def _survivor_sql() -> str:
    from .curation import _LIN_W

    return f"""
    WITH RECURSIVE
    {_SQL_EDGES},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node
    ),
    lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
    sc AS (
      SELECT doc_id,
             CAST(COALESCE(list_sum(list_transform({_SQL_TOKENS}, tok -> {_LIN_W})), 0)
                  AS BIGINT) AS score_raw
      FROM documents),
    m AS (
      SELECT lab.doc_id, lab.cluster_id, sc.score_raw,
             ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
                                ORDER BY sc.score_raw DESC, lab.doc_id ASC) AS rk
      FROM lab JOIN sc USING (doc_id))
    SELECT doc_id, cluster_id, score_raw, rk = 1 AS keep
    FROM m ORDER BY doc_id
    """


@query("llm_dedup_survivors", sql=_survivor_sql(), order_by=("doc_id",))
def llm_dedup_survivors(spark, sf_dir):
    """Quality-aware dedup survivorship — the decision step every dedup
    pipeline actually ends with: cluster the exact near-dup pairs
    (prefix-filtered edges -> connected components, as llm_dedup_clusters),
    score every clustered document with the hashed-feature linear quality
    model (llm_linear_quality_score's weights), and KEEP exactly one doc
    per cluster — the highest-scoring one, lowest id on ties — instead of
    llm_dedup_clusters' blind min-id canonical.

    Scale shape: everything after the edge build is keyed small-data work —
    the quality scores compute in-row (zero shuffle), the survivor election
    is max_by in one hash aggregate over |clustered docs| (no window on
    Spark's side), and the keep flag is a broadcast-sized equi-join back.
    The oracle re-runs the same closure (recursive CTE), the same formula
    weights, and elects with a cluster-partitioned row_number."""
    from .curation import _LIN_W

    d = load(spark, sf_dir, "documents")
    reps, star = collapse_exact_duplicates(d)  # r6: distinct-first, see llm_dedup_clusters
    arrays = _shingle_arrays(reps, "text", "doc_id", 5, hashed=True)
    rep_pairs = prefix_filtered_pairs(arrays, min_jaccard=0.5).select("doc_a", "doc_b")
    edges = rep_pairs if star is None else rep_pairs.unionByName(star)
    lab = connected_components(edges).select(F.col("node").alias("doc_id"), "cluster_id")
    score = F.expr(
        f"aggregate(transform(t, tok -> {_LIN_W}), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    sc = d.select("doc_id", ws_tokens("text").alias("t")).select(
        "doc_id", F.coalesce(score, F.lit(0)).alias("score_raw")
    )
    m = lab.join(sc, "doc_id")
    # Survivor election as ONE hash aggregate: max_by over the composite
    # (score, -doc_id) — no cluster-keyed window, map-side combinable.
    winners = m.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, named_struct('s', score_raw, 'd', -doc_id))").alias("survivor")
    )
    return (
        m.join(winners, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "score_raw",
            (F.col("doc_id") == F.col("survivor")).alias("keep"),
        )
    )


@query(
    "lateral_tokens_pos",
    sql=f"""
    SELECT doc_id,
           unnest(generate_series(1, len(toks))) - 1 AS pos,
           unnest(toks) AS tok
    FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents WHERE doc_id % 10 = 0) t
    ORDER BY doc_id, pos
    """,
    order_by=("doc_id", "pos"),
)
def lateral_tokens_pos(spark, sf_dir):
    """UDTF-shaped lateral expansion: one row per (document, token position)
    via posexplode — the generate-rows-from-a-row primitive (DuckDB oracle
    zips parallel unnests of the token array and its index list)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return d.select("doc_id", F.posexplode_outer(ws_tokens("text")).alias("pos", "tok"))


@query(
    "agg_median",
    sql="""
    SELECT l_returnflag,
           median(l_quantity) AS med_qty,
           median(l_extendedprice) AS med_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    order_by=("l_returnflag",),
)
def agg_median(spark, sf_dir):
    """A8 extension: exact grouped median (interpolating percentile). Exact
    medians need a per-group sort — fine for bounded group counts; the
    approx_percentile query is the unbounded-cardinality path."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.median("l_quantity").alias("med_qty"),
            F.median("l_extendedprice").alias("med_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_CORRELATED_SQL = """
    SELECT l.l_partkey, COUNT(*) AS n_above
    FROM lineitem l
    WHERE l.l_quantity > (SELECT 1.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    GROUP BY l.l_partkey
"""


@query("sql_correlated_subquery", sql=_CORRELATED_SQL, order_by=("l_partkey",))
def sql_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems above 1.2x
    the average quantity of their part. Catalyst decorrelates this into an
    aggregate + join — no per-row re-execution (the plan-regression test
    asserts a single join, not a nested-loop). AVG over integral doubles is
    exact, so the comparison is engine-stable."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_CORRELATED_SQL)


@query(
    "emb_centroids",
    sql="""
    WITH ex AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) - 1 AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
      FROM embeddings)
    SELECT label, dim, AVG(q) AS centroid_q, COUNT(*) AS n
    FROM ex GROUP BY label, dim ORDER BY label, dim
    """,
    order_by=("label", "dim"),
)
def emb_centroids(spark, sf_dir):
    """Per-label embedding centroid (class prototype) over milli-quantized
    components. Quantizing with ``floor(x*1000)`` — an exact binary op on
    the float-widened double — makes the cross-row sum integer-exact, so
    the centroid is bit-identical on any partitioning AND matches the
    oracle (a raw float mean is combine-order dependent and would not be).
    Shuffle volume is rows × dims, keyed by (label, dim) — uniform by
    construction."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode_outer("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.avg(F.floor(F.col("x").cast("double") * 1000)).alias("centroid_q"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "llm_frame_sample",
    sql="""
    WITH t AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes
      FROM documents WHERE doc_id % 10 = 0)
    SELECT doc_id,
           unnest(generate_series(0, CAST(n_bytes // 1000 AS BIGINT), 4)) AS frame_idx,
           n_bytes // 1000 + 1 AS n_frames
    FROM t ORDER BY doc_id, frame_idx
    """,
    order_by=("doc_id", "frame_idx"),
)
def llm_frame_sample(spark, sf_dir):
    """L5b: video-style frame sampling — 1→N fan-out inside mapInPandas
    (every 4th fixed-size frame of the binary payload; demuxer stubbed, see
    llm/multimodal.py). The sampled-index arithmetic is oracle-checked; the
    frame payload bytes are covered by the unit test."""
    from ..llm.multimodal import attach_binary, sample_frames

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return (
        sample_frames(attach_binary(d), frame_size=1000, every=4)
        .select("doc_id", "frame_idx", "n_frames")
    )


@query(
    "s_orc_roundtrip",
    sql="""
    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
    FROM nation GROUP BY 1 ORDER BY 1
    """,
    order_by=("n_regionkey",),
)
def s_orc_roundtrip(spark, sf_dir):
    """S7b: ORC sink + scan — the second columnar format, same vectorized
    reader and predicate-pushdown machinery as parquet."""
    n = load(spark, sf_dir, "nation")
    path = scratch_path(spark, "orc_roundtrip_nation")
    n.write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name"))
    )


@query(
    "s_python_datasource",
    sql="""
    WITH g AS (
      SELECT i AS event_id,
             CASE WHEN substring(md5(CAST(i AS VARCHAR)), 1, 2) <= '55' THEN 'a'
                  WHEN substring(md5(CAST(i AS VARCHAR)), 1, 2) <= 'aa' THEN 'b'
                  ELSE 'c' END AS kind,
             (i * 2654435761) % 1000 AS val
      FROM generate_series(0, 1999) AS t(i))
    SELECT kind, COUNT(*) AS n, CAST(SUM(val) AS BIGINT) AS total, MIN(event_id) AS first_id
    FROM g GROUP BY kind ORDER BY kind
    """,
    order_by=("kind",),
)
def s_python_datasource(spark, sf_dir):
    """S9: custom batch connector via the Python DataSource API (Spark 4) —
    driver-planned splits, per-partition iteration (sources/pydatasource.py).
    The generator is deterministic, so the custom-source read is verified
    value-exactly against DuckDB reproducing the same rows from
    generate_series."""
    from ..sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("num_rows", 2000)
        .option("partitions", 8)
        .load()
    )
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("total"),
            F.min("event_id").alias("first_id"),
        )
    )


@query(
    "s_python_sink",
    sql="""
    SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
    FROM documents WHERE length(trim(text)) > 0
    ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def s_python_sink(spark, sf_dir):
    """S9b: custom WRITER via the Python DataSource API (Spark 4) — the
    other half of the connector surface next to s_python_datasource /
    s_python_stream_source. The sink implements the two-phase commit
    protocol every real external sink needs: executors stage uniquely
    named JSONL part files and return commit messages; the DRIVER commits
    by atomically writing a manifest listing exactly the committed files
    (tmp + os.replace); abort deletes staged files so partial output
    cannot leak. Reading back THROUGH the manifest (staged leftovers
    invisible) and value-comparing against the projection SQL verifies
    the full write→commit→read contract, not just that save() returned.
    Abort-path and leftover-invisibility are pinned in
    tests/test_sources.py."""
    from ..sources.pydatasource import read_manifested, register_sink

    register_sink(spark)
    d = load(spark, sf_dir, "documents")
    out = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    path = scratch_path(spark, "python_sink_docs")
    # overwrite, not append: append now MERGES manifests (ADVICE r8), so a
    # re-run in the same session would double the rows; overwrite commits
    # only this job's files and removes superseded parts — idempotent.
    out.write.format("jsonl_manifest").option("path", path).mode("overwrite").save()
    return read_manifested(spark, path, "doc_id long, n_tokens long")


@query(
    "s_python_stream_source",
    sql="""
    WITH g AS (
      SELECT i AS event_id,
             CASE WHEN substring(md5(CAST(i AS VARCHAR)), 1, 2) <= '55' THEN 'a'
                  WHEN substring(md5(CAST(i AS VARCHAR)), 1, 2) <= 'aa' THEN 'b'
                  ELSE 'c' END AS kind,
             (i * 2654435761) % 1000 AS val
      FROM generate_series(0, 1199) AS t(i))
    SELECT kind, COUNT(*) AS n, CAST(SUM(val) AS BIGINT) AS total,
           MIN(event_id) AS first_id, MAX(event_id) AS last_id
    FROM g GROUP BY kind ORDER BY kind
    """,
    order_by=("kind",),
)
def s_python_stream_source(spark, sf_dir):
    """S9b: custom STREAMING connector via the Python DataSource API
    (Spark 4 SimpleDataSourceStreamReader — sources/pydatasource.py): the
    same deterministic generator as s_python_datasource, but read
    incrementally through the offset protocol a real queue/REST-poll
    connector implements (initialOffset → read(start) → committed
    offsets), 250 rows per micro-batch over 1200 total. The complete-mode
    memory sink holds the FINAL trigger's full aggregate, so the
    genuinely-streaming run is value-exact against DuckDB reproducing the
    generator from generate_series — the custom-source analog of the
    t_stream_* oracled executions. Stream==batch row equivalence is
    additionally pinned in tests/test_sources.py."""
    from ..sources.pydatasource import register_stream
    from ..streaming.windows import run_to_memory

    register_stream(spark)
    stream = (
        spark.readStream.format("synthetic_events_stream")
        .option("num_rows", 1200)
        .option("batch_rows", 250)
        .load()
    )
    agg = stream.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("total"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )
    return run_to_memory(agg, "complete")


@query(
    "s_corrupt_file_skip",
    sql="""
    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
    FROM nation GROUP BY 1 ORDER BY 1
    """,
    order_by=("n_regionkey",),
)
def s_corrupt_file_skip(spark, sf_dir):
    """S-resilience: scanning past corrupt files — the parquet sibling of
    s_corrupt_records (which covers malformed ROWS in permissive JSON).
    At petabyte scale a multi-million-file table WILL contain the odd
    truncated or garbage object (failed upload, partial multipart commit),
    and failing the whole job on one bad footer is not an option: the
    per-read ``ignoreCorruptFiles`` option skips files whose footer or
    pages fail to parse, keeping every healthy row. Here the nation table
    is written healthy, a garbage member is planted beside it, and the
    resilient read must aggregate to exactly the clean table (the oracle
    never sees the junk). The strict-mode failure (the default read
    RAISES on the same directory) is pinned in tests/test_sources.py."""
    path = scratch_path(spark, "corrupt_skip_nation")
    n = load(spark, sf_dir, "nation")
    n.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "zz_corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is definitely not a parquet file \x00\xff" * 64)
    back = spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name"))
    )


@query(
    "profile_documents",
    sql="""
    SELECT COUNT(*) AS n_rows,
           COUNT(doc_id) AS nn_doc_id, MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
           COUNT(text) AS nn_text, MIN(text) AS min_text, MAX(text) AS max_text,
           COUNT(lang) AS nn_lang, MIN(lang) AS min_lang, MAX(lang) AS max_lang,
           COUNT(source) AS nn_source, MIN(source) AS min_source, MAX(source) AS max_source,
           COUNT(n_chars) AS nn_n_chars, MIN(n_chars) AS min_n_chars, MAX(n_chars) AS max_n_chars
    FROM documents
    """,
)
def profile_documents(spark, sf_dir):
    """Schema-driven dataset profile (profiling.py): the aggregate list is
    generated from df.schema, one partial+final aggregate pass regardless
    of column count."""
    from ..profiling import profile

    return profile(load(spark, sf_dir, "documents"))


@query(
    "llm_dedup_clusters_lsh",
    sql=f"""
    WITH RECURSIVE
    {_SQL_EDGES},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach
    GROUP BY node ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def llm_dedup_clusters_lsh(spark, sf_dir):
    """L2f: the LSH-edge path of near-dup clustering — edges from the full
    MinHash-LSH cascade at jaccard >= 0.5, then connected components.
    Unlike llm_dedup_clusters (exact prefix-filtered edges, same oracle),
    this never even FORMS non-colliding pairs: cost is the banded
    self-join + candidate verification, the cheapest corpus-scale shape.

    Oracle upgrade (r3, was rows-only): the recursive-CTE closure over the
    EXACT edge set at j >= 0.5 — identical to the LSH-edge closure
    whenever banding recall over the threshold region is 1, the same
    per-fixture equality llm_dedup_minhash's oracle rides, pinned by
    tests/test_llm_ops.py::test_minhash_oracle_recall_on_current_fixture."""
    from ..llm.dedup import minhash_near_dups

    d = load(spark, sf_dir, "documents")
    # r6: distinct-first (see llm_dedup_clusters) — the LSH cascade runs
    # over one rep per exact text (identical texts share signatures, so
    # their jaccard-1 pairs were deterministic collisions anyway); copies
    # attach by star edges. Bit-identical components, k²-smaller verify.
    reps, star = collapse_exact_duplicates(d)
    rep_pairs = minhash_near_dups(reps, min_jaccard=0.5).select("doc_a", "doc_b")
    edges = rep_pairs if star is None else rep_pairs.unionByName(star)
    return (
        connected_components(edges)
        .select(F.col("node").alias("doc_id"), "cluster_id")
    )


_PRF_ITERS = 10
_PRF_SCALE = 10**12  # rank mass in 1e-12 units of 1.0; 17x product « 2^63


def _pagerank_full_oracle_sql() -> str:
    """Unrolled integer PageRank WITH uniform dangling-mass
    redistribution — the full semantics of operators/pagerank.py, in
    exact fixed-point: r0 = SCALE//n; contrib = r // out_deg per arc;
    r' = (3*SCALE)//(20*n) + (17*(Σcontrib + dangling_sum//n))//20
    (0.15/0.85 as exact 3/20 and 17/20 rationals)."""
    parts = [
        f"""
    WITH arcs AS MATERIALIZED (
      SELECT e.user_id AS src, n.user_id AS dst
      FROM events e JOIN events n ON n.event_id = e.event_id + 1
      WHERE n.user_id <> e.user_id),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS n FROM arcs GROUP BY src),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (SELECT src AS node FROM arcs
                                 UNION ALL SELECT dst FROM arcs)),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT node, CAST({_PRF_SCALE} AS BIGINT) // nn.n AS r
           FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(1, _PRF_ITERS + 1):
        parts.append(
            f""",
    c{k} AS (
      SELECT a.dst AS node, SUM(r.r // d.n) AS s
      FROM arcs a JOIN deg d ON a.src = d.src JOIN r{k - 1} r ON r.node = a.src
      GROUP BY a.dst),
    g{k} AS (
      SELECT COALESCE(SUM(r.r), 0) AS dm
      FROM r{k - 1} r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL),
    r{k} AS MATERIALIZED (
      SELECT n.node,
             ((3 * CAST({_PRF_SCALE} AS BIGINT)) // (20 * nn.n))
               + ((17 * (COALESCE(c.s, 0) + (g.dm // nn.n))) // 20) AS r
      FROM nodes n CROSS JOIN nn CROSS JOIN g{k} g
      LEFT JOIN c{k} c ON c.node = n.node)"""
        )
    parts.append(
        f"\n    SELECT node, CAST(r AS BIGINT) AS rank_e12 FROM r{_PRF_ITERS} ORDER BY node"
    )
    return "".join(parts)


@query("graph_pagerank", sql=_pagerank_full_oracle_sql, order_by=("node",))
def graph_pagerank(spark, sf_dir):
    """Iterative PageRank over the event hand-off graph: an arc from each
    event's user to the next event's user in event_id order (parallel arcs
    keep their multiplicity — random-surfer weights). {10} fixed
    iterations, damping 0.85, WITH uniform dangling-mass redistribution —
    the full semantics of operators/pagerank.py (whose float form stays
    the library API, pinned exactly against a numpy reference in
    tests/test_graph.py).

    ORACLED (r10, was rows-only): ranks are held as int64 fixed-point
    (1e-12 units of total mass) so every step — per-arc contribution
    r DIV out_deg, damping as exact 3/20 + 17/20 rationals, dangling
    share dangling_sum DIV n — is integer-deterministic and agrees
    bit-for-bit with the oracle's unrolled CTE stages. Same loop shape as
    the float operator: arcs+degree persisted and src-partitioned once,
    dangling mass from a flag-filtered aggregate of the rank vector (no
    per-iteration anti-join), one dst-keyed re-aggregation per iteration,
    localCheckpoint every 4 rounds to cap lineage depth.

    event_id is dense-sequential, so "next event" is an equi-join on id+1
    — a co-partitioned shuffle join, NOT a global-order window (which
    would funnel 100 TB through one partition)."""
    from ..operators.graph_local import pagerank_full_local, try_collect_arcs

    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    nxt = e.select((F.col("event_id") - 1).alias("event_id"), F.col("user_id").alias("next_user"))
    arcs = (
        e.join(nxt, "event_id")
        .where(F.col("next_user") != F.col("user_id"))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    # Bounded small-graph fast path (r10, the connected_components
    # precedent): within the arc bound the exact integer loop runs on the
    # driver — bit-identical ranks, none of the per-iteration stage
    # latency (measured 8.7-11.2 s of driver-blocking jobs at sf0.1 for a
    # ~100-node graph). Above the bound: the distributed loop, unchanged.
    small = try_collect_arcs(arcs)
    if small is not None:
        import pandas as pd

        node_ids, ranks_arr = pagerank_full_local(*small, _PRF_SCALE, _PRF_ITERS)
        pdf = pd.DataFrame({"node": node_ids, "rank_e12": ranks_arr})
        return spark.createDataFrame(pdf, "node long, rank_e12 long")
    deg = arcs.groupBy("src").agg(F.count(F.lit(1)).alias("n_out"))
    arcs_deg = track(arcs.join(deg, "src").repartition("src").persist())
    nodes = track(
        arcs.select(F.col("src").alias("node"))
        .unionByName(arcs.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # one scalar job, parameterizes the exact rationals
    base = (3 * _PRF_SCALE) // (20 * n)
    # Same width adaptation as operators/pagerank.py: every iteration
    # shuffles the rank vector, and a session-wide 32-way shuffle of a
    # small vector is pure stage overhead; a 100 TB graph still gets full
    # width. The loop materializes inside the adapted scope (eager
    # localCheckpoint at the last iteration), so restoring the conf after
    # cannot re-plan the checkpointed stages.
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(1, min(int(prev_width), n // 25_000 + 1))),
    )
    flagged = nodes.join(
        deg.select(F.col("src").alias("node"), F.lit(True).alias("has_out")),
        "node",
        "left",
    ).select("node", F.coalesce("has_out", F.lit(False)).alias("has_out"))
    try:
        ranks = flagged.select(
            "node", F.lit(_PRF_SCALE // n).cast("long").alias("r"), "has_out"
        )
        for i in range(_PRF_ITERS):
            contrib = (
                arcs_deg.join(ranks.select(F.col("node").alias("src"), "r"), "src")
                .select("dst", F.expr("r div n_out").alias("c"))
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("c").alias("s"))
            )
            dangling = ranks.where(~F.col("has_out")).agg(
                F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm")
            )
            ranks = (
                flagged.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    F.expr(
                        f"{base} + (17 * (coalesce(s, 0) + (dm div {n}))) div 20"
                    ).alias("r"),
                    "has_out",
                )
            )
            if (i + 1) % 4 == 0 or i == _PRF_ITERS - 1:
                ranks = ranks.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)
    return ranks.select("node", F.col("r").alias("rank_e12"))


from ..operators.zorder import zorder_key, zorder_sql  # noqa: E402


@query(
    "f_zorder",
    sql=f"""
    SELECT l_orderkey, l_linenumber,
           {zorder_sql("CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT)",
                       "CAST(l_quantity AS BIGINT)", bits=8)} AS zkey
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    order_by=("l_orderkey", "l_linenumber"),
)
def f_zorder(spark, sf_dir):
    """Z-order (Morton) key over (price-bucket, quantity) — the
    multi-dimensional clustering sort key (operators/zorder.py). The
    oracle runs the IDENTICAL interleave arithmetic emitted as SQL, so
    the bit mapping is value-checked end to end; the layout property
    (per-file min/max tightness on both dims) is pinned in
    tests/test_zorder.py."""
    l = load(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_extendedprice") / 1000.0).cast("long")
    y = F.col("l_quantity").cast("long")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(x, y, bits=8).alias("zkey"),
    )


from ..oracles.embeddings import kmeans_oracle


@query("emb_kmeans", sql=kmeans_oracle, order_by=("vec_id",))
def emb_kmeans(spark, sf_dir):
    """Lloyd's k-means over the embeddings table (llm/kmeans.py): 5
    deterministic iterations from hash-rank seeds, one GEMM pass + tiny
    partial-sum collect per iteration, zero shuffles. ORACLED (r10, was
    rows-only): the gate compares against a from-scratch numpy reference
    run (oracles/embeddings.py — hash-rank seeds via the pure-Python
    xxhash64, full-matrix Lloyd's) emitted as a VALUES oracle; the same
    reference also backs tests/test_kmeans.py."""
    from ..llm.kmeans import kmeans_assign

    e = load(spark, sf_dir, "embeddings")
    return kmeans_assign(e, k=8, iterations=5)


@query(
    "llm_mixture_stratified",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang,
             (len({_SQL_TOKENS}) BETWEEN 5 AND 100000)
               AND (CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) >= 0.5) AS keep
      FROM documents)
    SELECT lang, keep,
           COUNT(*) AS n_total,
           COUNT(CASE WHEN keep OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '1f'
                      THEN 1 END) AS n_sampled
    FROM t GROUP BY lang, keep ORDER BY lang, keep
    """,
    order_by=("lang", "keep"),
)
def llm_mixture_stratified(spark, sf_dir):
    """Quality-stratified mixture: documents passing the C4/Gopher-style
    filter (llm_quality_score's keep rule) are kept at 100%; failing docs
    are downsampled to ~12.5% by the same deterministic content-hash
    predicate the split/mixture ops use — the standard 'keep some
    low-quality mass for robustness' mixture step. One projection + one
    hash aggregate; reproducible on any partitioning (no RNG)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_tokens = F.size(toks)
    a_ratio = alpha_ratio("text")
    keep = n_tokens.between(5, 100000) & (a_ratio >= 0.5)
    sampled = keep | (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "1f")
    return (
        d.select("lang", keep.alias("keep"), sampled.alias("sampled"))
        .groupBy("lang", "keep")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("sampled"), 1)).alias("n_sampled"),
        )
    )


@query(
    "llm_curation_report",
    sql=f"""
    WITH t AS (
      SELECT doc_id, lang, text, md5(text) AS h,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                     '\\s+', ' ', 'g'))) AS nh,
             len({_SQL_TOKENS}) AS n_toks,
             (len({_SQL_TOKENS}) BETWEEN 5 AND 100000)
               AND (CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) >= 0.5) AS keep
      FROM documents)
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups,
           COUNT(*) - COUNT(DISTINCT nh) AS n_norm_dups,
           COUNT(CASE WHEN keep THEN 1 END) AS n_keep,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS mean_doc_tokens
    FROM t
    """,
)
def llm_curation_report(spark, sf_dir):
    """The corpus data-card headline row: doc/language counts, exact and
    normalized duplicate mass, quality-filter survivors, token budget and
    mean document length — the one-glance summary every curation run
    publishes. Exact integer counts + ONE division; the distinct counts
    expand to standard two-level aggregates (HLL sketches are the 100 TB
    drop-in, see agg_hll_sketch)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_tokens = F.size(toks)
    a_ratio = alpha_ratio("text")
    keep = n_tokens.between(5, 100000) & (a_ratio >= 0.5)
    t = d.select(
        "lang",
        F.md5("text").alias("h"),
        normalized_fingerprint("text").alias("nh"),
        n_tokens.alias("n_toks"),
        keep.alias("keep"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        (F.count(F.lit(1)) - F.countDistinct("nh")).alias("n_norm_dups"),
        F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
        F.sum("n_toks").alias("total_tokens"),
        (F.sum("n_toks").cast("double") / F.count(F.lit(1))).alias("mean_doc_tokens"),
    )


# --- k-core of the near-dup graph (template-farm detection) ------------------

_KCORE_K = 2
_KCORE_ROUNDS = 5  # fixture converges in 2 (all SFs, measured); 2.5x margin


def _kcore_oracle_sql() -> str:
    """Unrolled peeling rounds over the exact j>=0.5 edge set: alive(i+1) =
    nodes with >= K neighbors still alive(i). MATERIALIZED per round —
    DuckDB otherwise inlines the CTE chain into correlated re-reads of the
    parquet (see NOTES.md, the pagerank/kmeans oracle recipe)."""
    parts = [
        f"""
    WITH {_SQL_EDGES},
    und AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und)"""
    ]
    for k in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    a{k} AS MATERIALIZED (
      SELECT e.u AS node FROM und e
      JOIN a{k - 1} x ON e.u = x.node
      JOIN a{k - 1} y ON e.v = y.node
      GROUP BY e.u HAVING COUNT(*) >= {_KCORE_K})"""
        )
    parts.append(
        f"""
    SELECT e.u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM und e
    JOIN a{_KCORE_ROUNDS} x ON e.u = x.node
    JOIN a{_KCORE_ROUNDS} y ON e.v = y.node
    GROUP BY e.u ORDER BY doc_id"""
    )
    return "".join(parts)


def _dup_kcore(spark, sf_dir, rounds: int = _KCORE_ROUNDS):
    """Shared engine body so the convergence test can run rounds+1."""
    d = load(spark, sf_dir, "documents")
    arrays = _shingle_arrays(d, "text", "doc_id", 5, hashed=True)
    pairs = prefix_filtered_pairs(arrays, min_jaccard=0.5).select("doc_a", "doc_b")
    und = pairs.select(
        F.explode_outer(
            F.array(
                F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    from ..caching import track

    und = track(und.persist())
    alive = und.select(F.col("u").alias("node")).distinct()
    for _ in range(rounds):
        surv = (
            und.join(alive.select(F.col("node").alias("un")), F.col("u") == F.col("un"))
            .drop("un")
            .join(alive.select(F.col("node").alias("vn")), F.col("v") == F.col("vn"))
            .drop("vn")
        )
        alive = (
            surv.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("u").alias("node"))
            # Each round references `alive` twice (both join sides), so an
            # unbroken lineage doubles per round — 2^rounds copies of the
            # edge build. Same per-round truncation as connected_components.
            .localCheckpoint()
        )
    final = (
        und.join(alive.select(F.col("node").alias("un")), F.col("u") == F.col("un"))
        .drop("un")
        .join(alive.select(F.col("node").alias("vn")), F.col("v") == F.col("vn"))
        .drop("vn")
    )
    return (
        final.groupBy(F.col("u").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )


@query("llm_dup_kcore", sql=_kcore_oracle_sql(), order_by=("doc_id",))
def llm_dup_kcore(spark, sf_dir):
    """k-core (K=2) of the exact near-dup graph — template-farm / spam-ring
    detection: a document surviving the 2-core belongs to a DENSELY
    duplicated family (triangles and bigger), while one-off near-dup pairs
    peel away. The standard graph-robustness cut on dedup output (lone
    pairs are usually legitimate revisions; dense cores are boilerplate
    farms worth dropping wholesale). Bounded-round peeling — the contract
    a distributed peel actually ships (rounds = layers removed; measured
    convergence on this fixture family is 2, unrolled {rounds} for margin,
    and the convergence test runs rounds+1 to pin the fixpoint).

    Scale shape: edges from the prefix-filtered exact join (PPJoin, no
    posting-list blowup); each peel round is one co-keyed join + one
    count-aggregate over the CURRENT edge set — the graph shrinks
    monotonically, and dedup graphs are tiny relative to the corpus. The
    alive set broadcasts once it fits (AQE)."""
    return _dup_kcore(spark, sf_dir)


# --- MinHash estimate calibration (deterministic, oracle-exact) --------------

_MHE_PERMS = 64


def _mhe_oracle_sql() -> str:
    from ..functions.numeric import sql_hash60

    mh = sql_hash60("CONCAT(CAST(p AS VARCHAR), '|', shingle)")
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT doc_id AS doc,
             unnest(CASE WHEN len(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
                                                 i -> array_to_string(toks[i:i+4], ' '))) > 0
                         THEN list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
                                                           i -> array_to_string(toks[i:i+4], ' ')))
                         ELSE [array_to_string(toks, ' ')] END) AS shingle
      FROM t),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2),
    pairs AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b, i.n_inter, sa.n AS n_a, sb.n AS n_b
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc
      JOIN sizes sb ON i.doc_b = sb.doc
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5),
    members AS (
      SELECT DISTINCT doc FROM (
        SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs)),
    sig AS MATERIALIZED (
      SELECT s.doc, u.p, MIN(CAST({mh} AS BIGINT)) AS mh
      FROM sh s JOIN members m ON s.doc = m.doc,
           unnest(generate_series(0, {_MHE_PERMS - 1})) AS u(p)
      GROUP BY 1, 2),
    m AS (
      SELECT pr.doc_a, pr.doc_b, pr.n_inter, pr.n_a, pr.n_b,
             CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS matches
      FROM pairs pr
      JOIN sig a ON a.doc = pr.doc_a
      JOIN sig b ON b.doc = pr.doc_b AND b.p = a.p
      GROUP BY 1, 2, 3, 4, 5)
    SELECT doc_a, doc_b, matches,
           matches * 1000000 // {_MHE_PERMS} AS est_ppm,
           n_inter * 1000000 // (n_a + n_b - n_inter) AS exact_ppm,
           abs(matches * 1000000 // {_MHE_PERMS}
               - n_inter * 1000000 // (n_a + n_b - n_inter)) AS abs_err_ppm
    FROM m ORDER BY doc_a, doc_b
    """


@query("llm_minhash_estimate", sql=_mhe_oracle_sql(), order_by=("doc_a", "doc_b"))
def llm_minhash_estimate(spark, sf_dir):
    """MinHash ESTIMATE calibration — the sketch side of the MinHash story
    made oracle-exact: per verified near-dup pair, the {P}-permutation
    matching-minima estimate (matches/{P}) next to the exact Jaccard, both
    in ppm. The permutation family is the shared md5-60bit hash salted by
    permutation index, so signatures — and therefore the estimates — are
    pure functions of the data that DuckDB reproduces bit-for-bit (the
    xxhash64 production path in llm/dedup.py stays rows-only; THIS query
    pins the estimator's error behavior with a checkable answer).

    Scale shape: signatures are one explode + {P}-way expand + (doc, perm)
    min-aggregate — the standard linear MinHash pass, here restricted by a
    semi-join to pair members (calibration needs only verified pairs; the
    full-corpus pass is minhash_near_dups). Match counting joins the
    bounded signature table to the candidate pairs on (doc, perm)."""
    from ..functions.numeric import spark_hash60

    d = load(spark, sf_dir, "documents")
    arrays = _shingle_arrays(d, "text", "doc_id", 5)  # STRING shingles: md5 parity
    from ..caching import track

    arrays = track(arrays.persist())
    pairs = track(
        prefix_filtered_pairs(arrays, min_jaccard=0.5)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
        .persist()
    )
    members = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    mh = spark_hash60("CONCAT(CAST(p AS STRING), '|', shingle)")
    sig = (
        arrays.join(F.broadcast(members), "doc")
        .select("doc", F.explode("sh").alias("shingle"))
        .select(
            "doc",
            "shingle",
            F.explode(F.sequence(F.lit(0), F.lit(_MHE_PERMS - 1))).alias("p"),
        )
        .select("doc", "p", F.expr(f"CAST({mh} AS BIGINT)").alias("h"))
        .groupBy("doc", "p")
        .agg(F.min("h").alias("mh"))
    )
    a = sig.select(F.col("doc").alias("doc_a"), F.col("p").alias("pa"), F.col("mh").alias("mha"))
    b = sig.select(F.col("doc").alias("db"), F.col("p").alias("pb"), F.col("mh").alias("mhb"))
    est = (
        pairs.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("db")) & (F.col("pa") == F.col("pb")))
        .groupBy("doc_a", "doc_b", "n_inter", "n_a", "n_b")
        .agg(
            F.sum(F.when(F.col("mha") == F.col("mhb"), 1).otherwise(0))
            .cast("long")
            .alias("matches")
        )
    )
    return est.select(
        "doc_a",
        "doc_b",
        "matches",
        F.expr(f"matches * 1000000 div {_MHE_PERMS}").alias("est_ppm"),
        F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)").alias("exact_ppm"),
        F.expr(
            f"abs(matches * 1000000 div {_MHE_PERMS}"
            f" - n_inter * 1000000 div (n_a + n_b - n_inter))"
        ).alias("abs_err_ppm"),
    )


# --- filter-cascade attrition funnel -----------------------------------------

_FUNNEL_SQL = r"""
    WITH f AS (
      SELECT doc_id,
             length(text) >= 200 AS f1,
             len(string_split_regex(trim(lower(text)), '\s+')) >= 40 AS f2,
             CAST(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS BIGINT) * 10
               <= CAST(length(text) AS BIGINT) * 3 AS f3,
             CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) * 10
               >= CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) * 3 AS f4,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS f5
      FROM documents),
    c AS (
      SELECT COUNT(*) AS n0,
             SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS n3,
             SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS n4,
             SUM(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS n5
      FROM f)
    SELECT stage, CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
           CAST((n_in - n_out) * 1000000 // GREATEST(n_in, 1) AS BIGINT) AS drop_ppm
    FROM (
      SELECT '1_min_length'   AS stage, n0 AS n_in, n1 AS n_out FROM c UNION ALL
      SELECT '2_min_words'    AS stage, n1, n2 FROM c UNION ALL
      SELECT '3_symbol_ratio' AS stage, n2, n3 FROM c UNION ALL
      SELECT '4_distinct_ratio' AS stage, n3, n4 FROM c UNION ALL
      SELECT '5_exact_dedup'  AS stage, n4, n5 FROM c)
    ORDER BY stage
"""


@query("pipeline_filter_funnel", sql=_FUNNEL_SQL, order_by=("stage",))
def pipeline_filter_funnel(spark, sf_dir):
    """Curation observability: the ATTRITION FUNNEL through an ordered
    filter cascade — per stage, how many documents entered, survived, and
    the exact drop rate in ppm. This is the table every data-pipeline
    dashboard actually shows (which gate is eating the corpus?); stages
    here are the standard cheap gates (min length, min words, symbol
    ratio, distinct-token ratio, exact dedup keep-min) with integer-exact
    thresholds (ratio >= 0.3 spelled as 10·lhs >= 3·rhs — no float
    division anywhere, so both engines agree bit-for-bit).

    Plan shape: every per-doc flag computes in ONE projection over the
    scan (codegen'd, zero Python); the whole funnel is then ONE aggregate
    of running-AND sums (map-side combinable — at 100 TB this is a single
    pass over the corpus plus one md5 window for the dedup stage, which
    is itself the established collapse exchange). Stage counts chain
    n_in(k+1) = n_out(k), so monotonicity is structural."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    f1 = F.length("text") >= 200
    f2 = F.size(toks) >= 40
    # symbol ratio: non-[a-zA-Z space] chars must be <= 30% of all chars
    f3 = (
        F.length(F.regexp_replace("text", "[a-zA-Z ]", "")).cast("long") * 10
        <= F.length("text").cast("long") * 3
    )
    f4 = (
        F.size(F.array_distinct(toks)).cast("long") * 10
        >= F.size(toks).cast("long") * 3
    )
    from pyspark.sql import Window as _W

    f5 = F.col("doc_id") == F.min("doc_id").over(
        _W.partitionBy(F.md5(F.col("text")))
    )
    flagged = d.select(
        f1.alias("f1"), f2.alias("f2"), f3.alias("f3"), f4.alias("f4"), f5.alias("f5")
    )
    c = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("f1").cast("long")).alias("n1"),
        F.sum((F.col("f1") & F.col("f2")).cast("long")).alias("n2"),
        F.sum((F.col("f1") & F.col("f2") & F.col("f3")).cast("long")).alias("n3"),
        F.sum(
            (F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4")).cast("long")
        ).alias("n4"),
        F.sum(
            (F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4") & F.col("f5")).cast(
                "long"
            )
        ).alias("n5"),
    )
    stages = [
        ("1_min_length", "n0", "n1"),
        ("2_min_words", "n1", "n2"),
        ("3_symbol_ratio", "n2", "n3"),
        ("4_distinct_ratio", "n3", "n4"),
        ("5_exact_dedup", "n4", "n5"),
    ]
    rows = None
    for name, nin, nout in stages:
        r = c.select(
            F.lit(name).alias("stage"),
            F.col(nin).alias("n_in"),
            F.col(nout).alias("n_out"),
            F.expr(f"CAST(({nin} - {nout}) * 1000000 div GREATEST({nin}, 1) AS BIGINT)").alias(
                "drop_ppm"
            ),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


# --- Manifest-table GDPR erasure: executing the delete plan -------------------
#
# profile_erasure_audit (queries/stats.py) reports the deletion-request
# blast radius; these two EXECUTE it through the copy-on-write snapshot
# machinery (sources/manifest_table.py). Same deterministic tombstone set
# (c_custkey % 37 == 0) so audit and execution tell one story.


@query(
    "s_table_erasure",
    sql="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    order_by=("o_orderstatus",),
)
def s_table_erasure(spark, sf_dir):
    """S10: copy-on-write row DELETE on a manifest-versioned parquet table
    (sources/manifest_table.py) — the table-level execution of the GDPR
    plan the r8 tier implemented for derived indexes. orders is published
    as a range-clustered snapshot (per-file key bounds in the manifest);
    the tombstoned customers' orders are erased via erase_rows: bounds
    prune the candidate files from metadata, only files actually holding a
    tombstoned row are rewritten, untouched files are referenced verbatim
    in the new manifest, and one atomic manifest replace flips visibility
    (the pre-erase snapshot stays readable for audit until vacuum).
    Verified by aggregating the SURVIVOR snapshot per order status —
    count + exact key checksum + key extrema catch a dropped, duplicated,
    or resurrected row anywhere in the rewrite. Snapshot isolation,
    file-reuse, crash-atomicity and vacuum are pinned in
    tests/test_manifest_table.py."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import (
        _versions,
        erase_rows,
        publish_snapshot,
        read_snapshot,
    )

    base = index_scratch_dir(spark, sf_dir, "mtable_orders", "orders.parquet")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    if not _versions(base):
        publish_snapshot(o, base, "o_custkey", n_files=8)
    tomb = c.filter(F.col("c_custkey") % 37 == 0).select("c_custkey")
    v = erase_rows(spark, base, tomb, "o_custkey")
    s = read_snapshot(spark, base, v)
    return (
        s.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_sum"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@query(
    "s_table_erasure_cascade",
    sql="""
    WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
    aff_o AS (SELECT o_orderkey FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM tomb))
    SELECT 'customer' AS table_name,
           COUNT(*) AS n_survivors,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM tomb)
    UNION ALL
    SELECT 'lineitem', COUNT(*), CAST(SUM(l_orderkey) AS BIGINT)
    FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM aff_o)
    UNION ALL
    SELECT 'orders', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM tomb)
    ORDER BY table_name
    """,
    order_by=("table_name",),
)
def s_table_erasure_cascade(spark, sf_dir):
    """S10b: the full TRANSITIVE deletion-request execution — exactly the
    three-table blast radius profile_erasure_audit reports, now enforced:
    tombstoned customers are erased from customer, their orders from
    orders, and those orders' line items from lineitem (the derived
    tombstone set for the child table is computed from the PRE-erase
    orders snapshot, the order a real erasure job must use). Each table is
    an independent manifest-versioned dataset; each erase is its own
    atomic snapshot commit, so a crash between tables leaves a consistent
    prefix of the cascade plus intact pre-erase snapshots — re-issuing the
    request is idempotent (erase_rows returns the current version when
    nothing matches). Verified per table by survivor count + exact key
    checksum."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import (
        _versions,
        erase_rows,
        publish_snapshot,
        read_snapshot,
    )

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    tomb_c = c.filter(F.col("c_custkey") % 37 == 0).select("c_custkey")

    bases = {}
    for name, df, key in (
        ("customer", c, "c_custkey"),
        ("orders", o, "o_custkey"),
        ("lineitem", l, "l_orderkey"),
    ):
        base = index_scratch_dir(
            spark, sf_dir, f"mtable_cascade_{name}", f"{name}.parquet"
        )
        if not _versions(base):
            publish_snapshot(df, base, key, n_files=8)
        bases[name] = base

    # derived child tombstones from the PRE-erase orders snapshot (v=1 is
    # immutable, so recomputing on a re-run sees the same order set)
    aff_orders = (
        read_snapshot(spark, bases["orders"], 1)
        .join(F.broadcast(tomb_c), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("o_orderkey")
    )

    erase_rows(spark, bases["customer"], tomb_c, "c_custkey")
    erase_rows(spark, bases["orders"], tomb_c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey")
    erase_rows(spark, bases["lineitem"], aff_orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey")

    out = None
    for name, key in (
        ("customer", "c_custkey"),
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
    ):
        r = (
            read_snapshot(spark, bases[name])
            .agg(
                F.count(F.lit(1)).alias("n_survivors"),
                F.sum(key).alias("key_sum"),
            )
            .select(F.lit(name).alias("table_name"), "n_survivors", "key_sum")
        )
        out = r if out is None else out.unionByName(r)
    return out


@query(
    "s_table_merge_upsert",
    sql="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             'U-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 7),
    ins AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, 'I-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 13),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins)
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    order_by=("o_orderpriority",),
)
def s_table_merge_upsert(spark, sf_dir):
    """S10c: atomic MERGE / upsert into the manifest-versioned table
    (sources/manifest_table.py::merge_rows) — rows of the source REPLACE
    same-key rows (an update wave re-prioritizing every 100th order) and
    new keys INSERT (a late-arriving batch with shifted ids), committed as
    ONE snapshot: the delete half reuses erase_rows' copy-on-write plan
    (bounds-pruned candidates, untouched files referenced verbatim), the
    insert half is one staged write, and a single manifest replace flips
    both into visibility together — no reader can ever observe the delete
    without the insert. The storage-level transactional form of
    operators/merge.py::merge_upsert. Verified by the survivor aggregate
    per priority (the merged rows land in their own 'U-MERGED'/'I-MERGED'
    groups with exact key checksums)."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import (
        _versions,
        merge_rows,
        publish_snapshot,
        read_snapshot,
    )

    o = load(spark, sf_dir, "orders")
    base = index_scratch_dir(spark, sf_dir, "mtable_merge_orders", "orders.parquet")
    if not _versions(base):
        publish_snapshot(o, base, "o_orderkey", n_files=8)
    upd = o.filter(F.col("o_orderkey") % 100 == 7).withColumn(
        "o_orderpriority", F.lit("U-MERGED")
    )
    ins = (
        o.filter(F.col("o_orderkey") % 100 == 13)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1000000000))
        .withColumn("o_orderpriority", F.lit("I-MERGED"))
    )
    merge_rows(spark, base, upd.unionByName(ins))
    return (
        read_snapshot(spark, base)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
        )
    )


def _cdf_orders_base(spark, sf_dir):
    """Build (once per corpus+session) the DML-exercised orders table the
    CDF and HISTORY queries read: v1 publish -> v2 merge (update wave +
    late-key inserts) -> v3 erase (tombstoned customers' orders, resolved
    to ORDER keys because pruning metadata lives on the published key)."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import (
        _versions,
        erase_rows,
        merge_rows,
        publish_snapshot,
        read_snapshot,
    )

    import shutil

    o = load(spark, sf_dir, "orders")
    base = index_scratch_dir(spark, sf_dir, "mtable_cdf_orders", "orders.parquet")
    # multi-commit build: the bare _versions guard would mistake a torn
    # build (crash between commits) for a complete one; the done marker
    # is written only after the last commit, and a markerless partial
    # table is rebuilt from scratch
    done = base + ".done"
    if _versions(base) and not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
    if not _versions(base):
        publish_snapshot(o, base, "o_orderkey", n_files=8)
        upd = o.filter(F.col("o_orderkey") % 100 == 7).withColumn(
            "o_orderpriority", F.lit("U-MERGED")
        )
        ins = (
            o.filter(F.col("o_orderkey") % 100 == 13)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1000000000))
            .withColumn("o_orderpriority", F.lit("I-MERGED"))
        )
        merge_rows(spark, base, upd.unionByName(ins))
        tomb_keys = (
            read_snapshot(spark, base)
            .filter(F.col("o_custkey") % 37 == 0)
            .select("o_orderkey")
        )
        erase_rows(spark, base, tomb_keys, "o_orderkey")
        open(done, "w").close()
    return base


@query(
    "s_table_changes",
    sql="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             'U-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 7),
    ins AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, 'I-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 13),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins),
    final AS (SELECT * FROM merged WHERE o_custkey % 37 <> 0),
    ins_rows AS (SELECT * FROM final EXCEPT ALL SELECT * FROM orders),
    del_rows AS (SELECT * FROM orders EXCEPT ALL SELECT * FROM final)
    SELECT * FROM (
      SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
             COUNT(DISTINCT o_orderkey) AS n_keys
      FROM del_rows
      UNION ALL
      SELECT 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             CAST(SUM(o_custkey) AS BIGINT), COUNT(DISTINCT o_orderkey)
      FROM ins_rows)
    ORDER BY change_type
    """,
    order_by=("change_type",),
)
def s_table_changes(spark, sf_dir):
    """S10e: CHANGE DATA FEED over the manifest-versioned table
    (sources/manifest_table.py::read_changes) — the downstream-incremental
    primitive: a consumer that materialized snapshot v1 applies exactly
    the emitted delete/insert rows to reach the head snapshot instead of
    re-reading the table. The table takes one MERGE wave (every 100th
    order re-prioritized = delete+insert pairs; a late batch of shifted
    keys = pure inserts) and one GDPR erase (tombstoned customers' orders,
    resolved to ORDER keys from the pre-erase snapshot because pruning
    metadata lives on the published key); the feed across the whole span
    is computed from the manifests' FILE set difference — only rewritten
    files are opened, survivors copied by a COW rewrite cancel exactly
    under EXCEPT ALL (multiplicity included). Verified by per-change-type
    row counts + exact key checksums against a relational replay of the
    same DML in DuckDB."""
    from ..sources.manifest_table import read_changes

    base = _cdf_orders_base(spark, sf_dir)
    return (
        read_changes(spark, base, 1)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
            F.countDistinct("o_orderkey").alias("n_keys"),
        )
    )


@query(
    "s_table_point_lookup",
    sql="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 997 = 0
    ORDER BY o_orderkey
    """,
    order_by=("o_orderkey",),
)
def s_table_point_lookup(spark, sf_dir):
    """S10f: bloom-pruned POINT LOOKUP (sources/manifest_table.py::
    lookup_rows). The table is published HASH-distributed — every file's
    [min, max] key envelope spans nearly the whole domain, the layout on
    which range-bound pruning fundamentally cannot help (an
    append-fragmented streaming table looks the same) — so file pruning
    falls entirely to the PER-FILE KEY BLOOM each manifest entry carries
    (~10 bits/key, k=3, pure-JVM xxhash64 probe against the broadcast
    stats relation). A false positive costs one extra file read, never a
    wrong row: candidates are still semi-joined on the exact key set.
    File-count pruning (and the bounds-only fallback for pre-bloom
    manifests) is pinned in tests/test_manifest_table.py; this query
    certifies end-to-end value exactness of the pruned read."""
    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import (
        _versions,
        lookup_rows,
        publish_snapshot,
    )

    o = load(spark, sf_dir, "orders")
    base = index_scratch_dir(spark, sf_dir, "mtable_lookup_orders", "orders.parquet")
    if not _versions(base):
        publish_snapshot(
            o.repartition(8, F.col("o_custkey")), base, "o_orderkey"
        )
    keys = o.filter(F.col("o_orderkey") % 997 == 0).select("o_orderkey")
    return (
        lookup_rows(spark, base, keys)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


def _evolved_orders_base(spark, sf_dir):
    """Build (once per corpus+session, done-marker-atomic) the
    schema-evolved orders table the evolution and connector queries read:
    publish (o_orderkey, o_custkey, o_totalprice) -> ADD o_channel default
    'LEGACY' -> append WEB wave (+2e9 keys) -> DROP o_totalprice -> re-ADD
    o_totalprice default 0.0 -> append APP wave (+4e9 keys, real prices)."""
    import shutil

    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import (
        _versions,
        append_rows,
        evolve_schema,
        publish_snapshot,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    base = index_scratch_dir(spark, sf_dir, "mtable_evolve_orders", "orders.parquet")
    done = base + ".done"
    if _versions(base) and not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
    if not _versions(base):
        publish_snapshot(o, base, "o_orderkey", n_files=8)
        evolve_schema(base, add=[("o_channel", "string", "LEGACY")])
        web = (
            o.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(2000000000))
            .withColumn("o_channel", F.lit("WEB"))
        )
        append_rows(web, base, epoch="web")
        evolve_schema(base, drop=["o_totalprice"])
        evolve_schema(base, add=[("o_totalprice", "double", 0.0)])
        app = (
            o.filter(F.col("o_orderkey") % 5 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(4000000000))
            .withColumn("o_channel", F.lit("APP"))
        )
        append_rows(app, base, epoch="app")
        open(done, "w").close()
    return base


@query(
    "s_table_schema_evolution",
    sql="""
    WITH legacy AS (
      SELECT o_orderkey, o_custkey, 'LEGACY' AS o_channel, 0.0 AS price
      FROM orders),
    web AS (
      SELECT o_orderkey + 2000000000, o_custkey, 'WEB', 0.0
      FROM orders WHERE o_orderkey % 3 = 0),
    app AS (
      SELECT o_orderkey + 4000000000, o_custkey, 'APP', o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0),
    allr AS (SELECT * FROM legacy
             UNION ALL SELECT * FROM web
             UNION ALL SELECT * FROM app)
    SELECT o_channel,
           COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CASE WHEN price <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_priced,
           CAST(SUM(CAST(CAST(price AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS price_cents
    FROM allr GROUP BY o_channel ORDER BY o_channel
    """,
    order_by=("o_channel",),
)
def s_table_schema_evolution(spark, sf_dir):
    """S10g: SCHEMA EVOLUTION on the manifest table
    (sources/manifest_table.py::evolve_schema) — ADD and DROP are
    METADATA-ONLY commits (zero bytes rewritten, O(1) in table size, the
    property a 100 TB ALTER TABLE needs). The timeline: publish orders ->
    ADD o_channel default 'LEGACY' (all existing rows show the default) ->
    append a 'WEB' wave under the widened schema -> DROP o_totalprice ->
    re-ADD o_totalprice default 0.0 -> append an 'APP' wave carrying real
    prices. Readers reconcile per write-generation: a column comes from a
    file's bytes only when the file's generation >= the column's `since`,
    else the default — so the re-added price column shows 0.0 for every
    pre-re-add row (LEGACY and WEB waves) and real values only for APP:
    the drop/re-add NON-RESURRECTION guarantee real formats get from field
    IDs, certified here by the per-channel priced-row counts and exact
    integer-cent checksums against a relational replay. Metadata-only-ness
    (identical file list across the evolve commits) and rewrite
    materialization are pinned in tests/test_manifest_table.py."""
    from ..functions.numeric import money_units
    from ..sources.manifest_table import read_snapshot

    base = _evolved_orders_base(spark, sf_dir)
    return (
        read_snapshot(spark, base)
        .groupBy("o_channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum(
                F.when(F.col("o_totalprice") != 0, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_priced"),
            F.sum(money_units("o_totalprice")).alias("price_cents"),
        )
    )


@query(
    "s_table_zorder_scan",
    sql="""
    WITH b AS (
      SELECT MAX(user_id) // 5 AS u_lo, (2 * MAX(user_id)) // 5 AS u_hi,
             MAX(event_id) // 5 AS e_lo, (2 * MAX(event_id)) // 5 AS e_hi
      FROM events)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS user_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events, b
    WHERE user_id BETWEEN u_lo AND u_hi
      AND event_id BETWEEN e_lo AND e_hi
    """,
)
def s_table_zorder_scan(spark, sf_dir):
    """S10h: Z-ORDER clustered publish + multi-column DATA SKIPPING
    (sources/manifest_table.py::publish_snapshot(stats_cols, cluster_expr)
    + scan_pruned, operators/zorder.py::zorder_key). events is published
    clustered on the Morton interleave of (user_id, event_id) with
    per-file stats envelopes recorded for BOTH columns; each file then
    owns a contiguous z-range — a bounded rectangle union in (user, id)
    space — so a 2-D box predicate prunes files on EITHER dimension from
    manifest metadata alone (a single-column range clustering serves only
    its leading column; Parquet row-group skipping inside the kept files
    stacks on top). Skipping is containment-based and therefore sound:
    the exact predicate re-applies to the surviving rows, certified
    value-exact against the plain filter SQL. Pruning effectiveness on
    both single-dimension probes is pinned in
    tests/test_manifest_table.py."""
    from ..catalog import index_scratch_dir
    from ..operators.zorder import zorder_key
    from ..sources.manifest_table import (
        _versions,
        publish_snapshot,
        scan_pruned,
    )

    e = load(spark, sf_dir, "events")
    base = index_scratch_dir(spark, sf_dir, "mtable_zorder_events", "events.parquet")
    mu, me = e.agg(F.max("user_id"), F.max("event_id")).first()
    if not _versions(base):
        # NORMALIZE both dimensions to a common 13-bit width before the
        # interleave: raw domains of different magnitude would let the
        # wider one's high bits dominate the curve and the narrow column
        # would get no locality (measured: zero pruning without this —
        # the same reason real OPTIMIZE ZORDER range-partitions each
        # dimension first)
        publish_snapshot(
            e,
            base,
            "event_id",
            n_files=8,
            stats_cols=["user_id"],
            cluster_expr=zorder_key(
                (F.col("user_id") * 8192 / (mu + 1)).cast("long"),
                (F.col("event_id") * 8192 / (me + 1)).cast("long"),
                bits=13,
            ),
        )
    u_lo, u_hi = mu // 5, (2 * mu) // 5
    e_lo, e_hi = me // 5, (2 * me) // 5
    pruned = scan_pruned(
        spark, base, {"user_id": (u_lo, u_hi), "event_id": (e_lo, e_hi)}
    )
    return pruned.filter(
        F.col("user_id").between(u_lo, u_hi)
        & F.col("event_id").between(e_lo, e_hi)
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        F.sum("user_id").alias("user_sum"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "s_table_history",
    sql="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             'U-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 7),
    ins AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, 'I-MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 13),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins),
    final AS (SELECT * FROM merged WHERE o_custkey % 37 <> 0)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS version, 'publish' AS op,
             (SELECT COUNT(*) FROM orders) AS n_rows
      UNION ALL
      SELECT 2, 'merge', (SELECT COUNT(*) FROM merged)
      UNION ALL
      SELECT 3, 'erase', (SELECT COUNT(*) FROM final))
    ORDER BY version
    """,
    order_by=("version",),
)
def s_table_history(spark, sf_dir):
    """S10i: DESCRIBE HISTORY — the table's audit trail
    (sources/manifest_table.py::table_history): one row per retained
    snapshot with the operation kind every commit is stamped with
    (publish/append/erase/merge/compact/evolve), its wall-clock, and
    row/file counts, all from manifest METADATA (no data file opened).
    This is the compliance surface a governed lake queries — when was the
    deletion request executed, what did each commit change — and the
    index timestamp time-travel resolves against
    (version_as_of/read_snapshot; pinned in tests). The oracle replays
    the same publish -> merge -> erase DML relationally and checks the
    per-version operation labels and row counts exactly (commit
    wall-clocks are real and therefore excluded from the compared
    columns)."""
    from ..sources.manifest_table import table_history

    base = _cdf_orders_base(spark, sf_dir)
    return (
        table_history(spark, base)
        .select("version", "op", "n_rows")
    )


@query(
    "s_table_connector_read",
    sql="""
    WITH web AS (
      SELECT o_orderkey + 2000000000 AS o_orderkey, o_custkey,
             'WEB' AS o_channel, 0.0 AS price
      FROM orders WHERE o_orderkey % 3 = 0),
    app AS (
      SELECT o_orderkey + 4000000000, o_custkey, 'APP', o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0),
    waves AS (SELECT * FROM web UNION ALL SELECT * FROM app)
    SELECT o_channel,
           COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(price AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS price_cents
    FROM waves GROUP BY o_channel ORDER BY o_channel
    """,
    order_by=("o_channel",),
)
def s_table_connector_read(spark, sf_dir):
    """S10j: the SPARK-NATIVE READ SURFACE for the manifest table — a
    Python DataSource (`spark.read.format("manifest_table")`,
    sources/table_connector.py) with snapshot resolution options
    (versionAsOf / timestampAsOf / tag), one InputPartition per data
    file, PUSHED-FILTER file pruning (key bounds + stats envelopes from
    manifest metadata — the key-range predicate here prunes the whole
    original-wave file set before any task is scheduled; pruning is
    containment-only, every filter is re-applied by Spark, so skipping
    can never change values), and per-file GENERATION RECONCILIATION
    (the table is the schema-EVOLVED orders timeline, so the connector
    must apply the bytes-iff-generation>=since rule — the re-added price
    column reads 0.0 for the WEB wave and real values for APP).
    Value-exact against the relational replay restricted to the pushed
    key range. Partition-pruning effectiveness, time travel, and type
    round-trips are pinned in tests/test_table_connector.py."""
    from ..functions.numeric import money_units
    from ..sources.table_connector import register

    base = _evolved_orders_base(spark, sf_dir)
    register(spark)
    r = (
        spark.read.format("manifest_table")
        .option("path", base)
        .load()
        .filter(F.col("o_orderkey") >= 2000000000)
    )
    return (
        r.groupBy("o_channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum(money_units("o_totalprice")).alias("price_cents"),
        )
    )


def _native_write_base(spark, sf_dir):
    """Build (once per corpus+session) a manifest table entirely through
    the NATIVE WRITE connector: wave-1 CREATE, wave-2 epoch-tagged append
    REPLAYED to exercise exactly-once, wave-3 append with rewritten
    priority. Done-marker guards the multi-commit build against torn
    states (same pattern as _cdf_orders_base)."""
    import shutil

    from ..catalog import index_scratch_dir
    from ..sources.manifest_table import _versions
    from ..sources.table_connector import register

    o = load(spark, sf_dir, "orders")
    base = index_scratch_dir(spark, sf_dir, "mtable_native_write", "orders.parquet")
    done = base + ".done"
    if _versions(base) and not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
    if not _versions(base):
        register(spark)
        w1 = o.filter(F.col("o_orderkey") % 4 == 1).repartition(4)
        (
            w1.write.format("manifest_table")
            .option("key", "o_orderkey")
            .option("statscols", "o_totalprice")
            .mode("append")
            .save(base)
        )
        w2 = o.filter(F.col("o_orderkey") % 4 == 2)
        for _ in range(2):  # second save REPLAYS epoch w2 -> must no-op
            (
                w2.write.format("manifest_table")
                .option("epoch", "w2")
                .mode("append")
                .save(base)
            )
        w3 = o.filter(F.col("o_orderkey") % 4 == 3).withColumn(
            "o_orderpriority", F.lit("NATIVE-W3")
        )
        w3.write.format("manifest_table").option("epoch", "w3").mode("append").save(base)
        open(done, "w").close()
    return base


@query(
    "s_table_connector_write",
    sql="""
    WITH w AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 4 = 3 THEN 'NATIVE-W3'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 4 IN (1, 2, 3))
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS price_cents
    FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    order_by=("o_orderpriority",),
)
def s_table_connector_write(spark, sf_dir):
    """S10k: the SPARK-NATIVE WRITE SURFACE for the manifest table —
    ``df.write.format("manifest_table")`` (sources/table_connector.py
    _ManifestWriter): a Python DataSourceArrowWriter whose tasks stage
    parquet parts and compute entry metadata (rows, key bounds, declared
    stats envelopes, per-file bloom via the spec-pinned pure-Python
    XXH64 — bit-identical to the SQL build, pinned in
    tests/test_table_connector.py) at WRITE time, and whose driver commit
    CAS-publishes the next manifest version. The table here is built
    create -> epoch append -> REPLAYED epoch append (must no-op:
    exactly-once) -> second append, then read back through the read
    connector and checked value-exact against the relational replay where
    each wave appears exactly once. Two-phase-commit abort and bloom
    parity are pinned in tests/test_table_connector.py."""
    from ..functions.numeric import money_units
    from ..sources.table_connector import register

    base = _native_write_base(spark, sf_dir)
    register(spark)
    r = spark.read.format("manifest_table").option("path", base).load()
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("o_custkey").alias("cust_sum"),
            F.sum(money_units("o_totalprice")).alias("price_cents"),
        )
    )
