"""Training-data assembly: vocabulary build + token-id encoding,
deterministic split assignment, mixture sampling, sequence packing.

These are the steps between a filtered/deduped corpus and a pretraining
dataloader. Everything deterministic by construction: splits and mixtures
key on content hashes (stable on any cluster, any engine), the vocabulary
ranks ties lexicographically, and packing shards greedily by doc-id order
within hash buckets.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.text import ws_tokens
from ..llm.packing import pack_sequences
from ..caching import track
from .registry import query

_SQL_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"

#: Vocab rows above which the encode join falls back from broadcast to a
#: shuffle hash join: a multi-million-type vocabulary is ~100 MB+ of
#: (token, id) pairs — past every-executor-copy territory (VERDICT r9
#: task 5). At or under the threshold the broadcast skips shuffling the
#: token stream entirely. tests/test_plans.py pins both plan shapes.
VOCAB_BROADCAST_MAX_ROWS = 2_000_000


@query(
    "train_vocab_encode",
    sql=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(generate_series(1, len({_SQL_TOKENS}))) - 1 AS pos,
             unnest({_SQL_TOKENS}) AS tok
      FROM documents),
    vocab AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) - 1 AS id
      FROM toks GROUP BY tok)
    SELECT t.doc_id, to_json(list(v.id ORDER BY t.pos)) AS ids
    FROM toks t JOIN vocab v USING (tok)
    WHERE t.doc_id % 20 = 0
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
    order_by=("doc_id",),
)
def train_vocab_encode(spark, sf_dir):
    """Vocabulary build + encoding: rank tokens by corpus frequency (ties
    lexicographic → deterministic ids), then encode a document sample as
    id sequences. Vocab ids come from range-partitioned contiguous-id
    assignment (operators/rowids.py) on the total order (-cnt, tok) — a
    corpus-scale vocabulary (millions of types) never funnels through the
    one-task row_number window. The encode join broadcasts the vocab only
    while it is genuinely broadcast-sized (the persisted aggregate's row
    count is known before planning; above VOCAB_BROADCAST_MAX_ROWS it
    becomes a shuffle join — correctness identical, no executor-memory
    cliff). The id sequence is emitted as JSON text (driver canon cannot
    hash list cells; see aggregates.agg_collect_set)."""
    from ..operators.rowids import assign_contiguous_ids

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode_outer(ws_tokens("text")).alias("pos", "tok"))
    # persist: assign_contiguous_ids range-partitions its input, and the
    # RangePartitioner's sampling job plus the shuffle-map stage would each
    # recompute the full tokenize+groupBy lineage from scratch (measured
    # ~2x wall on this query). The aggregate is |vocab types| rows — cheap
    # to cache; freed by the harness clearCache.
    counts = track(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_negcnt", -F.col("cnt"))
        .persist()
    )
    # The count materializes the persisted aggregate the id-assign reuses,
    # so the size probe is not an extra pass over the corpus — and the
    # known count rides into assign_contiguous_ids (r10), skipping its
    # internal sizing job.
    n_types = counts.count()
    vocab = assign_contiguous_ids(
        counts, ["_negcnt", "tok"], id_name="id", n_rows=n_types
    ).select("tok", F.col("id").cast("int").alias("id"))
    if n_types <= VOCAB_BROADCAST_MAX_ROWS:
        vocab = F.broadcast(vocab)
    sample = toks.filter(F.col("doc_id") % 20 == 0)
    encoded = (
        sample.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.to_json(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))), lambda s: s["id"]
                )
            ).alias("ids")
        )
    )
    return encoded


@query(
    "train_split_assign",
    sql="""
    SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '0c'
                THEN 'val' ELSE 'train' END AS split,
           lang, COUNT(*) AS n
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("split", "lang"),
)
def train_split_assign(spark, sf_dir):
    """Deterministic train/validation assignment by content-hash bucket
    (~5% val): the same document lands in the same split on any engine,
    any partitioning, any rerun — row-position or RNG splits do not."""
    d = load(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "0c", "val"
    ).otherwise("train")
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "train_mixture_sample",
    sql="""
    SELECT lang, COUNT(*) AS n_kept
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
          CASE lang WHEN 'en' THEN 'bf' WHEN 'zh' THEN '7f' ELSE '3f' END
    GROUP BY lang ORDER BY lang
    """,
    order_by=("lang",),
)
def train_mixture_sample(spark, sf_dir):
    """Mixture reweighting: per-language keep rates (en 75%, zh 50%, rest
    25%) applied via the same deterministic hash predicate as the split —
    the upsample/downsample step that sets a pretraining data mixture."""
    d = load(spark, sf_dir, "documents")
    threshold = (
        F.when(F.col("lang") == "en", "bf").when(F.col("lang") == "zh", "7f").otherwise("3f")
    )
    return (
        d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= threshold)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@query(
    "train_pack_sequences",
    sql="""
    WITH RECURSIVE sized AS (
      SELECT doc_id,
             least(len(string_split_regex(trim(lower(text)), '\\s+')), 512) AS n,
             CAST(doc_id % 32 AS INTEGER) AS bucket,
             row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
      FROM documents),
    step(bucket, rn, used, pid, ndocs) AS (
      SELECT bucket, CAST(1 AS BIGINT), n, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
      FROM sized WHERE rn = 1
      UNION ALL
      SELECT s.bucket, s.rn,
             CASE WHEN st.used + s.n > 512 THEN s.n ELSE st.used + s.n END,
             CASE WHEN st.used + s.n > 512 THEN st.pid + 1 ELSE st.pid END,
             CASE WHEN st.used + s.n > 512 THEN CAST(1 AS BIGINT) ELSE st.ndocs + 1 END
      FROM step st JOIN sized s ON s.bucket = st.bucket AND s.rn = st.rn + 1)
    SELECT bucket, pid AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(used) AS BIGINT) AS total_tokens
    FROM step GROUP BY bucket, pid ORDER BY bucket, pack_id
    """,
    order_by=("bucket", "pack_id"),
)
def train_pack_sequences(spark, sf_dir):
    """Sequence packing (llm/packing.py): greedy first-fit into 512-token
    training sequences, sharded over hash buckets for parallelism.

    Oracle upgrade (r3, was rows-only): greedy sequential packing IS
    SQL-expressible — a lock-step recursive CTE advances every bucket one
    document per recursion level, carrying (used, pack, ndocs) state, so
    recursion depth is max-docs-per-bucket, not corpus size. Within a pack
    the running `used` is non-decreasing, so MAX(used) per (bucket, pack)
    is the pack's total. Greedy start-new-pack rule: `used + n > 512` with
    ndocs >= 1 always true after the seed row (every pack holds >= 1 doc
    because singles are truncated to <= 512)."""
    d = load(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=512, buckets=32)


@query(
    "train_pii_scrub",
    sql="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\s.-]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed,
           length(text)
             - length(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                     '', 'g')) AS n_email_chars
    FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def train_pii_scrub(spark, sf_dir):
    """PII scrubbing: mask email addresses and phone-number-shaped spans
    before training (regex parity with the oracle's 'g'-flagged
    replacements). Pure codegen'd regexp_replace — one projection, no
    shuffle, linear in corpus bytes."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\s.-]{7,}[0-9]"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (F.length("text") - F.length(F.regexp_replace("text", email, ""))).alias("n_email_chars"),
    )


@query(
    "train_row_ids",
    sql="""
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def train_row_ids(spark, sf_dir):
    """Contiguous sample ids 0..n-1 in doc_id order WITHOUT the
    single-partition window the naive row_number needs: range-partition +
    per-partition offsets + local index (operators/rowids.py). The oracle
    is the naive window — same ids, but the engine path scales."""
    from ..operators.rowids import assign_contiguous_ids

    d = load(spark, sf_dir, "documents").select("doc_id")
    return assign_contiguous_ids(d, "doc_id")


from ..oracles.text_refs import bpe_merges_oracle


@query("train_bpe_merges", sql=bpe_merges_oracle)
def train_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (llm/bpe.py): 8 merge rounds on the corpus
    word-frequency table. One corpus-sized aggregate, then every round is
    vocabulary-sized. ORACLED (r10, was rows-only): the gate compares
    merge choices AND pair counts against a from-scratch pure-Python
    trainer over the same corpus (oracles/text_refs.py — the reference
    tests/test_bpe.py also pins), emitted as a VALUES oracle. Returned as
    (rank, sym_a, sym_b, cnt)."""
    from ..llm.bpe import train_bpe

    merges = train_bpe(load(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, sym_a string, sym_b string, cnt long",
    )


@query(
    "train_shuffle_order",
    sql="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) - 1 AS global_pos,
           (CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) - 1) % 4 AS shard
    FROM documents ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def train_shuffle_order(spark, sf_dir):
    """Deterministic global shuffle for training-data ordering: rank every
    doc by a content hash (md5 of its id) — an engine- and
    partitioning-independent permutation, unlike any seeded
    ``df.orderBy(rand())``. Round-robin sharding off the global position
    spreads consecutive hash-ranked docs across output shards. The ranking
    runs DISTRIBUTED via range-partition + per-partition offsets
    (operators/rowids.py) on the total order (md5, doc_id) — no
    unpartitioned row_number window, no single-task sort."""
    from ..operators.rowids import assign_contiguous_ids

    d = load(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h"))
    ranked = assign_contiguous_ids(keyed, ["_h", "doc_id"], id_name="global_pos")
    return ranked.select("doc_id", "global_pos", (F.col("global_pos") % 4).alias("shard"))


@query(
    "train_seq_length_stats",
    sql="""
    WITH t AS (
      SELECT lang, len(string_split(trim(text), ' ')) AS n_toks FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           MIN(n_toks) AS min_toks, MAX(n_toks) AS max_toks,
           quantile_cont(n_toks, 0.5) AS p50_toks,
           quantile_cont(n_toks, 0.9) AS p90_toks
    FROM t GROUP BY lang ORDER BY lang
    """,
    order_by=("lang",),
)
def train_seq_length_stats(spark, sf_dir):
    """Sequence-length distribution per language — the diagnostic that
    sizes packing budgets (llm/packing.py) and context-window chunking.
    Exact interpolated percentiles over integer token counts (Spark
    `percentile` == DuckDB `quantile_cont`); whitespace token counts are
    computed in-row."""
    d = load(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.trim("text"), " "))
    return (
        d.select("lang", n_toks.alias("n_toks"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_toks").alias("min_toks"),
            F.max("n_toks").alias("max_toks"),
            F.percentile("n_toks", 0.5).alias("p50_toks"),
            F.percentile("n_toks", 0.9).alias("p90_toks"),
        )
    )


@query(
    "train_length_histogram",
    sql="""
    SELECT lang,
           CAST(CASE WHEN n_chars >= 4000 THEN 9
                     ELSE CAST(FLOOR(n_chars / 500.0) AS INTEGER) + 1 END AS INTEGER) AS bucket,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("lang", "bucket"),
)
def train_length_histogram(spark, sf_dir):
    """Per-language document-length histogram (equi-width buckets over
    n_chars) — the shape every data card plots; one hash aggregate. Spark
    side uses width_bucket(0, 4000, 8); DuckDB has no width_bucket, so the
    oracle spells out the same floor(v/500)+1 with a 4000+ overflow bucket
    (n_chars ≥ 0 always, so the underflow bucket is provably empty; the
    500.0 step divides exactly)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.width_bucket("n_chars", F.lit(0), F.lit(4000), F.lit(8)).cast("int").alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "train_char_coverage",
    sql="""
    WITH chars AS (
      SELECT unnest(string_split_regex(lower(text), '')) AS ch FROM documents),
    freq AS (
      SELECT ch, COUNT(*) AS n FROM chars WHERE ch <> '' GROUP BY ch),
    ranked AS (
      SELECT ch, n,
             row_number() OVER (ORDER BY n DESC, ch) AS rnk,
             SUM(n) OVER (ORDER BY n DESC, ch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n) OVER () AS total
      FROM freq)
    SELECT CAST(rnk AS BIGINT) AS rnk, ch, n,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
    FROM ranked WHERE rnk <= 20 ORDER BY rnk
    """,
    order_by=("rnk",),
)
def train_char_coverage(spark, sf_dir):
    """Character-coverage table for tokenizer training (the sentencepiece
    `character_coverage` decision): top-20 characters by frequency with
    cumulative corpus coverage. Chars are exploded from lowercased text;
    coverage is an exact-integer cumsum divided once at the end. The
    explode is the scale cost — at 100 TB, per-doc in-row char histograms
    (map aggregate) then one merge would replace the row blowup."""
    d = load(spark, sf_dir, "documents")
    chars = (
        d.select(F.explode(F.split(F.lower("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    freq = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("n"))
    w_rank = Window.orderBy(F.desc("n"), "ch")
    ranked = freq.select(
        "ch",
        "n",
        F.row_number().over(w_rank).cast("long").alias("rnk"),
        F.sum("n").over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    return (
        ranked.filter(F.col("rnk") <= 20)
        .select("rnk", "ch", "n", (F.col("cum").cast("double") / F.col("total").cast("double")).alias("coverage"))
    )


@query(
    "train_temperature_mix",
    sql="""
    WITH per_lang AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
    scaled AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_q
      FROM per_lang),
    tot AS (SELECT CAST(SUM(s_q) AS BIGINT) AS t FROM scaled)
    SELECT lang, n_docs,
           CAST(floor(CAST(s_q AS DOUBLE) * 1000000.0 / CAST(t AS DOUBLE)) AS BIGINT)
             AS weight_ppm,
           CAST(floor(CAST(s_q AS DOUBLE) * 1000000.0 / CAST(t AS DOUBLE))
                  * CAST((SELECT SUM(n_docs) FROM per_lang) AS DOUBLE)
                  / (1000000.0 * n_docs) >= 1.0 AS BOOLEAN) AS upsampled
    FROM scaled CROSS JOIN tot
    ORDER BY lang
    """,
    order_by=("lang",),
)
def train_temperature_mix(spark, sf_dir):
    """Temperature-based mixture weights (alpha = 0.5): sampling weight per
    language ∝ n^alpha — the standard multilingual rebalancing (smaller
    languages upsampled relative to their share). Float discipline: sqrt
    IS correctly-rounded IEEE on both engines (unlike pow/log), so n^0.5
    is the one exactly-portable temperature; each per-language sqrt is
    quantized to an integer BEFORE the cross-row normalization sum, and
    the final weight is one IEEE division. `upsampled` flags languages
    whose mixture share exceeds their natural share. Two tiny hash
    aggregates over |languages| keys; nothing corpus-wide but the first
    count."""
    d = load(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = per_lang.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000.0).alias("s_q"),
    )
    tot = scaled.agg(
        F.sum("s_q").alias("t"), F.sum("n_docs").alias("n_total")
    )
    w = F.floor(F.col("s_q").cast("double") * 1000000.0 / F.col("t").cast("double"))
    return (
        scaled.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            w.alias("weight_ppm"),
            (
                w * F.col("n_total").cast("double") / (1000000.0 * F.col("n_docs")) >= 1.0
            ).alias("upsampled"),
        )
    )


@query(
    "train_weighted_sample",
    sql="""
    WITH w AS (
      SELECT doc_id, lang,
             least(943718, greatest(104858, (n_chars * 1048576) // 500)) AS w_q
      FROM documents),
    k AS (
      SELECT lang, w_q,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 5)
               < lpad(lower(to_hex(w_q)), 5, '0') AS keep
      FROM w)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(w_q) AS DOUBLE) / 1048576.0 AS expected_kept
    FROM k GROUP BY lang ORDER BY lang
    """,
    order_by=("lang",),
)
def train_weighted_sample(spark, sf_dir):
    """Per-ROW weighted Bernoulli sampling — keep each document with
    probability proportional to a quality proxy (length, clamped to
    [0.1, 0.9]) — the quality-weighted corpus subsampling step, where
    mixture_sample's per-CLASS rates don't fit. Fully deterministic and
    engine-portable: the keep probability is an exact integer on the 2^-20
    grid (integer div, no float), the uniform draw is the first 5 hex
    chars of md5(doc_id), and the comparison happens in HEX-STRING space
    (zero-padded) — no pow/ln/float anywhere, so the same doc keeps or
    drops on any engine, partitioning, or rerun. expected_kept (Σw/2^20)
    rides along as the sampling-calibration check. One codegen projection
    + a per-lang aggregate."""
    d = load(spark, sf_dir, "documents")
    w_q = F.least(
        F.lit(943718),
        F.greatest(F.lit(104858), F.expr("(n_chars * 1048576) div 500")),
    )
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 5) < F.lpad(
        F.lower(F.hex(F.col("w_q"))), 5, "0"
    )
    return (
        d.select("doc_id", "lang", w_q.alias("w_q"))
        .select("lang", "w_q", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            (F.sum("w_q").cast("double") / 1048576.0).alias("expected_kept"),
        )
    )


# --- Curriculum ordering ------------------------------------------------------

_CURR_PHASES = 4

_CURR_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         206835
           - (1015 * greatest(len(regexp_extract_all(trim(text), '\\S+')), 1)
                   // greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
           - (84600 * greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                    // greatest(len(regexp_extract_all(trim(text), '\\S+')), 1))
           AS flesch_milli
  FROM documents),
r AS (
  SELECT doc_id, flesch_milli,
         CAST(ROW_NUMBER() OVER (ORDER BY flesch_milli DESC, doc_id) AS BIGINT) - 1 AS i,
         (SELECT COUNT(*) FROM scored) AS n
  FROM scored)
SELECT doc_id,
       CAST(flesch_milli AS BIGINT) AS flesch_milli,
       CAST((i * {_CURR_PHASES}) // n AS BIGINT) AS phase,
       CAST({{h}} AS BIGINT) AS order_key60
FROM r ORDER BY doc_id
"""

from ..functions.numeric import sql_hash60 as _sql_hash60  # noqa: E402
from ..functions.numeric import spark_hash60 as _spark_hash60  # noqa: E402


@query(
    "train_curriculum_order",
    sql=_CURR_SQL.format(h=_sql_hash60("CONCAT('curr|', CAST(doc_id AS STRING))")),
    order_by=("doc_id",),
)
def train_curriculum_order(spark, sf_dir):
    """Curriculum-learning schedule: documents ranked easiest-first by the
    llm_readability Flesch score (exact integer milli-points), split into
    {_CURR_PHASES} equal phases by the explicit quantile formula
    (i·P)//n — no ntile, no unpartitioned window: the global position comes
    from assign_contiguous_ids (range partition + driver offsets) — and
    given a deterministic 60-bit within-phase shuffle key (the md5-nibble
    hash sql_hash60, so the epoch order is reproducible and engine-exact).
    Consumers ORDER BY (phase, order_key60) to stream easy->hard batches.
    Plan: per-row scoring projection, distributed ranking, broadcast scalar
    count — nothing funnels through one task."""
    from ..operators.rowids import assign_contiguous_ids

    d = load(spark, sf_dir, "documents")
    words = F.greatest(F.regexp_count(F.trim("text"), F.lit(r"\S+")), F.lit(1))
    sentences = F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
    syllables = F.greatest(F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1))
    # the exact integer Flesch expression (matches llm_readability)
    scored = d.select(
        "doc_id",
        words.cast("long").alias("w"),
        sentences.cast("long").alias("s"),
        syllables.cast("long").alias("y"),
    ).select(
        "doc_id",
        (
            F.lit(206835) - F.expr("1015 * w div s") - F.expr("84600 * y div w")
        ).cast("long").alias("flesch_milli"),
    ).withColumn("neg_flesch", -F.col("flesch_milli"))
    # one sizing count feeds both the id-assign and the phase denominator
    # (r10: was an internal count inside the id-assign plus a
    # crossJoin(broadcast(count-agg)) at action time).
    # BUILD-TIME LITERAL: `n` is folded into the plan at build time, per
    # the registry's build-then-execute contract (every invocation rebuilds
    # from the live input). Build-once-execute-later against CHANGED data
    # would see a stale denominator — rebuild after data changes.
    n = scored.count()
    ranked = assign_contiguous_ids(scored, ["neg_flesch", "doc_id"], id_name="i", n_rows=n)
    h = _spark_hash60("CONCAT('curr|', CAST(doc_id AS STRING))")
    return (
        ranked.withColumn("n", F.lit(n))
        .select(
            "doc_id",
            "flesch_milli",
            F.expr(f"i * {_CURR_PHASES} DIV n").cast("long").alias("phase"),
            F.expr(h).cast("long").alias("order_key60"),
        )
    )


@query(
    "train_fim_split",
    sql=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n
      FROM documents WHERE doc_id % 4 = 0),
    cuts AS (
      SELECT doc_id, toks, CAST(n AS BIGINT) AS n_tokens,
             CASE WHEN n >= 3
                  THEN 1 + (doc_id * 2654435761) % (n - 2) ELSE 0 END AS s1
      FROM t),
    cuts2 AS (
      SELECT doc_id, toks, n_tokens, CAST(s1 AS BIGINT) AS s1,
             CASE WHEN n_tokens >= 3
                  THEN s1 + 1 + (doc_id * 40503) % (n_tokens - s1 - 1)
                  ELSE 0 END AS s2
      FROM cuts)
    SELECT doc_id, n_tokens, s1, CAST(s2 AS BIGINT) AS s2,
           CASE WHEN n_tokens >= 3
                THEN '<PRE> ' || array_to_string(toks[1:s1], ' ')
                     || ' <SUF> ' || array_to_string(toks[s2+1:n_tokens], ' ')
                     || ' <MID> ' || array_to_string(toks[s1+1:s2], ' ')
                ELSE array_to_string(toks, ' ') END AS psm_text
    FROM cuts2 ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def train_fim_split(spark, sf_dir):
    """Fill-in-the-middle transform (Bavarian et al. '22): deterministic
    prefix/middle/suffix cuts from the doc id (multiplicative hashing —
    reproducible across runs and engines, never a seeded RNG, same
    discipline as every split/sample op here), re-serialized in PSM
    sentinel order. Pure projection — tokens, two modular cut points, three
    array slices, one concat — inside whole-stage codegen with zero
    shuffles before the output sort; at 100 TB this is a map pass.
    Cut invariants: 1 <= s1 < s2 <= n-1, so all three segments are
    non-empty for every doc with >= 3 tokens; shorter docs pass through
    unsplit (their loss is ordinary next-token anyway)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n_tokens"))
    s1 = F.when(
        F.col("n_tokens") >= 3,
        (F.lit(1) + (F.col("doc_id") * 2654435761) % (F.col("n_tokens") - 2)),
    ).otherwise(F.lit(0)).cast("long")
    t = t.withColumn("s1", s1)
    s2 = F.when(
        F.col("n_tokens") >= 3,
        F.col("s1") + 1 + (F.col("doc_id") * 40503) % (F.col("n_tokens") - F.col("s1") - 1),
    ).otherwise(F.lit(0)).cast("long")
    t = t.withColumn("s2", s2)
    seg = lambda lo, n: F.array_join(F.slice(F.col("toks"), lo, n), " ")  # noqa: E731
    psm = F.when(
        F.col("n_tokens") >= 3,
        F.concat(
            F.lit("<PRE> "),
            seg(F.lit(1), F.col("s1")),
            F.lit(" <SUF> "),
            seg(F.col("s2") + 1, F.col("n_tokens") - F.col("s2")),
            F.lit(" <MID> "),
            seg(F.col("s1") + 1, F.col("s2") - F.col("s1")),
        ),
    ).otherwise(F.array_join(F.col("toks"), " "))
    return t.select("doc_id", "n_tokens", "s1", "s2", psm.alias("psm_text"))
