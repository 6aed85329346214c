"""Training-data curation batch 3: eval-set decontamination, sliding-window
token chunking, and cross-document passage dedup.

These are the corpus-preparation passes a pretraining pipeline runs after
filtering/dedup (SURVEY.md §2.11 family): drop eval-contaminated documents,
cut documents into model-context-sized chunks, and strip boilerplate passages
repeated across documents. All pure Catalyst expressions — tokenization,
shingling and slicing happen inside the row (whole-stage codegen), and every
cross-row step is a keyed hash aggregate or a broadcastable join.

All numeric outputs are integers or a single IEEE division of two integers,
so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load
from ..functions.text import hashed_word_shingles_expr, word_shingles, ws_tokens
from .registry import query

_SQL_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"

#: Chunking geometry: model-context-sized windows with overlap so no
#: training example straddles a hard boundary (size 64, stride 48 → 16-token
#: overlap). Passages for boilerplate detection are non-overlapping.
_CHUNK, _STRIDE, _PASSAGE = 64, 48, 10

_DECON_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 7, 0)),
               i -> array_to_string(t[i:i+7], ' ')))) AS gram
      FROM toks),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_shared
      FROM grams g JOIN eval_grams e ON g.gram = e.gram
      WHERE g.doc_id % 50 <> 0
      GROUP BY g.doc_id)
    SELECT d.doc_id,
           COALESCE(h.n_shared, 0) AS n_shared,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 50 <> 0
    ORDER BY d.doc_id
"""


@query("llm_decontaminate", sql=_DECON_SQL, order_by=("doc_id",))
def llm_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag every training document sharing at
    least one word-8-gram with the held-out eval slice (doc_id % 50 == 0) —
    the standard n-gram-overlap check run before pretraining. The eval-side
    gram set is tiny relative to the corpus by construction, so it is
    BROADCAST: the scan-heavy side never shuffles, and cost is one pass
    over the training corpus plus a per-doc count aggregate. Documents
    shorter than the gram width have no 8-grams and cannot be flagged
    (deliberate, matched by the oracle).

    r10: grams ride as HASHED longs (token xxhash64 + rotation combine,
    functions/text.hashed_word_shingles_expr) — the gram string is never
    materialized, and the broadcast/join/distinct all carry 8 bytes per
    gram instead of ~50. Same result modulo the documented 2^-64
    llm_ngram_jaccard collision trade (the string-gram oracle still
    value-checks every row); measured 3.4x on the noop-isolated cost,
    sign-stable interleaved A/B.

    CORPUS-SIZE CEILING of the 64-bit gram hash (ADVICE r10): the 2^-64
    figure is PER PAIR; across the whole join the birthday bound makes a
    collision likely once distinct (eval-gram x train-gram) pairs approach
    ~2^32 of each, i.e. a few billion distinct 8-grams per side. Within
    that bound a collision costs one false 'contaminated' flag (a dropped
    training doc — conservative, never a leak). Beyond it, widen the gram
    key to two independent 64-bit lanes (e.g. xxhash64 of the gram under
    two salts) before trusting the flags; the string-gram oracle gate
    catches any collision at test scale."""
    from ..partitioning import ensure_parallelism

    d = load(spark, sf_dir, "documents")
    eval_pred = F.col("doc_id") % 50 == 0
    # r11: widen the scan before the tokenize+hash gram build (no-op on a
    # multi-file corpus): the fixture is one single-row-group file, so the
    # per-doc gram construction ran in ONE task (guide §2.5). Per-row op
    # feeding aggregates/joins — values identical.
    grams = (
        ensure_parallelism(d.select("doc_id", "text"))
        .select("doc_id", ws_tokens("text").alias("toks"))
        .select("doc_id", F.expr("transform(toks, t -> xxhash64(t))").alias("th"))
        .select("doc_id", F.explode_outer(F.expr(hashed_word_shingles_expr(8))).alias("gram"))
    )
    eval_grams = grams.filter(eval_pred).select("gram").distinct()
    hits = (
        grams.filter(~eval_pred)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        d.filter(~eval_pred)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


_CHUNK_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n
      FROM documents),
    c AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(
               0, (greatest(n - {_CHUNK}, 0) + {_STRIDE} - 1) // {_STRIDE})) AS chunk_idx
      FROM t)
    SELECT doc_id,
           chunk_idx,
           CAST(least({_CHUNK}, n - chunk_idx * {_STRIDE}) AS INT) AS n_chunk_tokens,
           array_to_string(
             toks[chunk_idx * {_STRIDE} + 1 : least(chunk_idx * {_STRIDE} + {_CHUNK}, n)],
             ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx
"""


@query("llm_chunking", sql=_CHUNK_SQL, order_by=("doc_id", "chunk_idx"))
def llm_chunking(spark, sf_dir):
    """Context-window chunking: cut each document into overlapping
    {size=64, stride=48} token windows — the 1→N fan-out that turns a
    document corpus into training examples. The window arithmetic and the
    slices are built IN-ROW (sequence + transform + slice, all codegen'd):
    no shuffle at all, output cost is exactly the fan-out bytes. The last
    chunk is the tail shorter than the window; every token lands in ≥1
    chunk (covered by tests/test_curation.py)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    # Integer chunk count: ((max(n-C,0) + S-1) // S) + 1 slots — integer
    # ceil, no float detour; floor yields long, matching the oracle's
    # BIGINT generate_series.
    n_chunks_minus1 = F.floor(
        (F.greatest(F.col("n") - _CHUNK, F.lit(0)) + (_STRIDE - 1)) / _STRIDE
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks_minus1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice("toks", (i * _STRIDE + 1).cast("int"), _CHUNK).alias("chunk"),
        ),
    )
    return (
        t.select("doc_id", F.explode_outer(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.chunk").alias("n_chunk_tokens"),
            F.concat_ws(" ", "c.chunk").alias("chunk_text"),
        )
    )


_PASSAGE_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n
      FROM documents),
    p AS (
      SELECT doc_id,
             array_to_string(
               toks[i * {_PASSAGE} + 1 : least((i + 1) * {_PASSAGE}, n)], ' ') AS ptext
      FROM (SELECT doc_id, toks, n,
                   unnest(generate_series(0, (n - 1) // {_PASSAGE})) AS i
            FROM t) q),
    shared AS (
      SELECT ptext FROM p GROUP BY ptext HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT p.doc_id,
           COUNT(*) AS n_passages,
           COUNT(s.ptext) AS n_dup_passages,
           CAST(COUNT(s.ptext) AS DOUBLE) / COUNT(*) AS dup_frac
    FROM p LEFT JOIN shared s ON p.ptext = s.ptext
    GROUP BY p.doc_id ORDER BY p.doc_id
"""


@query("llm_passage_dedup", sql=_PASSAGE_SQL, order_by=("doc_id",))
def llm_passage_dedup(spark, sf_dir):
    """Cross-document repeated-passage detection (the passage-granularity
    form of substring dedup à la Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): split each document into non-overlapping
    10-token passages, mark passages occurring in ≥2 DISTINCT documents
    (boilerplate/quotation candidates), and report the per-document
    duplicated fraction. Passage keys are uniform hash-aggregate keys — the
    heavy side is one groupBy on passage text (map-side partial
    count-distinct via the doc set), which partitions evenly at corpus
    scale; no self-join ever forms."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    slots = F.sequence(F.lit(0).cast("long"), F.floor((F.col("n") - 1) / _PASSAGE))
    passages = t.select(
        "doc_id",
        F.explode_outer(
            F.transform(
                slots,
                lambda i: F.concat_ws(
                    " ", F.slice("toks", (i * _PASSAGE + 1).cast("int"), _PASSAGE)
                ),
            )
        ).alias("ptext"),
    ).persist()  # read twice: shared-passage aggregate + per-doc rollup
    shared = (
        passages.groupBy("ptext")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ptext", F.lit(True).alias("is_dup"))
    )
    return (
        passages.join(shared, "ptext", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.count("is_dup").alias("n_dup_passages"),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_dup_passages",
            (F.col("n_dup_passages").cast("double") / F.col("n_passages")).alias("dup_frac"),
        )
    )


def _linear_score_sql(spark_side: bool = False) -> str:
    """The shared per-token hashed-feature weight, as SQL both engines run:
    bucket = hash60(token) mod 2048, weight = (bucket * 2654435761) mod
    2003 - 1001 (a fixed pseudo-random integer weight table defined by
    formula, so no weight vector ever crosses the engine boundary).
    ``spark_side`` picks the conv-based spelling of the same hash for the
    DataFrame plan — it evaluates inside a per-token lambda, where the
    15-term nibble tree interprets per element."""
    from ..functions.numeric import spark_hash60, sql_hash60

    h = (spark_hash60 if spark_side else sql_hash60)("tok")
    return f"((({h}) % 2048) * 2654435761) % 2003 - 1001"


_LIN_W = _linear_score_sql()
_LIN_W_SPARK = _linear_score_sql(spark_side=True)


@query(
    "llm_linear_quality_score",
    sql=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    s AS (
      SELECT doc_id, len(toks) AS n_tokens,
             COALESCE(list_sum(list_transform(toks, tok -> {_LIN_W})), 0) AS score_raw
      FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(score_raw AS BIGINT) AS score_raw,
           score_raw > 0 AS quality_flag
    FROM s ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def llm_linear_quality_score(spark, sf_dir):
    """fastText-style linear quality classifier as PURE PROJECTION — the
    model-based filter tier of a curation stack (DCLM/CCNet run exactly
    this shape: hashed bag-of-words features · weight vector → keep/drop).
    Weights come from a formula (bucket * 2654435761 mod 2003 - 1001 over
    2048 hash buckets) so the oracle reproduces the full inference without
    shipping a weight vector; a real deployment broadcasts the trained
    vector and the plan is IDENTICAL.

    Scale shape: per-token hash + weight lookup + sum all happen IN-ROW
    (transform + aggregate higher-order functions, JVM codegen) — zero
    shuffle, zero Python, no explode; a 100 TB corpus scores in one
    embarrassingly-parallel map pass. The shared md5-nibble hash60 keeps
    the bucket assignment engine-exact."""
    w = _LIN_W_SPARK
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", ws_tokens("text").alias("t"))
    score = F.expr(
        f"aggregate(transform(t, tok -> {w}), cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return (
        t.select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.coalesce(score, F.lit(0)).alias("score_raw"),
        )
        .withColumn("quality_flag", F.col("score_raw") > 0)
    )


#: Window width (tokens) for arbitrary-offset substring dup mass.
_SUBW = 16

_SUBSTR_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+{_SUBW - 1}], ' ') AS gram
      FROM t, unnest(generate_series(1, greatest(len(toks) - {_SUBW - 1}, 0))) u(i)),
    gd AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    dup AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN gd USING (gram)),
    stats AS (
      SELECT doc_id, COUNT(*) AS dup_positions, COUNT(DISTINCT gram) AS n_dup_grams
      FROM dup GROUP BY doc_id),
    cov AS (
      SELECT doc_id, COUNT(DISTINCT pos + o.o) AS covered
      FROM dup, unnest(generate_series(0, {_SUBW - 1})) o(o)
      GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(greatest(len(t.toks) - {_SUBW - 1}, 0) AS BIGINT) AS n_positions,
           CAST(COALESCE(stats.dup_positions, 0) AS BIGINT) AS dup_positions,
           CAST(COALESCE(stats.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens
    FROM t LEFT JOIN stats USING (doc_id) LEFT JOIN cov USING (doc_id)
    ORDER BY doc_id
"""


@query("llm_substring_dup_mass", sql=_SUBSTR_SQL, order_by=("doc_id",))
def llm_substring_dup_mass(spark, sf_dir):
    """Arbitrary-offset substring dup mass — the stride-1 form of Lee et
    al.'s exact substring dedup, catching repeated spans that CROSS the
    fixed passage boundaries llm_passage_dedup (stride-10) cannot see: a
    16-token window at EVERY token position, windows appearing in >= 2
    distinct documents marked duplicated, and per document (a) how many
    positions start a duplicated window, (b) how many distinct duplicated
    windows it holds, and (c) the duplicate MASS — tokens covered by the
    union of duplicated windows, i.e. exactly what the Lee et al. pass
    would cut. Complements llm_dup_spans: that op reports PAIRWISE maximal
    shared spans (who shares with whom); this one reports each document's
    total duplicated token mass against the whole corpus — the removal
    budget — without ever forming pairs.

    Scale shape: windows ride as seeded xxhash64 longs (the distributed
    analog of suffix-array keys — same pairs modulo 2^-64 collisions; the
    oracle groups the window STRINGS, and only counts cross the engine
    boundary). One uniform hash aggregate over window keys (map-side
    combinable count-distinct of docs), one keyed semi-join back — no
    self-join, no window function; the coverage union explodes only the
    DUPLICATED positions (16 rows each, bounded by dup mass) into a
    distinct-count, so clean corpora pay ~nothing. Doc-keyed finishing
    aggregates are bounded by the doc count."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("t"))
    gram_hashes = F.when(
        F.size("t") >= _SUBW,
        F.expr(
            f"transform(sequence(1, size(t) - {_SUBW - 1}), "
            f"i -> xxhash64(concat_ws(' ', slice(t, i, {_SUBW}))))"
        ),
    ).otherwise(F.expr("array()"))
    grams = t.select(
        "doc_id", F.posexplode(gram_hashes).alias("pos", "gram")
    ).persist()  # read 3x: shared-gram agg, the semi-join probe, coverage
    shared = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup = grams.join(shared, "gram", "left_semi").persist()
    stats = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_positions"),
        F.count_distinct("gram").alias("n_dup_grams"),
    )
    cov = (
        dup.select("doc_id", F.explode(F.sequence("pos", F.col("pos") + _SUBW - 1)).alias("ti"))
        .groupBy("doc_id")
        .agg(F.count_distinct("ti").alias("covered_tokens"))
    )
    base = t.select(
        "doc_id", F.greatest(F.size("t") - (_SUBW - 1), F.lit(0)).cast("long").alias("n_positions")
    )
    return (
        base.join(stats, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_positions",
            F.coalesce("dup_positions", F.lit(0)).cast("long").alias("dup_positions"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        )
    )


_REP_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n FROM documents),
    g AS (
      SELECT doc_id, n,
             CASE WHEN n >= 3
                  THEN list_transform(generate_series(1, n - 2),
                                      i -> array_to_string(toks[i:i+2], ' '))
                  ELSE [] END AS tg,
             toks
      FROM t),
    tok_counts AS (
      SELECT doc_id, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM g)
      GROUP BY doc_id, tok),
    top_tok AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM tok_counts GROUP BY doc_id)
    SELECT g.doc_id,
           g.n AS n_tokens,
           len(g.tg) AS n_trigrams,
           len(g.tg) - len(list_distinct(g.tg)) AS n_dup_trigrams,
           CASE WHEN len(g.tg) > 0
                THEN CAST(len(g.tg) - len(list_distinct(g.tg)) AS DOUBLE) / len(g.tg)
                ELSE 0.0 END AS dup_trigram_frac,
           CAST(top_tok.top_cnt AS DOUBLE) / g.n AS top_token_frac
    FROM g JOIN top_tok ON g.doc_id = top_tok.doc_id
    ORDER BY g.doc_id
"""


@query("llm_repetition", sql=_REP_SQL, order_by=("doc_id",))
def llm_repetition(spark, sf_dir):
    """Gopher-style within-document repetition signals: the duplicated
    word-trigram fraction and the most-frequent-token share — the two
    filters that catch boilerplate loops and keyword-stuffed spam that
    length/stopword heuristics miss. Everything computes IN-ROW from the
    token array (trigram build, distinct, top-count via aggregate over the
    grouped token multiset): zero shuffles, fractions are single IEEE
    divisions of exact ints on both engines."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    tg = F.when(
        F.col("n") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", "n", "toks", tg.alias("tg"))
    # Top-token count without leaving the row: sort the tokens, then the
    # longest run of equal neighbors == the max multiplicity. aggregate()
    # carries (best, run, prev) through the sorted array.
    sorted_toks = F.array_sort("toks")
    top_cnt = F.aggregate(
        sorted_toks,
        F.struct(F.lit(0).alias("best"), F.lit(0).alias("run"), F.lit(None).cast("string").alias("prev")),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    n_tg = F.size("tg")
    n_dup = n_tg - F.size(F.array_distinct("tg"))
    return g.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        n_tg.alias("n_trigrams"),
        n_dup.alias("n_dup_trigrams"),
        F.when(n_tg > 0, n_dup.cast("double") / n_tg).otherwise(F.lit(0.0)).alias(
            "dup_trigram_frac"
        ),
        (top_cnt.cast("double") / F.col("n")).alias("top_token_frac"),
    )


_LM_SQL = f"""
    WITH t AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(v.cnt) AS BIGINT) AS freq_sum,
           CAST(SUM(v.cnt) AS DOUBLE) / COUNT(*) AS avg_tok_freq
    FROM t JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id ORDER BY t.doc_id
"""


@query("llm_doc_lm_score", sql=_LM_SQL, order_by=("doc_id",))
def llm_doc_lm_score(spark, sf_dir):
    """Corpus-frequency document scoring — the exact-arithmetic stand-in for
    unigram-LM perplexity (rare-token-heavy docs score low, natural prose
    scores high; no float logs, so the score is engine-stable). Two-pass
    shape a 100 TB pipeline uses: build the vocabulary count table (heavy
    side: one hash aggregate over all tokens), BROADCAST it back onto the
    token stream, and reduce per document. The vocab is Zipf-bounded — far
    smaller than the corpus — which is what makes the broadcast legal."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode_outer(ws_tokens("text")).alias("tok"))
    vocab = t.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        t.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("freq_sum"),
            (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("avg_tok_freq"),
        )
    )


_BIGRAM_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    big AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
      FROM t WHERE len(toks) >= 2),
    pair_counts AS (
      SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_pair FROM big GROUP BY 1, 2),
    uni AS (
      SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_ctx FROM pair_counts GROUP BY w1),
    ranked AS (
      SELECT p.w1, p.w2, p.n_pair, u.n_ctx,
             CAST(p.n_pair AS DOUBLE) / u.n_ctx AS cond_p,
             ROW_NUMBER() OVER (PARTITION BY p.w1 ORDER BY p.n_pair DESC, p.w2) AS rnk
      FROM pair_counts p JOIN uni u ON p.w1 = u.w1)
    SELECT w1, w2, n_pair, n_ctx, cond_p, rnk
    FROM ranked WHERE rnk <= 3 AND n_ctx >= 100
    ORDER BY w1, rnk
"""


@query("llm_bigram_lm", sql=_BIGRAM_SQL, order_by=("w1", "rnk"))
def llm_bigram_lm(spark, sf_dir):
    """Bigram language model built on the engine: corpus-wide bigram counts,
    context totals, and the top-3 continuations per context word with their
    exact conditional probabilities (one integer division — engine-stable).
    The shape is the canonical two-aggregate + windowed top-k: bigram
    extraction is IN-ROW (adjacent-pair transform, no explode-join), counts
    are uniform hash keys, and the per-context normalization reuses the
    first aggregate's output rather than re-scanning the corpus. Contexts
    under 100 occurrences are dropped (rare-context estimates are noise —
    and the filter demonstrates HAVING pushdown over the window)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    pairs = t.select(
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    pair_counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    # Context totals derive from the pair counts (already tiny), not from a
    # second corpus scan.
    uni = pair_counts.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    from pyspark.sql import Window as W

    rnk = F.row_number().over(W.partitionBy("w1").orderBy(F.desc("n_pair"), "w2"))
    return (
        pair_counts.join(uni, "w1")
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_ctx",
            (F.col("n_pair").cast("double") / F.col("n_ctx")).alias("cond_p"),
            rnk.alias("rnk"),
        )
        .filter((F.col("rnk") <= 3) & (F.col("n_ctx") >= 100))
    )


_DSIR_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS tok FROM documents),
    bucketed AS (
      SELECT doc_id, lang, substr(md5(tok), 1, 2) AS bucket FROM toks),
    stats AS (
      SELECT bucket,
             COUNT(*) AS cnt_r,
             COUNT(CASE WHEN lang = 'en' THEN 1 END) AS cnt_t
      FROM bucketed GROUP BY bucket),
    totals AS (
      SELECT SUM(cnt_r) AS n_r, SUM(cnt_t) AS n_t FROM stats),
    weights AS (
      SELECT bucket,
             CAST((CAST(cnt_t AS HUGEINT) * n_r * 1000000)
                  // (CAST(cnt_r AS HUGEINT) * n_t) AS BIGINT) AS w_ppm
      FROM stats CROSS JOIN totals)
    SELECT b.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(w.w_ppm) AS BIGINT) AS score_ppm
    FROM bucketed b JOIN weights w USING (bucket)
    WHERE b.doc_id % 10 = 0
    GROUP BY b.doc_id ORDER BY b.doc_id
"""


@query("llm_dsir_weights", sql=_DSIR_SQL, order_by=("doc_id",))
def llm_dsir_weights(spark, sf_dir):
    """Data-selection importance weighting (the DSIR shape, Xie et al.
    2023): score each raw document by how much its hashed token features
    look like a target distribution (here: the 'en' slice) relative to the
    raw corpus. Features are 256 md5-prefix hash buckets — string bucket
    keys hash identically on both engines, no cross-engine integer-hash
    parity problem. The per-bucket likelihood ratio is kept EXACT:
    w_ppm = (cnt_target·N_raw·1e6) div (cnt_raw·N_target), all int64 (no
    log, no float sum — at real corpus scale the products approach int64
    range and the weights would move to quantized log-space doubles).
    Plan: one explode+aggregate builds the 256-row weight table (broadcast),
    then the corpus re-joins it and sums ints per doc — the raw side
    shuffles once on (doc_id) for the final rollup."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode_outer(ws_tokens("text")).alias("tok")
    )
    bucketed = toks.select(
        "doc_id", "lang", F.substring(F.md5("tok"), 1, 2).alias("bucket")
    )
    stats = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt_r"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("cnt_t"),
    )
    totals = stats.agg(
        F.sum("cnt_r").alias("n_r"), F.sum("cnt_t").alias("n_t")
    )
    weights = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        # DECIMAL-widened (same int64-overflow fix as q_assoc_rules'
        # lift_ppm): cnt_t*n_r*1e6 exceeds int64 once the corpus passes
        # ~3e6 tokens per bucket x total-token product scales.
        F.expr(
            "CAST(cnt_t AS DECIMAL(38,0)) * n_r * 1000000"
            " DIV (CAST(cnt_r AS DECIMAL(19,0)) * n_t)"
        ).alias("w_ppm"),
    )
    return (
        bucketed.filter(F.col("doc_id") % 10 == 0)
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_ppm").alias("score_ppm"),
        )
    )


@query(
    "llm_token_fertility",
    sql=f"""
    WITH t AS (
      SELECT lang,
             length(text) AS n_chars,
             octet_length(encode(text)) AS n_bytes,
             len({_SQL_TOKENS}) AS n_ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_ws) AS chars_per_ws_token,
           CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_ws_token,
           CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_chars) AS bytes_per_char
    FROM t GROUP BY lang ORDER BY lang
    """,
    order_by=("lang",),
)
def llm_token_fertility(spark, sf_dir):
    """Tokenizer fertility diagnostics per language: characters per
    whitespace token, BPE-ish subtokens per word, bytes per char (UTF-8
    expansion) — the data-card numbers that size token budgets across a
    multilingual mixture. All integer sums; each ratio is ONE IEEE
    division of exact int64 totals, so both engines agree bit-for-bit.
    One hash aggregate, everything else in-row."""
    from ..functions.text import regex_tokens

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.size(ws_tokens("text")).alias("n_ws"),
        F.size(regex_tokens("text")).alias("n_bpe"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            (F.sum("n_chars").cast("double") / F.sum("n_ws")).alias("chars_per_ws_token"),
            (F.sum("n_bpe").cast("double") / F.sum("n_ws")).alias("bpe_per_ws_token"),
            (F.sum("n_bytes").cast("double") / F.sum("n_chars")).alias("bytes_per_char"),
        )
    )


_DIVERSITY_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents),
    grams AS (
      SELECT lang,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' '))) AS gram
      FROM toks)
    SELECT lang,
           COUNT(*) AS n_grams,
           COUNT(DISTINCT gram) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) AS dup_fraction
    FROM grams GROUP BY lang ORDER BY lang
"""


@query("llm_ngram_diversity", sql=_DIVERSITY_SQL, order_by=("lang",))
def llm_ngram_diversity(spark, sf_dir):
    """Corpus diversity per language: the fraction of word-5-gram
    occurrences that repeat an already-seen gram (1 − distinct/total) —
    the self-repetition number that flags template-generated or boilerplate
    slices before training. Exact integer counts + ONE division. The
    distinct-count expands to the standard two-level aggregate; at 100 TB
    the drop-in is an HLL sketch per language (see agg_hll_sketch)."""
    d = load(spark, sf_dir, "documents")
    grams = (
        d.select("lang", ws_tokens("text").alias("toks"))
        .select("lang", F.explode_outer(word_shingles(F.col("toks"), 5)).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    n, nd = F.count(F.lit(1)), F.countDistinct("gram")
    return (
        grams.groupBy("lang")
        .agg(
            n.alias("n_grams"),
            nd.alias("n_distinct"),
            ((n - nd).cast("double") / n).alias("dup_fraction"),
        )
    )


_URL_DEDUP_SQL = """
    WITH urls AS (
      SELECT doc_id,
             'HTTPS://www.' || source || '.Example.com/p/' ||
             CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed&ref=rss' AS url
      FROM documents),
    canon AS (
      SELECT doc_id,
             lower(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(url, '^[A-Za-z]+://', ''),
               '^www\\.', ''), '\\?.*$', ''), '/+$', '')) AS canon_url
      FROM urls)
    SELECT canon_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM canon GROUP BY canon_url ORDER BY keep_id
"""


@query("llm_url_dedup", sql=_URL_DEDUP_SQL, order_by=("keep_id",))
def llm_url_dedup(spark, sf_dir):
    """Canonical-URL dedup — the web-pipeline first pass (dedupe fetches of
    the same page before any content hashing): strip scheme, leading www,
    query string and trailing slashes, lowercase, then keep the lowest id
    per canonical URL. The URL is synthesized in-row from the fixture's
    source column (the fixture stores no URLs) so the NORMALIZATION chain —
    the actual operator — is oracle-verified end to end. One hash
    aggregate; normalization is codegen'd regexp_replace."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://www."),
        F.col("source"),
        F.lit(".Example.com/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_source=feed&ref=rss"),
    )
    canon = F.lower(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(url, r"^[A-Za-z]+://", ""), r"^www\.", ""
                ),
                r"\?.*$",
                "",
            ),
            r"/+$",
            "",
        )
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_DUPSPAN_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    grams AS (
      SELECT doc_id, i.i AS pos,
             md5(array_to_string(t[i.i:i.i+7], ' ')) AS gh
      FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i(i)),
    df AS (
      SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) <= 100),
    g AS (SELECT grams.* FROM grams JOIN df USING (gh)),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS isl
      FROM hits),
    islands AS (
      SELECT doc_a, doc_b, COUNT(*) + 7 AS span_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, isl)
    SELECT doc_a, doc_b,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM islands
    GROUP BY doc_a, doc_b
    HAVING MAX(span_tokens) >= 16
    ORDER BY doc_a, doc_b
"""


def dup_span_islands(toks):
    """Maximal shared token runs (>= 8 tokens) between document pairs, from
    a ``(doc_id, t array<string>)`` frame: in-row word-8-gram windows,
    md5-hashed (xxhash64 at scale halves shuffle bytes), a df<=100
    hub-gram cap BEFORE the gram-hash equi-self-join (the stop-gram guard
    against quadratic pair blowup on boilerplate), then the diagonal
    gaps-and-islands: a shared k-token substring is pos_a - pos_b constant
    with consecutive pos_a, so each maximal run collapses to one
    (pair, diagonal, island) group of length count + 7. Returns
    (doc_a, doc_b, diag, span_tokens, start_b). All cross-row steps are
    keyed hash joins/aggregates — no all-pairs stage."""
    grams = (
        toks.select(
            "doc_id", F.posexplode_outer(word_shingles(F.col("t"), 8)).alias("p0", "gram")
        )
        .filter(F.col("gram").isNotNull())
        .select("doc_id", (F.col("p0") + 1).alias("pos"), F.md5("gram").alias("gh"))
        .persist()  # feeds the df aggregate AND both self-join sides; the
        # tokenize+shingle lineage would otherwise run 3x (alias exprIds
        # defeat ReuseExchange — NOTES.md lesson 3). Freed by the harness
        # clearCache.
    )
    rare = grams.groupBy("gh").agg(F.count_distinct("doc_id").alias("df")).filter(
        F.col("df") <= 100
    )
    g = grams.join(rare.select("gh"), "gh")
    hits = g.alias("a").join(
        g.alias("b"),
        (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = hits.select(
        "doc_a", "doc_b", "diag", "pa", (F.col("pa") - F.row_number().over(w)).alias("isl")
    )
    return runs.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        (F.count(F.lit(1)) + 7).alias("span_tokens"),
        (F.min("pa") - F.col("diag")).alias("start_b"),
    )


@query("llm_dup_spans", sql=_DUPSPAN_SQL, order_by=("doc_a", "doc_b"))
def llm_dup_spans(spark, sf_dir):
    """Exact duplicated-SUBSTRING spans between document pairs — the
    ExactSubstr shape from the dedup-makes-LMs-better line of work: two
    documents sharing a run of >= 16 consecutive tokens are flagged with
    the length of their longest shared span (detection machinery:
    dup_span_islands above)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens("text").alias("t"))
    return (
        dup_span_islands(toks)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_tokens").alias("max_span_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .filter(F.col("max_span_tokens") >= 16)
    )


_TRIM_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    grams AS (
      SELECT doc_id, i.i AS pos,
             md5(array_to_string(t[i.i:i.i+7], ' ')) AS gh
      FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i(i)),
    df AS (
      SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) <= 100),
    g AS (SELECT grams.* FROM grams JOIN df USING (gh)),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS isl
      FROM hits),
    islands AS (
      SELECT doc_a, doc_b, diag,
             COUNT(*) + 7 AS span_tokens,
             MIN(pa) - diag AS start_b
      FROM runs GROUP BY doc_a, doc_b, diag, isl),
    best AS (
      SELECT doc_b, doc_a, span_tokens, start_b,
             row_number() OVER (PARTITION BY doc_b
                                ORDER BY span_tokens DESC, doc_a, diag, start_b) AS rk
      FROM islands WHERE span_tokens >= 16)
    SELECT b.doc_b AS doc_id, b.doc_a AS dup_of,
           CAST(b.span_tokens AS BIGINT) AS span_removed,
           CAST(len(k.t) AS BIGINT) AS n_tokens_before,
           CAST(len(k.t) - b.span_tokens AS BIGINT) AS n_tokens_after,
           COALESCE(array_to_string(
             list_concat(k.t[1:b.start_b - 1],
                         k.t[b.start_b + b.span_tokens:len(k.t)]), ' '), '') AS trimmed_text
    FROM best b JOIN toks k ON k.doc_id = b.doc_b
    WHERE b.rk = 1
    ORDER BY doc_id
"""


@query("llm_dup_span_trim", sql=_TRIM_SQL, order_by=("doc_id",))
def llm_dup_span_trim(spark, sf_dir):
    """The APPLY step of exact-substring dedup: for every document flagged
    by the llm_dup_spans detector, cut its single longest duplicated span
    (>= 16 tokens, shared with a lower-id document — the keeper) out of
    the token stream and re-emit the trimmed text. Span choice is totally
    ordered (length desc, then partner id / diagonal / start) so the
    transform is deterministic; the splice is an in-row slice+concat over
    the token array (codegen, no Python). Only flagged docs rejoin the
    corpus table — a broadcast-sized set after the hub-gram-capped
    detection, so the rewrite pass never shuffles the corpus."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens("text").alias("t"))
    islands = dup_span_islands(toks)
    wb = Window.partitionBy("doc_b").orderBy(
        F.desc("span_tokens"), "doc_a", "diag", "start_b"
    )
    best = (
        islands.filter(F.col("span_tokens") >= 16)
        .withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
    )
    n = F.size("t")
    tail_start = F.col("start_b") + F.col("span_tokens")
    tail_len = n - tail_start + 1
    trimmed = F.concat(
        F.slice(F.col("t"), 1, F.col("start_b") - 1),
        F.when(tail_len > 0, F.slice(F.col("t"), tail_start, tail_len)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return (
        best.join(toks, F.col("doc_b") == F.col("doc_id"))
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("dup_of"),
            F.col("span_tokens").alias("span_removed"),
            n.cast("long").alias("n_tokens_before"),
            (n - F.col("span_tokens")).cast("long").alias("n_tokens_after"),
            F.array_join(trimmed, " ").alias("trimmed_text"),
        )
    )


# --- Readability scoring (Flesch reading ease, integer milli-points) --------

_READABILITY_SQL = """
WITH m AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(trim(text), '\\S+')), 1) AS words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syllables
  FROM documents)
SELECT doc_id,
       CAST(words AS BIGINT) AS words,
       CAST(sentences AS BIGINT) AS sentences,
       CAST(syllables AS BIGINT) AS syllables,
       CAST(206835 - (1015 * words // sentences) - (84600 * syllables // words)
            AS BIGINT) AS flesch_milli
FROM m ORDER BY doc_id
"""


@query("llm_readability", sql=_READABILITY_SQL, order_by=("doc_id",))
def llm_readability(spark, sf_dir):
    """Flesch reading-ease per document in exact integer milli-points — the
    readability tier of a quality-filter stack (alongside llm_quality_score's
    length/punct ratios and llm_doc_lm_score's LM perplexity proxy).
    Syllables use the standard vowel-group heuristic ([aeiouy]+ runs of the
    lowercased text — spaces break runs, so runs never span words); word and
    sentence counts are regex-run counts with a floor of 1 so the integer
    divisions are total. 206.835 - 1.015 w/s - 84.6 syl/w is evaluated as
    three exact integer terms (milli-scaled, floor division) — no float
    anywhere, so both engines agree bitwise. Plan: pure per-row codegen'd
    regexp_count projection — zero shuffles, scales embarrassingly."""
    d = load(spark, sf_dir, "documents")
    words = F.greatest(F.regexp_count(F.trim("text"), F.lit(r"\S+")), F.lit(1))
    sentences = F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
    syllables = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
    )
    m = d.select(
        "doc_id",
        words.cast("long").alias("words"),
        sentences.cast("long").alias("sentences"),
        syllables.cast("long").alias("syllables"),
    )
    return m.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        (
            F.lit(206835)
            - F.expr("1015 * words div sentences")
            - F.expr("84600 * syllables div words")
        )
        .cast("long")
        .alias("flesch_milli"),
    )


# --- Blocklist / wordlist flagging ------------------------------------------

#: Fixed audit wordlist (the "toxicity filter" shape: real pipelines broadcast
#: a large lexicon; the mechanics — word-boundary match count per document,
#: flag, share — are identical). Terms chosen to hit the fixture vocabulary.
_BLOCKLIST = ("slow", "error", "crash", "fatal", "deprecated")
_BLOCK_RE = r"\b(" + "|".join(_BLOCKLIST) + r")\b"

_WORDLIST_SQL = f"""
WITH m AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(trim(text), '\\S+')), 1) AS words,
         len(regexp_extract_all(lower(text), '{_BLOCK_RE}')) AS n_flagged
  FROM documents)
SELECT doc_id,
       CAST(n_flagged AS BIGINT) AS n_flagged,
       n_flagged > 0 AS flagged,
       CAST(n_flagged * 1000000 // words AS BIGINT) AS flagged_ppm
FROM m ORDER BY doc_id
"""


@query("llm_wordlist_flags", sql=_WORDLIST_SQL, order_by=("doc_id",))
def llm_wordlist_flags(spark, sf_dir):
    """Blocklist screening per document — the wordlist-based content filter
    every corpus pipeline runs (profanity/toxicity/PII keyword tiers). The
    lexicon compiles into ONE word-boundary alternation regex evaluated
    JVM-side (codegen'd regexp_count — not a per-token lambda, which would
    interpret per element; NOTES.md perf lesson 2), emitting occurrence
    count, a boolean flag, and the flagged-token share in exact ppm.
    \\b and alternation are RE2-safe, so Spark (Java regex) and DuckDB (RE2)
    tokenize identically. Plan: per-row projection, zero shuffles; at 100 TB
    this is a map-only pass whose cost is the scan itself."""
    d = load(spark, sf_dir, "documents")
    words = F.greatest(F.regexp_count(F.trim("text"), F.lit(r"\S+")), F.lit(1))
    nflag = F.regexp_count(F.lower("text"), F.lit(_BLOCK_RE))
    m = d.select(
        "doc_id",
        words.cast("long").alias("words"),
        nflag.cast("long").alias("n_flagged"),
    )
    return m.select(
        "doc_id",
        "n_flagged",
        (F.col("n_flagged") > 0).alias("flagged"),
        F.expr("n_flagged * 1000000 div words").cast("long").alias("flagged_ppm"),
    )


# --- robots.txt crawl-politeness gate (RFC 9309) -----------------------------


@query(
    "llm_robots_filter",
    sql="""
    WITH c AS (
      SELECT doc_id, doc_id % 5 AS cls, (doc_id // 5) % 2 AS par FROM documents)
    SELECT doc_id,
           CASE cls WHEN 0 THEN '/p/1' WHEN 1 THEN '/private/x'
                    WHEN 2 THEN '/private/ok' WHEN 3 THEN '/doc.pdf'
                    ELSE '/public/a' END AS path,
           CASE WHEN cls = 0 THEN par = 0
                WHEN cls = 1 THEN FALSE
                WHEN cls = 2 THEN TRUE
                WHEN cls = 3 THEN FALSE
                ELSE TRUE END AS allowed,
           CASE WHEN cls = 0 THEN (CASE WHEN par = 0 THEN '/' ELSE '/p/' END)
                WHEN cls = 1 THEN '/private'
                WHEN cls = 2 THEN '/private/ok$'
                WHEN cls = 3 THEN '/*.pdf$'
                ELSE '/' END AS rule
    FROM c ORDER BY doc_id
    """,
    order_by=("doc_id",),
)
def llm_robots_filter(spark, sf_dir):
    """Crawl-politeness gate: RFC 9309 robots.txt evaluation
    (llm/robots.py — spec-written group selection by longest agent-token
    substring, ``*``/``$`` wildcard matching from the first path byte,
    longest-pattern-wins with Allow winning length ties, default allow).
    Per doc a host-parity-dependent robots.txt is parsed (odd host
    generations add a ``Disallow: /p/`` rule) and one of five path
    classes is evaluated; the oracle is the hand-derived RFC truth table,
    so ANY matcher slip — group selection, anchor, wildcard, tie rule —
    hash-fails. The kernel caches parsed rule lists per distinct robots
    text (a real corpus has bounded hosts per task), so evaluation is a
    regex match per rule, linear per shard."""
    from ..llm.robots import parse_robots, robots_allowed

    base_head = "User-agent: other\nDisallow: /\n\nUser-agent: bridgebot\n"
    base_tail = "Disallow: /private\nAllow: /private/ok$\nDisallow: /*.pdf$\nAllow: /\n"
    paths = ["/p/1", "/private/x", "/private/ok", "/doc.pdf", "/public/a"]

    def evaluate(batches):
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            ids, ps, ok, rl = [], [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                par = (d // 5) % 2
                txt = base_head + ("Disallow: /p/\n" if par else "") + base_tail
                rules = cache.get(txt)
                if rules is None:
                    rules = cache[txt] = parse_robots(txt, agent="bridgebot")
                path = paths[d % 5]
                allowed, rule = robots_allowed(rules, path)
                ids.append(d)
                ps.append(path)
                ok.append(allowed)
                rl.append(rule)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "path": pd.Series(ps, dtype="object"),
                    "allowed": pd.Series(ok, dtype="bool"),
                    "rule": pd.Series(rl, dtype="object"),
                }
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        evaluate, schema="doc_id bigint, path string, allowed boolean, rule string"
    )
