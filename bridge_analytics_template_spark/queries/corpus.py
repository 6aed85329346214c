"""Corpus-assembly wave 4: segment-level dedup with reassembly, padding-aware
length bucketing, bloom-prefiltered cross-corpus dedup, and oracle-exact
variants of two formerly rows-only iterative ops (MMR re-ranking, PageRank).

Reference parity: the reference (copy_from_template.py) is a provisioning
CLI with no corpus ops; this module belongs to the beyond-§2 training-data
extension set (C4/CCNet-style line dedup, dataloader padding efficiency,
membership pre-filters for incremental dedup).

Engine-stability conventions (see NOTES.md): integer arithmetic everywhere a
value crosses the oracle boundary; doubles only as ONE fixed-parenthesization
expression over exactly-representable integers (int64 < 2^53 converts
exactly, and +,-,*,/,sqrt are IEEE correctly-rounded in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..caching import track
from ..catalog import load
from ..functions.text import ws_tokens
from .registry import query

_SQL_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"

# --- Segment-level dedup with reassembly (C4 / CCNet line dedup) ------------

_SEG = 10  # tokens per segment — the fixture's "line" analog (no newlines)

_SEGMENT_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks,
             greatest(CAST(ceil(len({_SQL_TOKENS}) / {_SEG}.0) AS BIGINT), 1) AS n_segs
      FROM documents),
    s AS (
      SELECT doc_id, toks, n_segs,
             unnest(generate_series(0, n_segs - 1)) AS seg_idx
      FROM t),
    seg AS (
      SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
             array_to_string(toks[seg_idx * {_SEG} + 1 : seg_idx * {_SEG} + {_SEG}], ' ') AS seg_text
      FROM s),
    keep AS (
      SELECT doc_id, seg_idx, seg_text,
             ROW_NUMBER() OVER (PARTITION BY seg_text ORDER BY doc_id, seg_idx) AS rn
      FROM seg),
    reasm AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(seg_text, ' ' ORDER BY seg_idx) AS kept_text
      FROM keep WHERE rn = 1 GROUP BY doc_id)
    SELECT t.doc_id, t.n_segs,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.kept_text, '') AS kept_text
    FROM t LEFT JOIN reasm r ON t.doc_id = r.doc_id
    ORDER BY t.doc_id
"""


def _segment_dedup(d: DataFrame) -> DataFrame:
    """Core of llm_segment_dedup over any (doc_id, text) frame; returns
    (doc_id, n_segs, n_kept, kept_text). See the query docstring for the
    shuffle accounting."""
    toks = ws_tokens("text")
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.greatest(F.ceil(F.size(toks) / _SEG), F.lit(1).cast("long")).alias("n_segs"),
    )
    segs_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_segs") - 1),
        lambda i: F.array_join(F.slice("toks", (i * _SEG + 1).cast("int"), _SEG), " "),
    )
    seg = base.select("doc_id", F.posexplode_outer(segs_arr).alias("seg_idx", "seg_text"))
    # First-occurrence election: ONE hash aggregate on seg_text; the winning
    # (doc_id, seg_idx) rides in the lexicographic min-struct, so no second
    # pass over the exploded segments is needed.
    kept = (
        seg.groupBy("seg_text")
        .agg(F.min(F.struct("doc_id", "seg_idx")).alias("k"))
        .select(F.col("k.doc_id").alias("doc_id"), F.col("k.seg_idx").alias("seg_idx"), "seg_text")
    )
    reasm = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return (
        base.select("doc_id", "n_segs")
        .join(reasm, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


@query("llm_segment_dedup", sql=_SEGMENT_SQL, order_by=("doc_id",))
def llm_segment_dedup(spark, sf_dir):
    """C4/CCNet-style line-level dedup with document reassembly: cut each
    document into disjoint {_SEG}-token segments (the fixture's documents
    have no newlines, so fixed token windows stand in for lines), keep only
    the globally FIRST occurrence of every distinct segment (min
    (doc_id, seg_idx)), and reassemble each document from its surviving
    segments in order.

    Scale shape: segments are built IN-ROW (sequence + transform + slice,
    all codegen — no tokenize re-evaluation per segment), so the only
    shuffles are (1) the segment-hash aggregate that elects first
    occurrences and (2) the doc-keyed reassembly — both key-partitioned,
    no windows over the corpus, no joins back to the exploded relation
    (the elected keepers carry their text through the min-struct)."""
    return _segment_dedup(load(spark, sf_dir, "documents"))


# --- Length-bucketed batching: padding efficiency ---------------------------

_BUCKET_SQL = f"""
    WITH lens AS (
      SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok FROM documents),
    b AS (
      SELECT quantile_disc(n_tok, 0.25) AS b1,
             quantile_disc(n_tok, 0.50) AS b2,
             quantile_disc(n_tok, 0.75) AS b3,
             MAX(n_tok) AS gmax, COUNT(*) AS gn, SUM(n_tok) AS gsum
      FROM lens),
    tagged AS (
      SELECT l.n_tok,
             1 + CAST(l.n_tok > b.b1 AS BIGINT) + CAST(l.n_tok > b.b2 AS BIGINT)
               + CAST(l.n_tok > b.b3 AS BIGINT) AS bucket,
             b.gmax, b.gn, b.gsum
      FROM lens l, b)
    SELECT bucket,
           COUNT(*) AS n_docs,
           MIN(n_tok) AS min_len,
           MAX(n_tok) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_len,
           CAST((CAST(COUNT(*) AS HUGEINT) * MAX(n_tok) - SUM(n_tok)) * 1000000
                // (CAST(COUNT(*) AS HUGEINT) * MAX(n_tok)) AS BIGINT) AS bucket_waste_ppm,
           CAST((CAST(ANY_VALUE(gn) AS HUGEINT) * ANY_VALUE(gmax) - ANY_VALUE(gsum)) * 1000000
                // (CAST(ANY_VALUE(gn) AS HUGEINT) * ANY_VALUE(gmax)) AS BIGINT) AS global_waste_ppm
    FROM tagged GROUP BY bucket ORDER BY bucket
"""


@query("train_length_buckets", sql=_BUCKET_SQL, order_by=("bucket",))
def train_length_buckets(spark, sf_dir):
    """Dataloader length bucketing: split the corpus at the token-length
    quartiles (percentile_disc — an actual data value, exact on integers in
    both engines) and measure the padding waste of batching within each
    bucket (pad every doc to the bucket max) vs one global bucket. The
    waste ratio is integer ppm widened through DECIMAL(38)/HUGEINT so the
    n_docs*max_len*1e6 product cannot wrap at corpus scale (ADVICE-r2
    pattern).

    Scale shape: one corpus pass for the quartile aggregate (a 1-row
    broadcast), one map-side-combinable groupBy over 4 buckets. No windows,
    no per-bucket repartition."""
    d = load(spark, sf_dir, "documents")
    lens = d.select(F.size(ws_tokens("text")).cast("long").alias("n_tok"))
    b = lens.agg(
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_tok) AS BIGINT)").alias("b1"),
        F.expr("CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n_tok) AS BIGINT)").alias("b2"),
        F.expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_tok) AS BIGINT)").alias("b3"),
        F.max("n_tok").alias("gmax"),
        F.count(F.lit(1)).alias("gn"),
        F.sum("n_tok").alias("gsum"),
    )
    tagged = lens.crossJoin(F.broadcast(b)).select(
        "n_tok",
        (
            F.lit(1).cast("long")
            + (F.col("n_tok") > F.col("b1")).cast("long")
            + (F.col("n_tok") > F.col("b2")).cast("long")
            + (F.col("n_tok") > F.col("b3")).cast("long")
        ).alias("bucket"),
        "gmax",
        "gn",
        "gsum",
    )
    waste = "CAST((CAST({n} AS DECIMAL(38,0)) * {mx} - {sm}) * 1000000 DIV (CAST({n} AS DECIMAL(38,0)) * {mx}) AS BIGINT)"
    return (
        tagged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tok").alias("min_len"),
            F.max("n_tok").alias("max_len"),
            F.sum("n_tok").alias("sum_len"),
            F.first("gmax").alias("gmax"),
            F.first("gn").alias("gn"),
            F.first("gsum").alias("gsum"),
        )
        .select(
            "bucket",
            "n_docs",
            "min_len",
            "max_len",
            "sum_len",
            F.expr(waste.format(n="n_docs", mx="max_len", sm="sum_len")).alias("bucket_waste_ppm"),
            F.expr(waste.format(n="gn", mx="gmax", sm="gsum")).alias("global_waste_ppm"),
        )
    )


# --- Bloom-prefiltered cross-corpus dedup -----------------------------------

_BLOOM_M = 1 << 17  # bits
_BLOOM_K = 4  # hash functions

# Bag-of-words fingerprint: md5 of the sorted distinct token set — catches
# token-permutation near-dups that defeat md5(text) (the fixture's planted
# dups are reorderings, not byte-identical copies).
_BAG_FP_SQL = f"md5(array_to_string(list_sort(list_distinct({_SQL_TOKENS})), ' '))"


def _bag_fingerprint(col) -> F.Column:
    return F.md5(F.array_join(F.array_sort(F.array_distinct(ws_tokens(col))), " "))


@query(
    "llm_bloom_dedup",
    sql=f"""
    WITH f AS (SELECT doc_id, {_BAG_FP_SQL} AS fp FROM documents)
    SELECT c.doc_id FROM f c
    WHERE c.doc_id % 7 <> 0
      AND c.fp IN (SELECT fp FROM f r WHERE r.doc_id % 7 = 0)
    ORDER BY c.doc_id
    """,
    order_by=("doc_id",),
)
def llm_bloom_dedup(spark, sf_dir):
    """Bloom-prefiltered cross-corpus dedup: which candidate documents
    (doc_id % 7 != 0) duplicate a reference-corpus document (doc_id % 7 == 0)
    by bag-of-words fingerprint? The reference corpus's fingerprints are
    folded into an m={_BLOOM_M}-bit / k={_BLOOM_K}-hash Bloom bitmap built
    with ONE distributed aggregate (bit positions via xxhash64, distinct,
    bounded collect of <= m ints), broadcast as a literal array<long>
    bitmap. Candidates test all k bits with pure codegen bit arithmetic —
    the corpus-sized side is never shuffled for the prefilter. Survivors
    (bloom has no false negatives) are confirmed EXACTLY with a broadcast
    semi-join, so the result equals the plain semi-join the oracle runs.

    This is the explicit form of the runtime bloom-filter join Spark
    injects for selective joins — here the filter is reusable (build once,
    apply to any number of candidate corpora), the pattern behind
    incremental ingest dedup at 100 TB (precondition: the REFERENCE corpus
    is the bounded side, like decontaminate's eval grams)."""
    d = load(spark, sf_dir, "documents")
    fps = d.select("doc_id", _bag_fingerprint("text").alias("fp"))
    ref = fps.filter(F.col("doc_id") % 7 == 0).select("fp").distinct()
    cand = fps.filter(F.col("doc_id") % 7 != 0)

    positions = ref.select(
        F.explode(
            F.array(*[F.pmod(F.xxhash64("fp", F.lit(i)), F.lit(_BLOOM_M)) for i in range(_BLOOM_K)])
        ).alias("pos")
    ).distinct()
    words = [0] * (_BLOOM_M // 64)
    for r in positions.collect():  # bounded: <= m distinct bit positions
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    # Two's-complement into signed int64 for the JVM literal array.
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bloom = F.broadcast(spark.createDataFrame([(words,)], "bloom: array<long>"))

    def bit_set(i: int) -> F.Column:
        # SQL shiftright takes a column shift amount (the F.shiftright
        # helper only accepts a python int).
        return F.expr(
            f"(shiftright(element_at(bloom, CAST(pmod(xxhash64(fp, {i}), {_BLOOM_M}) DIV 64 AS INT) + 1),"
            f" CAST(pmod(pmod(xxhash64(fp, {i}), {_BLOOM_M}), 64) AS INT)) & 1) = 1"
        )

    test = bit_set(0)
    for i in range(1, _BLOOM_K):
        test = test & bit_set(i)
    maybe = cand.crossJoin(bloom).filter(test)
    return maybe.join(F.broadcast(ref), "fp", "semi").select("doc_id")


# --- Oracle-exact MMR re-ranking (quantized-integer cosines) ----------------

_MMR_Q = 1_000_000  # quantization scale: floor(x * 1e6)
_MMR_K = 30  # candidate pool
_MMR_N = 10  # picks
_MMR_PROBE = 3

# Quantized integer embedding in DuckDB: list of floor(x*1e6) BIGINTs.
_QVEC_SQL = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"


def _mmr_oracle_sql() -> str:
    """Unrolled greedy-argmax CTE stages (the label-propagation oracle
    pattern): stage k scores every unpicked candidate as
    0.7*rel - 0.3*max(sim to picked) over EXACT integer dot products
    (cosines are one double expression over exactly-converted int64
    moments — identical IEEE results in both engines) and picks the
    (score DESC, id ASC) winner."""
    prelude = f"""
    WITH q AS (
      SELECT {_QVEC_SQL} AS v FROM embeddings WHERE vec_id = {_MMR_PROBE}),
    base AS (
      SELECT vec_id AS id, {_QVEC_SQL} AS v FROM embeddings WHERE vec_id <> {_MMR_PROBE}),
    norms AS (
      SELECT id, v, list_sum(list_transform(v, x -> x * x)) AS nn FROM base),
    qn AS (
      SELECT v, list_sum(list_transform(v, x -> x * x)) AS nn FROM q),
    rels AS (
      SELECT b.id, b.v, b.nn,
             CAST(list_sum(list_transform(generate_series(1, len(b.v)), i -> b.v[i] * q.v[i])) AS DOUBLE)
               / (sqrt(CAST(b.nn AS DOUBLE)) * sqrt(CAST(q.nn AS DOUBLE))) AS rel
      FROM norms b, qn q),
    cand AS MATERIALIZED (
      SELECT id, v, nn, rel FROM rels ORDER BY rel DESC, id LIMIT {_MMR_K}),
    pairsim AS MATERIALIZED (
      SELECT a.id AS a, b.id AS b,
             CAST(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) AS DOUBLE)
               / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) AS sim
      FROM cand a, cand b WHERE a.id <> b.id),
    p1 AS (SELECT id, 0.7 * rel - 0.3 * 0.0 AS score FROM cand),
    s1 AS MATERIALIZED (SELECT 1 AS rank, id FROM p1 ORDER BY score DESC, id LIMIT 1),
    sel1 AS MATERIALIZED (SELECT id FROM s1)"""
    stages = [prelude]
    for k in range(2, _MMR_N + 1):
        stages.append(
            f""",
    p{k} AS (
      SELECT c.id,
             0.7 * c.rel - 0.3 * (SELECT MAX(ps.sim) FROM pairsim ps
                                  JOIN sel{k - 1} s ON ps.b = s.id
                                  WHERE ps.a = c.id) AS score
      FROM cand c WHERE c.id NOT IN (SELECT id FROM sel{k - 1})),
    s{k} AS MATERIALIZED (SELECT {k} AS rank, id FROM p{k} ORDER BY score DESC, id LIMIT 1),
    sel{k} AS MATERIALIZED (SELECT id FROM sel{k - 1} UNION ALL SELECT id FROM s{k})"""
        )
    union = " UNION ALL ".join(f"SELECT rank, id AS vec_id FROM s{k}" for k in range(1, _MMR_N + 1))
    stages.append(f"\n    SELECT rank, vec_id FROM ({union}) ORDER BY rank")
    return "".join(stages)


@query("llm_mmr_rerank_exact", sql=_mmr_oracle_sql())
def llm_mmr_rerank_exact(spark, sf_dir):
    """Oracle-exact MMR re-ranking (hash-green upgrade of the rows-only
    llm_mmr_rerank): embeddings quantized to floor(x*1e6) int64, so dot
    products and norms are EXACT integers (64 dims x (1e6)^2 < 2^63, and
    every moment < 2^53 converts to double exactly); each cosine is one
    fixed-parenthesization double expression — bit-identical across
    engines — and the 10-round greedy (0.7*rel - 0.3*max-sim-to-picked,
    ties on id) is therefore deterministic and oracle-checkable via
    unrolled argmax CTE stages.

    Scale shape: candidate scoring is a distributed in-row integer
    expression over the corpus + a TakeOrderedAndProject top-{_MMR_K}; the
    greedy runs driver-side over the k-bounded pool (the same bounded-k
    precondition as every production re-ranker)."""
    import math

    e = load(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: F.floor(x.cast("double") * _MMR_Q).cast("long"))
    base = e.select("vec_id", qv.alias("v"))
    probe_v = [int(x) for x in base.filter(F.col("vec_id") == _MMR_PROBE).collect()[0]["v"]]
    qn = sum(x * x for x in probe_v)
    dot = F.aggregate(
        F.zip_with("v", F.lit(probe_v), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nn = F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scored = (
        base.filter(F.col("vec_id") != _MMR_PROBE)
        .select("vec_id", "v", nn.alias("nn"), dot.alias("dot"))
        .select(
            "vec_id",
            "v",
            "nn",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("nn").cast("double")) * F.lit(math.sqrt(qn)))
            ).alias("rel"),
        )
    )
    # NB: sqrt(qn) is a driver-side python float — same IEEE double as the
    # oracle's sqrt(CAST(qn AS DOUBLE)) since qn < 2^53 converts exactly.
    cand_rows = scored.orderBy(F.desc("rel"), "vec_id").limit(_MMR_K).collect()
    cands = [(int(r["vec_id"]), [int(x) for x in r["v"]], int(r["nn"]), float(r["rel"])) for r in cand_rows]
    vec = {c[0]: c[1] for c in cands}
    nrm = {c[0]: c[2] for c in cands}
    rel = {c[0]: c[3] for c in cands}

    def sim(a: int, b: int) -> float:
        d = sum(x * y for x, y in zip(vec[a], vec[b]))
        return float(d) / (math.sqrt(float(nrm[a])) * math.sqrt(float(nrm[b])))

    selected: list[int] = []
    remaining = sorted(vec)
    while remaining and len(selected) < _MMR_N:
        best, best_score = None, None
        for c in remaining:
            div = max((sim(c, s) for s in selected), default=0.0)
            score = 0.7 * rel[c] - 0.3 * div
            if best is None or score > best_score or (score == best_score and c < best):
                best, best_score = c, score
        selected.append(best)
        remaining.remove(best)
    out = [(i + 1, v) for i, v in enumerate(selected)]
    return spark.createDataFrame(out, "rank int, vec_id long")


# --- Oracle-exact fixed-point PageRank --------------------------------------

_PR_ITERS = 3
_PR_INIT = 1_000_000  # rank in ppm of 1.0


def _pagerank_oracle_sql() -> str:
    """3 unrolled iterations of integer fixed-point PageRank over the event
    hand-off graph (same arcs as graph_pagerank): contrib = rank // out_deg
    per arc, rank' = 150000 + (17 * sum_contrib) // 20 (0.85 == 17/20 —
    exact, and the x17 product cannot wrap below ~5e11 nodes)."""
    parts = [
        f"""
    WITH arcs AS (
      SELECT e.user_id AS src, n.user_id AS dst
      FROM events e JOIN events n ON n.event_id = e.event_id + 1
      WHERE n.user_id <> e.user_id),
    deg AS (SELECT src, COUNT(*) AS n FROM arcs GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (SELECT src AS node FROM arcs
                                 UNION ALL SELECT dst FROM arcs)),
    r0 AS (SELECT node, CAST({_PR_INIT} AS BIGINT) AS r FROM nodes)"""
    ]
    for k in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    c{k} AS (
      SELECT a.dst AS node, SUM(r.r // d.n) AS s
      FROM arcs a JOIN deg d ON a.src = d.src JOIN r{k - 1} r ON r.node = a.src
      GROUP BY a.dst),
    r{k} AS (
      SELECT n.node, 150000 + (17 * COALESCE(c.s, 0)) // 20 AS r
      FROM nodes n LEFT JOIN c{k} c ON n.node = c.node)"""
        )
    parts.append(f"\n    SELECT node, CAST(r AS BIGINT) AS rank_ppm FROM r{_PR_ITERS} ORDER BY node")
    return "".join(parts)


@query("graph_pagerank_ppm", sql=_pagerank_oracle_sql(), order_by=("node",))
def graph_pagerank_ppm(spark, sf_dir):
    """Oracle-exact fixed-point PageRank (hash-green companion to the
    rows-only float graph_pagerank): ranks held as int64 ppm, per-arc
    contribution rank DIV out_degree, damping as 150000 + (17*sum) DIV 20
    — every step is integer, so {_PR_ITERS} iterations agree bit-for-bit
    with the oracle's unrolled CTE stages. Dangling mass is dropped
    (documented divergence from the float operator, which redistributes).

    Scale shape per iteration: one co-keyed join of the (src-partitioned,
    persisted) arc+degree relation with the rank vector and one dst-keyed
    re-aggregation — the same 1-shuffle/round loop as operators/pagerank.py."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    nxt = e.select((F.col("event_id") - 1).alias("event_id"), F.col("user_id").alias("next_user"))
    arcs = (
        e.join(nxt, "event_id")
        .where(F.col("next_user") != F.col("user_id"))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    return _pagerank_ppm(spark, arcs)


def _pagerank_ppm(spark, arcs):
    """graph_pagerank_ppm over an (src, dst) arc relation."""
    from ..operators.graph_local import pagerank_ppm_local, try_collect_arcs

    # Bounded small-graph fast path (r10): exact integer loop on the
    # driver within the arc bound — bit-identical ranks, no per-iteration
    # stage latency; distributed loop unchanged above it.
    small = try_collect_arcs(arcs)
    if small is not None:
        import pandas as pd

        node_ids, ranks_arr = pagerank_ppm_local(*small, _PR_INIT, _PR_ITERS)
        pdf = pd.DataFrame({"node": node_ids, "rank_ppm": ranks_arr})
        return spark.createDataFrame(pdf, "node long, rank_ppm long")
    deg = arcs.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    arcs_deg = track(arcs.join(deg, "src").repartition("src").persist())
    nodes = track(
        arcs.select(F.col("src").alias("node"))
        .unionByName(arcs.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    ranks = nodes.select("node", F.lit(_PR_INIT).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            arcs_deg.join(ranks, arcs_deg["src"] == ranks["node"])
            .select("dst", F.expr("r div n").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.lit(150000).cast("long") + F.expr("17 * coalesce(s, 0) div 20")).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank_ppm"))


# --- Oracle-exact fixed-point HITS (hubs & authorities) ----------------------

_HITS_ITERS = 2
_HITS_INIT = 1_000_000


def _hits_oracle_sql() -> str:
    """Unrolled integer HITS over the same hand-off arcs as PageRank:
    auth_raw(v) = Σ hub(u) over u→v, hub_raw(u) = Σ auth(v) over u→v, each
    L1-normalized to ppm as (raw * 1e6) // total — all-integer, so the
    Spark loop agrees bit-for-bit with the unrolled CTE stages."""
    parts = [
        f"""
    WITH arcs AS (
      SELECT e.user_id AS src, n.user_id AS dst
      FROM events e JOIN events n ON n.event_id = e.event_id + 1
      WHERE n.user_id <> e.user_id),
    nodes AS (
      SELECT DISTINCT node FROM (SELECT src AS node FROM arcs
                                 UNION ALL SELECT dst FROM arcs)),
    h0 AS (SELECT node, CAST({_HITS_INIT} AS BIGINT) AS v FROM nodes)"""
    ]
    prev_h = "h0"
    for k in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    a{k}r AS (
      SELECT a.dst AS node, SUM(p.v) AS s
      FROM arcs a JOIN {prev_h} p ON p.node = a.src GROUP BY a.dst),
    a{k}t AS (SELECT SUM(s) AS t FROM a{k}r),
    a{k} AS (
      SELECT n.node, (COALESCE(r.s, 0) * {_HITS_INIT}) // t.t AS v
      FROM nodes n LEFT JOIN a{k}r r ON r.node = n.node CROSS JOIN a{k}t t),
    h{k}r AS (
      SELECT a.src AS node, SUM(p.v) AS s
      FROM arcs a JOIN a{k} p ON p.node = a.dst GROUP BY a.src),
    h{k}t AS (SELECT SUM(s) AS t FROM h{k}r),
    h{k} AS (
      SELECT n.node, (COALESCE(r.s, 0) * {_HITS_INIT}) // t.t AS v
      FROM nodes n LEFT JOIN h{k}r r ON r.node = n.node CROSS JOIN h{k}t t)"""
        )
        prev_h = f"h{k}"
    parts.append(
        f"""
    SELECT a.node, CAST(a.v AS BIGINT) AS auth_ppm, CAST(h.v AS BIGINT) AS hub_ppm
    FROM a{_HITS_ITERS} a JOIN h{_HITS_ITERS} h ON a.node = h.node ORDER BY a.node"""
    )
    return "".join(parts)


@query("graph_hits_ppm", sql=_hits_oracle_sql(), order_by=("node",))
def graph_hits_ppm(spark, sf_dir):
    """Oracle-exact HITS (Kleinberg hubs & authorities) — the second
    classic link-analysis signal next to PageRank, and the natural consumer
    of llm_link_graph's edge list: authorities concentrate incoming weight
    from good hubs, hubs from pointing at good authorities. Scores are
    int64 ppm; each half-step is one co-keyed join of the persisted arc
    relation with the current score vector, a dst- (or src-) keyed sum,
    and an L1 ppm renormalization whose total is a 1-row broadcast — so an
    iteration is two shuffles regardless of graph size, the same loop shape
    as graph_pagerank_ppm. All arithmetic is integer ((raw * 1e6) // total),
    so {_HITS_ITERS} iterations agree bit-for-bit with the oracle's
    unrolled CTEs."""
    from ..operators.graph_local import hits_ppm_local, try_collect_arcs

    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    nxt = e.select((F.col("event_id") - 1).alias("event_id"), F.col("user_id").alias("next_user"))
    arcs = (
        e.join(nxt, "event_id")
        .where(F.col("next_user") != F.col("user_id"))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    # Bounded small-graph fast path (r10): exact integer half-steps on the
    # driver within the arc bound (the noop probe measured 12-13 s of
    # per-iteration stage latency at sf0.1); distributed loop unchanged
    # above it.
    small = try_collect_arcs(arcs)
    if small is not None:
        import pandas as pd

        node_ids, auth_arr, hub_arr = hits_ppm_local(*small, _HITS_INIT, _HITS_ITERS)
        pdf = pd.DataFrame({"node": node_ids, "auth_ppm": auth_arr, "hub_ppm": hub_arr})
        return spark.createDataFrame(
            pdf, "node long, auth_ppm long, hub_ppm long"
        )
    arcs = track(arcs.persist())
    nodes = track(
        arcs.select(F.col("src").alias("node"))
        .unionByName(arcs.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )

    def half_step(scores: DataFrame, in_key: str, out_key: str) -> DataFrame:
        raw = (
            arcs.join(scores, arcs[in_key] == scores["node"])
            .select(F.col(out_key).alias("n2"), "v")
            .groupBy("n2")
            .agg(F.sum("v").alias("s"))
        )
        total = raw.agg(F.sum("s").alias("t"))
        return (
            nodes.join(raw, nodes["node"] == raw["n2"], "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr(f"(coalesce(s, 0) * {_HITS_INIT}) div t").alias("v"),
            )
        )

    hubs = nodes.select("node", F.lit(_HITS_INIT).cast("long").alias("v"))
    auths = None
    for _ in range(_HITS_ITERS):
        auths = half_step(hubs, "src", "dst")
        hubs = half_step(auths, "dst", "src")
    return (
        auths.select("node", F.col("v").alias("auth_ppm"))
        .join(hubs.select("node", F.col("v").alias("hub_ppm")), "node")
    )


# --- Schema-evolution ingest (mergeSchema) ----------------------------------


@query(
    "s_schema_evolution",
    sql="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN n_nationkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_region,
           CAST(SUM(CASE WHEN n_nationkey % 2 = 1 THEN n_regionkey ELSE 0 END) AS BIGINT) AS region_sum,
           CAST(SUM(CASE WHEN n_nationkey % 2 = 1 AND n_regionkey >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM nation
    """,
)
def s_schema_evolution(spark, sf_dir):
    """Schema-on-read evolution: batch 1 lands with the v1 schema
    (n_nationkey, n_name), batch 2 with the widened v2 schema (+ n_regionkey,
    + a derived boolean) — the reference's addDefaultViewColumns/retype flow
    (copy_from_template.py:164-232) as it plays out across parquet batches.
    ``mergeSchema`` unions the footers; v1 rows surface the new columns as
    NULL, and the aggregate over the merged view must equal recomputing from
    the source. Footer union is a metadata operation — the data pages of
    batch 1 are never rewritten (the 100 TB property: evolution costs zero
    data movement)."""
    from ..catalog import scratch_path

    n = load(spark, sf_dir, "nation")
    path = scratch_path(spark, "schema_evolution_nation")
    v1 = n.filter(F.col("n_nationkey") % 2 == 0).select("n_nationkey", "n_name")
    v2 = n.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey", "n_name", "n_regionkey", (F.col("n_regionkey") >= 2).alias("flagged")
    )
    v1.write.mode("overwrite").parquet(f"{path}/batch=1")
    v2.write.mode("overwrite").parquet(f"{path}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{path}/batch=1", f"{path}/batch=2")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_regionkey").isNotNull().cast("long")).alias("n_with_region"),
        F.sum(F.coalesce("n_regionkey", F.lit(0))).alias("region_sum"),
        F.sum(F.coalesce(F.col("flagged").cast("long"), F.lit(0))).alias("n_flagged"),
    )


# --- Referential-integrity profile ------------------------------------------


@query(
    "profile_referential_integrity",
    sql="""
    SELECT 'lineitem.l_orderkey->orders' AS relation,
           (SELECT COUNT(*) FROM lineitem) AS n_child,
           (SELECT COUNT(*) FROM lineitem l
            WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE l.l_partkey NOT IN (SELECT p_partkey FROM part))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
    ORDER BY relation
    """,
    order_by=("relation",),
)
def profile_referential_integrity(spark, sf_dir):
    """Cross-table referential-integrity report: orphan counts for every
    foreign key in the star schema — the preflight a warehouse load runs
    before declaring a snapshot consistent (the reference's assert-unique
    lookup generalized to assert-resolvable).

    Scale shape: per relation, ONE left join of the child against the
    DISTINCT parent key set and a conditional count — no NOT IN rewrite
    into a nested-loop, no collect. Parent key sets stay distributed
    (shuffle join; AQE broadcasts the dims that fit)."""
    counts = []
    specs = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ]
    for name, child_t, ck, parent_t, pk in specs:
        child = load(spark, sf_dir, child_t).select(F.col(ck).alias("k"))
        parent = load(spark, sf_dir, parent_t).select(F.col(pk).alias("k")).distinct()
        hit = parent.withColumn("present", F.lit(1))
        counts.append(
            child.join(hit, "k", "left").agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.col("present").isNull().cast("long")).alias("n_orphans"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# --- Semantic decontamination (embedding-level eval leakage) ----------------

_SEM_TAU = 0.4  # contamination threshold on exact cosine


@query(
    "llm_semantic_decontaminate",
    sql=f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS eval_id, {_QVEC_SQL} AS v,
             list_sum(list_transform({_QVEC_SQL}, x -> x * x)) AS nn
      FROM embeddings WHERE vec_id % 50 = 0),
    t AS MATERIALIZED (
      SELECT vec_id, {_QVEC_SQL} AS v,
             list_sum(list_transform({_QVEC_SQL}, x -> x * x)) AS nn
      FROM embeddings WHERE vec_id % 50 <> 0),
    sims AS (
      SELECT t.vec_id, q.eval_id,
             CAST(list_sum(list_transform(generate_series(1, len(t.v)), i -> t.v[i] * q.v[i])) AS DOUBLE)
               / (sqrt(CAST(t.nn AS DOUBLE)) * sqrt(CAST(q.nn AS DOUBLE))) AS cos
      FROM t, q),
    best AS (
      SELECT vec_id, max(struct_pack(c := cos, nid := -eval_id)) AS b
      FROM sims GROUP BY vec_id)
    SELECT vec_id, -b.nid AS best_eval_id, b.c AS max_cos,
           b.c >= {_SEM_TAU} AS contaminated
    FROM best ORDER BY vec_id
    """,
    order_by=("vec_id",),
)
def llm_semantic_decontaminate(spark, sf_dir):
    """Embedding-level decontamination: for every training vector, the max
    cosine against the EVAL set (vec_id % 50 == 0) and a contamination flag
    at tau={_SEM_TAU} — the semantic companion to the lexical n-gram
    decontaminate (curation.py), catching paraphrased eval leakage that
    shares no 8-gram.

    Exactness: embeddings quantized floor(x*1e6) -> integer dots/norms
    (exact, < 2^53), cosine ONE fixed-parenthesization double expression —
    bit-identical in both engines, so argmax (ties to the LOWEST eval id
    via max(struct(cos, -eval_id))) is deterministic.

    Scale shape: the eval side is bounded by construction (same
    precondition as decontaminate's broadcast gram set) and is BROADCAST;
    the corpus side is scanned once, never shuffled — the per-train-doc
    argmax is a map-side-combinable aggregate keyed on the corpus row."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: F.floor(x.cast("double") * _MMR_Q).cast("long"))
    nn = F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    base = e.select("vec_id", qv.alias("v")).select("vec_id", "v", nn.alias("nn"))
    evals = (
        base.filter(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("eval_id"), F.col("v").alias("qv"), F.col("nn").alias("qnn")
        )
    )
    # r11: widen the train side first (no-op on a multi-file corpus): the
    # fixture is one single-row-group file, so the |train|·|eval|
    # interpreted 64-dim cosine folds all ran in ONE task (guide §2.5).
    # The broadcast join and the per-train-row argmax aggregate are
    # unchanged — per-row work, values identical.
    from ..partitioning import ensure_parallelism

    train = ensure_parallelism(base.filter(F.col("vec_id") % 50 != 0))
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = train.join(F.broadcast(evals)).select(
        "vec_id",
        "eval_id",
        (
            dot.cast("double")
            / (F.sqrt(F.col("nn").cast("double")) * F.sqrt(F.col("qnn").cast("double")))
        ).alias("cos"),
    )
    best = sims.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos").alias("c"), (-F.col("eval_id")).alias("nid"))).alias("b")
    )
    return (
        best.select(
            "vec_id",
            (-F.col("b.nid")).alias("best_eval_id"),
            F.col("b.c").alias("max_cos"),
            (F.col("b.c") >= _SEM_TAU).alias("contaminated"),
        )
    )


# --- Margin-based bitext mining (parallel-corpus curation) ------------------


@query(
    "llm_bitext_mine",
    sql=f"""
    WITH src AS MATERIALIZED (
      SELECT vec_id AS x, {_QVEC_SQL} AS v,
             list_sum(list_transform({_QVEC_SQL}, t -> t * t)) AS nn
      FROM embeddings WHERE vec_id % 2 = 0),
    tgt AS MATERIALIZED (
      SELECT vec_id AS y, {_QVEC_SQL} AS v,
             list_sum(list_transform({_QVEC_SQL}, t -> t * t)) AS nn
      FROM embeddings WHERE vec_id % 2 = 1),
    sims AS MATERIALIZED (
      SELECT s.x, t.y,
             CAST(list_sum(list_transform(generate_series(1, len(s.v)), i -> s.v[i] * t.v[i])) AS DOUBLE)
               / (sqrt(CAST(s.nn AS DOUBLE)) * sqrt(CAST(t.nn AS DOUBLE))) AS cos
      FROM src s, tgt t),
    rx AS (
      SELECT x, (MAX(CASE WHEN rn = 1 THEN cos END) + MAX(CASE WHEN rn = 2 THEN cos END)) / 2 AS r
      FROM (SELECT x, cos, ROW_NUMBER() OVER (PARTITION BY x ORDER BY cos DESC, y) AS rn FROM sims)
      WHERE rn <= 2 GROUP BY x),
    ry AS (
      SELECT y, (MAX(CASE WHEN rn = 1 THEN cos END) + MAX(CASE WHEN rn = 2 THEN cos END)) / 2 AS r
      FROM (SELECT y, cos, ROW_NUMBER() OVER (PARTITION BY y ORDER BY cos DESC, x) AS rn FROM sims)
      WHERE rn <= 2 GROUP BY y),
    scored AS (
      SELECT s.x, s.y, s.cos + s.cos - ry.r - rx.r AS csls
      FROM sims s JOIN rx ON s.x = rx.x JOIN ry ON s.y = ry.y),
    best AS (
      SELECT x, max(struct_pack(c := csls, nid := -y)) AS b FROM scored GROUP BY x)
    SELECT x AS src_id, -b.nid AS tgt_id, b.c AS csls, b.c > 0 AS mined
    FROM best ORDER BY src_id
    """,
    order_by=("src_id",),
)
def llm_bitext_mine(spark, sf_dir):
    """Margin-based bitext mining (the CSLS criterion of Conneau et al. '18 /
    Artetxe & Schwenk '19) — the parallel-corpus curation step of a
    multilingual training pipeline: for every "source-language" vector
    (vec_id even) find the "target-language" vector (vec_id odd) maximizing
    csls(x, y) = 2·cos(x, y) − r(x) − r(y), where r(·) is the mean cosine of
    the vector's 2 nearest cross-lingual neighbours — the hubness-correcting
    margin that plain cosine retrieval lacks. Pair mined when csls > 0.

    Exactness: quantized floor(x·1e6) integer dots/norms, cosine ONE
    fixed-parenthesization double; r is the mean of the top-2 (one addition —
    order-free); csls is the same left-associated chain in both engines, so
    the per-source argmax (ties to the lowest target id) is deterministic.

    Scale shape: bipartite BLOCKED GEMM, the same O(n²)-flops-without-
    O(n²)-rows machinery as blocked_cosine_pairs — the sims matrix is never
    materialized as rows. Both halves pack into ~1k-row blocks; a
    distributed block-pair grid joins packed blocks; two Arrow-batched
    numpy kernels run the exact dense math (pass 1: per-row top-2 partials
    for the r(·) means, a semilattice combine so block order is free;
    pass 2: per-source argmax of 2·cos − r(y), with r(x) subtracted after
    the combine — legal because r(x) is constant within a source). All dot
    products are quantized-integer-valued and stay below 2^53, so float64
    GEMM is EXACT and every emitted double is the same IEEE expression the
    oracle computes — hash-equality survives the BLAS path. (The first cut
    computed sims via JVM higher-order folds; the 10x sweep caught it at
    1066 s — 100M interpreted 64-dim folds. The GEMM form is the fix, not
    a subset dodge.)"""
    import numpy as np
    import pandas as pd

    from ..operators.rowids import assign_contiguous_ids

    e = load(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda v: F.floor(v.cast("double") * _MMR_Q).cast("long"))
    nn = F.aggregate(
        F.transform("v", lambda v: v * v), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    base = e.select("vec_id", qv.alias("v")).select("vec_id", "v", nn.alias("nn"))

    _B = 1024

    # Both side sizes in ONE column-pruned job (r10: was one count() per
    # side plus a second count() inside each assign_contiguous_ids — four
    # sizing jobs for two numbers).
    side_counts = {
        r["par"]: r["n"]
        for r in e.select((F.col("vec_id") % 2).alias("par"))
        .groupBy("par")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_src, n_tgt = int(side_counts.get(0, 0)), int(side_counts.get(1, 0))

    def packed(side: DataFrame, blk: str, rows: str, n: int) -> tuple[DataFrame, int]:
        ranked = assign_contiguous_ids(side, "vec_id", id_name="_rk", n_rows=n)
        p = (
            ranked.withColumn(blk, (F.col("_rk") / F.lit(_B)).cast("long"))
            .groupBy(blk)
            .agg(F.collect_list(F.struct("vec_id", "v", "nn")).alias(rows))
        )
        return p, max(1, -(-n // _B))

    src, tgt = base.filter(F.col("vec_id") % 2 == 0), base.filter(F.col("vec_id") % 2 == 1)
    pa, na = packed(src, "blk_a", "rows_a", n_src)
    pb, nb = packed(tgt, "blk_b", "rows_b", n_tgt)
    pa, pb = track(pa.persist()), track(pb.persist())
    grid = spark.range(na).select(
        F.col("id").alias("blk_a"),
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("blk_b"),
    )
    joined = pa.join(F.broadcast(grid), "blk_a").join(pb, "blk_b")

    def unpack(cell, extra=None):
        ids = np.array([r["vec_id"] for r in cell], dtype=np.int64)
        m = np.array([list(r["v"]) for r in cell], dtype=np.float64)
        rt = np.sqrt(np.array([r["nn"] for r in cell], dtype=np.float64))
        ex = np.array([r[extra] for r in cell], dtype=np.float64) if extra else None
        return ids, m, rt, ex

    def unpack_memo(cache: dict, key, cell, extra=None):
        # a task sees each packed block once per BLOCK PAIR — memoizing the
        # struct-list → numpy conversion by block id cuts the dominant
        # per-pair constant (measured at 100x: unpack, not GEMM, ruled)
        hit = cache.get(key)
        if hit is None:
            if len(cache) >= 512:  # bound worker memory on huge grids
                cache.clear()
            hit = cache[key] = unpack(cell, extra)
        return hit

    def top2(cos: "np.ndarray") -> "np.ndarray":
        # two largest per row, UNORDERED — np.partition is O(cols) per row
        # vs the O(cols log cols) full sort that dominated the first 100x
        # run; order is irrelevant because the downstream combine re-sorts
        # the unioned partials
        if cos.shape[1] < 2:
            return cos
        return -np.partition(-cos, kth=1, axis=1)[:, :2]

    def top2_partials(batches):
        # pass 1: per block pair, each side's two largest cos values —
        # a semilattice partial (global top-2 = top-2 of unioned partials)
        cache: dict = {}
        for pdf in batches:
            for ba, bb, ra, rb in zip(pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]):
                ia, ma, rta, _ = unpack_memo(cache, ("a", int(ba)), ra)
                ib, mb, rtb, _ = unpack_memo(cache, ("b", int(bb)), rb)
                cos = (ma @ mb.T) / (rta[:, None] * rtb[None, :])
                xa = top2(cos)
                xb = top2(np.ascontiguousarray(cos.T))
                k_a, k_b = xa.shape[1], xb.shape[1]
                yield pd.DataFrame(
                    {
                        "side": ["x"] * (len(ia) * k_a) + ["y"] * (len(ib) * k_b),
                        "id": np.concatenate([ia.repeat(k_a), ib.repeat(k_b)]),
                        "c": np.concatenate([xa.ravel(), xb.ravel()]),
                    }
                )

    partials = joined.mapInPandas(top2_partials, schema="side string, id long, c double")
    # distinct name from the numpy `top2` helper above: the closure only
    # works because the UDF is pickled at the mapInPandas() call site —
    # rebinding the same name to a Column would break under any
    # deferred-serialization path (e.g. Spark Connect)
    top2_col = F.slice(F.sort_array(F.collect_list("c"), asc=False), 1, 2)
    means = partials.groupBy("side", "id").agg(
        ((F.element_at(top2_col, 1) + F.element_at(top2_col, 2)) / 2).alias("r")
    )
    rx = means.filter(F.col("side") == "x").select(F.col("id").alias("x"), F.col("r").alias("rx"))
    ry = means.filter(F.col("side") == "y").select(F.col("id").alias("y"), F.col("r").alias("ry"))

    # pass 2: r(y) rides the packed target rows; per source the block-local
    # argmax of m = 2·cos − r(y) combines via max(struct) — r(x) is constant
    # per source, so csls = m − r(x) attaches after the combine.
    # every target id appears in pass 1's partials, so the inner join keeps
    # all n_tgt rows — the count is already known, no sizing job needed
    tgt_r = tgt.join(ry, tgt["vec_id"] == ry["y"]).select("vec_id", "v", "nn", "ry")
    pb2 = (
        assign_contiguous_ids(tgt_r, "vec_id", id_name="_rk", n_rows=n_tgt)
        .withColumn("blk_b", (F.col("_rk") / F.lit(_B)).cast("long"))
        .groupBy("blk_b")
        .agg(F.collect_list(F.struct("vec_id", "v", "nn", "ry")).alias("rows_b"))
    )
    joined2 = pa.join(F.broadcast(grid), "blk_a").join(pb2, "blk_b")

    def best_margin(batches):
        cache: dict = {}
        for pdf in batches:
            for ba, bb, ra, rb in zip(pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]):
                ia, ma, rta, _ = unpack_memo(cache, ("a", int(ba)), ra)
                ib, mb, rtb, ryv = unpack_memo(cache, ("b", int(bb)), rb, extra="ry")
                cos = (ma @ mb.T) / (rta[:, None] * rtb[None, :])
                m = cos + cos - ryv[None, :]
                mx = m.max(axis=1)
                # tie → lowest target id, same as the oracle's (csls, -y) struct
                best_y = np.where(m == mx[:, None], ib[None, :], np.iinfo(np.int64).max).min(axis=1)
                yield pd.DataFrame({"x": ia, "m": mx, "y": best_y})

    block_best = joined2.mapInPandas(best_margin, schema="x long, m double, y long")
    best = block_best.groupBy("x").agg(
        F.max(F.struct(F.col("m").alias("c"), (-F.col("y")).alias("nid"))).alias("b")
    )
    return (
        best.join(rx, "x")
        .select(
            F.col("x").alias("src_id"),
            (-F.col("b.nid")).alias("tgt_id"),
            (F.col("b.c") - F.col("rx")).alias("csls"),
            ((F.col("b.c") - F.col("rx")) > 0).alias("mined"),
        )
    )


# --- Token-budget corpus selection ------------------------------------------


@query(
    "train_token_budget",
    sql=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
             (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1000000
               // greatest(length(text), 1) AS score_ppm
      FROM documents),
    c AS (
      SELECT doc_id, n_tok, score_ppm,
             CAST(SUM(n_tok) OVER (ORDER BY score_ppm DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
             SUM(n_tok) OVER () AS total_tokens
      FROM scored)
    SELECT doc_id, score_ppm, n_tok, cum_tokens
    FROM c WHERE cum_tokens * 2 <= total_tokens
    ORDER BY score_ppm DESC, doc_id
    """,
    order_by=("score_ppm DESC", "doc_id"),
)
def train_token_budget(spark, sf_dir):
    """Token-budget corpus selection: rank documents by an integer quality
    score (alphabetic ppm — exact integer division, no float), admit in
    rank order until the cumulative token count reaches HALF the corpus —
    the greedy quality-per-token curation step that turns a scored corpus
    into a fixed-budget training set.

    Scale shape: the running total comes from operators/prefix.py::
    partitioned_cumsum (range partition on the rank order + driver offset
    prefix-sum), NOT a one-task unbounded window; the grand total falls out
    of the same offset pass free. The ORDER BY window in the oracle is the
    semantics, not the plan."""
    from ..operators.prefix import partitioned_cumsum

    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(ws_tokens("text")).cast("long").alias("n_tok"),
        F.expr(
            "(length(text) - length(regexp_replace(text, '[A-Za-z]', ''))) * 1000000"
            " DIV greatest(length(text), 1)"
        ).alias("score_ppm"),
    ).withColumn("neg_score", -F.col("score_ppm"))
    c = partitioned_cumsum(
        scored,
        order_cols=["neg_score", "doc_id"],
        value_col="n_tok",
        cum_name="cum_tokens",
        total_name="total_tokens",
    )
    return (
        c.filter(F.col("cum_tokens") * 2 <= F.col("total_tokens"))
        .select("doc_id", "score_ppm", "n_tok", "cum_tokens")
    )


# --- Integer-halving EWMA (sequential stateful op, exact oracle) ------------


@query(
    "ts_ewma_int",
    sql="""
    WITH RECURSIVE q AS (
      SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS x,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    r AS (
      SELECT user_id, event_id, rn, x AS s FROM q WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.event_id, q.rn, q.x + r.s // 2 AS s
      FROM q JOIN r ON q.user_id = r.user_id AND q.rn = r.rn + 1)
    SELECT user_id, event_id, s AS ewma_half_cents
    FROM r ORDER BY user_id, event_id
    """,
    order_by=("user_id", "event_id"),
)
def ts_ewma_int(spark, sf_dir):
    """Integer-halving exponential decay (EWMA with alpha=1/2, fixed-point):
    per user in (ts, event_id) order, s_t = x_t + s_{t-1} DIV 2 over exact
    integer cents — the inherently SEQUENTIAL per-key recurrence (each step
    floors, so no closed-form window sum exists). The class of op that
    needs applyInPandas: whole-group in/out, sequential scan inside the
    worker, engine-side it is one co-keyed shuffle with no window over the
    corpus. Python ``//``, numpy ``floor_divide`` and DuckDB ``//`` all
    floor, so the recurrence is bit-identical to the oracle's recursive
    CTE.

    Shape (r10): grouped by a deterministic HASH BUCKET of user_id, not by
    user — thousands of per-user pandas groups became a few per-core
    batches (the grouping key only sets shuffle granularity; the
    recurrence stays strictly per-user inside the worker). Inside each
    batch the recurrence is vectorized ACROSS users step by step: rows
    lex-sorted by (step-index, user), then step k is one whole-array
    ``x_k + s_{k-1} // 2`` with searchsorted alignment — the sequential
    dimension shrinks to max-events-per-user, the true critical path of
    the recurrence, instead of a Python-interpreted loop over every row."""
    import pandas as pd

    e = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    # Bucket count: parallelism floor, GROWING with the input (parquet
    # footer row counts — no job) so one bucket's pandas frame is bounded
    # at ~1M rows regardless of corpus size (r11, VERDICT r10 "What's
    # wrong #1": cores-only buckets made per-bucket memory O(N/cores)).
    # Values are bucket-count-invariant: the recurrence is strictly
    # per-user inside the worker; the key only sets shuffle granularity.
    from ..partitioning import adaptive_group_buckets

    n_buckets = adaptive_group_buckets(
        e, floor=max(2 * spark.sparkContext.defaultParallelism, 8)
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) == 0:
            return pd.DataFrame(
                {"user_id": [], "event_id": [], "ewma_half_cents": []}
            ).astype({"user_id": "int64", "event_id": "int64", "ewma_half_cents": "int64"})
        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        x = np.floor(pdf["value"].to_numpy() * 100).astype("int64")
        uid = pdf["user_id"].to_numpy()
        n = len(uid)
        # per-user step index (uid-sorted, so group starts are boundaries)
        idx = np.arange(n)
        new_grp = np.empty(n, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = uid[1:] != uid[:-1]
        pos = idx - np.maximum.accumulate(np.where(new_grp, idx, 0))
        # step blocks: rows re-sorted by (pos, user); block k holds every
        # user's k-th event, user-sorted, so aligning block k to block k-1
        # is one searchsorted (users at step k are a subset of step k-1)
        order = np.lexsort((uid, pos))
        xs, us, ps = x[order], uid[order], pos[order]
        n_steps = int(ps[-1]) + 1
        starts = np.searchsorted(ps, np.arange(n_steps + 1))
        s_sorted = np.empty(n, dtype="int64")
        prev_users = us[starts[0] : starts[1]]
        prev_s = xs[starts[0] : starts[1]]
        s_sorted[starts[0] : starts[1]] = prev_s
        for k in range(1, n_steps):
            lo, hi = starts[k], starts[k + 1]
            j = np.searchsorted(prev_users, us[lo:hi])
            cur = xs[lo:hi] + np.floor_divide(prev_s[j], 2)
            s_sorted[lo:hi] = cur
            prev_users, prev_s = us[lo:hi], cur
        s = np.empty(n, dtype="int64")
        s[order] = s_sorted
        return pd.DataFrame(
            {
                "user_id": uid,
                "event_id": pdf["event_id"].to_numpy(),
                "ewma_half_cents": s,
            }
        )

    out = (
        e.withColumn("_bkt", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)))
        .groupBy("_bkt")
        .applyInPandas(ewma, schema="user_id long, event_id long, ewma_half_cents long")
    )
    # Persist before the output ORDER BY: the range partitioner's
    # bounds-sampling pass otherwise re-executes the whole Python
    # recurrence pass a second time (sign-stable interleaved A/B).
    from ..caching import track

    return track(out.persist())


# --- k-anonymity preflight ---------------------------------------------------

_K_ANON = 5


@query(
    "profile_k_anonymity",
    sql=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT CAST({_K_ANON} AS BIGINT) AS k,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_k,
           CAST(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           MIN(n) AS min_group_size
    FROM g
    """,
)
def profile_k_anonymity(spark, sf_dir):
    """k-anonymity preflight over the quasi-identifier tuple
    (nation, market segment): how many equivalence classes fall below
    k={_K_ANON}, and how many rows they expose — the privacy gate a
    training-data release runs before shipping joined demographic columns.
    One hash aggregate over the quasi-identifiers + one 5-number summary;
    map-side combine does the heavy lifting at corpus scale."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    return g.agg(
        F.lit(_K_ANON).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("n") < _K_ANON).cast("long")).alias("n_groups_below_k"),
        F.sum(F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(F.lit(0))).alias(
            "n_rows_at_risk"
        ),
        F.min("n").alias("min_group_size"),
    )


# --- Matryoshka truncation evaluation ----------------------------------------

_MATRYOSHKA_DIMS = (8, 16, 32, 64)


def _matryoshka_sql() -> str:
    selects = []
    for d in _MATRYOSHKA_DIMS:
        selects.append(
            f"""
    SELECT {d} AS dim, COUNT(*) AS n_pairs,
           CAST(SUM(CAST(floor(abs(
             CAST(list_sum(list_transform(generate_series(1, {d}), i -> a.v[i] * b.v[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.v[1:{d}], x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.v[1:{d}], x -> x * x)) AS DOUBLE)))
             -
             CAST(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) AS DOUBLE)))
           ) * 1000000) AS BIGINT)) AS BIGINT) AS sum_abs_err_ppm
    FROM pairs a JOIN pairs b ON b.vec_id = a.vec_id + 1"""
        )
    body = " UNION ALL ".join(selects)
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT vec_id, {_QVEC_SQL} AS v FROM embeddings)
    SELECT dim, n_pairs, sum_abs_err_ppm,
           CAST(sum_abs_err_ppm // n_pairs AS BIGINT) AS mean_err_ppm
    FROM ({body}) ORDER BY dim
    """


@query("emb_matryoshka_eval", sql=_matryoshka_sql(), order_by=("dim",))
def emb_matryoshka_eval(spark, sf_dir):
    """Matryoshka truncation evaluation: how much does cosine similarity
    drift when embeddings are truncated to the first 8/16/32 dims vs the
    full 64? Measured over the deterministic (vec_id, vec_id+1) pair chain
    as sum/mean |cos_d - cos_64| in exact ppm (quantized-integer moments →
    bit-identical doubles → floor of an exact double, same in both
    engines). The decision input for serving truncated embeddings at a
    fraction of the ANN index cost.

    Scale shape: the pair chain is a co-keyed self-join on vec_id+1 (no
    cartesian), all similarity math is in-row, and the per-dim report is a
    4-row aggregate."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: F.floor(x.cast("double") * _MMR_Q).cast("long"))
    base = e.select("vec_id", qv.alias("v"))
    b = base.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb"))
    pairs = base.join(b, "vec_id").select("vec_id", F.col("v").alias("va"), "vb")

    def isum(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda acc, x: acc + x)

    def cos(d: int):
        va = F.slice("va", 1, d)
        vb = F.slice("vb", 1, d)
        dot = isum(F.zip_with(va, vb, lambda a, x: a * x)).cast("double")
        na = F.sqrt(isum(F.transform(va, lambda x: x * x)).cast("double"))
        nb = F.sqrt(isum(F.transform(vb, lambda x: x * x)).cast("double"))
        return dot / (na * nb)

    full = cos(64)
    per_dim = []
    for d in _MATRYOSHKA_DIMS:
        err = F.floor(F.abs(cos(d) - full) * 1000000).cast("long")
        per_dim.append(
            pairs.agg(
                F.lit(d).cast("int").alias("dim"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(err).alias("sum_abs_err_ppm"),
            )
        )
    out = per_dim[0]
    for p in per_dim[1:]:
        out = out.unionByName(p)
    return out.select(
        "dim", "n_pairs", "sum_abs_err_ppm",
        F.expr("sum_abs_err_ppm DIV n_pairs").alias("mean_err_ppm"),
    )


# --- Small-file compaction round-trip ----------------------------------------


@query(
    "s_compaction",
    sql="""
    SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           CAST(8 AS INT) AS n_files_before, CAST(2 AS INT) AS n_files_after
    FROM nation
    """,
)
def s_compaction(spark, sf_dir):
    """Small-file compaction: land a table as 8 small files (the
    many-tiny-files shape that kills scan throughput at 100 TB — listing
    cost, per-file open overhead, tiny row groups), then rewrite it as 2
    target-size files with ``coalesce`` (a NARROW rewrite — no shuffle;
    repartition would shuffle for nothing here) and verify the round trip
    preserved every row. File counts come from distinct
    ``input_file_name()`` — the observable a compaction job actually
    monitors."""
    from ..catalog import scratch_path

    n = load(spark, sf_dir, "nation")
    path = scratch_path(spark, "compaction_nation")
    n.repartition(8).write.mode("overwrite").parquet(f"{path}/small")
    small = spark.read.parquet(f"{path}/small")
    n_before = small.select(F.input_file_name().alias("f")).distinct().count()
    small.coalesce(2).write.mode("overwrite").parquet(f"{path}/compact")
    compact = spark.read.parquet(f"{path}/compact")
    n_after = compact.select(F.input_file_name().alias("f")).distinct().count()
    return compact.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").alias("key_sum"),
        F.lit(n_before).cast("int").alias("n_files_before"),
        F.lit(n_after).cast("int").alias("n_files_after"),
    )


# --- Incremental aggregate maintenance (Z-set / delta batch) ----------------


@query(
    "merge_incremental_agg",
    sql="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    WHERE (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0) OR o_orderkey % 10 = 0
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("o_orderstatus",),
)
def merge_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance (the Z-set / DBSP pattern): a
    materialized per-status aggregate is updated from a CDC delta batch of
    signed rows (+1 inserts, -1 deletes) WITHOUT rescanning the base —
    new_agg = base_agg ⊕ delta_agg, legal because count and integer-cent
    sum are abelian-group aggregates. The demo partitions the fixture:
    base = orderkey%10 != 0, inserts = the %10 == 0 rows, deletes = base
    rows with orderkey%7 == 0; the maintained state must equal the oracle's
    direct recompute of the final set.

    Scale shape: the base aggregate is |groups|-sized state; each delta
    batch costs one aggregate over the DELTA only plus a |groups|-sized
    outer merge — at 100 TB the base is never re-read (the same contract
    as streaming/windows.py::run_incremental_rollup, here in batch form)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    inserts = o.filter(F.col("o_orderkey") % 10 == 0).withColumn("sign", F.lit(1).cast("long"))
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "sign", F.lit(-1).cast("long")
    )
    delta = inserts.unionByName(deletes)

    base_agg = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    )
    delta_agg = delta.groupBy("o_orderstatus").agg(
        F.sum("sign").alias("dn"), F.sum(F.col("sign") * F.col("cents")).alias("dc")
    )
    merged = (
        base_agg.join(delta_agg, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_orders"),
            (F.coalesce("c", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias("total_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged


# --- Order-independent shard manifest ---------------------------------------

# Pack the first 15 md5 hex nibbles into a positive int64: identical text in
# Spark SQL and DuckDB (instr/substr/md5 exist in both with 1-based
# semantics), pure multiplication — no engine-specific shift operators.
_ROW_HASH_SQL = " + ".join(
    # CAST the power-of-16 constant: small ones parse as INT32 and the
    # nibble*const product overflows int under ANSI mode.
    f"(instr('0123456789abcdef', substr(md5(canon), {k + 1}, 1)) - 1)"
    f" * CAST({16 ** (14 - k)} AS BIGINT)"
    for k in range(15)
)
_MANIFEST_MOD = 16**15  # 2^60


@query(
    "train_shard_manifest",
    sql=f"""
    WITH canon AS (
      SELECT o_orderkey % 8 AS shard_id,
             concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                       o_orderstatus, CAST(o_orderdate AS VARCHAR)) AS canon
      FROM orders),
    hashed AS (
      SELECT shard_id, CAST({_ROW_HASH_SQL} AS BIGINT) AS h FROM canon)
    SELECT shard_id, COUNT(*) AS n_rows,
           CAST(SUM(CAST(h AS HUGEINT)) % {_MANIFEST_MOD} AS BIGINT) AS content_checksum
    FROM hashed GROUP BY shard_id ORDER BY shard_id
    """,
    order_by=("shard_id",),
)
def train_shard_manifest(spark, sf_dir):
    """Shard manifest with ORDER-INDEPENDENT content checksums: every row
    canonicalized (integer/date columns only — float rendering is not
    portable), hashed to a 60-bit integer via md5-nibble packing, and
    summed per shard modulo 2^60 (widened through DECIMAL(38)/HUGEINT so
    the sum can't wrap int64 first). Because the checksum is a SUM, any
    re-partitioning, re-ordering, or parallel rewrite of a shard verifies
    against the same manifest — the integrity artifact a snapshot publisher
    ships next to the data files.

    Scale shape: one hash aggregate keyed on shard_id; the canonical string
    and hash are in-row codegen. No sort, no window."""
    o = load(spark, sf_dir, "orders")
    canon = o.select(
        (F.col("o_orderkey") % 8).alias("shard_id"),
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderdate").cast("string"),
        ).alias("canon"),
    )
    hashed = canon.select("shard_id", F.expr(f"CAST({_shash60('canon')} AS BIGINT)").alias("h"))
    return (
        hashed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {_MANIFEST_MOD} AS BIGINT)"
            ).alias("content_checksum"),
        )
    )


# --- End-to-end curation pipeline -------------------------------------------

_E2E_QT = 820_000  # alpha-ppm quality gate (fixture median ~821.7k)

_E2E_SQL = f"""
    WITH scored AS (
      SELECT doc_id, text,
             (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1000000
               // greatest(length(text), 1) AS score_ppm
      FROM documents),
    kept0 AS (SELECT * FROM scored WHERE score_ppm >= {_E2E_QT}),
    t AS (
      SELECT doc_id, score_ppm, {_SQL_TOKENS} AS toks,
             greatest(CAST(ceil(len({_SQL_TOKENS}) / {_SEG}.0) AS BIGINT), 1) AS n_segs
      FROM kept0),
    s AS (
      SELECT doc_id, toks, unnest(generate_series(0, n_segs - 1)) AS seg_idx FROM t),
    seg AS (
      SELECT doc_id, seg_idx,
             array_to_string(toks[seg_idx * {_SEG} + 1 : seg_idx * {_SEG} + {_SEG}], ' ') AS seg_text
      FROM s),
    keep AS (
      SELECT doc_id, seg_idx, seg_text,
             ROW_NUMBER() OVER (PARTITION BY seg_text ORDER BY doc_id, seg_idx) AS rn
      FROM seg),
    reasm AS (
      SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_idx) AS kept_text
      FROM keep WHERE rn = 1 GROUP BY doc_id),
    toks2 AS (
      SELECT k.doc_id, k.score_ppm,
             CASE WHEN r.kept_text IS NULL OR r.kept_text = '' THEN 0
                  ELSE CAST(len(string_split(r.kept_text, ' ')) AS BIGINT) END AS n_tok
      FROM kept0 k LEFT JOIN reasm r ON k.doc_id = r.doc_id),
    c AS (
      SELECT doc_id, score_ppm, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY score_ppm DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
             SUM(n_tok) OVER () AS total_tokens
      FROM toks2)
    SELECT doc_id, score_ppm, n_tok, cum_tokens
    FROM c WHERE cum_tokens * 2 <= total_tokens
    ORDER BY score_ppm DESC, doc_id
"""


@query("pipeline_curation_e2e", sql=_E2E_SQL, order_by=("score_ppm DESC", "doc_id"))
def pipeline_curation_e2e(spark, sf_dir):
    """End-to-end curation pipeline — the composition a real training-data
    job runs, as ONE declarative plan: quality gate (integer alpha-ppm >=
    {_E2E_QT}) → segment-level dedup with reassembly (first-occurrence
    election over the SURVIVING docs) → token-budget admission (quality
    rank order until half the deduped token mass).

    Everything stays one lazy DataFrame graph: Catalyst pushes the quality
    filter into the scan, the dedup contributes its two keyed shuffles, and
    the budget pass runs on operators/prefix.py::partitioned_cumsum — no
    one-task window anywhere, no intermediate materialization beyond the
    cumsum's bucket statistics."""
    from ..operators.prefix import partitioned_cumsum

    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "text",
        F.expr(
            "(length(text) - length(regexp_replace(text, '[A-Za-z]', ''))) * 1000000"
            " DIV greatest(length(text), 1)"
        ).alias("score_ppm"),
    )
    kept = scored.filter(F.col("score_ppm") >= _E2E_QT)
    seg = _segment_dedup(kept.select("doc_id", "text"))
    tok = (
        kept.select("doc_id", "score_ppm")
        .join(seg.select("doc_id", "kept_text"), "doc_id", "left")
        .select(
            "doc_id",
            "score_ppm",
            F.when(
                F.col("kept_text").isNull() | (F.col("kept_text") == ""), F.lit(0).cast("long")
            )
            .otherwise(F.size(F.split("kept_text", " ")).cast("long"))
            .alias("n_tok"),
        )
        .withColumn("neg_score", -F.col("score_ppm"))
    )
    c = partitioned_cumsum(
        tok,
        order_cols=["neg_score", "doc_id"],
        value_col="n_tok",
        cum_name="cum_tokens",
        total_name="total_tokens",
    )
    return (
        c.filter(F.col("cum_tokens") * 2 <= F.col("total_tokens"))
        .select("doc_id", "score_ppm", "n_tok", "cum_tokens")
    )


# --- Oracle-exact fixed-point k-means ----------------------------------------

_KM_K = 8
_KM_ITERS = 3
_KM_Q = 1000  # floor(x * 1e3) — distance sums stay far inside int64

_KMQ_SQL = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def _kmeans_oracle_sql() -> str:
    """Unrolled Lloyd iterations, all integer: assignment by exact squared
    L2 (ties to the lowest centroid id), centroid update floor(sum/n) per
    dim (floor of an exactly-representable double quotient — identical to
    Python int // because the rational is never within half-ulp of an
    integer unless it IS one)."""
    dist = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i])))"
    )
    parts = [
        f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id, {_KMQ_SQL} AS v FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT vec_id AS j, v FROM pts WHERE vec_id < {_KM_K})"""
    ]
    for it in range(1, _KM_ITERS + 1):
        parts.append(
            f""",
    a{it} AS MATERIALIZED (
      SELECT p.vec_id, p.v,
             (min(struct_pack(d := {dist}, j := c.j))).j AS cluster
      FROM pts p, c{it - 1} c GROUP BY p.vec_id, p.v),
    s{it} AS (
      SELECT a.cluster, u.d,
             CAST(floor(CAST(SUM(a.v[u.d]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
      FROM a{it} a, unnest(generate_series(1, 64)) u(d)
      GROUP BY a.cluster, u.d),
    n{it} AS (
      SELECT cluster AS j, list(cd ORDER BY d) AS v FROM s{it} GROUP BY cluster),
    c{it} AS MATERIALIZED (
      SELECT c.j, COALESCE(n.v, c.v) AS v
      FROM c{it - 1} c LEFT JOIN n{it} n ON n.j = c.j)"""
        )
    parts.append(
        f"""
    SELECT p.vec_id,
           (min(struct_pack(d := {dist}, j := c.j))).j AS cluster_id,
           CAST((min(struct_pack(d := {dist}, j := c.j))).d AS BIGINT) AS dist2
    FROM pts p, c{_KM_ITERS} c GROUP BY p.vec_id ORDER BY p.vec_id"""
    )
    return "".join(parts)


@query("emb_kmeans_int", sql=_kmeans_oracle_sql(), order_by=("vec_id",))
def emb_kmeans_int(spark, sf_dir):
    """Oracle-exact fixed-point Lloyd's k-means (hash-green companion to the
    float emb_kmeans): embeddings quantized floor(x*1e3), distances exact
    int64 squared-L2, argmin ties to the lowest centroid id, centroid
    update floor(per-dim mean) — every iteration is integer-deterministic,
    so {_KM_ITERS} rounds agree bit-for-bit with the oracle's unrolled CTE
    stages. Init = the first {_KM_K} vectors by id (deterministic, same in
    both engines).

    Scale shape (same as llm/kmeans.py): centroids are a k x d driver
    literal per round (bounded by construction); assignment is one in-row
    expression pass over the corpus; the update is ONE map-side-combinable
    aggregate of k x d cells. No shuffle of the points beyond the k-keyed
    partial aggregate."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda x: F.floor(x.cast("double") * _KM_Q).cast("long"))
    pts = e.select("vec_id", qv.alias("v"))
    cents = {
        int(r["vec_id"]): [int(x) for x in r["v"]]
        for r in pts.filter(F.col("vec_id") < _KM_K).collect()
    }

    def dist2(c: list):
        return F.aggregate(
            F.zip_with("v", F.lit(c), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def assign():
        return F.array_min(
            F.array(
                *[
                    F.struct(dist2(cents[j]).alias("d"), F.lit(j).cast("long").alias("j"))
                    for j in sorted(cents)
                ]
            )
        )

    for _ in range(_KM_ITERS):
        assigned = pts.select("vec_id", "v", assign().getField("j").alias("cluster"))
        sums = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("v", d + 1)).alias(f"s{d}") for d in range(64)],
        )
        new = {}
        for r in sums.collect():  # k rows — bounded by construction
            j = int(r["cluster"])
            n = int(r["n"])
            new[j] = [int(r[f"s{d}"]) // n for d in range(64)]
        for j in cents:
            if j in new:
                cents[j] = new[j]
    final = assign()
    return pts.select(
        "vec_id",
        final.getField("j").alias("cluster_id"),
        final.getField("d").alias("dist2"),
    )


# --- Corrupt-record-tolerant ingestion ---------------------------------------


@query(
    "s_corrupt_records",
    sql="""
    SELECT (SELECT COUNT(*) FROM nation) AS n_good,
           CAST(2 AS BIGINT) AS n_corrupt,
           CAST((SELECT SUM(n_nationkey) FROM nation) AS BIGINT) AS key_sum
    """,
)
def s_corrupt_records(spark, sf_dir):
    """Corrupt-record-tolerant ingestion (PERMISSIVE mode): a JSONL batch
    with planted malformed lines is read with an explicit schema +
    ``_corrupt_record`` sink column — bad lines land in the quarantine
    column instead of failing the job (the poison-pill contract a 100 TB
    ingest needs: one bad record in a billion must not kill the pass).
    The parsed frame is persisted before aggregating — Spark (documented
    restriction) refuses queries that project only the internal corrupt
    column from the unmaterialized scan."""
    from ..catalog import scratch_path

    n = load(spark, sf_dir, "nation")
    path = scratch_path(spark, "corrupt_jsonl")
    good = n.select(F.to_json(F.struct("n_nationkey", "n_name")).alias("value"))
    bad = spark.createDataFrame([("{oops",), ("### not json",)], "value string")
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema("n_nationkey long, n_name string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .persist()
    )
    out = parsed.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))).alias("key_sum"),
    )
    out = out.localCheckpoint(eager=True)  # materialize before unpersist
    parsed.unpersist()
    return out


# --- CACHE TABLE SQL surface -------------------------------------------------


@query(
    "sql_cache_table",
    sql="""
    SELECT n_regionkey, COUNT(*) AS n_nations, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY 1 ORDER BY 1
    """,
    order_by=("n_regionkey",),
)
def sql_cache_table(spark, sf_dir):
    """CACHE TABLE SQL surface: materialize a projection once
    (`CACHE TABLE ... AS SELECT`), then aggregate over the in-memory
    columnar relation — the SQL-facing form of `.persist()` used by BI
    layers. The plan test asserts the InMemoryTableScan; the harness's
    clearCache sweeps the entry afterwards (same lifecycle as every
    tracked persist)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    spark.sql("UNCACHE TABLE IF EXISTS cached_nation_r3")
    spark.sql(
        "CACHE TABLE cached_nation_r3 AS SELECT n_nationkey, n_regionkey FROM nation"
    )
    return spark.sql(
        """
        SELECT n_regionkey, COUNT(*) AS n_nations, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        FROM cached_nation_r3 GROUP BY 1
        """
    )


# --- Source/domain-level quality aggregation ---------------------------------


@query(
    "llm_domain_stats",
    sql=f"""
    WITH scored AS (
      SELECT source,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
             (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1000000
               // greatest(length(text), 1) AS score_ppm,
             md5(text) AS h
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
           COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups,
           (SUM(score_ppm) // COUNT(*)) >= 815000 AND
             (COUNT(*) - COUNT(DISTINCT h)) * 10 < COUNT(*) AS keep_source
    FROM scored GROUP BY source ORDER BY source
    """,
    order_by=("source",),
)
def llm_domain_stats(spark, sf_dir):
    """Source/domain-level curation (the Dolma/RefinedWeb stage ABOVE
    per-document filtering): per source, document/token mass, mean integer
    quality, exact-dup count, and a keep/drop verdict (mean quality >=
    815000 ppm AND <10% exact dups). Domains are decided wholesale because
    per-doc signals are noisy but domain reputations are stable.

    Scale shape: ONE hash aggregate keyed on source (count-distinct of the
    content hash rides the same shuffle); every per-doc signal is in-row."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.size(ws_tokens("text")).cast("long").alias("n_tok"),
        F.expr(
            "(length(text) - length(regexp_replace(text, '[A-Za-z]', ''))) * 1000000"
            " DIV greatest(length(text), 1)"
        ).alias("score_ppm"),
        F.md5("text").alias("h"),
    )
    g = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.expr("sum(score_ppm) DIV count(1)").alias("mean_score_ppm"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_score_ppm",
        "n_exact_dups",
        (
            (F.col("mean_score_ppm") >= 815000)
            & (F.col("n_exact_dups") * 10 < F.col("n_docs"))
        ).alias("keep_source"),
    )


# --- In-document segment repetition (zero shuffle) ---------------------------


@query(
    "llm_selfrep_segments",
    sql=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks,
             greatest(CAST(ceil(len({_SQL_TOKENS}) / {_SEG}.0) AS BIGINT), 1) AS n_segs
      FROM t0),
    seg AS (
      SELECT doc_id, n_segs,
             list_transform(generate_series(0, n_segs - 1),
                            i -> array_to_string(toks[i * {_SEG} + 1 : i * {_SEG} + {_SEG}], ' ')) AS segs
      FROM t)
    SELECT doc_id, n_segs,
           n_segs - CAST(len(list_distinct(segs)) AS BIGINT) AS n_self_dups,
           (n_segs - CAST(len(list_distinct(segs)) AS BIGINT)) * 1000000 // n_segs AS selfrep_ppm
    FROM seg ORDER BY doc_id
    """.replace("FROM t0", "FROM documents"),
    order_by=("doc_id",),
)
def llm_selfrep_segments(spark, sf_dir):
    """In-document repetition at segment granularity (the Gopher
    'repeated paragraphs' signal): per document, how many of its
    {_SEG}-token segments are duplicates of an earlier segment of the SAME
    document. Entirely IN-ROW — segmentation, distinct, and the ppm ratio
    are one codegen projection; a 100 TB corpus pays a single scan and
    zero shuffle (guarded in tests/test_plans.py)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select(
        "doc_id",
        toks.alias("toks"),
        F.greatest(F.ceil(F.size(toks) / _SEG), F.lit(1).cast("long")).alias("n_segs"),
    )
    segs = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_segs") - 1),
        lambda i: F.array_join(F.slice("toks", (i * _SEG + 1).cast("int"), _SEG), " "),
    )
    return (
        t.select(
            "doc_id",
            "n_segs",
            (F.col("n_segs") - F.size(F.array_distinct(segs)).cast("long")).alias(
                "n_self_dups"
            ),
        )
        .withColumn("selfrep_ppm", F.expr("n_self_dups * 1000000 DIV n_segs"))
    )


# --- KMV distinct-count sketch (deterministic, oracle-exact) -----------------

_KMV_K = 64
# 60-bit hash of a value rendered as text — same md5-nibble packing as the
# shard manifest, parameterized by expression.


from ..functions.numeric import spark_hash60 as _shash60  # noqa: E402
from ..functions.numeric import sql_hash60 as _hash60  # noqa: E402 — canonical home


@query(
    "agg_kmv_distinct",
    sql=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST({_hash60("CAST(user_id AS VARCHAR)")} AS BIGINT) AS hv
      FROM events),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_exact
      FROM h)
    SELECT event_type, CAST({_KMV_K} AS BIGINT) AS k, CAST(hv AS BIGINT) AS kth_min,
           CASE WHEN n_exact < {_KMV_K} THEN n_exact
                ELSE CAST((CAST({_KMV_K - 1} AS HUGEINT) * {16 ** 15}) // greatest(hv, 1) AS BIGINT)
           END AS est_distinct,
           n_exact
    FROM ranked WHERE rn = least({_KMV_K}, n_exact) ORDER BY event_type
    """,
    order_by=("event_type",),
)
def agg_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch, DETERMINISTIC and
    therefore oracle-exact — unlike HLL (approx_count_distinct, rows-only
    by design), the KMV estimate (k-1)·2^60 / kth_min_hash is a pure
    function of the data under a fixed hash (md5-nibble 60-bit). The
    sketch is MERGEABLE (union = k smallest of the union — the property
    that makes it a partial-aggregatable 100 TB sketch); per event type the
    estimate and the exact count ride out together for error inspection.

    Scale shape: distinct (type, hash) is one hash aggregate; the k-th
    smallest per type comes from a window over type-partitioned hashes —
    groups are bounded (event types), so no one-task window. The ranked
    window doubles as the exact-count pass (COUNT over the same
    partition)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.expr(
                f"CAST({_shash60('CAST(user_id AS STRING)')} AS BIGINT)"
            ).alias("hv"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_exact"),
    )
    return (
        ranked.filter(F.col("rn") == F.least(F.lit(_KMV_K).cast("long"), F.col("n_exact")))
        .select(
            "event_type",
            F.lit(_KMV_K).cast("long").alias("k"),
            F.col("hv").alias("kth_min"),
            # Small-set rule: with fewer than k distinct values the sketch
            # holds them ALL — report the exact count, as every KMV does.
            F.when(F.col("n_exact") < _KMV_K, F.col("n_exact"))
            .otherwise(
                F.expr(
                    # greatest(hv, 1): hash60's range includes 0; Spark's
                    # non-ANSI DECIMAL div yields NULL there while DuckDB's
                    # HUGEINT // raises — the guard keeps both totals and
                    # identical (mirrored in the SQL oracle).
                    f"CAST(CAST({_KMV_K - 1} AS DECIMAL(38,0)) * {16 ** 15} DIV greatest(hv, 1) AS BIGINT)"
                )
            )
            .alias("est_distinct"),
            "n_exact",
        )
    )


# --- Shuffle-key skew profiler -----------------------------------------------


@query(
    "profile_partition_skew",
    sql="""
    WITH per_key AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows, MAX(n) AS max_key_rows
      FROM per_key),
    top AS (
      SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rnk FROM per_key)
    SELECT s.n_keys, s.n_rows, s.max_key_rows,
           CAST(s.max_key_rows * s.n_keys * 1000000 // s.n_rows AS BIGINT) AS skew_ppm_of_uniform,
           t.key AS heaviest_key
    FROM stats s JOIN top t ON t.rnk = 1
    """,
)
def profile_partition_skew(spark, sf_dir):
    """Shuffle-key skew profiler for aggregation keys (the groupBy-side
    companion to profile_join_explosion): per-key cardinality stats and the
    heaviest key's load as ppm of the uniform share — max·n_keys/n_rows =
    1e6 means perfectly balanced, 50e6 means the hottest reducer does 50×
    its fair share. This number decides salting / AQE skew handling before
    a 100 TB aggregate runs.

    Scale shape: one per-key aggregate, one 3-number summary, one
    TakeOrdered(1) for the heaviest key — no sort of the key space."""
    o = load(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
    )
    top = per_key.orderBy(F.desc("n"), "key").limit(1).select(
        F.col("key").alias("heaviest_key")
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.expr("max_key_rows * n_keys * 1000000 DIV n_rows").alias("skew_ppm_of_uniform"),
        "heaviest_key",
    )


# --- Declarative pipeline spec (YAML-driven, reference-parity philosophy) ----

_SPEC_YAML = """
source: documents
stages:
  - op: quality_gate
    min_score_ppm: 815000
  - op: filter
    predicate: "lang = 'en'"
  - op: dedup_exact
  - op: filter
    predicate: "doc_id % 4 = 0"
  - op: select
    columns: [doc_id, lang, n_chars]
"""


@query(
    "pipeline_from_spec",
    sql="""
    WITH gated AS (
      SELECT * FROM documents
      WHERE (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1000000
              // greatest(length(text), 1) >= 815000
        AND lang = 'en'),
    keep AS (
      SELECT md5(text) AS k, MIN(doc_id) AS doc_id FROM gated GROUP BY 1)
    SELECT g.doc_id, g.lang, g.n_chars
    FROM gated g JOIN keep USING (doc_id)
    WHERE g.doc_id % 4 = 0
    ORDER BY g.doc_id
    """,
    order_by=("doc_id",),
)
def pipeline_from_spec(spark, sf_dir):
    """Declarative pipeline execution — the reference's YAML-template
    philosophy (default.yaml + copy_from_template.py parameter binding)
    applied to QUERIES: a curation pipeline declared as data
    (plans/pipeline_spec.py) and compiled into ONE lazy DataFrame plan, so
    Catalyst pushes the quality gate and language filter into the scan
    ACROSS declared stage boundaries. The spec is auditable/diffable and
    ships next to the snapshot it produced."""
    from ..plans.pipeline_spec import compile_pipeline_yaml

    d = load(spark, sf_dir, "documents")
    return compile_pipeline_yaml(_SPEC_YAML, {"documents": d})


# --- Count-min sketch (deterministic, oracle-exact) --------------------------

_CMS_D = 4  # hash rows
_CMS_W = 512  # buckets per row


def _cms_bucket(r: int, key_expr: str, cast: str) -> str:
    """Bucket index of ``key_expr`` under hash row ``r``: the shared
    md5-nibble 60-bit hash of 'r|key', reduced mod the row width. Pure SQL
    both engines execute identically (``cast`` = STRING or VARCHAR); the
    Spark side (STRING) uses the conv spelling of the same hash."""
    salted = f"CONCAT('{r}|', CAST({key_expr} AS {cast}))"
    h = _shash60(salted) if cast == "STRING" else _hash60(salted)
    return f"CAST(({h}) % {_CMS_W} AS BIGINT)"


@query(
    "agg_countmin_topk",
    sql=f"""
    WITH per_key AS (
      SELECT CAST(o_custkey AS BIGINT) AS key, COUNT(*) AS n_exact
      FROM orders GROUP BY 1),
    probes AS (
      SELECT key, n_exact, r,
             CASE r {' '.join(f"WHEN {r} THEN {_cms_bucket(r, 'key', 'VARCHAR')}" for r in range(_CMS_D))} END AS bucket
      FROM per_key, unnest([{', '.join(str(r) for r in range(_CMS_D))}]) AS u(r)),
    sketch AS (
      SELECT r, bucket, SUM(n_exact) AS bucket_n FROM probes GROUP BY 1, 2),
    est AS (
      SELECT p.key, p.n_exact, MIN(s.bucket_n) AS cms_est
      FROM probes p JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
      GROUP BY 1, 2)
    SELECT key, n_exact, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - n_exact AS BIGINT) AS overcount
    FROM est ORDER BY n_exact DESC, key LIMIT 10
    """,
)
def agg_countmin_topk(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan '05) point estimates,
    DETERMINISTIC and therefore oracle-exact — like agg_kmv_distinct, the
    fixed md5-nibble hash family makes the whole sketch a pure function of
    the data, so DuckDB reproduces it bit-for-bit (HLL/approx_top_k stay
    rows-only by design; this is the mergeable-sketch alternative with a
    checkable answer). d=4 rows x w=512 buckets; estimate(key) = min over
    rows of its bucket's total. CMS guarantees est >= exact, giving the
    emitted ``overcount`` column a sign invariant the test asserts.

    Scale shape: per-key counts are one hash aggregate; the sketch is a
    FIXED d*w-cell table (the reduce of d*w partial sketches — exactly how
    a 1000-executor job would merge per-partition sketches), so the
    estimate join broadcasts it. No window over the key space; top-10 is
    TakeOrderedAndProject."""
    o = load(spark, sf_dir, "orders")
    per_key = o.groupBy(F.expr("CAST(o_custkey AS BIGINT)").alias("key")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    probes = per_key.select(
        "key",
        "n_exact",
        F.posexplode(
            F.array(*[F.expr(_cms_bucket(r, "key", "STRING")) for r in range(_CMS_D)])
        ).alias("r", "bucket"),
    )
    # The probe relation feeds both the sketch build and the estimate join;
    # persist so the md5 probe projection runs once (harness clearCache frees).
    probes = track(probes.persist())
    sketch = probes.groupBy("r", "bucket").agg(F.sum("n_exact").alias("bucket_n"))
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("key", "n_exact")
        .agg(F.min("bucket_n").alias("cms_est"))
    )
    return (
        est.select(
            "key",
            "n_exact",
            "cms_est",
            (F.col("cms_est") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.desc("n_exact"), "key")
        .limit(10)
    )


# --- KMV set operations (deterministic, oracle-exact) ------------------------

_KMV_SET_K = 32  # below the sf0.01 cohort sizes, so the ESTIMATOR engages
_POW60 = 16 ** 15


def _kmv_setops_sql() -> str:
    hv = _hash60("CAST(user_id AS VARCHAR)")
    est = (
        f"CASE WHEN n_exact < {_KMV_SET_K} THEN n_exact "
        f"ELSE CAST((CAST({_KMV_SET_K - 1} AS HUGEINT) * {_POW60}) // hv AS BIGINT) END"
    )
    return f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) % 100 AS cm
      FROM events),
    a_u AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase' AND cm < 10),
    b_u AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'click' AND cm < 10),
    lab AS (
      SELECT 'purchase_cohort' AS side, user_id FROM a_u
      UNION ALL SELECT 'click_cohort', user_id FROM b_u
      UNION ALL SELECT 'union', user_id
        FROM (SELECT user_id FROM a_u UNION SELECT user_id FROM b_u)),
    h AS (SELECT DISTINCT side, CAST({hv} AS BIGINT) AS hv FROM lab),
    ranked AS (
      SELECT side, hv,
             ROW_NUMBER() OVER (PARTITION BY side ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY side) AS n_exact
      FROM h),
    per_side AS (
      SELECT side, CAST(hv AS BIGINT) AS kth_min, CAST({est} AS BIGINT) AS est_distinct,
             CAST(n_exact AS BIGINT) AS n_exact
      FROM ranked WHERE rn = least({_KMV_SET_K}, n_exact)),
    inter AS (
      SELECT 'intersection' AS side, CAST(NULL AS BIGINT) AS kth_min,
             CAST(SUM(CASE WHEN side = 'union' THEN -est_distinct ELSE est_distinct END) AS BIGINT) AS est_distinct,
             CAST(SUM(CASE WHEN side = 'union' THEN -n_exact ELSE n_exact END) AS BIGINT) AS n_exact
      FROM per_side)
    SELECT side, CAST({_KMV_SET_K} AS BIGINT) AS k, kth_min, est_distinct, n_exact
    FROM (SELECT * FROM per_side UNION ALL SELECT * FROM inter)
    ORDER BY side
    """


@query("agg_kmv_setops", sql=_kmv_setops_sql(), order_by=("side",))
def agg_kmv_setops(spark, sf_dir):
    """KMV sketch SET OPERATIONS — the mergeable half of the sketch story as
    a query: cohort A (purchasers with cents%100<10) and cohort B (same
    rule on clicks) each carry a k-minimum-values sketch; the UNION sketch
    is just the k smallest of the merged hash sets (the property that lets
    1000 executors' partial sketches combine), and the INTERSECTION
    estimate falls out by inclusion-exclusion est_a + est_b - est_union
    (Beyer et al. SIGMOD'07). Deterministic md5-60bit hashes make every
    estimate a pure function of the data — oracle-exact, unlike the HLL
    intersect (agg_hll_intersect, rows-only by design). K=32 sits BELOW
    the sf0.01 cohort sizes so the estimator path (not the small-set exact
    rule) is what the gate checks; exact counts ride along per row.

    Scale shape: distinct (side, hash) is one hash aggregate; the k-th
    smallest per side is a window over 3 bounded side-partitions. The
    intersection row is a 3-row re-aggregation."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT) % 100").alias("cm"),
    )
    a_u = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("cm") < 10))
        .select("user_id")
        .distinct()
    )
    b_u = (
        ev.filter((F.col("event_type") == "click") & (F.col("cm") < 10))
        .select("user_id")
        .distinct()
    )
    lab = (
        a_u.select(F.lit("purchase_cohort").alias("side"), "user_id")
        .unionByName(b_u.select(F.lit("click_cohort").alias("side"), "user_id"))
        .unionByName(
            a_u.unionByName(b_u)
            .distinct()
            .select(F.lit("union").alias("side"), "user_id")
        )
    )
    hv = _shash60("CAST(user_id AS STRING)")
    h = lab.select("side", F.expr(f"CAST({hv} AS BIGINT)").alias("hv")).distinct()
    w = Window.partitionBy("side").orderBy("hv")
    ranked = h.select(
        "side",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("side")).alias("n_exact"),
    )
    per_side = ranked.filter(
        F.col("rn") == F.least(F.lit(_KMV_SET_K).cast("long"), F.col("n_exact"))
    ).select(
        "side",
        F.col("hv").alias("kth_min"),
        F.when(F.col("n_exact") < _KMV_SET_K, F.col("n_exact"))
        .otherwise(
            F.expr(
                f"CAST(CAST({_KMV_SET_K - 1} AS DECIMAL(38,0)) * {_POW60} DIV hv AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est_distinct"),
        F.col("n_exact").cast("long").alias("n_exact"),
    )
    inter = per_side.agg(
        F.sum(
            F.when(F.col("side") == "union", -F.col("est_distinct")).otherwise(
                F.col("est_distinct")
            )
        )
        .cast("long")
        .alias("est_distinct"),
        F.sum(
            F.when(F.col("side") == "union", -F.col("n_exact")).otherwise(
                F.col("n_exact")
            )
        )
        .cast("long")
        .alias("n_exact"),
    ).select(
        F.lit("intersection").alias("side"),
        F.lit(None).cast("long").alias("kth_min"),
        "est_distinct",
        "n_exact",
    )
    return (
        per_side.unionByName(inter)
        .select(
            "side",
            F.lit(_KMV_SET_K).cast("long").alias("k"),
            "kth_min",
            "est_distinct",
            "n_exact",
        )
    )


# --- l-diversity (companion to profile_k_anonymity) --------------------------

_L_DIV = 3


@query(
    "profile_l_diversity",
    sql=f"""
    WITH g AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT o.o_orderpriority) AS n_sensitive
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    SELECT CAST({_L_DIV} AS BIGINT) AS l,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_l,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           MIN(n_sensitive) AS min_diversity
    FROM g
    """,
)
def profile_l_diversity(spark, sf_dir):
    """l-diversity preflight — k-anonymity's stronger sibling: an
    equivalence class over the quasi-identifiers (nation, market segment)
    is unsafe even when large if the SENSITIVE attribute (here the
    customers' order priorities) is homogeneous inside it (Machanavajjhala
    et al. ICDE'06). Reports classes whose distinct-sensitive count falls
    below l={_L_DIV} and the row mass they expose.

    Scale shape: one keyed join (customer-orders) feeding one hash
    aggregate whose count-distinct expands to the standard two-level
    plan, then a 1-row summary — no window over the class space."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    g = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderpriority").alias("n_sensitive"),
        )
    )
    return g.agg(
        F.lit(_L_DIV).cast("long").alias("l"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("n_sensitive") < _L_DIV).cast("long")).alias("n_groups_below_l"),
        F.sum(F.when(F.col("n_sensitive") < _L_DIV, F.col("n_rows")).otherwise(F.lit(0))).alias(
            "n_rows_at_risk"
        ),
        F.min("n_sensitive").alias("min_diversity"),
    )


# --- t-closeness (completes the k-anon / l-div privacy ladder) ---------------


@query(
    "profile_t_closeness",
    sql="""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey),
    ncs AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority, COUNT(*) AS n_cs
      FROM base GROUP BY 1, 2, 3),
    nc AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(n_cs) AS BIGINT) AS n_c
      FROM ncs GROUP BY 1, 2),
    ns AS (
      SELECT o_orderpriority, CAST(SUM(n_cs) AS BIGINT) AS n_s FROM ncs GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_cs) AS BIGINT) AS n FROM ncs),
    grid AS (
      SELECT nc.c_nationkey, nc.c_mktsegment, nc.n_c, ns.o_orderpriority, ns.n_s,
             COALESCE(x.n_cs, 0) AS n_cs
      FROM nc CROSS JOIN ns
      LEFT JOIN ncs x
        ON x.c_nationkey = nc.c_nationkey AND x.c_mktsegment = nc.c_mktsegment
       AND x.o_orderpriority = ns.o_orderpriority)
    SELECT g.c_nationkey, g.c_mktsegment,
           MIN(g.n_c) AS n_rows,
           CAST((SUM(abs(CAST(g.n_cs AS HUGEINT) * t.n - CAST(g.n_s AS HUGEINT) * g.n_c))
                 * 1000000) // (2 * CAST(MIN(g.n_c) AS HUGEINT) * MIN(t.n)) AS BIGINT)
             AS tvd_ppm
    FROM grid g CROSS JOIN tot t
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    order_by=("c_nationkey", "c_mktsegment"),
)
def profile_t_closeness(spark, sf_dir):
    """t-closeness preflight — the third rung of the privacy ladder after
    `profile_k_anonymity` and `profile_l_diversity` (Li et al. ICDE'07): an
    equivalence class over the quasi-identifiers (nation, market segment)
    leaks even when large and diverse if its SENSITIVE-attribute
    distribution (order priority) sits far from the corpus-wide one.
    Distance is total variation, reported in exact integer ppm:
    ``tvd_ppm = floor(1e6 * 1/2 * sum_s |n_cs/n_c - n_s/N|)`` computed as
    ``sum_s |n_cs*N - n_s*n_c| * 1e6 DIV (2*n_c*N)`` — widened through
    DECIMAL(38) (Spark) / HUGEINT (oracle) so the count products survive
    corpus-scale N (int64 overflows past ~3M rows x classes).

    Scale shape: ONE keyed aggregate over (class, sensitive) feeds
    everything else; the class marginal reuses it, the 5-row sensitive
    marginal and the grand total broadcast, and the dense (class x
    sensitive) grid is |classes| x |domain| — dimension-sized by
    construction. No window, no per-row Python."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    ncs = track(
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_cs"))
        .persist()
    )
    nc = ncs.groupBy("c_nationkey", "c_mktsegment").agg(F.sum("n_cs").alias("n_c"))
    ns = ncs.groupBy("o_orderpriority").agg(F.sum("n_cs").alias("n_s"))
    tot = ncs.agg(F.sum("n_cs").alias("n"))
    grid = (
        nc.crossJoin(F.broadcast(ns))
        .join(ncs, ["c_nationkey", "c_mktsegment", "o_orderpriority"], "left")
        .withColumn("n_cs", F.coalesce(F.col("n_cs"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    return (
        grid.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.min("n_c").alias("n_rows"),
            F.expr(
                "CAST(SUM(abs(CAST(n_cs AS DECIMAL(38,0)) * n - CAST(n_s AS DECIMAL(19,0)) * n_c))"
                " * 1000000 DIV (2 * CAST(MIN(n_c) AS DECIMAL(19,0)) * MIN(n)) AS BIGINT)"
            ).alias("tvd_ppm"),
        )
    )


# --- Interval-union coverage (sweep-line islands) ----------------------------

_COVER_US = 300_000_000  # each event opens a 5-minute activity interval


@query(
    "events_interval_union",
    sql=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + {_COVER_US} AS e
      FROM events),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island_id
      FROM flagged)
    SELECT user_id,
           CAST(COUNT(DISTINCT island_id) AS BIGINT) AS n_islands,
           CAST(SUM(span) AS BIGINT) AS covered_us
    FROM (SELECT user_id, island_id, MAX(e) - MIN(s) AS span
          FROM islands GROUP BY 1, 2)
    GROUP BY 1 ORDER BY 1
    """,
    order_by=("user_id",),
)
def events_interval_union(spark, sf_dir):
    """Interval-UNION coverage (sweep-line): every event opens a 5-minute
    activity interval; overlapping/abutting intervals merge, and the
    output is each user's total covered time plus the number of disjoint
    activity islands — the "active seconds" metric a session-quality
    report needs where plain SUM(duration) double-counts overlaps.

    Sweep line as one window pass: an interval starts a new island iff its
    start exceeds the running max end of everything earlier (ties/equal
    starts can't start one — their start equals an earlier start, which
    the running max end already covers). One shuffle on user_id; island
    aggregation reuses the same partitioning. Equal-start scan order
    doesn't affect the result: the island PARTITION is order-invariant
    even though island ids could renumber."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_COVER_US)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long"),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = islands.groupBy("user_id", "island_id").agg((F.max("e") - F.min("s")).alias("span"))
    return (
        spans.groupBy("user_id")
        .agg(
            F.countDistinct("island_id").alias("n_islands"),
            F.sum("span").alias("covered_us"),
        )
    )


# --- LTTB downsampling (largest-triangle-three-buckets) ----------------------
#
# The timeseries-visualization downsampler (Steinarsson 2013; what Grafana
# ships): keep first and last point, split the interior into equal buckets,
# and per bucket keep the point with the largest triangle area against the
# PREVIOUSLY SELECTED point and the next bucket's centroid — a sequential
# per-key recurrence (the selected point feeds the next bucket's areas), i.e.
# the applyInPandas class, like ts_ewma_int. Exactness: the centroid division
# is cleared by scaling the area through the next bucket's count
# (area2 = |(t_prev*cnt - Σt)(v_c - v_prev) - (t_prev - t_c)(Σv - v_prev*cnt)|,
# all integers: per-user-relative micros × cents, widened HUGEINT/DECIMAL(38)
# — Python ints are unbounded), and argmax ties break to the lowest event_id.
# Series shorter than B+2 points are kept whole (the standard LTTB
# passthrough). The oracle unrolls the B sequential argmax stages into
# generated MATERIALIZED CTEs (llm_mmr_rerank_exact pattern).

_LTTB_B = 3  # interior buckets -> B + 2 output points per long-enough series


def _lttb_area_sql(prev: str, anch: str) -> str:
    return (
        f"abs((CAST({prev}.t AS HUGEINT) * {anch}.cnt - {anch}.ts_sum) * (c.v - {prev}.v)"
        f" - (CAST({prev}.t AS HUGEINT) - c.t) * ({anch}.vs_sum - CAST({prev}.v AS HUGEINT) * {anch}.cnt))"
    )


def _lttb_sql() -> str:
    B = _LTTB_B
    parts = [
        f"""
WITH pts AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ta,
         CAST(floor(value * 100) AS BIGINT) AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         MIN(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id) AS t0
  FROM events),
p AS (SELECT user_id, event_id, ta - t0 AS t, v, rn, n, n - 2 AS m FROM pts),
small AS (SELECT user_id, event_id FROM p WHERE n < {B + 2}),
big AS (SELECT * FROM p WHERE n >= {B + 2}),
ifirst AS (SELECT user_id, event_id, t, v FROM big WHERE rn = 1),
ilast AS (SELECT user_id, event_id, t, v FROM big WHERE rn = n),
cand AS MATERIALIZED (
  SELECT user_id, event_id, t, v, ((rn - 2) * {B}) // m AS b
  FROM big WHERE rn > 1 AND rn < n),
bs AS (SELECT user_id, b, COUNT(*) AS cnt, SUM(CAST(t AS HUGEINT)) AS ts_sum,
              SUM(CAST(v AS HUGEINT)) AS vs_sum
       FROM cand GROUP BY 1, 2)"""
    ]
    for b in range(B):
        if b < B - 1:
            parts.append(
                f"a{b} AS (SELECT user_id, cnt, ts_sum, vs_sum FROM bs WHERE b = {b + 1})"
            )
        else:
            parts.append(
                f"a{b} AS (SELECT user_id, 1 AS cnt, CAST(t AS HUGEINT) AS ts_sum,"
                f" CAST(v AS HUGEINT) AS vs_sum FROM ilast)"
            )
        prev = "f" if b == 0 else f"s{b - 1}"
        prev_src = "ifirst" if b == 0 else f"s{b - 1}"
        parts.append(
            f"""s{b} AS MATERIALIZED (
  SELECT user_id, event_id, t, v FROM (
    SELECT c.user_id, c.event_id, c.t, c.v,
           ROW_NUMBER() OVER (PARTITION BY c.user_id ORDER BY
             {_lttb_area_sql(prev, "a")} DESC, c.event_id) AS rk
    FROM cand c
    JOIN {prev_src} {prev} USING (user_id)
    JOIN a{b} a USING (user_id)
    WHERE c.b = {b}) WHERE rk = 1)"""
        )
    unions = ["SELECT user_id, event_id FROM small",
              "SELECT user_id, event_id FROM ifirst"]
    unions += [f"SELECT user_id, event_id FROM s{b}" for b in range(B)]
    unions.append("SELECT user_id, event_id FROM ilast")
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(unions) + "\nORDER BY user_id, event_id"


@query("ts_lttb_downsample", sql=_lttb_sql(), order_by=("user_id", "event_id"))
def ts_lttb_downsample(spark, sf_dir):
    """LTTB downsample of each user's value series to {B}+2 points (first,
    one perceptually-dominant point per interior bucket, last); series
    shorter than {B}+2 pass through whole. Engine side this is ONE co-keyed
    shuffle (groupBy user_id -> applyInPandas) with a linear scan per group
    — the same distribution class as ts_ewma_int; Python's unbounded ints
    make the scaled integer areas exact, matching the oracle's HUGEINT
    arithmetic. The per-user relative-time origin makes t*cnt products
    bounded (span micros x group size, not epoch micros x group size)."""
    import numpy as np
    import pandas as pd

    B = _LTTB_B
    e = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        n = len(pdf)
        if n < B + 2:
            return pdf[["user_id", "event_id"]]
        tns = pdf["ts"].astype("int64").to_numpy()
        t = [int(x) // 1000 for x in tns - tns.min()]  # relative micros
        v = [int(x) for x in np.floor(pdf["value"].to_numpy() * 100).astype("int64")]
        eid = [int(x) for x in pdf["event_id"].to_numpy()]
        m = n - 2
        buckets: list[list[int]] = [[] for _ in range(B)]
        for i in range(1, n - 1):
            buckets[((i - 1) * B) // m].append(i)
        keep = [0]
        prev = 0
        for b in range(B):
            if b < B - 1:
                nxt = buckets[b + 1]
                cnt, ts_sum, vs_sum = len(nxt), sum(t[i] for i in nxt), sum(v[i] for i in nxt)
            else:
                cnt, ts_sum, vs_sum = 1, t[n - 1], v[n - 1]
            best = None
            for i in buckets[b]:
                area2 = abs(
                    (t[prev] * cnt - ts_sum) * (v[i] - v[prev])
                    - (t[prev] - t[i]) * (vs_sum - v[prev] * cnt)
                )
                key = (-area2, eid[i])
                if best is None or key < best[0]:
                    best = (key, i)
            keep.append(best[1])
            prev = best[1]
        keep.append(n - 1)
        out = pdf.iloc[keep]
        return out[["user_id", "event_id"]]

    return (
        e.groupBy("user_id")
        .applyInPandas(lttb, schema="user_id long, event_id long")
    )


# --- Global peak concurrency (sweep-line over merged intervals) --------------

_PEAK_SQL = f"""
WITH iv AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + {_COVER_US} AS e
  FROM events),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv),
islands AS (
  SELECT user_id,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id,
         s, e
  FROM flagged),
merged AS (
  SELECT user_id, island_id, MIN(s) AS s, MAX(e) AS e
  FROM islands GROUP BY 1, 2),
deltas AS (
  SELECT s AS t, 1 AS d, user_id, island_id FROM merged
  UNION ALL
  SELECT e AS t, -1 AS d, user_id, island_id FROM merged),
c AS (
  SELECT t, d,
         SUM(d) OVER (ORDER BY t, d, user_id, island_id
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM deltas),
m AS (SELECT MAX(cum) AS peak FROM c)
SELECT CAST((SELECT COUNT(*) FROM merged) AS BIGINT) AS n_intervals,
       CAST(m.peak AS BIGINT) AS peak_concurrency,
       CAST(MIN(c.t) AS BIGINT) AS peak_at_us
FROM c, m WHERE c.cum = m.peak
GROUP BY m.peak
"""


@query("events_peak_concurrency", sql=_PEAK_SQL)
def events_peak_concurrency(spark, sf_dir):
    """Peak concurrent activity across ALL users — capacity planning's
    headline number. Per-user 5-minute activity intervals merge into
    disjoint islands (the events_interval_union sweep, one user-keyed
    window pass), each island emits +1/-1 boundary deltas over HALF-OPEN
    [s, e) (ends sort before starts at equal t via d ASC, so abutting
    intervals never double-count), and the global running sum — the one
    inherently total-order step — runs through operators/prefix.py::
    partitioned_cumsum (range buckets + driver offset prefix, NO one-task
    window). Peak and its earliest timestamp come from a broadcast scalar
    max + filter, mirroring the oracle's two-step exactly."""
    from pyspark.sql import Window as _W

    from ..operators.prefix import partitioned_cumsum

    e = load(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_COVER_US)).alias("e"),
    )
    w = _W.partitionBy("user_id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(_W.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island", (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long")
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(_W.unboundedPreceding, _W.currentRow)),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    deltas = merged.select(
        F.col("s").alias("t"), F.lit(1).alias("d"), "user_id", "island_id"
    ).unionAll(
        merged.select(
            F.col("e").alias("t"), F.lit(-1).alias("d"), "user_id", "island_id"
        )
    )
    c = partitioned_cumsum(
        deltas, order_cols=["t", "d", "user_id", "island_id"], value_col="d",
        cum_name="cum",
    )
    n_iv = merged.agg(F.count(F.lit(1)).alias("n_intervals"))
    peak = c.agg(F.max("cum").alias("peak"))
    return (
        c.crossJoin(F.broadcast(peak))
        .filter(F.col("cum") == F.col("peak"))
        .groupBy("peak")
        .agg(F.min("t").alias("peak_at_us"))
        .crossJoin(F.broadcast(n_iv))
        .select(
            F.col("n_intervals").cast("long").alias("n_intervals"),
            F.col("peak").cast("long").alias("peak_concurrency"),
            F.col("peak_at_us").cast("long").alias("peak_at_us"),
        )
    )


# --- Per-source document cap (domain balancing) ------------------------------

_DOMAIN_CAP = 10

_DOMAIN_CAP_SQL = f"""
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {{h}}, doc_id) AS keep_rank
  FROM documents)
SELECT doc_id, source, CAST(keep_rank AS BIGINT) AS keep_rank
FROM r WHERE keep_rank <= {_DOMAIN_CAP}
ORDER BY doc_id
"""

from ..functions.numeric import sql_hash60 as _dc_hash60  # noqa: E402


@query(
    "llm_domain_cap",
    sql=_DOMAIN_CAP_SQL.format(h=_dc_hash60("CONCAT('cap|', CAST(doc_id AS STRING))")),
    order_by=("doc_id",),
)
def llm_domain_cap(spark, sf_dir):
    """Per-source document cap (domain balancing — the C4/RefinedWeb step
    that stops a crawl-dominant domain from owning the mixture): keep at
    most {_DOMAIN_CAP} documents per source, chosen by a DETERMINISTIC
    md5-nibble hash rank (not df.sample — reruns and both engines pick the
    same survivors; doc_id tiebreak). The rank<=K predicate compiles to
    WindowGroupLimit (plan-asserted in tests), so each partition keeps a
    running top-K instead of fully sorting fat domains — the property that
    makes the cap survive a skewed 100 TB crawl."""
    d = load(spark, sf_dir, "documents")
    h = _shash60("CONCAT('cap|', CAST(doc_id AS STRING))")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("source").orderBy(F.expr(h), "doc_id")
    return (
        d.select("doc_id", "source")
        .withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") <= _DOMAIN_CAP)
        .select("doc_id", "source", F.col("keep_rank").cast("long").alias("keep_rank"))
    )
