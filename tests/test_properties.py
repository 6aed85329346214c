"""Property-based tests (hypothesis) for the engine invariants SURVEY.md §5
calls out: dedup idempotence, parquet round-trip fidelity, as-of join
cardinality, coercion stability.

Each property runs a bounded number of examples (Spark jobs are ~100 ms
each); strategies generate small but adversarial frames — empty strings,
duplicate keys, unordered timestamps.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bridge_analytics_template_spark.coercion import apply_coercion
from bridge_analytics_template_spark.llm.dedup import dedup_exact
from bridge_analytics_template_spark.operators.joins import asof_join
from bridge_analytics_template_spark.queries import ordered

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=12
)


@given(texts)
@settings(**SETTINGS)
def test_dedup_exact_idempotent_and_complete(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    first = dedup_exact(df)
    rows = first.collect()
    # completeness: every distinct text keeps exactly one representative
    assert len(rows) == len(set(docs))
    # multiplicities add back up to the corpus size
    assert sum(r["n_copies"] for r in rows) == len(docs)
    # idempotence: dedup of the kept representatives is the identity
    kept = df.join(first.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")
    again = dedup_exact(kept).collect()
    assert {r["keep_id"] for r in again} == {r["keep_id"] for r in rows}
    assert all(r["n_copies"] == 1 for r in again)


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.floats(-1e6, 1e6)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_parquet_roundtrip(spark, rows):
    df = spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), v) for k, m, v in rows],
        "k long, ts timestamp, v double",
    )
    path = os.path.join(tempfile.mkdtemp(), "rt")
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=15),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_cardinality_and_bound(spark, lefts, rights):
    """As-of join never changes left cardinality, and every matched value
    is the max right-ts <= left-ts within the key (checked by recompute)."""
    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=m), i) for i, (k, m) in enumerate(lefts)],
        "k long, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=m)) for k, m in rights] or [(99, base)],
        "k long, rts timestamp",
    )
    out = asof_join(ldf, rdf, ["k"], "ts", "rts", ["rts"]).collect()
    assert len(out) == len(lefts)
    rmap: dict[int, list[dt.datetime]] = {}
    for k, m in rights:
        rmap.setdefault(k, []).append(base + dt.timedelta(minutes=m))
    for row in out:
        expected = max((t for t in rmap.get(row["k"], []) if t <= row["ts"]), default=None)
        assert row["rts_asof"] == expected


@given(st.lists(st.sampled_from(["3", "7", "true", "false", "x", ""]), min_size=1, max_size=6))
@settings(**SETTINGS)
def test_coercion_stable_under_double_application(spark, vals):
    df = spark.createDataFrame(
        [(v, v) for v in vals], "assessmentRevision string, timeWindowPersistent string"
    )
    once = apply_coercion(df)
    twice = apply_coercion(once)
    assert once.schema == twice.schema
    assert sorted(map(tuple, once.collect()), key=str) == sorted(map(tuple, twice.collect()), key=str)


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_connected_components_invariants(spark, edges):
    from bridge_analytics_template_spark.llm.dedup import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels = {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    # reference components via union-find in plain Python
    parent = {n: n for e in edges for n in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expected = {}
    for n in parent:
        root = find(n)
        expected.setdefault(root, []).append(n)
    for members in expected.values():
        lo = min(members)
        for m in members:
            assert labels[m] == lo


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(0, 1000), min_size=1, max_size=8, unique=True),
)
@settings(**SETTINGS)
def test_minhash_signature_union_is_elementwise_min(spark, sa, sb):
    """MinHash algebra: sig(A ∪ B) == elementwise min(sig(A), sig(B)) —
    the property LSH banding relies on."""
    from bridge_analytics_template_spark.llm.dedup import minhash_signatures

    union = sorted(set(sa) | set(sb))
    df = spark.createDataFrame(
        [(0, sa), (1, sb), (2, union)], "doc long, sh array<long>"
    )
    sigs = {r["doc"]: r["sig"] for r in minhash_signatures(df, num_perm=16).collect()}
    assert sigs[2] == [min(x, y) for x, y in zip(sigs[0], sigs[1])]


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_native_session_window_equals_islands(spark, rows):
    """Batch session_window == lag+cumsum islands on arbitrary event sets —
    INCLUDING exact-boundary gaps.

    Timestamps step in whole minutes, so inter-event gaps of exactly 300 s
    are common: both formulations must agree there too. Empirically,
    session_window MERGES at the exact gap (merge rule next.start <=
    prev.end is inclusive), so the islands rule is strict `gap > 300s` —
    a `>=` rule fails this test."""
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.streaming.windows import sessionize_batch

    df = spark.createDataFrame(
        [(u, k * 60_000_000, i) for i, (u, k) in enumerate(sorted(rows))],
        "user_id long, micros long, event_id long",
    ).select("user_id", F.timestamp_micros(F.col("micros")).alias("ts"), "event_id")

    native = {
        (r["user_id"], r["session_start"], r["n"])
        for r in df.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n")
        .collect()
    }
    islands = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize_batch(df, gap_seconds=300).collect()
    }
    assert native == islands


@given(
    st.lists(
        st.lists(st.sampled_from(list("abcdef")), min_size=0, max_size=40),
        min_size=2,
        max_size=5,
    )
)
@settings(**SETTINGS)
def test_dup_span_islands_match_lcs_reference(spark, token_lists):
    """The max island span per pair equals the token-level longest common
    substring (when >= the 8-gram width) computed by a quadratic python
    reference — on a 6-token alphabet that forces heavy gram collisions."""
    from bridge_analytics_template_spark.queries.curation import dup_span_islands

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(token_lists)],
        "doc_id long, t array<string>",
    )
    rows = dup_span_islands(df).collect()
    got_max: dict[tuple[int, int], int] = {}
    for r in rows:
        key = (r.doc_a, r.doc_b)
        got_max[key] = max(got_max.get(key, 0), r.span_tokens)

    def lcs(a, b):  # token-level longest common substring, O(n*m)
        best = 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    for i in range(len(token_lists)):
        for j in range(i + 1, len(token_lists)):
            want = lcs(token_lists[i], token_lists[j])
            if want >= 8:
                assert got_max.get((i, j)) == want, (i, j)
            else:
                assert (i, j) not in got_max


# --- third-wave operator properties -----------------------------------------

hh_corpora = st.lists(
    st.text(alphabet="xy z", min_size=0, max_size=20), min_size=1, max_size=15
)


@given(hh_corpora, st.integers(min_value=1, max_value=6))
@settings(**SETTINGS)
def test_heavy_hitters_pruned_equals_bruteforce(spark, docs, n_parts):
    """The pigeonhole candidate prune must be lossless under ANY
    partitioning of the corpus (the guarantee is per-partition)."""
    import tempfile as _tf

    from bridge_analytics_template_spark.functions.text import ws_tokens
    from bridge_analytics_template_spark.queries import QUERIES
    from bridge_analytics_template_spark.queries.advanced import _HH_DEN

    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).repartition(n_parts)
    with _tf.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = [(r["tok"], r["n"]) for r in ordered("llm_heavy_hitters", QUERIES["llm_heavy_hitters"](spark, d)).collect()]
        toks = (
            spark.read.parquet(f"{d}/documents.parquet")
            .select(F.explode_outer(ws_tokens("text")).alias("tok"))
        )
        total = toks.count()
        brute = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") * _HH_DEN >= total)
            .orderBy(F.desc("n"), "tok")
            .collect()
        )
    assert got == [(r["tok"], r["n"]) for r in brute]


event_seqs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user
        st.sampled_from(["view", "click", "purchase", "error"]),
        st.integers(min_value=0, max_value=7200),  # seconds offset
    ),
    min_size=1,
    max_size=25,
)


@given(event_seqs)
@settings(**SETTINGS)
def test_window_funnel_matches_bruteforce(spark, evs):
    """Funnel levels must equal the brute-force triple-loop reference
    (any view -> later click within 1h of the view -> later purchase
    within 1h of the SAME view)."""
    import tempfile as _tf

    from bridge_analytics_template_spark.queries import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(seconds=s), t, 1.0, None)
        for i, (u, t, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    with _tf.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {r["level"]: r["n_users"] for r in QUERIES["events_window_funnel"](spark, d).collect()}

    # python reference
    by_user: dict[int, list[tuple[str, int]]] = {}
    for u, t, s in evs:
        by_user.setdefault(u, []).append((t, s))
    expected: dict[int, int] = {}
    for u, items in by_user.items():
        views = [s for t, s in items if t == "view"]
        clicks = [s for t, s in items if t == "click"]
        purch = [s for t, s in items if t == "purchase"]
        if not views:
            continue
        level = 1
        for v in views:
            cands = [c for c in clicks if v < c <= v + 3600]
            if cands:
                level = max(level, 2)
                c0 = min(cands)
                if any(c0 < p <= v + 3600 for p in purch):
                    level = 3
                    break
        expected[level] = expected.get(level, 0) + 1
    assert got == expected


@given(st.lists(st.integers(min_value=-1000, max_value=1000), min_size=2, max_size=30))
@settings(**SETTINGS)
def test_gini_formula_invariants(spark, balances):
    """Gini of per-customer revenue: permutation of equal values cannot
    change the result, and scaling all values leaves it fixed (tested via
    the exact closed form on crafted orders)."""
    import tempfile as _tf

    from bridge_analytics_template_spark.queries import QUERIES

    base = dt.datetime(2024, 1, 1)
    # all positive cents so total > 0
    cents = [abs(b) + 1 for b in balances]
    rows = [
        (i, i, "O", c / 100.0, base, "1-URGENT") for i, c in enumerate(cents)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate timestamp, o_orderpriority string",
    )
    with _tf.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/orders.parquet")
        r = QUERIES["q_gini_revenue"](spark, d).collect()[0]
    import math

    # mirror the query's quantization: floor(double_price * 100) — the
    # cents->double->cents round trip can land one ulp below the integer
    xs = sorted(math.floor((c / 100.0) * 100) for c in cents)
    n = len(xs)
    s0 = sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    assert r["n_customers"] == n and r["total_cents"] == s0
    assert abs(r["gini"] - (2 * s1 - (n + 1) * s0) / (n * s0)) < 1e-12


# --- r3 corpus-op properties -------------------------------------------------

word = st.text(alphabet="abc", min_size=1, max_size=3)
doc_tokens = st.lists(word, min_size=1, max_size=35)


@given(st.lists(doc_tokens, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_segment_dedup_properties(spark, docs):
    from bridge_analytics_template_spark.queries.corpus import _SEG, _segment_dedup

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in _segment_dedup(df).collect()}
    # Reference: python segmentation + first-occurrence election.
    segs = {}  # seg_text -> (doc_id, seg_idx)
    per_doc = {}
    for i, toks in enumerate(docs):
        chunks = [
            " ".join(toks[j : j + _SEG]) for j in range(0, max(len(toks), 1), _SEG)
        ]
        per_doc[i] = chunks
        for idx, c in enumerate(chunks):
            segs.setdefault(c, (i, idx))
    for i, chunks in per_doc.items():
        kept = [c for idx, c in enumerate(chunks) if segs[c] == (i, idx)]
        assert out[i].n_segs == len(chunks)
        assert out[i].n_kept == len(kept)
        assert out[i].kept_text == " ".join(kept)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**4), st.sampled_from("OFP")),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_shard_manifest_permutation_invariant(spark, rows):
    import random

    from pyspark.sql import functions as F  # noqa: F811
    from bridge_analytics_template_spark.queries.corpus import (
        _MANIFEST_MOD,
        _ROW_HASH_SQL,
    )

    def manifest(seq):
        df = spark.createDataFrame(
            seq, "o_orderkey long, o_custkey long, o_orderstatus string"
        ).select(
            (F.col("o_orderkey") % 8).alias("shard_id"),
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
            ).alias("canon"),
        )
        hashed = df.select("shard_id", F.expr(f"CAST({_ROW_HASH_SQL} AS BIGINT)").alias("h"))
        return {
            r.shard_id: (r.n, r.c)
            for r in hashed.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(
                    f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {_MANIFEST_MOD} AS BIGINT)"
                ).alias("c"),
            )
            .collect()
        }

    shuffled = list(rows)
    random.Random(7).shuffle(shuffled)
    assert manifest(rows) == manifest(shuffled)


events_vals = st.lists(
    st.tuples(st.integers(0, 3), st.floats(0, 100, allow_nan=False, width=32)),
    min_size=1,
    max_size=30,
)


@given(events_vals)
@settings(**SETTINGS)
def test_ewma_int_matches_python_reference(spark, rows):
    import math

    from bridge_analytics_template_spark.queries.corpus import ts_ewma_int

    data = [
        (i, dt.datetime(2024, 1, 1, 0, i % 60, i // 60), int(u), float(v))
        for i, (u, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, ts timestamp, user_id long, value double")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "events.parquet"))
        got = {
            (r.user_id, r.event_id): r.ewma_half_cents
            for r in ts_ewma_int(spark, td).collect()
        }
    want = {}
    state: dict = {}
    for i, (u, v) in enumerate(rows):  # event_id order == (ts, event_id) order here
        x = int(math.floor(v * 100))
        s = x if u not in state else x + state[u] // 2
        state[u] = s
        want[(u, i)] = s
    assert got == want


@given(
    st.integers(min_value=1, max_value=3),
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=60),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(**SETTINGS)
def test_wav_mux_demux_roundtrip_property(channels, flat, rate):
    """RIFF/WAVE mux→demux is the identity on any int16 sample matrix,
    any channel count, any rate (pure python — no Spark job)."""
    import numpy as np

    from bridge_analytics_template_spark.llm.multimodal import demux_wav, mux_wav

    n = (len(flat) // channels) * channels
    x = np.array(flat[:n], dtype="<i2").reshape(-1, channels)
    got_rate, got_ch, got = demux_wav(mux_wav(x, rate))
    assert (got_rate, got_ch) == (rate, channels)
    assert got.shape == x.shape and (got == x).all()


@given(
    st.integers(min_value=1, max_value=4),   # frames
    st.integers(min_value=1, max_value=9),   # height
    st.integers(min_value=1, max_value=9),   # width (odd widths pad the stride)
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(**SETTINGS)
def test_avi_mux_demux_roundtrip_property(n, h, w, seed):
    """RIFF/AVI mux→demux is the identity on any (n,h,w,3) uint8 frame
    stack — any geometry, including widths whose DIB stride pads (pure
    python — no Spark job)."""
    import numpy as np

    from bridge_analytics_template_spark.llm.multimodal import demux_avi, mux_avi

    rng = np.random.default_rng(seed)
    x = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    got_w, got_h, usec, got = demux_avi(mux_avi(x, usec_per_frame=33_333))
    assert (got_w, got_h, usec) == (w, h, 33_333)
    assert got.shape == x.shape and (got == x).all()


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.sampled_from([1, 2, 3, 4]),
    st.sampled_from([0, 1]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_mux_demux_roundtrip(h, w, channels, interlace, seed):
    """PNG property: decode(mux(img)) == img for every color type, any
    dimensions, both interlace modes — the WAV/AVI roundtrip property
    extended to the compressed-image codec."""
    import numpy as np

    from bridge_analytics_template_spark.llm.multimodal import decode_png, mux_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, channels), dtype=np.uint8)
    out = decode_png(mux_png(img, interlace=interlace))
    assert out is not None and out.shape == (h, w, channels) and (out == img).all()


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.text(max_size=40),
            st.one_of(st.none(), st.text(max_size=20)),
            st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=6),
        ),
        max_size=40,
    ),
    codec=st.sampled_from(["null", "deflate"]),
    rpb=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=60, deadline=None)
def test_avro_roundtrip_property(rows, codec, rpb):
    """Hypothesis: encode→decode identity over arbitrary longs (full
    64-bit range — the zigzag varint edge), arbitrary finite doubles,
    arbitrary unicode strings, nullable unions, and int arrays, at every
    block split and both codecs."""
    from bridge_analytics_template_spark.sources.avro_codec import (
        decode_avro,
        encode_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "u", "type": ["null", "string"]},
            {"name": "a", "type": {"type": "array", "items": "int"}},
        ],
    }
    recs = [{"l": l, "d": d, "s": s, "u": u, "a": a} for l, d, s, u, a in rows]
    _, got = decode_avro(encode_avro(recs, schema, codec=codec, records_per_block=rpb))
    assert got == recs
