"""Unit/property tests for the curation batch (queries/curation.py):
decontamination flags planted overlaps, chunking covers every token with the
declared geometry, passage dedup finds planted cross-document passages."""

from __future__ import annotations

from bridge_analytics_template_spark.queries import ordered
from bridge_analytics_template_spark.queries.curation import (
    _CHUNK,
    _STRIDE,
    llm_chunking,
    llm_decontaminate,
    llm_passage_dedup,
)

from conftest import SF_SMALL


def test_chunking_geometry(spark):
    rows = ordered("llm_chunking", llm_chunking(spark, SF_SMALL)).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "no chunks produced"
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        # Contiguous indices from 0; every chunk ≤ window; stride geometry
        # means consecutive chunks overlap by window - stride tokens.
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        assert all(1 <= c.n_chunk_tokens <= _CHUNK for c in chunks)
        # Full coverage: last chunk ends at the token count, so the union
        # of [idx*stride, idx*stride + len) covers [0, n).
        last = chunks[-1]
        n_tokens = last.chunk_idx * _STRIDE + last.n_chunk_tokens
        covered = set()
        for c in chunks:
            covered.update(range(c.chunk_idx * _STRIDE, c.chunk_idx * _STRIDE + c.n_chunk_tokens))
        assert covered == set(range(n_tokens))
        assert all(len(c.chunk_text.split(" ")) == c.n_chunk_tokens for c in chunks)


def _docs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("it_documents")
    return df


def test_decontaminate_planted(spark, tmp_path):
    # doc 0 is eval (doc_id % 50 == 0); doc 1 repeats one of its 8-grams,
    # doc 2 is disjoint. Route through a parquet dir so the query's
    # load() path works unchanged.
    eight = "a b c d e f g h"
    rows = [
        (0, eight + " tail tokens here"),
        (1, "prefix words " + eight + " suffix"),
        (2, "totally different content with no overlap at all whatsoever"),
    ]
    _docs(spark, rows).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in llm_decontaminate(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    assert out[1].contaminated and out[1].n_shared >= 1
    assert not out[2].contaminated and out[2].n_shared == 0


def test_passage_dedup_planted(spark, tmp_path):
    # Two docs share an aligned 10-token passage; the third shares nothing.
    passage = " ".join(f"tok{i}" for i in range(10))
    rows = [
        (1, passage + " " + " ".join(f"x{i}" for i in range(10))),
        (2, passage + " " + " ".join(f"y{i}" for i in range(10))),
        (3, " ".join(f"z{i}" for i in range(20))),
    ]
    _docs(spark, rows).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in llm_passage_dedup(spark, str(tmp_path)).collect()}
    assert out[1].n_passages == 2 and out[1].n_dup_passages == 1
    assert out[2].n_dup_passages == 1 and out[2].dup_frac == 0.5
    assert out[3].n_dup_passages == 0 and out[3].dup_frac == 0.0


def test_chunk_short_doc_single_chunk(spark, tmp_path):
    rows = [(1, "only four tokens here")]
    _docs(spark, rows).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = ordered("llm_chunking", llm_chunking(spark, str(tmp_path))).collect()
    assert len(out) == 1
    assert out[0].chunk_idx == 0 and out[0].n_chunk_tokens == 4


def test_repetition_planted(spark, tmp_path):
    from bridge_analytics_template_spark.queries.curation import llm_repetition

    rows = [
        # "a b c" trigram repeated: tokens a b c a b c -> trigrams
        # [abc, bca, cab, abc]: 4 total, 3 distinct -> 1 dup; top token 2/6.
        (1, "a b c a b c"),
        # all-distinct tokens: no dup trigrams, top token 1/5
        (2, "v w x y z"),
        # short doc (< 3 tokens): zero trigrams, frac 0
        (3, "hi there"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in llm_repetition(spark, str(tmp_path)).collect()}
    assert out[1].n_trigrams == 4 and out[1].n_dup_trigrams == 1
    assert out[1].dup_trigram_frac == 0.25 and out[1].top_token_frac == 2 / 6
    assert out[2].n_dup_trigrams == 0 and out[2].top_token_frac == 0.2
    assert out[3].n_trigrams == 0 and out[3].dup_trigram_frac == 0.0


def test_doc_lm_score_planted(spark, tmp_path):
    from bridge_analytics_template_spark.queries.curation import llm_doc_lm_score

    rows = [
        (1, "common common rare1"),   # common appears 4x in corpus, rare1 once
        (2, "common common unique2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in llm_doc_lm_score(spark, str(tmp_path)).collect()}
    # freq(common)=4; doc1 = 4+4+1 = 9 over 3 tokens
    assert out[1].freq_sum == 9 and out[1].avg_tok_freq == 3.0
    assert out[2].freq_sum == 9


def test_containment_planted_quote(spark, tmp_path):
    """A short doc quoted verbatim inside a long one: containment flags the
    short side at 1.0 while its Jaccard vs the long doc stays below any
    near-dup threshold (union-dominated) — the case this measure exists for."""
    from bridge_analytics_template_spark.queries.llm import llm_containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 2 distinct 5-grams
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, f"{filler} {quote} {filler}"),
        (3, " ".join(f"z{i}" for i in range(30))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in llm_containment_pairs(spark, str(tmp_path)).collect()
    }
    assert out[(1, 2)] == 1.0  # every 5-gram of the quote is in the long doc
    assert (2, 1) not in out   # long doc is NOT contained in the quote
    assert not any(3 in pair for pair in out)


def test_dsir_weights_prefer_target_like_docs(spark, tmp_path):
    """DSIR sanity on a constructed corpus with disjoint vocabularies: docs
    written in the target slice's vocabulary must outscore docs that are
    not (score_ppm is the summed per-token target/raw likelihood ratio)."""
    from bridge_analytics_template_spark.queries.curation import llm_dsir_weights

    en_words = "aurora borealis cascade dynamo ember"
    de_words = "quark wolke zugzwang fernweh himmel"
    rows = (
        [(i * 10, en_words, "en", "s", 1) for i in range(6)]
        + [(i * 10 + 5000, de_words, "de", "s", 1) for i in range(6)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r["score_ppm"] for r in llm_dsir_weights(spark, str(tmp_path)).collect()}
    en_scores = [v for k, v in out.items() if k < 5000]
    de_scores = [v for k, v in out.items() if k >= 5000]
    assert en_scores and de_scores
    assert min(en_scores) > max(de_scores)
    # disjoint vocab: en buckets have ratio 2x (target==half the corpus),
    # de buckets ratio 0 -> per-token weight 2e6 vs 0
    assert all(v == 0 for v in de_scores)


def test_dup_spans_planted(spark):
    """A planted 16-token shared run is reported at exactly 16; a pair
    sharing only a single 8-gram falls below the threshold."""
    import tempfile

    from bridge_analytics_template_spark.queries.registry import QUERIES

    w = [f"w{i}" for i in range(20)]
    x = [f"x{i}" for i in range(10)]
    y = [f"y{i}" for i in range(12)]
    docs = [
        (0, " ".join(w), "en", "s", 0),
        # shares w[4:20] (16 tokens) with doc 0, flanked by fresh tokens
        (1, " ".join(x[:3] + w[4:20] + x[3:6]), "en", "s", 0),
        # shares only w[0:8] (one 8-gram, span 8 < 16) with doc 0
        (2, " ".join(y[:6] + w[0:8] + y[6:]), "en", "s", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        rows = ordered("llm_dup_spans", QUERIES["llm_dup_spans"](spark, d)).collect()
    assert [(r.doc_a, r.doc_b, r.max_span_tokens, r.n_spans) for r in rows] == [(0, 1, 16, 1)]


def test_bm25_matches_python_reference(spark):
    """score_ppm is bit-equal to a pure-Python IEEE evaluation of the same
    rational-idf BM25 expression tree."""
    import math
    import tempfile

    from bridge_analytics_template_spark.queries.registry import QUERIES

    texts = {
        0: "apple banana apple cherry date",
        1: "banana banana banana fig",
        2: "cherry date elderberry fig grape",
        3: "apple banana",  # the probe document
        4: "apple apple apple apple banana cherry",
        5: "grape fig elderberry",
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = {i: t.split() for i, t in texts.items()}
    probe = set(toks[3])
    n = len(texts)
    l_tot = sum(len(t) for t in toks.values())
    df_cnt = {
        t: sum(1 for d in toks.values() if t in d) for t in probe
    }
    expected = {}
    for i, d in toks.items():
        score, hits = 0, 0
        for t in probe:
            tf = d.count(t)
            if tf == 0:
                continue
            num = float(2 * n - 2 * df_cnt[t] + 1) * float(22 * tf) * float(l_tot)
            den = float(2 * df_cnt[t] + 1) * float(
                10 * tf * l_tot + 3 * l_tot + 9 * len(d) * n
            )
            score += math.floor(num / den * 1000000.0)
            hits += 1
        if hits:
            expected[i] = (score, hits)
    want = sorted(expected.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/documents.parquet")
        rows = QUERIES["llm_bm25_topk"](spark, tmp).collect()
    got = [(r.doc_id, (r.score_ppm, r.n_terms)) for r in rows]
    assert got == want


def test_dup_span_trim_planted(spark):
    """The trimmed doc loses exactly the planted shared run; the keeper
    (lower id) is untouched (absent from the output)."""
    import tempfile

    from bridge_analytics_template_spark.queries.registry import QUERIES

    w = [f"w{i}" for i in range(20)]
    x = [f"x{i}" for i in range(10)]
    docs = [
        (0, " ".join(w), "en", "s", 0),
        (1, " ".join(x[:3] + w[4:20] + x[3:6]), "en", "s", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        rows = ordered("llm_dup_span_trim", QUERIES["llm_dup_span_trim"](spark, d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.dup_of, r.span_removed) == (1, 0, 16)
    assert r.n_tokens_before == 22 and r.n_tokens_after == 6
    assert r.trimmed_text == " ".join(x[:3] + x[3:6])


def test_readability_python_reference(spark):
    import re

    import pandas as pd

    from bridge_analytics_template_spark.queries.registry import QUERIES

    rows = {r["doc_id"]: r for r in QUERIES["llm_readability"](spark, SF_SMALL).collect()}
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet", columns=["doc_id", "text"])
    for _, doc in docs.iterrows():
        words = max(len(re.findall(r"\S+", doc["text"].strip())), 1)
        sentences = max(len(re.findall(r"[.!?]+", doc["text"])), 1)
        syllables = max(len(re.findall(r"[aeiouy]+", doc["text"].lower())), 1)
        r = rows[doc["doc_id"]]
        assert (r["words"], r["sentences"], r["syllables"]) == (words, sentences, syllables)
        assert r["flesch_milli"] == 206835 - 1015 * words // sentences - 84600 * syllables // words


def test_wordlist_flags_crafted(spark):
    import tempfile

    from bridge_analytics_template_spark.queries.registry import QUERIES

    docs = [
        (0, "slow error crash", "en", "s", 0),          # 3 of 3 flagged
        (1, "fast table scan", "en", "s", 0),           # clean
        (2, "slowly errors crashed", "en", "s", 0),     # \b guards: no substring hits
        (3, "FATAL Deprecated path", "en", "s", 0),     # case-folded matches
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        rows = {r["doc_id"]: r for r in QUERIES["llm_wordlist_flags"](spark, d).collect()}
    assert (rows[0]["n_flagged"], rows[0]["flagged"], rows[0]["flagged_ppm"]) == (3, True, 1_000_000)
    assert (rows[1]["n_flagged"], rows[1]["flagged"]) == (0, False)
    assert (rows[2]["n_flagged"], rows[2]["flagged"]) == (0, False)
    assert (rows[3]["n_flagged"], rows[3]["flagged_ppm"]) == (2, 2_000_000 // 3)
