"""Unit tests for the advanced analytics operators: sketch-pruned heavy
hitters, bounded-hop BFS, snapshot diff, association rules, crypto
round-trip, and calendar seasonality."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.queries import QUERIES, ordered


def test_heavy_hitters_equals_bruteforce(spark, sf_dir):
    """The pruned plan must equal the naive full groupBy + HAVING."""
    from bridge_analytics_template_spark.functions.text import ws_tokens
    from bridge_analytics_template_spark.queries.advanced import _HH_DEN

    got = [(r["tok"], r["n"]) for r in ordered("llm_heavy_hitters", QUERIES["llm_heavy_hitters"](spark, sf_dir)).collect()]
    toks = load(spark, sf_dir, "documents").select(
        F.explode_outer(ws_tokens("text")).alias("tok")
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
    assert got, "fixture should contain frequent tokens"


def test_heavy_hitters_superset_guarantee(spark, sf_dir):
    """Every reported token really meets the global threshold (no local
    candidate was required: the filter re-verifies exactly)."""
    from bridge_analytics_template_spark.queries.advanced import _HH_DEN
    from bridge_analytics_template_spark.functions.text import ws_tokens

    total = (
        load(spark, sf_dir, "documents")
        .select(F.explode_outer(ws_tokens("text")).alias("tok"))
        .count()
    )
    for r in ordered("llm_heavy_hitters", QUERIES["llm_heavy_hitters"](spark, sf_dir)).collect():
        assert r["n"] * _HH_DEN >= total


def test_bfs_hops_monotone(spark, sf_dir):
    rows = ordered("graph_shortest_paths", QUERIES["graph_shortest_paths"](spark, sf_dir)).collect()
    hops = [r["hops"] for r in rows]
    assert hops == sorted(hops)
    assert hops[0] == 0, "sources themselves are hop 0"
    # every settled node is counted exactly once across hop levels
    assert all(r["n_nodes"] > 0 for r in rows)


def test_snapshot_diff_partition_of_keys(spark, sf_dir):
    """added+removed+changed+unchanged counts must account for exactly the
    union of both snapshot key sets."""
    rows = {r["status"]: r for r in QUERIES["snapshot_diff"](spark, sf_dir).collect()}
    o = load(spark, sf_dir, "orders")
    n_v1 = o.where(F.col("o_orderkey") % 7 != 0).count()
    n_v2 = o.where(F.col("o_orderkey") % 5 != 0).count()
    n_union = o.where((F.col("o_orderkey") % 7 != 0) | (F.col("o_orderkey") % 5 != 0)).count()
    total = sum(r["n"] for r in rows.values())
    assert total == n_union
    assert rows["added"]["n"] == n_union - n_v1
    assert rows["removed"]["n"] == n_union - n_v2
    # a changed row needs o_orderkey % 3 == 0 (price doubled) and presence in both
    changed_expected = o.where(
        (F.col("o_orderkey") % 7 != 0)
        & (F.col("o_orderkey") % 5 != 0)
        & (F.col("o_orderkey") % 3 == 0)
    ).count()
    assert rows["changed"]["n"] == changed_expected


def test_assoc_rules_bounds(spark, sf_dir):
    rows = QUERIES["q_assoc_rules"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["pair_n"] >= 5
        assert r["pair_n"] <= min(r["a_n"], r["b_n"])
        assert 0 < r["conf_ppm"] <= 1_000_000
        assert r["brand_a"] < r["brand_b"]


def test_crypto_roundtrip_restores_plaintext(spark, sf_dir):
    rows = ordered("f_crypto_roundtrip", QUERIES["f_crypto_roundtrip"](spark, sf_dir)).collect()
    names = {
        r["c_custkey"]: r["c_name"]
        for r in load(spark, sf_dir, "customer").select("c_custkey", "c_name").collect()
    }
    assert rows
    for r in rows:
        assert r["name_rt"] == names[r["c_custkey"]]
        assert r["ct_len"] % 16 == 0 and r["ct_len"] > len(r["name_rt"].encode())


def test_seasonality_crafted(spark):
    # 2024-01-01 is a Monday; epoch-arith dow uses 0=Sunday so Monday=1.
    base = datetime.datetime(2024, 1, 1, 5, 30, 0)
    df = spark.createDataFrame(
        [
            (1, 7, base, "view", 1.25, None),
            (2, 8, base, "view", 2.50, None),
            (3, 7, base + datetime.timedelta(days=6), "view", 1.0, None),  # Sunday
        ],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        rows = {(r["dow"], r["hr"]): r for r in QUERIES["events_seasonality"](spark, d).collect()}
    assert rows[(1, 5)]["n"] == 2 and rows[(1, 5)]["n_users"] == 2
    assert rows[(1, 5)]["cents_sum"] == 125 + 250
    assert rows[(0, 5)]["n"] == 1  # the Sunday event


def test_xml_roundtrip_counts(spark, sf_dir):
    rows = ordered("s_xml_roundtrip", QUERIES["s_xml_roundtrip"](spark, sf_dir)).collect()
    n = load(spark, sf_dir, "nation")
    assert sum(r["n_nations"] for r in rows) == n.count()


def test_window_funnel_levels_partition_users(spark, sf_dir):
    rows = {r["level"]: r["n_users"] for r in QUERIES["events_window_funnel"](spark, sf_dir).collect()}
    e = load(spark, sf_dir, "events")
    n_viewers = e.where(F.col("event_type") == "view").select("user_id").distinct().count()
    assert sum(rows.values()) == n_viewers
    # the bounded funnel can never beat the unbounded one
    unbounded = ordered("events_funnel", QUERIES["events_funnel"](spark, sf_dir)).where(F.col("completed")).count()
    assert rows.get(3, 0) <= unbounded


def test_pattern_runs_crafted(spark):
    import datetime
    import tempfile

    base = datetime.datetime(2024, 1, 1)
    seq = ["view", "click", "click", "purchase", "error", "view", "purchase"]
    df = spark.createDataFrame(
        [(i, 1, base + datetime.timedelta(minutes=i), t, 1.0, None) for i, t in enumerate(seq)],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        r = ordered("events_pattern_runs", QUERIES["events_pattern_runs"](spark, d)).collect()[0]
    # sequence is 'vccpevp': two matches of vc*p ('vccp' and 'vp')
    assert r["n_events"] == 7 and r["n_v"] == 2 and r["n_funnel_runs"] == 2


def test_winnowing_matches_python_reference(spark, sf_dir):
    import hashlib

    rows = ordered("llm_winnowing", QUERIES["llm_winnowing"](spark, sf_dir)).limit(20).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").limit(20).collect()
    }
    import re

    for r in rows:
        toks = re.split(r"\s+", docs[r["doc_id"]].strip().lower())
        shingles = [" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)]
        hs = [hashlib.md5(s.encode()).hexdigest()[:16] for s in shingles]
        fps = sorted({min(hs[i : i + 4]) for i in range(len(hs) - 3)}) if len(hs) >= 4 else []
        assert r["fp"] == ",".join(fps)


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a run of >= k+w-1 words must share a fingerprint."""
    import tempfile

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = k+w-1 words
    df = spark.createDataFrame(
        [
            (1, f"xx yy {shared} zz ww qq rr", "en", "a", 1),
            (2, f"aa bb cc dd {shared} ee ff gg", "en", "a", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        rows = {r["doc_id"]: set(r["fp"].split(",")) for r in QUERIES["llm_winnowing"](spark, d).collect()}
    assert rows[1] & rows[2], "shared 7-word run must produce a common fingerprint"


def test_cohort_ltv_conservation(spark, sf_dir):
    rows = ordered("q_cohort_ltv", QUERIES["q_cohort_ltv"](spark, sf_dir)).collect()
    o = load(spark, sf_dir, "orders")
    total_cents = o.select(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))).collect()[0][0]
    assert sum(r["cents_sum"] for r in rows) == total_cents
    assert all(r["offset_m"] >= 0 for r in rows)
    # offset-0 actives per cohort == cohort sizes; sum == all customers with orders
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r["n_active"] for r in rows if r["offset_m"] == 0) == n_cust


def test_hybrid_rrf_structure(spark, sf_dir):
    rows = ordered("llm_hybrid_rrf", QUERIES["llm_hybrid_rrf"](spark, sf_dir)).collect()
    assert 10 <= len(rows) <= 20  # union of two top-10 lists
    scores = [r["rrf_ppm"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert (r["r_lex"] > 0) or (r["r_sem"] > 0)
        expected = (1000000 // (60 + r["r_lex"]) if r["r_lex"] else 0) + (
            1000000 // (60 + r["r_sem"]) if r["r_sem"] else 0
        )
        assert r["rrf_ppm"] == expected


def test_leakage_safe_keeps_clusters_together(spark, sf_dir):
    """No near-dup cluster may straddle the split."""
    from bridge_analytics_template_spark.llm.dedup import (
        _shingle_arrays,
        connected_components,
        exact_jaccard_pairs,
    )
    import hashlib

    d = load(spark, sf_dir, "documents")
    arrays = _shingle_arrays(d, "text", "doc_id", 5, hashed=True)
    edges = exact_jaccard_pairs(arrays, min_jaccard=0.05).select("doc_a", "doc_b")
    cc = connected_components(edges).collect()
    by_cluster = {}
    for r in cc:
        rep = r["cluster_id"]
        split = "val" if hashlib.md5(str(rep).encode()).hexdigest()[:2] <= "0c" else "train"
        by_cluster.setdefault(r["cluster_id"], set()).add(split)
    assert by_cluster, "fixture has planted near-dup clusters"
    assert all(len(s) == 1 for s in by_cluster.values())
    # and the aggregate counts add up to the corpus
    rows = ordered("train_split_leakage_safe", QUERIES["train_split_leakage_safe"](spark, sf_dir)).collect()
    assert sum(r["n"] for r in rows) == d.count()


def test_gini_matches_python_reference(spark, sf_dir):
    r = QUERIES["q_gini_revenue"](spark, sf_dir).collect()[0]
    o = load(spark, sf_dir, "orders")
    per = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("c"))
        .collect()
    )
    xs = sorted(row["c"] for row in per)
    n = len(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    s0 = sum(xs)
    expected = (2 * s1 - (n + 1) * s0) / (n * s0)
    assert r["n_customers"] == n and r["total_cents"] == s0
    assert abs(r["gini"] - expected) < 1e-15
    assert 0.0 <= r["gini"] <= 1.0


def test_pmi_bounds_and_symmetric_counts(spark, sf_dir):
    rows = QUERIES["llm_pmi_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["tok_a"] < r["tok_b"]
        assert r["n_ab"] <= min(r["df_a"], r["df_b"])
        assert r["pmi_ratio_ppm"] > 0


def test_ndcg_bounds_and_perfect_self_ranking(spark, sf_dir):
    rows = ordered("llm_binary_quant_ndcg", QUERIES["llm_binary_quant_ndcg"](spark, sf_dir)).collect()
    assert rows
    from bridge_analytics_template_spark.queries.advanced import _NDCG_IDCG

    for r in rows:
        assert 0 <= r["dcg"] <= _NDCG_IDCG
        assert 0 <= r["ndcg_ppm"] <= 1_000_000


def test_decile_bins_structure(spark, sf_dir):
    rows = ordered("q_decile_bins", QUERIES["q_decile_bins"](spark, sf_dir)).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    sizes = [r["n_members"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # near-equal buckets
    # bucket ranges are non-overlapping and increasing
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_cents"] <= hi["min_cents"]


def test_length_quantile_bounds(spark, sf_dir):
    rows = ordered("llm_length_quantile", QUERIES["llm_length_quantile"](spark, sf_dir)).collect()
    assert rows
    by_lang = {}
    for r in rows:
        assert 0 <= r["pct_ppm"] <= 1_000_000
        by_lang.setdefault(r["lang"], []).append(r["pct_ppm"])
    for lang, ps in by_lang.items():
        assert min(ps) == 0 and max(ps) == 1_000_000, lang


def test_dedup_agreement_consistency(spark, sf_dir):
    """Contingency counts must equal the standalone detectors' pair counts."""
    from bridge_analytics_template_spark.llm.dedup import _shingle_arrays, exact_jaccard_pairs
    from bridge_analytics_template_spark.llm.similarity import blocked_cosine_pairs

    rows = {r["status"]: r["n_pairs"] for r in QUERIES["llm_dedup_agreement"](spark, sf_dir).collect()}
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    docs = d.join(e.select(F.col("vec_id").alias("doc_id")), "doc_id").select("doc_id", "text")
    n_lex = exact_jaccard_pairs(
        _shingle_arrays(docs, "text", "doc_id", 5, hashed=True), min_jaccard=0.3
    ).count()
    n_sem = blocked_cosine_pairs(e, threshold=0.4).count()
    assert rows.get("lex_only", 0) + rows.get("both", 0) == n_lex
    assert rows.get("sem_only", 0) + rows.get("both", 0) == n_sem


def test_arrow_udf_exact(spark, sf_dir):
    rows = ordered("x_arrow_udf", QUERIES["x_arrow_udf"](spark, sf_dir)).limit(50).collect()
    import re

    names = {
        r["c_custkey"]: r["c_name"]
        for r in load(spark, sf_dir, "customer").select("c_custkey", "c_name").collect()
    }
    for r in rows:
        assert r["n_vowels"] == len(re.sub(r"[^aeiou]", "", names[r["c_custkey"]].lower()))


def test_quantize_error_bounds(spark, sf_dir):
    rows = ordered("emb_quantize_error", QUERIES["emb_quantize_error"](spark, sf_dir)).collect()
    assert rows
    for r in rows:
        assert -127 <= r["min_code"] <= r["max_code"] <= 127
        assert r["n_saturated"] >= 1  # the max-abs dim always saturates
        # per-dim error of round-to-127 is <= scale/254 + rounding ppm
        assert 0 <= r["abs_err_ppm"] <= 64 * (1_000_000 // 254 + 1)


def test_shard_assign_balanced(spark, sf_dir):
    from bridge_analytics_template_spark.queries.advanced import _N_SHARDS

    rows = ordered("train_shard_assign", QUERIES["train_shard_assign"](spark, sf_dir)).collect()
    assert [r["shard"] for r in rows] == list(range(_N_SHARDS))
    sizes = [r["n_docs"] for r in rows]
    chars = [r["total_chars"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    d = load(spark, sf_dir, "documents")
    max_doc = d.agg(F.max("n_chars")).collect()[0][0]
    # LPT-lite round-robin bounds char skew by ~one max doc per boundary
    assert max(chars) - min(chars) <= max_doc * 2


def test_mmr_rerank_reference(spark, sf_dir):
    """Independent recomputation of the greedy MMR selection."""
    import numpy as np

    got = [r["vec_id"] for r in QUERIES["llm_mmr_rerank"](spark, sf_dir).orderBy("rank").collect()]
    e = load(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e}
    for k in vecs:
        vecs[k] = vecs[k] / np.linalg.norm(vecs[k])
    q = vecs[3]
    sims = sorted(
        ((float(vecs[c] @ q), -c) for c in vecs if c != 3), reverse=True
    )
    cands = [-negid for _, negid in sims[:30]]
    selected = []
    remaining = list(cands)
    while remaining and len(selected) < 10:
        scored = []
        for c in remaining:
            rel = float(vecs[c] @ q)
            div = max((float(vecs[c] @ vecs[s]) for s in selected), default=0.0)
            scored.append((0.7 * rel - 0.3 * div, -c))
        best = -max(scored)[1]
        selected.append(best)
        remaining.remove(best)
    assert got == selected
    assert len(set(got)) == 10


def test_join_explosion_profile_exact(spark, sf_dir):
    r = QUERIES["profile_join_explosion"](spark, sf_dir).collect()[0]
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    true_out = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert r["est_output_rows"] == true_out  # exact, not an estimate
    assert r["worst_key_rows"] <= r["max_mult_left"] * r["max_mult_right"]


def test_watermark_report_accounts_all_events(spark, sf_dir):
    rows = ordered("events_watermark_report", QUERIES["events_watermark_report"](spark, sf_dir)).collect()
    total = sum(r["n"] for r in rows)
    assert total == load(spark, sf_dir, "events").count()
    by = {r["bucket"]: r for r in rows}
    assert by["a_on_time"]["max_late_s"] <= 0
    # bucket edges respected
    edges = {"b_late_1m": 60, "c_late_5m": 300, "d_late_30m": 1800}
    for b, e in edges.items():
        if b in by:
            assert by[b]["max_late_s"] <= e


def test_target_encoding_shrinks_toward_prior(spark, sf_dir):
    rows = ordered("q_target_encoding", QUERIES["q_target_encoding"](spark, sf_dir)).collect()
    assert rows
    total_n = sum(r["n"] for r in rows)
    total_sum = sum(r["sum_cents"] for r in rows)
    prior = total_sum / total_n
    for r in rows:
        raw = r["sum_cents"] / r["n"]
        lo, hi = sorted((raw, prior))
        assert lo - 1e-9 <= r["encoded_cents"] <= hi + 1e-9  # between raw mean and prior


def test_distribution_drift_bounds(spark, sf_dir):
    rows = ordered("profile_distribution_drift", QUERIES["profile_distribution_drift"](spark, sf_dir)).collect()
    assert rows
    tvd = rows[0]["tvd_ppm"]
    assert all(r["tvd_ppm"] == tvd for r in rows)
    assert 0 <= tvd <= 1_000_000
    # identical snapshots would give 0; these two modular filters overlap
    # heavily, so drift must be small but the per-bucket numerators nonneg
    assert all(r["tvd_num"] >= 0 for r in rows)


def test_dau_wau_invariants(spark, sf_dir):
    rows = ordered("events_dau_wau", QUERIES["events_dau_wau"](spark, sf_dir)).collect()
    assert rows
    for r in rows:
        assert 0 < r["dau"] <= r["wau"]  # weekly actives include today's
        assert 0 < r["stickiness_ppm"] <= 1_000_000
    # spot-check one mid-range day against a brute-force recount
    mid = rows[len(rows) // 2]
    e = load(spark, sf_dir, "events").select(
        (F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("d"), "user_id"
    )
    brute_wau = (
        e.where((F.col("d") >= mid["d"] - 6) & (F.col("d") <= mid["d"]))
        .select("user_id")
        .distinct()
        .count()
    )
    assert mid["wau"] == brute_wau


def test_schema_drift_classification(spark, sf_dir):
    rows = {r["column"]: r["status"] for r in QUERIES["profile_schema_drift"](spark, sf_dir).collect()}
    assert rows["o_orderpriority"] == "removed"
    assert rows["o_priority_rank"] == "added"
    assert rows["o_totalprice"] == "retyped"
    assert rows["o_orderkey"] == "unchanged"


def test_emb_drift_numpy_reference(spark, sf_dir):
    import math

    import numpy as np

    r = QUERIES["emb_drift_report"](spark, sf_dir).collect()[0]
    e = load(spark, sf_dir, "embeddings").collect()
    g = {0: [], 1: []}
    for row in e:
        g[row["vec_id"] % 2].append(np.array(row["embedding"], dtype=np.float64))
    Q = 1 << 20
    s = {
        k: np.array(
            [sum(math.floor(v[i] * Q) for v in vs) for i in range(64)], dtype=object
        )
        for k, vs in g.items()
    }
    n1, n2 = len(g[0]), len(g[1])
    num = sum(abs(int(s[0][i]) * n2 - int(s[1][i]) * n1) for i in range(64))
    assert r["l1_drift_units"] == num // (n1 * n2)
    assert r["n_dims"] == 64 and r["n1"] == n1 and r["n2"] == n2


def test_soft_dedup_effective_mass(spark, sf_dir):
    rows = ordered("llm_soft_dedup_weights", QUERIES["llm_soft_dedup_weights"](spark, sf_dir)).collect()
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    n_distinct = d.select(F.md5("text")).distinct().count()
    total_docs = sum(r["n_docs"] for r in rows)
    total_eff = sum(r["eff_docs_ppm"] for r in rows)
    assert total_docs == n_docs
    # effective mass <= 1e6 per distinct content (exact when copies of a
    # content never cross languages; ppm floor loses < 1 per copy)
    assert total_eff <= n_distinct * 1_000_000
    assert total_eff > (n_distinct - 1) * 1_000_000 - n_docs


def test_funnel_latency_ordering(spark, sf_dir):
    r = QUERIES["events_funnel_latency"](spark, sf_dir).collect()[0]
    assert r["n_converted"] > 0
    assert 0 < r["p0"] <= r["p50"] <= r["p90"] <= r["p100"]


def test_vocab_overlap_bounds(spark, sf_dir):
    rows = ordered("llm_vocab_overlap", QUERIES["llm_vocab_overlap"](spark, sf_dir)).collect()
    langs = {r["lang"] for r in load(spark, sf_dir, "documents").select("lang").distinct().collect()}
    n = len(langs)
    assert len(rows) == n * (n - 1) // 2  # every pair shares >= 1 token (word soup)
    for r in rows:
        assert r["n_inter"] <= min(r["n_a"], r["n_b"])
        assert 0 < r["jaccard_ppm"] <= 1_000_000


def test_tail_percentiles_monotone(spark, sf_dir):
    rows = ordered("events_tail_percentiles", QUERIES["events_tail_percentiles"](spark, sf_dir)).collect()
    assert rows
    for r in rows:
        assert r["p50"] <= r["p95"] <= r["p99"] <= r["p100"]


def test_charset_profile_shares(spark, sf_dir):
    rows = ordered("llm_charset_profile", QUERIES["llm_charset_profile"](spark, sf_dir)).collect()
    assert rows
    for r in rows:
        assert 0 < r["alpha_ppm"] <= 1_000_000
        assert r["alpha_ppm"] + r["digit_ppm"] + r["space_ppm"] <= 1_000_000


def test_deterministic_uuid_shape_and_stability(spark, sf_dir):
    import re
    import uuid as _uuid

    rows = ordered("f_deterministic_uuid", QUERIES["f_deterministic_uuid"](spark, sf_dir)).limit(20).collect()
    pat = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-8[0-9a-f]{3}-[0-9a-f]{12}$")
    for r in rows:
        assert pat.match(r["stable_uuid"]), r["stable_uuid"]
        _uuid.UUID(r["stable_uuid"])  # parses as a valid UUID
    # rerun mints identical ids
    again = ordered("f_deterministic_uuid", QUERIES["f_deterministic_uuid"](spark, sf_dir)).limit(20).collect()
    assert [r["stable_uuid"] for r in rows] == [r["stable_uuid"] for r in again]
