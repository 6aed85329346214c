"""SemDeDup keep-rule invariants (llm/semdedup.py)."""

from __future__ import annotations

import numpy as np

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.llm.semdedup import semdedup
from bridge_analytics_template_spark.queries import ordered

THRESHOLD = 0.95


def _cos(a, b):
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    return float(a @ b / ((na or 1.0) * (nb or 1.0)))


def test_semdedup_invariants_and_determinism(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    out1 = {r["vec_id"]: (r["cluster"], r["keep"]) for r in semdedup(e, THRESHOLD).collect()}
    out2 = {r["vec_id"]: (r["cluster"], r["keep"]) for r in semdedup(e, THRESHOLD).collect()}
    assert out1 == out2  # hash-seeded k-means + greedy-by-id: fully deterministic
    assert len(out1) == e.count()  # partitioning: every vector classified once
    assert any(k for _, (_, k) in out1.items())  # something kept

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e.collect()}
    # Every dropped vector must have a KEPT lower-id near-dup in its cluster;
    # every kept pair within a cluster must be below the threshold ONLY when
    # the earlier one is kept (greedy rule, not a clique rule).
    by_cluster: dict[int, list[int]] = {}
    for vid, (cl, _) in sorted(out1.items()):
        by_cluster.setdefault(cl, []).append(vid)
    n_dropped = 0
    for cl, ids in by_cluster.items():
        for i, vid in enumerate(ids):
            if out1[vid][1]:
                continue
            n_dropped += 1
            assert any(
                out1[w][1] and _cos(vecs[w], vecs[vid]) >= THRESHOLD
                for w in ids[:i]
            ), f"dropped {vid} has no kept near-dup predecessor"
    # kept set is an independent set under the greedy order
    for cl, ids in by_cluster.items():
        kept = [v for v in ids if out1[v][1]]
        for i in range(len(kept)):
            for j in range(i + 1, len(kept)):
                assert _cos(vecs[kept[i]], vecs[kept[j]]) < THRESHOLD


def test_ml_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """MLlib MinHashLSH must recover ≥90% of the exact Jaccard≥0.5 pairs
    (the planted near-dups) within distance ≤ 0.7 (i.e. similarity ≥ 0.3)."""
    from bridge_analytics_template_spark.llm.dedup import _shingle_arrays, exact_jaccard_pairs
    from bridge_analytics_template_spark.llm.ml_lsh import minhash_near_dups_ml

    d = load(spark, sf_dir, "documents")
    sh = _shingle_arrays(d, "text", "doc_id", shingle_words=5)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(sh, min_jaccard=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dups_ml(d, max_jaccard_distance=0.7, shingle_words=5).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"


def test_ml_lsh_demo_matches_production_pair_set(spark, sf_dir):
    """VERDICT r5 task 3: the MLlib convenience DEMO, verified at the same
    exact-Jaccard threshold, must return the SAME pair set as the
    production ``llm_dedup_minhash`` query — so a consumer who picks the
    demo by name gets identical answers (just 7x the constant, which is
    why CATALOG labels it demo-tier)."""
    from bridge_analytics_template_spark.llm.dedup import _shingle_arrays, exact_jaccard_pairs
    from bridge_analytics_template_spark.llm.ml_lsh import minhash_near_dups_ml
    from bridge_analytics_template_spark.queries import QUERIES

    prod = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["llm_dedup_minhash"](spark, sf_dir).collect()
    }
    d = load(spark, sf_dir, "documents")
    # verify the demo's LSH candidates with exact Jaccard at the
    # production threshold (the demo emits candidates at sim >= 0.3)
    cands = minhash_near_dups_ml(d, max_jaccard_distance=0.7, shingle_words=5)
    sh = _shingle_arrays(d, "text", "doc_id", shingle_words=5)
    exact = exact_jaccard_pairs(sh, min_jaccard=0.5)
    demo_verified = {
        (r["doc_a"], r["doc_b"])
        for r in cands.join(exact, ["doc_a", "doc_b"], "inner").collect()
    }
    assert prod, "production path should find planted near-dups"
    assert demo_verified == prod


def test_sales_opportunity_excludes_order_placers(spark, sf_dir):
    from bridge_analytics_template_spark.queries import QUERIES

    rows = ordered("q_sales_opportunity", QUERIES["q_sales_opportunity"](spark, sf_dir)).collect()
    assert len(rows) > 0  # at least one dormant high-balance customer
    total = sum(r["n_cust"] for r in rows)
    n_customers = load(spark, sf_dir, "customer").count()
    assert 0 < total < n_customers
