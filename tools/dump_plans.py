"""Regenerate PLANS.md: formatted physical plans of representative queries.

The scale claims in README.md §"100 TB playbook" are checkable here —
pushed filters, broadcast exchanges, partial aggregates, single-shuffle
as-of, shuffle-free MinHash signatures.

    python tools/dump_plans.py
    python tools/dump_plans.py NAME [NAME ...]

With names (a registered query or ``module:callable``, as in ``ab.py``),
prints each one's ``explain("formatted")`` at sf0.1 — the bench fixture, so
Exchange counts and join strategies match what the bench executes — to
stdout instead; redirect to keep a before/after pair.
"""

from __future__ import annotations

import os
import sys

from ab import ROOT, resolve  # also puts this checkout first on sys.path

from bridge_analytics_template_spark.queries import QUERIES
from bridge_analytics_template_spark.session import get_spark

SHOW = [
    ("flagship", "scan→filter→broadcast-join→partial/final agg→top-k"),
    ("star_join_revenue", "five-table star: SMJ facts, broadcast dims"),
    ("join_asof", "as-of via union+window: ONE hash exchange"),
    ("w_topk_per_group", "map-side WindowGroupLimit before the shuffle"),
    ("llm_dedup_exact", "dedup = one hash aggregate, no join"),
    ("sql_correlated_subquery", "decorrelated scalar subquery → agg + join"),
    ("llm_tfidf", "tf cached once (InMemoryTableScan×2), df broadcast, top-3 via WindowGroupLimit"),
    ("t_resample_locf", "gap-fill: obs agg + grid explode + fill window all co-keyed on user_id"),
    ("llm_decontaminate", "eval gram set broadcast; corpus side never shuffles for the probe"),
    ("llm_chunking", "in-row 1→N fan-out: zero hash exchanges"),
    ("q_disjunctive_pred", "OR-of-ANDs: common equi-conjunct extracted → broadcast hash join, per-side filters pushed"),
    ("ts_ohlc_bars", "window + aggregate share ONE hash exchange (co-keyed)"),
    ("q_large_orders", "HAVING before join: fact aggregated to qualifying orders pre-join"),
    ("q_sales_opportunity", "1-row scalar aggregate broadcast + anti-join"),
    ("q_priority_checking", "grouped EXISTS → hash semi-join, non-equi conjunct post-probe"),
    ("q_market_share", "six-join ratio: five broadcast dims, region prunes through two hops"),
    ("llm_embed_neardup", "exact blocked-GEMM self-join: block-pair equi-join, no cartesian, no O(n²) pair rows"),
    ("q_revenue_pareto", "ranked cumsum via range-partitioned prefix sums: no unpartitioned WindowExec"),
    ("train_shuffle_order", "hash-ranked global order via range partition + offsets: no WindowExec at all"),
    ("llm_dup_spans", "ExactSubstr spans: gram-hash equi-self-join (cached grams), diagonal-islands windows keyed per pair"),
    ("llm_bm25_topk", "BM25: probe/df/stats broadcast, one corpus aggregate, TakeOrdered top-10"),
    ("q_local_supplier", "Q5 proper: correlated nation equality rides the broadcast supplier join"),
    ("emb_covariance", "exact moments: mapInPandas GEMM partials + d²-key aggregate, no corpus shuffle"),
    ("llm_heavy_hitters", "sketch-pruned exact heavy hitters: per-partition candidates, BROADCAST verify join — full vocabulary never shuffles"),
    ("llm_winnowing", "winnowing fingerprints: in-row k-gram hash windows, zero shuffle before the output sort"),
    ("q_gini_revenue", "Gini: global rank via range-partitioned contiguous ids, no unpartitioned WindowExec"),
    ("join_shuffled_hash", "SHUFFLE_HASH hint: build-side hash table per partition, no probe-side sort"),
    ("llm_ngram_jaccard", "r5 prefix-filtered exact sim-join: freq-1-pruned rarest-first index (only globally-repeated tokens enter; rank rebuilt from rank-among-survivors), size filter on the join, array_intersect verify of candidates only"),
    ("llm_dedup_minhash", "MinHash: shuffle-free signature projection, band-key self-join, candidates-only verify (now oracle-gated)"),
    ("llm_segment_dedup", "r3 segment dedup: in-row segmentation, min-struct first-occurrence election (keeper text rides the aggregate), doc-keyed reassembly — two keyed shuffles, no window"),
    ("llm_bloom_dedup", "r3 bloom prefilter: literal-bitmap broadcast + codegen bit tests over the corpus scan, broadcast semi-join exact confirm — corpus never shuffled for the prefilter"),
    ("pipeline_curation_e2e", "r3 end-to-end curation: pushed quality gate → segment-dedup shuffles → partitioned-cumsum budget, one lazy graph, no one-task window"),
    ("llm_semantic_decontaminate", "r3 semantic decontaminate: broadcast eval embeddings, in-row integer cosines, map-side-combinable per-doc argmax"),
    ("q_weighted_median", "r3 wave-5: group-local prefix sums from ONE global partitioned_cumsum minus broadcast offsets — no fat-group one-task window"),
    ("events_peak_concurrency", "r3 wave-5: interval-merge windows co-keyed on user, global ±1 sweep through partitioned_cumsum, broadcast scalar peak"),
    ("llm_domain_cap", "r3 wave-5: deterministic per-source cap — rank≤K compiles to WindowGroupLimit, fat domains never fully sort"),
    ("events_mannwhitney", "r3 wave-5: rank tests on (type, cents-atom) aggregates — windows over atom sets, rows never windowed"),
    ("ts_lttb_downsample", "r3 wave-5: LTTB — ONE co-keyed applyInPandas shuffle, sequential argmax inside the worker"),
    ("llm_substring_dup_mass", "r5: stride-1 substring dup mass — xxhash64 window keys, one gram aggregate + semi-join back, coverage explodes DUPLICATED positions only; no self-join, no window fn"),
    ("llm_linear_quality_score", "r5: hashed-feature linear classifier as pure in-row projection — zero hash exchanges before the output sort"),
    ("llm_dedup_survivors", "r5: dedup survivorship — prefix edges → CC → in-row scores → ONE max_by hash aggregate election, keep flag via equi-join (no cluster window)"),
    ("llm_av_features", "r5: WAV demux + per-(channel,window) features — two Arrow mapInPandas lanes, no shuffle before the output sort"),
    ("llm_bitext_mine", "r6s2: CSLS bitext mining — bipartite blocked GEMM (packed blocks × broadcast block-pair grid, sims never materialized as rows), top-2 partials combine, argmax of 2cos−r(y) block-local with r(x) joined post-combine"),
    ("llm_link_graph", "r6s2: crawl link graph — regexp_extract_all at scan speed, ONE host-pair hash aggregate, zero Python"),
    ("llm_crawl_frontier", "r6s2: frontier decision — anti-join vs crawled set, distinct-URL counts, per-host rank≤2 compiles to WindowGroupLimit"),
    ("llm_anchor_text", "r6s2: anchor-text aggregation — per-target window runs over distinct (target, text) COUNTS, never raw anchors"),
    ("graph_hits_ppm", "r6s2: integer HITS — two co-keyed shuffles per iteration, L1 renorm totals as 1-row broadcasts"),
    ("emb_ivf_index_probe", "r7: persisted IVF probe — probed-centroid filter prunes stored list PARTITIONS at scan time; broadcast probe set, JVM cosine re-score"),
    ("llm_dedup_incremental_lsh", "r7: incremental near-dedup vs stored MinHash index — new batch signed in-row, band join against the stored band table, exact verify against stored shingle arrays (snapshot text never read)"),
    ("llm_bm25_indexed", "r7: BM25 probe of a stored inverted index — bucket filter prunes postings/df partitions, broadcast probe terms, stats from meta (no corpus aggregate)"),
    ("emb_hard_negatives", "r7: hard-negative mining — GEMM partial top-k with the dup-ceiling masked INSIDE the kernel, exact global top-k over batch survivors"),
    ("s_table_changes", "r9s2: change data feed — only the span's rewritten files scanned (manifest file-set diff), each side persisted once (InMemoryTableScan×2) feeding both EXCEPT ALL directions"),
    ("s_table_point_lookup", "r9s2: bloom-pruned point lookup — candidate files resolved from manifest metadata (bounds + per-file key blooms), surviving scan semi-joined against the broadcast key set"),
    ("s_table_zorder_scan", "r9s2: 2-D data skipping — z-clustered files pruned driver-side from per-file stats envelopes; the scan only lists surviving files, exact predicate re-applied"),
]

SF = "/root/testdata/sf0.01"
SPEC_SF = "/root/testdata/sf0.1"


def main() -> None:
    spark = get_spark("plans")
    if sys.argv[1:]:
        for spec in sys.argv[1:]:
            print(f"== {spec} ==")
            resolve(spec)(spark, SPEC_SF).explain("formatted")
            spark.catalog.clearCache()
        return
    out = [
        "# PLANS — physical plans of representative queries (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`; regenerate after plan-affecting",
        "changes. Asserted properties live in `tests/test_plans.py` — this file is",
        "the human-readable evidence.",
        "",
    ]
    for name, why in SHOW:
        plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
