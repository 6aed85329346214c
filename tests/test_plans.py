"""Physical-plan regression tests: the scale properties of key queries are
asserted, not assumed. If a refactor drops a pushed filter, un-broadcasts a
dim, or loses the map-side WindowGroupLimit, these fail before any
benchmark does.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from bridge_analytics_template_spark.queries import QUERIES, ordered

ROOT = Path(__file__).resolve().parents[1]


def plan_of(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_flagship_plan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "flagship")
    assert "BroadcastHashJoin" in plan  # dims broadcast, fact never shuffled for the join
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_conjunctive")
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # filters reach the scan (DataFilters/PushedFilters), and the unused
    # o_custkey column is pruned out of the read entirely
    assert "isnotnull(o_orderstatus" in scan_line
    assert "o_custkey" not in scan_line
    assert "o_totalprice" in scan_line


def test_sort_merge_join_chosen(spark, sf_dir):
    assert "SortMergeJoin" in plan_of(spark, sf_dir, "join_sort_merge")


def test_broadcast_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_broadcast_dims")
    assert plan.count("BroadcastExchange") >= 2  # nation AND region broadcast


def test_topk_per_group_partial_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "w_topk_per_group")
    assert "WindowGroupLimit" in plan and "Partial" in plan  # map-side top-k before shuffle


def test_asof_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_asof")
    # union+window: exactly one hash-partition exchange (on user_id).
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_dedup_exact_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_dedup_exact")
    assert plan.count("Exchange hashpartitioning") == 1  # one agg shuffle, no join


def test_semi_anti_joins(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_anti")


def test_minhash_signatures_shuffle_free(spark, sf_dir):
    # Signatures from shingle ARRAYS are a pure projection: any Exchange
    # here means the zero-shuffle signature stage regressed to an aggregate.
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.dedup import _shingle_arrays, minhash_signatures

    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(_shingle_arrays(d, "text", "doc_id", 5, hashed=True))
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    # The only allowed exchange is the round-robin input widening; a hash
    # partitioning would mean the signature stage regressed to an aggregate.
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_correlated_subquery_decorrelated(spark, sf_dir):
    # Catalyst must rewrite the correlated scalar subquery into an
    # aggregate + equi-join, never a per-row nested loop.
    plan = plan_of(spark, sf_dir, "sql_correlated_subquery")
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_shingle_scan_has_no_inlined_filter(spark, sf_dir):
    # Regression guard for the InferFiltersFromGenerate trap: a non-outer
    # explode of the shingle array pushes size(sh)>0 into the scan, inlining
    # the whole tokenize+shingle tree as a per-row filter (measured 6x).
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.llm.dedup import _shingle_table

    d = load(spark, sf_dir, "documents")
    plan = _shingle_table(d, "text", "doc_id", 5)._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "split(" not in scan_line


def test_dynamic_partition_pruning_on_layout(spark, sf_dir, tmp_path):
    # The {app}/{study} layout's payoff at scale: joining the partitioned
    # fact to a filtered dim must inject a dynamicpruning expression into
    # the scan's PartitionFilters, so only the dim's studies are read.
    from pyspark.sql import functions as F
    from bridge_analytics_template_spark.catalog import load

    path = str(tmp_path / "dpp")
    o = load(spark, sf_dir, "orders").withColumn(
        "study", (F.col("o_orderkey") % 10).cast("string")
    )
    o.write.mode("overwrite").partitionBy("study").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        spark.range(10)
        .select(F.col("id").cast("string").alias("study"), (F.col("id") * 2).alias("w"))
        .filter(F.col("w") < 6)
    )
    plan = (
        fact.join(dim, "study")
        .groupBy("study")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """Runtime row-level filtering: for a shuffle join with a selective
    creation side, the optimizer builds a bloom filter over the small
    side's keys and applies might_contain on the big side's SCAN — rows
    that cannot join die before the shuffle. Default thresholds gate this
    to big inputs (applicationSideScanSizeThreshold=10GB), i.e. it arms
    itself exactly at the scale this engine targets; the test lowers them
    to prove the session config keeps the rewrite reachable."""
    keep = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        )
        big = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        small = spark.read.parquet(f"{sf_dir}/part.parquet").where("p_partkey % 97 = 0")
        j = big.join(small, big.l_partkey == small.p_partkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_tfidf_caches_tf_and_group_limits(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_tfidf")
    # the corpus-wide tokenize+agg materializes once and is re-read, not rebuilt
    assert plan.count("InMemoryTableScan") >= 2
    # per-doc top-3 prunes map-side before the window shuffle
    assert "WindowGroupLimit" in plan


def test_resample_coherent_partitioning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "t_resample_locf")
    # grid generation, join and fill-window all key on user_id: the span agg
    # and the fill window add no extra wide exchange beyond the presentation
    # sort (hashpartitioning appears only for user-keyed ops)
    import re

    wide = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "user_id" not in l
    ]
    assert wide == []


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_decontaminate")
    # The held-out gram set is the small side by construction: it must
    # broadcast so the training-corpus scan never shuffles for the probe.
    assert "BroadcastHashJoin" in plan


def test_chunking_has_no_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_chunking")
    # In-row fan-out: no hash exchange anywhere.
    assert "Exchange hashpartitioning" not in plan


def test_embed_neardup_no_quadratic_join(spark, sf_dir):
    # The shipped near-dup entry is the blocked-GEMM equi-join: a cartesian
    # or nested-loop self-join here means the O(n^2)-row plan regressed.
    plan = plan_of(spark, sf_dir, "llm_embed_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_unpartitioned_windows(spark, sf_dir):
    # These three route through range-partitioned prefix ops
    # (operators/rowids.py, operators/prefix.py); any WindowExec in their
    # plans means a one-task global sort crept back in.
    for name in (
        "train_shuffle_order",
        "train_vocab_encode",
        "q_revenue_pareto",
        "q_top_supplier",  # scalar max via aggregate+broadcast, not max() OVER ()
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "Window [" not in plan, name


def test_cluster_edges_use_prefix_filter(spark, sf_dir):
    # r3 (VERDICT task 5): the clustered-dedup flagship and the n-gram
    # Jaccard query must build edges via prefix_filtered_pairs, whose
    # verify tier computes jaccard with in-row array_intersect over the
    # candidate pairs. The full inverted-index tier (exact_jaccard_pairs)
    # derives jaccard from group counts and never calls array_intersect —
    # so its absence/presence cleanly separates the two plan shapes.
    plan = plan_of(spark, sf_dir, "llm_ngram_jaccard")
    assert "array_intersect" in plan
    # llm_dedup_clusters checkpoints the component iteration (Scan
    # ExistingRDD), so its returned plan no longer contains the edge
    # build — pin the edge source at the source level instead.
    import inspect

    from bridge_analytics_template_spark.queries import pipeline

    src = inspect.getsource(pipeline.llm_dedup_clusters)
    assert "prefix_filtered_pairs" in src
    assert "exact_jaccard_pairs" not in src


def test_dup_spans_no_cartesian_and_cached_grams(spark, sf_dir):
    # The gram self-join must stay an equi-join on the gram hash; a
    # cartesian/nested-loop here means the diagonal-islands path regressed
    # to all-pairs. The gram table is persisted (it feeds the df aggregate
    # and both self-join sides).
    plan = plan_of(spark, sf_dir, "llm_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_bm25_broadcasts_dims_no_global_window(spark, sf_dir):
    # Probe terms, df and the scalar stats all broadcast; top-10 must be
    # TakeOrderedAndProject, not a global sort or an unpartitioned window.
    plan = plan_of(spark, sf_dir, "llm_bm25_topk")
    assert plan.count("BroadcastExchange") >= 3
    assert "TakeOrderedAndProject" in plan
    assert "Window [" not in plan


def test_q3_q5_broadcast_shapes(spark, sf_dir):
    # Q3: segment-filtered customer broadcast, top-10 TakeOrdered.
    plan = plan_of(spark, sf_dir, "q_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # pushed to the scan
    # Q5: the correlated s_nationkey = c_nationkey must ride ON the
    # broadcast hash join, not survive as a post-join filter.
    plan5 = plan_of(spark, sf_dir, "q_local_supplier")
    assert "BroadcastHashJoin" in plan5
    assert "CartesianProduct" not in plan5


def test_advanced_ops_plan_shapes(spark, sf_dir):
    # heavy hitters: the exact-verify pass joins the token stream against
    # BROADCAST candidates — the whole point is never shuffling the full
    # distinct-token domain.
    plan = plan_of(spark, sf_dir, "llm_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # assoc rules / PMI: brand- and df-count dims ride broadcast; the only
    # shuffles are the keyed aggregates.
    for name in ("q_assoc_rules", "llm_pmi_pairs"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name

    # BFS: every frontier expansion is a keyed equi-join — no cartesian.
    plan = plan_of(spark, sf_dir, "graph_shortest_paths")
    assert "CartesianProduct" not in plan

    # windowed funnel: user-keyed joins only, and no window operator at all
    # (per-anchor min-aggregates instead).
    plan = plan_of(spark, sf_dir, "events_window_funnel")
    assert "CartesianProduct" not in plan
    assert "Window [" not in plan

    # gini: global rank routed through range-partitioned contiguous ids —
    # no unpartitioned WindowExec.
    plan = plan_of(spark, sf_dir, "q_gini_revenue")
    assert "Window [" not in plan

    # winnowing: in-row pipeline — the only exchanges are the r11
    # round-robin scan widen (present exactly when ensure_parallelism widens
    # the documents scan, e.g. a one-row-group file whose md5+window-min
    # pass would otherwise run in ONE task); no HASH shuffle anywhere
    # (nothing is keyed).
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.partitioning import ensure_parallelism

    plan = plan_of(spark, sf_dir, "llm_winnowing")
    assert plan.count("Exchange") <= 2
    assert "Exchange hashpartitioning" not in plan
    scan = load(spark, sf_dir, "documents").select("doc_id", "text")
    assert ("RoundRobinPartitioning" in plan) == (ensure_parallelism(scan) is not scan)


def test_shuffled_hash_join_chosen(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_shuffled_hash")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_driver_window_integrity():
    """The driver checks the FIRST 50 registered queries. Once >=3 official
    ledgers exist, `_auto_window()` takes over from the static `_WINDOW`
    (failures-first rotation); assert ITS invariants, not list equality
    with the static fallback (that assertion went stale the moment the r3
    ledger landed — VERDICT r3 item 3)."""
    import json

    from bridge_analytics_template_spark.queries import (
        ORACLES,
        QUERIES,
        _WINDOW,
        _auto_window,
    )

    # Static fallback stays a valid window (used until 3 ledgers exist).
    assert len(_WINDOW) == 50
    assert _WINDOW[0] == "flagship"
    assert all(n in QUERIES for n in _WINDOW)

    window = _auto_window() or _WINDOW
    # The registry must actually be ordered by the active window.
    assert list(QUERIES)[: len(window)] == window
    assert len(window) == 50
    assert window[0] == "flagship"
    assert all(n in QUERIES for n in window)

    if _auto_window() is not None:
        # Assert the REAL rotation invariants, not a static non-oracled
        # bound (the old `<= 10` broke by design the moment the r8 ledger
        # shrank the oracled backlog below 49 and rows-only names rotated
        # in — VERDICT r8 item 1).
        import glob
        import re

        latest: dict[str, dict] = {}
        latest_round: dict[str, int] = {}
        for path in sorted(
            glob.glob(str(ROOT / "CORRECTNESS_r*.json")),
            key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
        ):
            rnd = int(re.search(r"_r(\d+)", path).group(1))
            rows = json.load(open(path))
            latest.update(rows)
            for name in rows:
                latest_round[name] = rnd
        # 1. Latest-official failures lead (right after flagship) so a fix
        #    shows green in the very next ledger.
        failed = [
            n
            for n, row in latest.items()
            if n in QUERIES
            and n != "flagship"  # flagship is pinned at index 0, never deduped
            and (row.get("hash_match") is False or row.get("rows_match") is False)
        ]
        assert set(window[1 : 1 + len(failed)]) == set(failed)
        # 2. The never-checked backlog burns FIFO by AGE (the persisted
        #    first-seen-round map): the window's never-checked slots are
        #    exactly the OLDEST names — a query registered this round can
        #    never displace an earlier backlog name.
        never_in_window = [
            n for n in window[1:] if n not in latest and n not in failed
        ]
        import os as _os

        from bridge_analytics_template_spark import queries as _q

        with open(
            _os.path.join(_os.path.dirname(_q.__file__), "_first_seen.json")
        ) as fh:
            first_seen = json.load(fh)
        reg_pos = {n: i for i, n in enumerate(_q.REGISTRATION_ORDER)}
        never_all = sorted(
            (
                n
                for n in _q.REGISTRATION_ORDER
                if n not in latest and n != "flagship"
            ),
            key=lambda n: (first_seen.get(n, 10**9), reg_pos[n]),
        )
        assert never_in_window == never_all[: len(never_in_window)], (
            "never-checked backlog not burned FIFO by age"
        )
        # 3. Stale re-certification slots (already-checked greens) appear
        #    only AFTER the never-checked backlog is exhausted, ordered
        #    oldest-official-row first.
        tail = window[1 + len(failed):]
        first_stale = next(
            (i for i, n in enumerate(tail)
             if n in latest and latest[n].get("err") != "no_oracle"),
            len(tail),
        )
        stale = [n for n in tail[first_stale:] if n in latest]
        assert all(n in latest for n in tail[first_stale:]), (
            "never-checked name queued behind a stale re-certification slot"
        )
        rounds = [latest_round[n] for n in stale]
        assert rounds == sorted(rounds), (
            "stale rotation not oldest-official-row-first"
        )


def test_bloom_dedup_prefilter_plan(spark, sf_dir):
    # The candidate-side bloom prefilter must be a broadcast of the 1-row
    # bitmap + a filter — NO shuffle of the corpus before the bit test; the
    # exact confirm join must broadcast the (bounded) reference fingerprints.
    plan = plan_of(spark, sf_dir, "llm_bloom_dedup")
    assert plan.count("BroadcastExchange") >= 2  # bitmap row + ref fp set
    assert "SortMergeJoin" not in plan


def test_semantic_decontaminate_broadcasts_eval(spark, sf_dir):
    # Eval embeddings broadcast; the train corpus is never shuffled for the
    # similarity join (only the final per-doc argmax aggregate repartitions).
    plan = plan_of(spark, sf_dir, "llm_semantic_decontaminate")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_segment_dedup_two_keyed_shuffles(spark, sf_dir):
    # Election (seg_text) + reassembly (doc_id) + the outer join back to the
    # doc list: hash exchanges only, no window over the corpus, no cartesian.
    plan = plan_of(spark, sf_dir, "llm_segment_dedup")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_agg_no_base_rescan_shape(spark, sf_dir):
    # Both aggregates are partial+final; the merge is a |groups|-sized join.
    plan = plan_of(spark, sf_dir, "merge_incremental_agg")
    assert plan.count("HashAggregate") >= 4  # partial+final for base and delta


def test_bootstrap_single_pass_no_explode(spark, sf_dir):
    """q_bootstrap_ci's contract is ONE fact pass with 2x32 conditional
    partial aggregates — a refactor that explodes 32 replica rows per
    order (Generate/Expand) or adds a second orders scan breaks the 100 TB
    shape long before it breaks the answer."""
    plan = plan_of(spark, sf_dir, "q_bootstrap_ci")
    assert "Generate" not in plan and "Expand" not in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final of the one aggregate


def test_countmin_sketch_broadcast_back(spark, sf_dir):
    """The CMS estimate join must broadcast the fixed d*w sketch table, not
    shuffle the probe relation against it."""
    plan = plan_of(spark, sf_dir, "agg_countmin_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10, never a global sort


def test_ensure_parallelism_row_group_aware(spark, tmp_path):
    """A file wide enough for byte-range splits but with ONE row group still
    executes as one task; ensure_parallelism must see through the split
    count via the parquet footer and widen."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bridge_analytics_template_spark.partitioning import ensure_parallelism, leaf_stats

    path = str(tmp_path / "one_rg.parquet")
    pq.write_table(
        pa.table({"x": list(range(200_000)), "t": ["y" * 40] * 200_000}), path,
        row_group_size=1_000_000,
    )
    df = spark.read.parquet(path)
    assert leaf_stats(df).row_groups == 1
    widened = ensure_parallelism(df, min_partitions=8)
    assert widened.rdd.getNumPartitions() >= 8
    # Non-parquet leaves: the stats decline rather than guess.
    csv = str(tmp_path / "t.csv")
    df.limit(3).write.csv(csv)
    assert leaf_stats(spark.read.csv(csv)) is None


def test_ensure_parallelism_bin_packed_tiny_files(spark, tmp_path, sql_conf):
    """Many tiny files do NOT mean many scan partitions: Spark bin-packs
    small leaves (maxPartitionBytes/openCostInBytes), so len(files) >=
    target must not early-return (ADVICE r5). 64 one-row files pack into
    ~cores partitions; asking for more than that must still widen."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bridge_analytics_template_spark.partitioning import ensure_parallelism, leaf_stats

    d = tmp_path / "tiny"
    d.mkdir()
    for i in range(64):
        pq.write_table(pa.table({"x": [i]}), str(d / f"p{i}.parquet"))
    df = spark.read.parquet(str(d))
    actual = df.rdd.getNumPartitions()
    est = leaf_stats(df).partitions
    # The estimate mirrors Spark's FilePartition formula — same ballpark
    # as what Spark actually planned, never the leaf count.
    assert est is not None and est <= 64
    assert abs(est - actual) <= max(4, actual)
    target = actual + 8  # strictly more than the packed plan provides
    widened = ensure_parallelism(df, min_partitions=target)
    assert widened.rdd.getNumPartitions() >= target

    # The sizes are Spark's own reading of the confs, units and all.
    def packed(max_part, open_cost):
        sql_conf("spark.sql.files.maxPartitionBytes", max_part)
        sql_conf("spark.sql.files.openCostInBytes", open_cost)
        return leaf_stats(df).partitions

    assert packed("64kb", "1m") == packed("65536", "1048576") != est


def test_asof_nearest_single_shuffle_two_sorts(spark, sf_dir):
    """direction='nearest' fills both scan orders as windows over the SAME
    hash partitioning — one exchange, two in-partition sorts, never a
    second shuffle or a join."""
    plan = plan_of(spark, sf_dir, "join_asof_nearest")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("SortMergeJoin") == 0 and plan.count("BroadcastHashJoin") == 0
    assert plan.count("Window") >= 2  # backward + forward fills


def test_bleu_pairs_plan_in_row(spark, sf_dir):
    """llm_bleu_pairs' contract is in-row clipped-precision arithmetic: one
    doc-keyed equi-join, no Window, no Python lane."""
    plan = plan_of(spark, sf_dir, "llm_bleu_pairs")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # higher-order fns, not pandas UDFs


def test_multimodal_decode_plan_arrow_only(spark, sf_dir):
    """llm_multimodal_decode is two chained Arrow mapInPandas passes over a
    pruned scan — no hash shuffle feeding the passes, no row-at-a-time
    Python."""
    plan = plan_of(spark, sf_dir, "llm_multimodal_decode")
    assert plan.count("MapInPandas") >= 2  # generate+resize and stats passes
    assert "BatchEvalPython" not in plan
    # the same rule the output sort used to anchor (no hash exchange below
    # it), now over the whole plan: in particular none after the last
    # MapInPandas in the plan text, the subtree feeding the innermost pass
    assert "Exchange hashpartitioning" not in plan


def test_link_graph_plan_jvm_only(spark, sf_dir):
    """llm_link_graph's contract: extraction entirely JVM-side (no Python
    lane of any kind), one hash aggregate on the host pair, no window, no
    cartesian."""
    plan = plan_of(spark, sf_dir, "llm_link_graph")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_crawl_frontier_plan_group_limit(spark, sf_dir):
    """llm_crawl_frontier's politeness cap (rank <= 2) must compile to a
    WindowGroupLimit so hub hosts never fully sort; the crawled-set
    exclusion is a real anti-join; zero Python."""
    plan = plan_of(spark, sf_dir, "llm_crawl_frontier")
    assert "WindowGroupLimit" in plan
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_anchor_text_window_over_counts(spark, sf_dir):
    """llm_anchor_text windows over the (target, text) COUNT aggregate,
    never the raw anchor rows: the plan must aggregate BEFORE the window,
    and the dominant-anchor rank must compile to WindowGroupLimit."""
    plan = plan_of(spark, sf_dir, "llm_anchor_text")
    assert "WindowGroupLimit" in plan
    agg_pos = plan.index("HashAggregate")
    # the window sits above (earlier in the printed tree than) an aggregate
    assert "Window" in plan[:agg_pos] or "HashAggregate" in plan[: plan.index("Window")]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_ivf_index_probe_partition_pruning(spark, sf_dir):
    """emb_ivf_index_probe's contract: the stored inverted lists are
    parquet PARTITIONED BY centroid_id and the probed-centroid filter
    must reach the scan as PartitionFilters — only nprobe/n_centroids of
    the index's files are read. The probe set rides a broadcast join."""
    plan = plan_of(spark, sf_dir, "emb_ivf_index_probe")
    assert "PartitionFilters" in plan
    import re

    # at least one scan carries a NON-EMPTY partition filter on centroid_id
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_index_probe_partition_pruning(spark, sf_dir):
    """llm_bm25_indexed's contract: postings and df scans are pruned to
    the probe terms' hash buckets (PartitionFilters on bucket) and probe
    terms ride broadcast joins. The only corpus read is the probe-term
    extraction itself (doc_id = 3, pushed to the scan) — the tf/df/stats
    tiers come from the stored index, so no corpus-wide tokenize/aggregate
    appears."""
    plan = plan_of(spark, sf_dir, "llm_bm25_indexed")
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan
    # probe-term extraction is the ONLY documents.parquet scan, and it
    # carries the pushed doc_id filter
    doc_scans = plan.count("documents.parquet")
    assert doc_scans <= 2  # FileScan prints the path in location + schema lines
    assert re.search(r"PushedFilters: \[[^\]]*doc_id", plan)


def test_bitext_mine_plan_blocked_gemm(spark, sf_dir):
    """llm_bitext_mine must run the blocked-GEMM shape: Arrow-batched
    kernels (two mapInPandas lanes), a broadcast block-pair grid, and NO
    cartesian product / row-materialized sims relation."""
    plan = plan_of(spark, sf_dir, "llm_bitext_mine")
    assert plan.count("MapInPandas") >= 2  # top-2 partials + best-margin
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The configured AQE skew-join handling, DEMONSTRATED (VERDICT r7
    task 6): on the zipf skew replica (one l_suppkey holding ~30% of
    lineitem) a sort-merge join re-plans at runtime into
    SortMergeJoin(skew=true) with a 'skewed' AQEShuffleRead — the hot
    shuffle partition is split instead of pinning one task. Thresholds
    are lowered to make the 10x replica's hot partition qualify the same
    way a real 100 TB partition would at the defaults. Skips when the
    replica hasn't been built (ci.sh builds it)."""
    import os

    import pytest

    if not os.path.exists("/tmp/skew10/lineitem.parquet"):
        pytest.skip("skew replica not built (run tools/make_replica.py --skew zipf)")
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/tmp/skew10/lineitem.parquet")
        s = spark.read.parquet("/tmp/skew10/supplier.parquet")
        j = li.join(s, li.l_suppkey == s.s_suppkey).select("l_orderkey", "s_name")
        qe = j._jdf.queryExecution()
        # execute THIS QueryExecution (collect()/write build new ones —
        # their runtime re-plan would be invisible here)
        qe.toRdd().count()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = qe.explainString(mode)
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # the AQEShuffleRead argument
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scale_sweep_ratio_gate_drift_vs_regression():
    """The 100x budget gate (VERDICT r8 task 4): a simulated 1.5x BOX
    drift (sentinel and query inflate together) passes, while a
    deliberate 3x slowdown of the query ALONE is caught; the absolute
    wall survives as a backstop when no sentinel exists."""
    import sys

    sys.path.insert(0, str(ROOT / "tools"))
    from scale_sweep import is_over

    # calibration: query measured 40s, sentinel 5s, ratio pinned 10
    # (allowed = 50s at calibration speed), abs backstop 150s
    assert not is_over(40, abs_budget=150, ratio_budget=10, sentinel=5)
    # 1.5x box drift: BOTH inflate -> ratio unchanged -> pass
    assert not is_over(60, abs_budget=150, ratio_budget=10, sentinel=7.5)
    # 3x regression of the query alone -> ratio trips AND wall above the
    # historical pin (abs/2 = 75) -> caught
    assert is_over(120, abs_budget=150, ratio_budget=10, sentinel=5)
    # FAST-box false alarm (the measured r9 case): uncontended window runs
    # the sentinel 6x faster than calibration while the query's wall stays
    # AT its historical measurement -> ratio trips but wall is consistent
    # with history (under the 0.55 x abs pin-plus-grace) -> NOT a regression
    assert not is_over(40, abs_budget=150, ratio_budget=10, sentinel=0.85)
    # same fast box, genuine blowup past the historical pin -> caught
    assert is_over(90, abs_budget=150, ratio_budget=10, sentinel=0.85)
    # ratio fine but catastrophic absolute blowout (sentinel broken large)
    assert is_over(200, abs_budget=150, ratio_budget=10, sentinel=50)
    # legacy entry (no ratio): absolute gates alone
    assert is_over(121, abs_budget=120)
    assert not is_over(119, abs_budget=120)
    # no budgets at all -> never over
    assert not is_over(1e6)


def test_vocab_encode_broadcast_guard(spark, sf_dir, monkeypatch):
    """train_vocab_encode broadcasts the vocab only while it is
    broadcast-sized (VERDICT r9 task 5): the default plan joins the token
    stream against a BroadcastHashJoin / BroadcastExchange; with the
    threshold forced to 0 the same query plans WITHOUT any broadcast of
    the vocab (shuffle join fallback) and returns identical rows."""
    from bridge_analytics_template_spark.queries import training

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = training.train_vocab_encode(spark, sf_dir)
    assert "BroadcastExchange" in plan_of(small)
    want = [(r["doc_id"], r["ids"]) for r in ordered("train_vocab_encode", small).collect()]

    monkeypatch.setattr(training, "VOCAB_BROADCAST_MAX_ROWS", 0)
    spark.catalog.clearCache()
    # Above the threshold the query must not FORCE a broadcast; whether a
    # genuinely small relation still broadcasts is AQE's size-based call
    # (which can never OOM — it measures actual bytes). Disabling the
    # size-based thresholds isolates the hint: any surviving
    # BroadcastExchange could only come from a forced hint.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        big = training.train_vocab_encode(spark, sf_dir)
        rows = [(r["doc_id"], r["ids"]) for r in ordered("train_vocab_encode", big).collect()]
        assert "BroadcastExchange" not in plan_of(big)
        assert rows == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
