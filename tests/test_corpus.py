"""Tests for the wave-4 corpus ops (queries/corpus.py): segment dedup
invariants, length-bucket boundary semantics, bloom prefilter exactness,
MMR determinism, fixed-point PageRank conservation."""

from __future__ import annotations

from pyspark.sql import functions as F

from bridge_analytics_template_spark.queries import ordered
from bridge_analytics_template_spark.queries.corpus import (
    _BLOOM_K,
    _BLOOM_M,
    _SEG,
    graph_pagerank_ppm,
    llm_bloom_dedup,
    llm_mmr_rerank_exact,
    llm_segment_dedup,
    train_length_buckets,
)

from conftest import SF_SMALL


def test_segment_dedup_invariants(spark):
    rows = ordered("llm_segment_dedup", llm_segment_dedup(spark, SF_SMALL)).collect()
    assert rows, "no documents"
    # Every doc keeps at most its own segment count, and the reassembled
    # text has exactly n_kept segments' worth of structure.
    total_segs = sum(r.n_segs for r in rows)
    total_kept = sum(r.n_kept for r in rows)
    assert 0 < total_kept <= total_segs
    for r in rows:
        assert 0 <= r.n_kept <= r.n_segs
        if r.n_kept == 0:
            assert r.kept_text == ""
    # First-occurrence election keeps EXACTLY one copy per distinct segment:
    # total kept count == number of distinct segment texts in the corpus.
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.functions.text import ws_tokens

    d = load(spark, SF_SMALL, "documents")
    toks = ws_tokens("text")
    n_distinct = (
        d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.greatest(F.ceil(F.col("n") / _SEG), F.lit(1).cast("long")) - 1,
                    ),
                    lambda i: F.array_join(F.slice("toks", (i * _SEG + 1).cast("int"), _SEG), " "),
                )
            ).alias("seg")
        )
        .select("seg")
        .distinct()
        .count()
    )
    assert total_kept == n_distinct


def test_segment_dedup_drops_planted_duplicate(spark, tmp_path):
    # Two docs share an identical 10-token segment; the later doc must lose it.
    seg = " ".join(f"tok{i}" for i in range(_SEG))
    rows = [
        (1, seg + " " + " ".join(f"a{i}" for i in range(_SEG))),
        (2, seg + " " + " ".join(f"b{i}" for i in range(_SEG))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(p)
    out = {r.doc_id: r for r in llm_segment_dedup(spark, str(tmp_path)).collect()}
    assert out[1].n_kept == 2 and out[2].n_kept == 1
    assert out[2].kept_text == " ".join(f"b{i}" for i in range(_SEG))


def test_length_buckets_partition_and_waste(spark):
    rows = ordered("train_length_buckets", train_length_buckets(spark, SF_SMALL)).collect()
    assert 1 <= len(rows) <= 4
    # Buckets are ordered, disjoint by construction, and cover all docs.
    n_docs = sum(r.n_docs for r in rows)
    from bridge_analytics_template_spark.catalog import load

    assert n_docs == load(spark, SF_SMALL, "documents").count()
    for r in rows:
        assert r.min_len <= r.max_len
        assert 0 <= r.bucket_waste_ppm <= 1_000_000
        # Bucketed batching can never waste more than one global bucket.
        assert r.bucket_waste_ppm <= r.global_waste_ppm
    # Range monotonicity across buckets.
    for a, b in zip(rows, rows[1:]):
        assert a.max_len <= b.min_len


def test_bloom_dedup_equals_plain_semijoin(spark):
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.queries.corpus import _bag_fingerprint

    got = [r.doc_id for r in ordered("llm_bloom_dedup", llm_bloom_dedup(spark, SF_SMALL)).collect()]
    d = load(spark, SF_SMALL, "documents").select(
        "doc_id", _bag_fingerprint("text").alias("fp")
    )
    ref = d.filter(F.col("doc_id") % 7 == 0).select("fp").distinct()
    want = [
        r.doc_id
        for r in d.filter(F.col("doc_id") % 7 != 0)
        .join(ref, "fp", "semi")
        .select("doc_id")
        .orderBy("doc_id")
        .collect()
    ]
    assert got == want


def test_bloom_bitmap_shape():
    assert _BLOOM_M % 64 == 0 and _BLOOM_K >= 1


def test_mmr_exact_deterministic_and_diverse(spark):
    a = [(r.rank, r.vec_id) for r in llm_mmr_rerank_exact(spark, SF_SMALL).collect()]
    b = [(r.rank, r.vec_id) for r in llm_mmr_rerank_exact(spark, SF_SMALL).collect()]
    assert a == b
    assert [r[0] for r in a] == list(range(1, len(a) + 1))
    assert len({r[1] for r in a}) == len(a)


def test_pagerank_ppm_bounds_and_floor(spark):
    rows = ordered("graph_pagerank_ppm", graph_pagerank_ppm(spark, SF_SMALL)).collect()
    assert rows
    # Every node rank >= the damping floor; sink-only nodes sit exactly at it.
    assert all(r.rank_ppm >= 150_000 for r in rows)
    # Integer fixed-point: recompute must be bit-identical.
    again = ordered("graph_pagerank_ppm", graph_pagerank_ppm(spark, SF_SMALL)).collect()
    assert sorted((r.node, r.rank_ppm) for r in rows) == sorted(
        (r.node, r.rank_ppm) for r in again
    )


def test_schema_evolution_null_backfill(spark):
    from bridge_analytics_template_spark.queries.corpus import s_schema_evolution
    from bridge_analytics_template_spark.catalog import load

    row = s_schema_evolution(spark, SF_SMALL).collect()[0]
    n = load(spark, SF_SMALL, "nation")
    assert row.n_rows == n.count()
    odd = n.filter(F.col("n_nationkey") % 2 == 1)
    assert row.n_with_region == odd.count()
    assert row.n_flagged == odd.filter(F.col("n_regionkey") >= 2).count()


def test_referential_integrity_clean_fixture(spark):
    from bridge_analytics_template_spark.queries.corpus import profile_referential_integrity

    rows = ordered("profile_referential_integrity", profile_referential_integrity(spark, SF_SMALL)).collect()
    assert len(rows) == 4
    # The synthetic star schema is referentially clean; orphan counts are a
    # meaningful zero (the report, not the zero, is what's under test).
    assert all(r.n_orphans == 0 for r in rows)
    assert all(r.n_child > 0 for r in rows)


def test_referential_integrity_detects_planted_orphan(spark, tmp_path):
    from bridge_analytics_template_spark.queries.corpus import profile_referential_integrity
    from bridge_analytics_template_spark.catalog import TABLES, table_path
    import shutil, os

    # Copy the tiny fixture, then plant an orphan order (customer id far
    # outside the key range).
    for t in TABLES:
        src = table_path(SF_SMALL, t)
        if os.path.exists(src):
            shutil.copy(src, str(tmp_path / f"{t}.parquet"))
    orders = spark.read.parquet(str(tmp_path / "orders.parquet"))
    one = orders.limit(1).withColumn("o_custkey", F.lit(99_999_999).cast("long"))
    orders.unionByName(one).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders2.parquet")
    )
    os.remove(str(tmp_path / "orders.parquet"))
    shutil.move(str(tmp_path / "orders2.parquet"), str(tmp_path / "orders.parquet"))
    rows = {r.relation: r for r in profile_referential_integrity(spark, str(tmp_path)).collect()}
    assert rows["orders.o_custkey->customer"].n_orphans == 1


def test_semantic_decontaminate_cosine_bounds(spark):
    from bridge_analytics_template_spark.queries.corpus import llm_semantic_decontaminate

    rows = ordered("llm_semantic_decontaminate", llm_semantic_decontaminate(spark, SF_SMALL)).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r.max_cos <= 1.0 + 1e-9
        assert r.best_eval_id % 50 == 0
        assert r.vec_id % 50 != 0


def test_token_budget_greedy_invariants(spark):
    from bridge_analytics_template_spark.queries.corpus import train_token_budget
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.functions.text import ws_tokens

    rows = ordered("train_token_budget", train_token_budget(spark, SF_SMALL)).collect()
    assert rows
    total = (
        load(spark, SF_SMALL, "documents")
        .select(F.sum(F.size(ws_tokens("text")).cast("long")).alias("t"))
        .collect()[0]
        .t
    )
    # Budget respected and admission is in (score desc, doc_id) order with
    # a correct running sum.
    cum = 0
    prev = None
    for r in rows:
        cum += r.n_tok
        assert r.cum_tokens == cum
        key = (-r.score_ppm, r.doc_id)
        assert prev is None or prev < key
        prev = key
    assert cum * 2 <= total


def test_ewma_int_recurrence_reference(spark):
    from bridge_analytics_template_spark.queries.corpus import ts_ewma_int
    from bridge_analytics_template_spark.catalog import load
    import math

    rows = ordered("ts_ewma_int", ts_ewma_int(spark, SF_SMALL)).collect()
    assert rows
    # Independent python reference for one user.
    uid = rows[0].user_id
    got = [(r.event_id, r.ewma_half_cents) for r in rows if r.user_id == uid]
    src = (
        load(spark, SF_SMALL, "events")
        .filter(F.col("user_id") == uid)
        .select("event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    s, want = 0, []
    for i, r in enumerate(src):
        x = int(math.floor(r.value * 100))
        s = x if i == 0 else x + s // 2
        want.append((r.event_id, s))
    assert sorted(got) == sorted(want)


def test_k_anonymity_consistency(spark):
    from bridge_analytics_template_spark.queries.corpus import profile_k_anonymity
    from bridge_analytics_template_spark.catalog import load

    row = profile_k_anonymity(spark, SF_SMALL).collect()[0]
    g = (
        load(spark, SF_SMALL, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .count()
        .collect()
    )
    assert row.n_groups == len(g)
    assert row.n_groups_below_k == sum(1 for r in g if r["count"] < row.k)
    assert row.n_rows_at_risk == sum(r["count"] for r in g if r["count"] < row.k)
    assert row.min_group_size == min(r["count"] for r in g)


def test_matryoshka_monotone_and_zero_at_full(spark):
    from bridge_analytics_template_spark.queries.corpus import emb_matryoshka_eval

    rows = {r.dim: r for r in emb_matryoshka_eval(spark, SF_SMALL).collect()}
    assert set(rows) == {8, 16, 32, 64}
    # Full-dim truncation is the identity: error exactly zero.
    assert rows[64].sum_abs_err_ppm == 0
    # All errors are non-negative and pair counts identical across dims.
    n = {r.n_pairs for r in rows.values()}
    assert len(n) == 1 and n.pop() > 0
    assert all(r.sum_abs_err_ppm >= 0 for r in rows.values())


def test_compaction_preserves_rows(spark):
    from bridge_analytics_template_spark.queries.corpus import s_compaction
    from bridge_analytics_template_spark.catalog import load

    row = s_compaction(spark, SF_SMALL).collect()[0]
    n = load(spark, SF_SMALL, "nation")
    assert row.n_rows == n.count()
    assert row.n_files_before == 8 and row.n_files_after == 2


def test_incremental_agg_equals_recompute(spark):
    from bridge_analytics_template_spark.queries.corpus import merge_incremental_agg
    from bridge_analytics_template_spark.catalog import load

    got = {
        r.o_orderstatus: (r.n_orders, r.total_cents)
        for r in merge_incremental_agg(spark, SF_SMALL).collect()
    }
    o = load(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    final = o.filter(
        ((F.col("o_orderkey") % 10 != 0) & (F.col("o_orderkey") % 7 != 0))
        | (F.col("o_orderkey") % 10 == 0)
    )
    want = {
        r.o_orderstatus: (r.n, r.c)
        for r in final.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
        .collect()
    }
    assert got == want


def test_shard_manifest_order_independent(spark):
    from bridge_analytics_template_spark.queries.corpus import train_shard_manifest
    from bridge_analytics_template_spark.catalog import load, table_path
    import tempfile, os

    a = {r.shard_id: (r.n_rows, r.content_checksum)
         for r in train_shard_manifest(spark, SF_SMALL).collect()}
    # Rewrite orders shuffled (different row order, different partitioning):
    # the manifest must not change.
    with tempfile.TemporaryDirectory() as td:
        o = load(spark, SF_SMALL, "orders")
        o.orderBy(F.desc("o_totalprice")).repartition(7).write.parquet(
            os.path.join(td, "orders.parquet")
        )
        for t in ("nation",):  # satisfy load() for any other table if needed
            pass
        b = {r.shard_id: (r.n_rows, r.content_checksum)
             for r in train_shard_manifest(spark, td).collect()}
    assert a == b
    assert sum(v[0] for v in a.values()) == load(spark, SF_SMALL, "orders").count()


def test_curation_e2e_composition(spark):
    from bridge_analytics_template_spark.queries.corpus import (
        _E2E_QT,
        pipeline_curation_e2e,
    )
    from bridge_analytics_template_spark.catalog import load

    rows = ordered("pipeline_curation_e2e", pipeline_curation_e2e(spark, SF_SMALL)).collect()
    assert rows
    # Quality gate respected, admission ordered, running sum correct.
    cum = 0
    prev = None
    for r in rows:
        assert r.score_ppm >= _E2E_QT
        cum += r.n_tok
        assert r.cum_tokens == cum
        key = (-r.score_ppm, r.doc_id)
        assert prev is None or prev < key
        prev = key


def test_kmeans_int_deterministic_and_sane(spark):
    from bridge_analytics_template_spark.queries.corpus import _KM_K, emb_kmeans_int

    a = [(r.vec_id, r.cluster_id, r.dist2) for r in ordered("emb_kmeans_int", emb_kmeans_int(spark, SF_SMALL)).collect()]
    b = [(r.vec_id, r.cluster_id, r.dist2) for r in ordered("emb_kmeans_int", emb_kmeans_int(spark, SF_SMALL)).collect()]
    assert a == b
    assert all(0 <= c < _KM_K for _, c, _ in a)
    assert all(d >= 0 for _, _, d in a)
    # The init members must sit closest to a centroid that has not drifted
    # further than any other — weak sanity: at least 2 distinct clusters used.
    assert len({c for _, c, _ in a}) >= 2


def test_sql_user_functions_inlined(spark):
    # SQL UDFs must inline: no python runner, no extra exchange beyond the
    # aggregate; result equals the handwritten expression.
    from bridge_analytics_template_spark.queries.sql_api import sql_user_functions

    df = ordered("sql_user_functions", sql_user_functions(spark, SF_SMALL))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = {r.l_returnflag: (r.n_rows, r.margin_cents) for r in df.collect()}
    from bridge_analytics_template_spark.catalog import load

    l = load(spark, SF_SMALL, "lineitem").filter(
        F.floor(F.col("l_extendedprice") * 100).cast("long") >= 100000
    )
    want = {
        r.l_returnflag: (r.n, r.m)
        for r in l.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("m"),
        )
        .collect()
    }
    assert rows == want


def test_corrupt_records_quarantined(spark):
    from bridge_analytics_template_spark.queries.corpus import s_corrupt_records
    from bridge_analytics_template_spark.catalog import load

    row = s_corrupt_records(spark, SF_SMALL).collect()[0]
    n = load(spark, SF_SMALL, "nation")
    assert row.n_good == n.count()
    assert row.n_corrupt == 2


def test_cache_table_in_memory_scan(spark):
    from bridge_analytics_template_spark.queries.corpus import sql_cache_table

    df = ordered("sql_cache_table", sql_cache_table(spark, SF_SMALL))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In-memory table" in plan or "InMemoryTableScan" in plan
    rows = df.collect()
    assert sum(r.n_nations for r in rows) == 25


def test_domain_stats_verdict_logic(spark):
    from bridge_analytics_template_spark.queries.corpus import llm_domain_stats

    rows = ordered("llm_domain_stats", llm_domain_stats(spark, SF_SMALL)).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0 and r.n_tokens > 0
        assert 0 <= r.n_exact_dups < r.n_docs
        want = (r.mean_score_ppm >= 815000) and (r.n_exact_dups * 10 < r.n_docs)
        assert r.keep_source == want


def test_selfrep_planted_and_plan(spark, tmp_path):
    from bridge_analytics_template_spark.queries.corpus import _SEG, llm_selfrep_segments

    seg = " ".join(f"w{i}" for i in range(_SEG))
    other = " ".join(f"z{i}" for i in range(_SEG))
    rows = [
        (1, f"{seg} {seg} {other}"),  # one self-dup among 3 segments
        (2, other),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in llm_selfrep_segments(spark, str(tmp_path)).collect()}
    assert out[1].n_segs == 3 and out[1].n_self_dups == 1
    assert out[2].n_self_dups == 0
    # Zero shuffle: the only exchange allowed is the presentation sort.
    plan = llm_selfrep_segments(spark, str(tmp_path))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_kmv_estimate_quality_and_merge(spark):
    from bridge_analytics_template_spark.queries.corpus import _KMV_K, agg_kmv_distinct

    rows = ordered("agg_kmv_distinct", agg_kmv_distinct(spark, SF_SMALL)).collect()
    assert rows
    for r in rows:
        assert r.k == _KMV_K
        if r.n_exact < _KMV_K:
            # Small-set rule: the sketch holds every value — exact.
            assert r.est_distinct == r.n_exact
        else:
            # KMV relative error ~ 1/sqrt(k) ≈ 12.5%; allow 4 sigma.
            assert abs(r.est_distinct - r.n_exact) <= max(0.5 * r.n_exact, 10)
    # Mergeability: the k smallest of a union == k smallest of (k-smallest A
    # ∪ k-smallest B) — verified structurally on hashes of a split corpus.
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.queries.corpus import _hash60

    e = load(spark, SF_SMALL, "events")
    h = e.select(
        F.expr(f"CAST({_hash60('CAST(user_id AS STRING)')} AS BIGINT)").alias("hv"),
        (F.col("event_id") % 2).alias("half"),
    ).distinct()
    import heapq

    all_h = sorted({r.hv for r in h.collect()})
    half_a = sorted({r.hv for r in h.filter(F.col("half") == 0).collect()})[: _KMV_K]
    half_b = sorted({r.hv for r in h.filter(F.col("half") == 1).collect()})[: _KMV_K]
    merged = sorted(set(half_a) | set(half_b))[: _KMV_K]
    assert merged == all_h[: _KMV_K]


def test_countmin_overestimates_and_python_reference(spark):
    """CMS point estimates must dominate exact counts (the one-sided CMS
    guarantee), match a pure-python sketch built with the same hash family,
    and be exact for keys whose buckets collide with nothing heavier."""
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.queries.corpus import (
        _CMS_D,
        _CMS_W,
        _hash60,
        agg_countmin_topk,
    )

    rows = agg_countmin_topk(spark, SF_SMALL).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.overcount >= 0
        assert r.cms_est == r.n_exact + r.overcount

    # Python reference sketch over the exact per-key counts, using Spark
    # itself only to evaluate the shared md5-nibble hash (the hash IS the
    # spec; everything downstream is plain dict arithmetic).
    o = load(spark, SF_SMALL, "orders")
    per_key = {
        r.key: r.n
        for r in o.groupBy(F.expr("CAST(o_custkey AS BIGINT)").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = ["CONCAT('%d|', CAST(key AS STRING))" % r for r in range(_CMS_D)]
    probe_exprs = [
        F.expr(f"CAST(({_hash60(salted[r])}) % {_CMS_W} AS BIGINT)").alias(f"b{r}")
        for r in range(_CMS_D)
    ]
    buckets = {
        row.key: [row[f"b{r}"] for r in range(_CMS_D)]
        for row in spark.createDataFrame(
            [(k,) for k in per_key], "key bigint"
        ).select("key", *probe_exprs).collect()
    }
    sketch = [[0] * _CMS_W for _ in range(_CMS_D)]
    for k, n in per_key.items():
        for r in range(_CMS_D):
            sketch[r][buckets[k][r]] += n
    for r in rows:
        expected = min(sketch[d][buckets[r.key][d]] for d in range(_CMS_D))
        assert r.cms_est == expected


def test_kmv_setops_estimator_and_inclusion_exclusion(spark):
    """The estimator path must actually engage at sf0.01 (cohorts > K), the
    union estimate must respect KMV error bounds vs the exact union, and
    the intersection row must be exactly est_a + est_b - est_union."""
    from bridge_analytics_template_spark.queries.corpus import (
        _KMV_SET_K,
        agg_kmv_setops,
    )

    rows = {r.side: r for r in agg_kmv_setops(spark, "/root/testdata/sf0.01").collect()}
    assert set(rows) == {"purchase_cohort", "click_cohort", "union", "intersection"}
    for side in ("purchase_cohort", "click_cohort", "union"):
        r = rows[side]
        assert r.n_exact > _KMV_SET_K  # estimator, not the small-set rule
        # KMV relative error ~1/sqrt(K) ≈ 18%; allow 4 sigma.
        assert abs(r.est_distinct - r.n_exact) <= max(int(0.75 * r.n_exact), 10)
    inter = rows["intersection"]
    assert inter.kth_min is None
    assert (
        inter.est_distinct
        == rows["purchase_cohort"].est_distinct
        + rows["click_cohort"].est_distinct
        - rows["union"].est_distinct
    )
    assert (
        inter.n_exact
        == rows["purchase_cohort"].n_exact
        + rows["click_cohort"].n_exact
        - rows["union"].n_exact
    )


def test_t_closeness_matches_python_reference(spark, sf_dir):
    """Exact integer-ppm TVD per class vs a from-first-principles pandas
    recomputation over the same parquet (floor semantics included)."""
    import collections

    import pandas as pd

    from bridge_analytics_template_spark.queries.corpus import profile_t_closeness

    got = {
        (r.c_nationkey, r.c_mktsegment): (r.n_rows, r.tvd_ppm)
        for r in profile_t_closeness(spark, sf_dir).collect()
    }
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")[
        ["c_custkey", "c_nationkey", "c_mktsegment"]
    ]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[["o_custkey", "o_orderpriority"]]
    base = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    n_total = len(base)
    ns = collections.Counter(base["o_orderpriority"])
    for (nat, seg), grp in base.groupby(["c_nationkey", "c_mktsegment"]):
        n_c = len(grp)
        ncs = collections.Counter(grp["o_orderpriority"])
        num = sum(abs(ncs.get(s, 0) * n_total - ns[s] * n_c) for s in ns)
        expect = (num * 1_000_000) // (2 * n_c * n_total)
        assert got[(nat, seg)] == (n_c, expect)
    assert len(got) == base.groupby(["c_nationkey", "c_mktsegment"]).ngroups
    # TVD is a [0, 1] metric -> ppm within [0, 1e6]
    assert all(0 <= t <= 1_000_000 for _, t in got.values())


def test_interval_union_matches_python_sweep(spark, sf_dir):
    """Sweep-line coverage vs a direct per-user python interval merge."""
    import pandas as pd

    from bridge_analytics_template_spark.queries.corpus import (
        _COVER_US,
        events_interval_union,
    )

    got = {
        r.user_id: (r.n_islands, r.covered_us)
        for r in events_interval_union(spark, sf_dir).collect()
    }
    e = pd.read_parquet(f"{sf_dir}/events.parquet")[["user_id", "ts"]]
    # pandas reads the naive-microsecond parquet as datetime64[ns]; convert
    # to integer MICROseconds to mirror unix_micros exactly.
    e["s"] = e["ts"].values.astype("datetime64[us]").astype("int64")
    for uid, grp in e.groupby("user_id"):
        starts = sorted(grp["s"])
        islands = []
        for s in starts:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], s + _COVER_US)
            else:
                islands.append([s, s + _COVER_US])
        covered = sum(b - a for a, b in islands)
        assert got[uid] == (len(islands), covered), uid
    assert set(got) == set(e["user_id"].unique())


def test_domain_cap_plan_and_counts(spark, sf_dir):
    from bridge_analytics_template_spark.queries import QUERIES

    df = ordered("llm_domain_cap", QUERIES["llm_domain_cap"](spark, sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # running top-K, not a full fat-group sort
    rows = df.collect()
    from collections import Counter

    per_src = Counter(r["source"] for r in rows)
    assert all(n <= 10 for n in per_src.values())
    # determinism across rebuilds
    again = ordered("llm_domain_cap", QUERIES["llm_domain_cap"](spark, sf_dir)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hits_ppm_reference_and_invariants(spark):
    """graph_hits_ppm vs an independent python rendering of the SAME
    integer recurrence on the real sf0.001 arc graph, plus the HITS
    invariants: ppm scores bounded by the L1 normalizer, bit-identical
    recompute, and source-only/sink-only nodes get zero authority/hub."""
    from bridge_analytics_template_spark.queries.corpus import (
        _HITS_INIT,
        _HITS_ITERS,
        graph_hits_ppm,
    )

    rows = ordered("graph_hits_ppm", graph_hits_ppm(spark, SF_SMALL)).collect()
    assert rows
    got = {r.node: (r.auth_ppm, r.hub_ppm) for r in rows}
    again = {r.node: (r.auth_ppm, r.hub_ppm) for r in graph_hits_ppm(spark, SF_SMALL).collect()}
    assert got == again

    # independent python reference on the same arcs
    e = {r.event_id: r.user_id
         for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
         .select("event_id", "user_id").collect()}
    arcs = [(u, e[i + 1]) for i, u in e.items() if i + 1 in e and e[i + 1] != u]
    nodes = {s for s, _ in arcs} | {d for _, d in arcs}
    hub = {n: _HITS_INIT for n in nodes}
    auth = {}
    for _ in range(_HITS_ITERS):
        raw = {}
        for s, d in arcs:
            raw[d] = raw.get(d, 0) + hub[s]
        t = sum(raw.values())
        auth = {n: (raw.get(n, 0) * _HITS_INIT) // t for n in nodes}
        raw = {}
        for s, d in arcs:
            raw[s] = raw.get(s, 0) + auth[d]
        t = sum(raw.values())
        hub = {n: (raw.get(n, 0) * _HITS_INIT) // t for n in nodes}
    assert got == {n: (auth[n], hub[n]) for n in nodes}

    srcs = {s for s, _ in arcs}
    dsts = {d for _, d in arcs}
    for n in nodes - dsts:
        assert got[n][0] == 0  # never pointed at: zero authority
    for n in nodes - srcs:
        assert got[n][1] == 0  # never points: zero hub
