"""Unit/plan tests for the TPC-H-shape queries (queries/tpch_shapes.py) and
the statistical/sketch aggregates (queries/stats.py). Value-level parity
with DuckDB is covered by the oracle gate; these assert the *plan shapes*
and the numeric/structural properties the oracle can't see."""

from __future__ import annotations

import numpy as np
import pandas as pd

from bridge_analytics_template_spark.queries import QUERIES, ordered


def test_disjunctive_pred_keeps_hash_join(spark, sf_dir):
    # The OR-of-ANDs predicate shares the l_partkey=p_partkey conjunct;
    # Catalyst must extract it as the equi-join key (broadcast hash join),
    # not fall back to a nested-loop over the disjunction.
    plan = QUERIES["q_disjunctive_pred"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_volume_shipping_nation_pairs_ordered(spark, sf_dir):
    rows = ordered("q_volume_shipping", QUERIES["q_volume_shipping"](spark, sf_dir)).collect()
    assert len(rows) > 0
    assert all(r["supp_nation"] < r["cust_nation"] for r in rows)


def test_returned_items_only_returnflag_r(spark, sf_dir):
    out = QUERIES["q_returned_items"](spark, sf_dir)
    assert out.count() <= 20
    # revenue strictly ordered desc with unique custkey tiebreak
    rows = out.collect()
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_regr_exact_matches_numpy(spark, sf_dir):
    rows = {r["l_returnflag"]: r for r in QUERIES["agg_regr_exact"](spark, sf_dir).collect()}
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_quantity", "l_extendedprice"])
    for flag, grp in li.groupby("l_returnflag"):
        x = np.round(grp["l_quantity"].to_numpy() * 100)
        y = np.round(grp["l_extendedprice"].to_numpy() * 100)
        slope, _ = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        got = rows[flag]
        assert abs(got["slope"] - slope) < 1e-6 * max(1.0, abs(slope))
        assert abs(got["r2"] - r * r) < 1e-9


def test_mad_outliers_bounded(spark, sf_dir):
    rows = ordered("events_mad_outliers", QUERIES["events_mad_outliers"](spark, sf_dir)).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["n_outliers"] < r["n"]


def test_bitmap_distinct_equals_count_distinct(spark, sf_dir):
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.catalog import load

    got = {r["l_returnflag"]: r["n_orders"] for r in QUERIES["agg_bitmap_distinct"](spark, sf_dir).collect()}
    want = {
        r["l_returnflag"]: r["n"]
        for r in load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert got == want


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    a = {r["l_returnflag"]: r["n_sampled"] for r in QUERIES["s_sample_stratified"](spark, sf_dir).collect()}
    b = {r["l_returnflag"]: r["n_sampled"] for r in QUERIES["s_sample_stratified"](spark, sf_dir).collect()}
    assert a == b  # content-hash predicate: identical rows every run
    # A (~10%) must out-sample N (~2%) relative to stratum sizes
    from bridge_analytics_template_spark.catalog import load

    totals = {
        r["l_returnflag"]: r["cnt"]
        for r in load(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().withColumnRenamed("count", "cnt").collect()
    }
    assert a["A"] / totals["A"] > a["N"] / totals["N"]


def test_ohlc_bars_invariants(spark, sf_dir):
    rows = ordered("ts_ohlc_bars", QUERIES["ts_ohlc_bars"](spark, sf_dir)).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["n"] >= 1


def test_top_supplier_is_argmax(spark, sf_dir):
    rows = ordered("q_top_supplier", QUERIES["q_top_supplier"](spark, sf_dir)).collect()
    assert len(rows) >= 1
    # every returned supplier carries the same (maximum) revenue
    assert len({r["total_revenue"] for r in rows}) == 1


def test_supplier_diversity_excludes_negative_acctbal(spark, sf_dir):
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.catalog import load

    out = ordered("q_supplier_diversity", QUERIES["q_supplier_diversity"](spark, sf_dir))
    # upper bound: distinct supplier count can never exceed the non-excluded
    # supplier population
    n_ok = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0).count()
    assert all(r["n_suppliers"] <= n_ok for r in out.collect())


def test_small_qty_revenue_subset_of_total(spark, sf_dir):
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.catalog import load

    r = QUERIES["q_small_qty_revenue"](spark, sf_dir).collect()[0]
    total = load(spark, sf_dir, "lineitem").count()
    assert 0 < r["n_items"] < total


def test_large_orders_threshold(spark, sf_dir):
    rows = QUERIES["q_large_orders"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["sum_qty"] > 180.0 for r in rows)


def test_lateral_topn_matches_window_topk(spark, sf_dir):
    """LATERAL correlated subquery == window row_number top-k."""
    from pyspark.sql import Window, functions as F

    from bridge_analytics_template_spark.catalog import load

    got = {
        (r["custkey"], r["orderkey"])
        for r in QUERIES["join_lateral_topn"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    want = {
        (r["o_custkey"], r["o_orderkey"])
        for r in o.withColumn("rn", F.row_number().over(w)).filter("rn <= 2").collect()
    }
    assert got == want


def test_cluster_topics_shape(spark, sf_dir):
    rows1 = ordered("llm_cluster_topics", QUERIES["llm_cluster_topics"](spark, sf_dir)).collect()
    rows2 = ordered("llm_cluster_topics", QUERIES["llm_cluster_topics"](spark, sf_dir)).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]  # deterministic
    per_cluster = {}
    for r in rows1:
        per_cluster.setdefault(r["cluster"], []).append(r)
    for cl, rs in per_cluster.items():
        assert 1 <= len(rs) <= 3
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        # counts are non-increasing with rank
        ns = [r["n"] for r in rs]
        assert ns == sorted(ns, reverse=True)


def test_priority_checking_semi_join_plan(spark, sf_dir):
    plan = QUERIES["q_priority_checking"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_forecast_revenue_single_row(spark, sf_dir):
    rows = QUERIES["q_forecast_revenue"](spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["n_items"] > 0
    assert rows[0]["revenue_delta"] > 0


def test_market_share_bounded(spark, sf_dir):
    rows = ordered("q_market_share", QUERIES["q_market_share"](spark, sf_dir)).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["n_items"] > 0


def test_bootstrap_ci_orders_and_brackets(spark, sf_dir):
    """CI bounds are order statistics of replica means: lo <= hi, both
    bracket the neighborhood of the full-sample mean (half-sample means of
    a finite population cannot all sit on one side), and the output is a
    single deterministic row."""
    from bridge_analytics_template_spark.queries.stats import q_bootstrap_ci

    rows = q_bootstrap_ci(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_replicas == 32
    assert r.ci_lo_centicents <= r.ci_hi_centicents
    assert r.ci_lo_centicents <= r.mean_centicents * 1.1
    assert r.ci_hi_centicents >= r.mean_centicents * 0.9
    again = q_bootstrap_ci(spark, sf_dir).collect()[0]
    assert again == r  # no RNG anywhere — bit-identical on rerun


def test_survival_hazard_python_reference(spark, sf_dir):
    rows = ordered("events_survival_hazard", QUERIES["events_survival_hazard"](spark, sf_dir)).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    days = ev["ts"].dt.normalize()
    life = days.groupby(ev["user_id"]).agg(["min", "max"])
    lt = ((life["max"] - life["min"]).dt.days).value_counts().sort_index()
    n_users = int(lt.sum())
    # at_risk of the earliest lifetime covers everyone; strictly decreasing
    assert rows[0]["at_risk"] == n_users
    at_risks = [r["at_risk"] for r in rows]
    assert at_risks == sorted(at_risks, reverse=True)
    cum = 0
    remaining = n_users
    for r in rows:
        assert r["churned"] == int(lt[r["lifetime_days"]])
        assert r["at_risk"] == remaining
        assert r["hazard_ppm"] == r["churned"] * 1_000_000 // r["at_risk"]
        cum += r["hazard_ppm"]
        assert r["cum_hazard_ppm"] == cum
        remaining -= r["churned"]
    assert remaining == 0


def test_chi2_independence_python_reference(spark, sf_dir):
    row = QUERIES["q_chi2_independence"](spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderpriority"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    tab = j.groupby(["c_mktsegment", "o_orderpriority"]).size()
    n = int(tab.sum())
    r_tot = tab.groupby(level=0).sum()
    c_tot = tab.groupby(level=1).sum()
    chi2_ppm = 0
    for (seg, pri), obs in tab.items():
        diff = int(obs) * n - int(r_tot[seg]) * int(c_tot[pri])
        chi2_ppm += diff * diff * 1_000_000 // (n * int(r_tot[seg]) * int(c_tot[pri]))
    assert row["n"] == n
    assert row["dof"] == (len(r_tot) - 1) * (len(c_tot) - 1)
    assert row["chi2_ppm"] == chi2_ppm


def test_ks_test_python_reference(spark, sf_dir):
    import math

    rows = {r["event_type"]: r for r in QUERIES["events_ks_test"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "user_id", "value"])
    ev["vq"] = np.floor(ev["value"] * 100).astype("int64")
    ev["is_a"] = ev["user_id"] % 2 == 0
    for et, grp in ev.groupby("event_type"):
        a = grp.loc[grp["is_a"], "vq"]
        b = grp.loc[~grp["is_a"], "vq"]
        na, nb = len(a), len(b)
        atoms = np.sort(grp["vq"].unique())
        ca = np.searchsorted(np.sort(a.to_numpy()), atoms, side="right")
        cb = np.searchsorted(np.sort(b.to_numpy()), atoms, side="right")
        dmax = int(np.max(np.abs(ca.astype(object) * nb - cb.astype(object) * na)))
        r = rows[et]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert r["ks_ppm"] == dmax * 1_000_000 // (na * nb)
        # sanity: a parity split of iid values should not produce a huge D
        assert 0 <= r["ks_ppm"] < 1_000_000


def test_mannwhitney_python_reference(spark, sf_dir):
    rows = {r["event_type"]: r for r in QUERIES["events_mannwhitney"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "user_id", "value"])
    ev["vq"] = np.floor(ev["value"] * 100).astype("int64")
    ev["is_a"] = ev["user_id"] % 2 == 0
    for et, grp in ev.groupby("event_type"):
        # doubled midranks (average rank * 2 stays integral under ties)
        order = np.sort(grp["vq"].to_numpy())
        vals, counts = np.unique(order, return_counts=True)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        dbl_rank = {int(v): int(2 * s + c + 1) for v, s, c in zip(vals, starts, counts)}
        a = grp.loc[grp["is_a"], "vq"]
        r2a = sum(dbl_rank[int(v)] for v in a)
        n_a, n_b = len(a), len(grp) - len(a)
        u2a = r2a - n_a * (n_a + 1)
        r = rows[et]
        assert (r["n_a"], r["n_b"]) == (n_a, n_b)
        assert r["tie_groups"] == int((counts > 1).sum())
        assert r["u2_a"] == u2a
        assert r["cles_ppm"] == u2a * 1_000_000 // (2 * n_a * n_b)
        assert 0 <= r["cles_ppm"] <= 1_000_000


def test_completeness_planted_nulls(spark):
    import datetime as dt
    import tempfile

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0, None, "", 2.0, None),       # null user, blank event_type, null props
        (2, t0, 2, "click", None, "  "),    # null value, whitespace-blank props
        (3, None, 3, None, 4.0, "{}"),      # null ts + event_type
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {r["column_name"]: r for r in QUERIES["profile_completeness"](spark, d).collect()}
    assert out["user_id"]["n_null"] == 1
    assert out["ts"]["n_null"] == 1
    assert out["event_type"]["n_null"] == 1 and out["event_type"]["n_blank"] == 1
    assert out["value"]["n_null"] == 1
    assert out["props"]["n_null"] == 1 and out["props"]["n_blank"] == 1
    assert out["event_id"]["n_null"] == 0 and out["event_id"]["complete_ppm"] == 1_000_000
    assert out["value"]["complete_ppm"] == 750_000


def test_drawdown_python_reference(spark, sf_dir):
    rows = {r["user_id"]: r for r in QUERIES["ts_drawdown"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "event_id", "ts", "value"])
    ev["vq"] = np.floor(ev["value"] * 100).astype("int64")
    for uid, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        cum = grp["vq"].cumsum()
        runmax = cum.cummax()
        r = rows[uid]
        assert r["end_cents"] == int(cum.iloc[-1])
        assert r["peak_cents"] == int(cum.max())
        assert r["max_drawdown_cents"] == int((runmax - cum).max())
        assert r["max_drawdown_cents"] >= 0


def test_bollinger_python_reference(spark, sf_dir):
    K = 8
    rows = {r["user_id"]: r for r in QUERIES["ts_bollinger_breaches"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "event_id", "ts", "value"])
    ev["x"] = np.floor(ev["value"] * 100).astype("int64")
    for uid, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        x = [int(v) for v in grp["x"]]
        up = lo = nw = 0
        for i in range(K - 1, len(x)):
            win = x[i - K + 1 : i + 1]
            s, qq = sum(win), sum(v * v for v in win)
            dev = K * x[i] - s
            nw += 1
            if dev > 0 and dev * dev > 4 * (K * qq - s * s):
                up += 1
            if dev < 0 and dev * dev > 4 * (K * qq - s * s):
                lo += 1
        if uid in rows:
            r = rows[uid]
            assert (r["n_windows"], r["n_breach_upper"], r["n_breach_lower"]) == (nw, up, lo)
        else:
            assert nw == 0


def test_classifier_eval_python_reference(spark, sf_dir):
    r = QUERIES["q_classifier_eval"](spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    y = ev["event_type"] == "purchase"
    yhat = np.floor(ev["value"] * 100).astype("int64") >= 5000
    tp, fp = int((y & yhat).sum()), int((~y & yhat).sum())
    fn, tn = int((y & ~yhat).sum()), int((~y & ~yhat).sum())
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)
    assert r["precision_ppm"] == tp * 1_000_000 // max(tp + fp, 1)
    assert r["recall_ppm"] == tp * 1_000_000 // max(tp + fn, 1)
    assert r["f1_ppm"] == 2 * tp * 1_000_000 // max(2 * tp + fp + fn, 1)


def test_roc_auc_python_reference(spark, sf_dir):
    r = QUERIES["q_roc_auc"](spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    vq = np.floor(ev["value"] * 100).astype("int64").to_numpy()
    y = (ev["event_type"] == "purchase").to_numpy()
    pos, neg = vq[y], vq[~y]
    # pairwise definition: AUC = (#(p>n) + 0.5 #(p==n)) / (n_pos*n_neg)
    ns = np.sort(neg)
    gt = np.searchsorted(ns, pos, side="left").sum()     # strictly greater count below
    ge = np.searchsorted(ns, pos, side="right").sum()
    u2 = int(gt) + int(ge)                                # doubled U (ties count once)
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert r["auc_ppm"] == u2 * 1_000_000 // (2 * len(pos) * len(neg))


def test_calibration_bins_python_reference(spark, sf_dir):
    rows = {r["bin"]: r for r in QUERIES["q_calibration_bins"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    bins = (np.floor(ev["value"] * 100).astype("int64") // 5000).to_numpy()
    y = (ev["event_type"] == "purchase").to_numpy()
    for b in np.unique(bins):
        sel = bins == b
        n, npos = int(sel.sum()), int(y[sel].sum())
        r = rows[b]
        assert (r["n"], r["n_pos"]) == (n, npos)
        assert r["bin_lo_cents"] == int(b) * 5000
        assert r["pos_rate_ppm"] == npos * 1_000_000 // n


def test_curriculum_order_properties(spark, sf_dir):
    out = ordered("train_curriculum_order", QUERIES["train_curriculum_order"](spark, sf_dir)).collect()
    n = len(out)
    assert n > 0
    phases = [r["phase"] for r in out]
    assert set(phases) <= set(range(4))
    # equal split: each phase within 1 of n/4
    from collections import Counter

    c = Counter(phases)
    assert max(c.values()) - min(c.values()) <= 1
    # easier (higher flesch) docs land in earlier phases: phase-mean flesch
    # is non-increasing
    means = []
    for p in range(4):
        vals = [r["flesch_milli"] for r in out if r["phase"] == p]
        means.append(sum(vals) / len(vals))
    assert all(a >= b for a, b in zip(means, means[1:]))
    # order keys deterministic across rebuild
    again = {r["doc_id"]: r["order_key60"] for r in QUERIES["train_curriculum_order"](spark, sf_dir).collect()}
    assert all(again[r["doc_id"]] == r["order_key60"] for r in out)


def test_peak_concurrency_python_reference(spark, sf_dir):
    r = QUERIES["events_peak_concurrency"](spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    cover = 300_000_000
    merged = []
    for _, grp in ev.groupby("user_id"):
        ts = np.sort(grp["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000)
        cs, ce = None, None
        for t in ts:
            s, e = int(t), int(t) + cover
            if cs is None or s > ce:
                if cs is not None:
                    merged.append((cs, ce))
                cs, ce = s, e
            else:
                ce = max(ce, e)
        merged.append((cs, ce))
    deltas = sorted(
        [(s, 1) for s, _ in merged] + [(e, -1) for _, e in merged],
        key=lambda p: (p[0], p[1]),
    )
    cum = peak = 0
    peak_at = None
    for t, d in deltas:
        cum += d
        if cum > peak:
            peak, peak_at = cum, t
    assert r["n_intervals"] == len(merged)
    assert r["peak_concurrency"] == peak
    assert r["peak_at_us"] == peak_at


def test_weighted_median_python_reference(spark, sf_dir):
    rows = {r["l_returnflag"]: r for r in QUERIES["q_weighted_median"](spark, sf_dir).collect()}
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"],
    )
    li["cents"] = (li["l_extendedprice"].astype("float64") * 100).round().astype("int64")
    li["w"] = (li["l_quantity"].astype("float64") * 100).round().astype("int64")
    for flag, grp in li.groupby("l_returnflag"):
        g = grp.sort_values(["cents", "l_orderkey", "l_linenumber"])
        cum = g["w"].cumsum()
        tot = int(g["w"].sum())
        med = int(g.loc[(2 * cum >= tot).idxmax() if (2 * cum >= tot).any() else g.index[-1], "cents"])
        r = rows[flag]
        assert r["total_weight_units"] == tot
        assert r["wmedian_cents"] == med


def test_cardinality_profile_python_reference(spark, sf_dir):
    rows = {r["column_name"]: r for r in QUERIES["profile_cardinality"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    assert rows["event_id"]["n_distinct"] == ev["event_id"].nunique()
    assert rows["user_id"]["n_distinct"] == ev["user_id"].nunique()
    et = ev["event_type"].value_counts()
    top_cnt = int(et.max())
    top_val = min(v for v, c in et.items() if c == top_cnt)
    assert rows["event_type"]["mode_value"] == top_val
    assert rows["event_type"]["mode_count"] == top_cnt
    cents = np.floor(ev["value"] * 100).astype("int64")
    vc = cents.value_counts()
    assert rows["value"]["mode_count"] == int(vc.max())
    assert rows["value"]["n_distinct"] == ev["value"].nunique()


def test_erasure_audit_python_reference(spark, sf_dir):
    rows = {r["table_name"]: r for r in QUERIES["profile_erasure_audit"](spark, sf_dir).collect()}
    c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey"])
    tomb = set(c.loc[c["c_custkey"] % 37 == 0, "c_custkey"])
    aff_o = o[o["o_custkey"].isin(tomb)]
    n_l = int(li["l_orderkey"].isin(set(aff_o["o_orderkey"])).sum())
    assert rows["customer"]["n_rows_affected"] == len(tomb)
    assert rows["orders"]["n_rows_affected"] == len(aff_o)
    assert rows["lineitem"]["n_rows_affected"] == n_l
    for name, total in (("customer", len(c)), ("orders", len(o)), ("lineitem", len(li))):
        r = rows[name]
        assert r["n_rows_total"] == total
        assert r["affected_ppm"] == r["n_rows_affected"] * 1_000_000 // total


def test_gains_by_decile_properties(spark, sf_dir):
    rows = ordered("q_gains_by_decile", QUERIES["q_gains_by_decile"](spark, sf_dir)).collect()
    assert [r["decile"] for r in rows] == sorted({r["decile"] for r in rows})
    n_total = sum(r["n"] for r in rows)
    total_pos = sum(r["n_pos"] for r in rows)
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type"])
    assert n_total == len(ev)
    assert total_pos == int((ev["event_type"] == "purchase").sum())
    # deciles are tenths (within rounding) and lift matches its definition
    for r in rows:
        assert abs(r["n"] - n_total // 10) <= n_total // 10 + 1
        assert r["lift_ppm"] == r["n_pos"] * n_total * 1_000_000 // (r["n"] * total_pos)


def test_new_vs_returning_python_reference(spark, sf_dir):
    rows = {r["month_index"]: r for r in QUERIES["q_new_vs_returning"](spark, sf_dir).collect()}
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderdate", "o_totalprice"])
    od = pd.to_datetime(o["o_orderdate"])
    o["m"] = od.dt.year * 12 + od.dt.month - 1
    o["cents"] = np.floor(o["o_totalprice"] * 100).astype("int64")
    o["first_m"] = o.groupby("o_custkey")["m"].transform("min")
    for m, grp in o.groupby("m"):
        new = grp["m"] == grp["first_m"]
        r = rows[m]
        assert r["new_orders"] == int(new.sum())
        assert r["returning_orders"] == int((~new).sum())
        assert r["new_cents"] == int(grp.loc[new, "cents"].sum())
        assert r["returning_cents"] == int(grp.loc[~new, "cents"].sum())
    # growth accounting identity: every order is exactly one of the two
    assert sum(r["new_orders"] + r["returning_orders"] for r in rows.values()) == len(o)


def test_error_rate_sli_python_reference(spark, sf_dir):
    rows = {r["hour_index"]: r for r in QUERIES["events_error_rate_sli"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    hours = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000 // 3_600_000_000
    errs = (ev["event_type"] == "error").astype("int64")
    for h, grp in errs.groupby(hours):
        r = rows[h]
        assert r["n_events"] == len(grp)
        assert r["n_errors"] == int(grp.sum())
        assert r["error_ppm"] == int(grp.sum()) * 1_000_000 // len(grp)
        assert r["slo_breach"] == (r["error_ppm"] > 250_000)
