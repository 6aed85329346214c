"""Unit tests for the behavior-analytics operators: Simpson diversity,
linear-interpolation resampling, and blocked fuzzy record linkage."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bridge_analytics_template_spark.queries import QUERIES, ordered


def test_simpson_diversity_crafted(spark, sf_dir):
    out = {r["user_id"]: r for r in QUERIES["events_type_diversity"](spark, sf_dir).collect()}
    # Independently recompute from the raw fixture for a few users.
    from bridge_analytics_template_spark.catalog import load

    e = load(spark, sf_dir, "events")
    counts = (
        e.groupBy("user_id", "event_type").count().groupBy("user_id")
        .agg(F.collect_list("count").alias("ns"))
        .collect()
    )
    for row in counts[:10]:
        ns = row["ns"]
        total = sum(ns)
        expected = 1.0 - (sum(n * n for n in ns) / (float(total) * float(total)))
        got = out[row["user_id"]]
        assert got["n_events"] == total
        assert got["n_types"] == len(ns)
        assert abs(got["simpson_diversity"] - expected) < 1e-12


def test_simpson_bounds(spark, sf_dir):
    rows = ordered("events_type_diversity", QUERIES["events_type_diversity"](spark, sf_dir)).collect()
    assert rows, "fixture users expected"
    for r in rows:
        # 0 <= 1 - sum(p^2) <= 1 - 1/k for k observed types
        assert 0.0 <= r["simpson_diversity"] <= 1.0 - 1.0 / r["n_types"] + 1e-12


def test_linear_interp_crafted(spark):
    # One user, observations at hours 0 and 3 (values 10 and 40): the two
    # interior grid points must be exactly 20 and 30 (exact doubles).
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (1, 7, base, "view", 10.0, None),
            (2, 7, base + datetime.timedelta(hours=3), "view", 40.0, None),
        ],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")  # the query reads only events
        rows = ordered("t_resample_interp", QUERIES["t_resample_interp"](spark, d)).collect()
    got = {(r["user_id"], r["bucket"]): r["v_interp"] for r in rows}
    b0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert got[(7, b0)] == 10.0
    assert got[(7, b0 + 3600)] == 20.0
    assert got[(7, b0 + 7200)] == 30.0
    assert got[(7, b0 + 10800)] == 40.0


def test_fuzzy_blocked_properties(spark, sf_dir):
    from bridge_analytics_template_spark.catalog import load

    pairs = ordered("join_fuzzy_blocked", QUERIES["join_fuzzy_blocked"](spark, sf_dir)).collect()
    names = {
        r["p_partkey"]: r["p_name"] for r in load(spark, sf_dir, "part").collect()
    }

    def block(name: str) -> str:
        return " ".join(name.split(" ")[:2])

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    assert pairs, "expected at least one fuzzy pair in the fixture"
    for r in pairs[:50]:
        a, b = names[r["key_a"]], names[r["key_b"]]
        assert block(a) == block(b), "pair must come from one block"
        assert r["key_a"] < r["key_b"]
        assert r["dist"] == lev(a, b)
        assert r["dist"] <= 12


def test_quarantine_routing(spark):
    from bridge_analytics_template_spark.validation import (
        expression,
        in_set,
        max_length,
        not_null,
        quarantine,
    )

    df = spark.createDataFrame(
        [
            (1, "hello", "en", 5),
            (2, None, "en", 0),          # text_not_null (and n_chars mismatch is null-safe false)
            (3, "hey", "xx", 3),         # lang_in_set
            (4, "hi", "eng", 2),         # lang_max_length_2 + lang_in_set
            (5, "yo", "en", 99),         # n_chars_consistent
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    rules = [
        max_length("lang", 2),
        in_set("lang", ("en", "de")),
        expression("n_chars_consistent", F.col("n_chars") != F.length("text")),
        not_null("text"),
    ]
    got = {r["doc_id"]: r["violated"] for r in quarantine(df, rules).collect()}
    assert got[1] == ""
    assert got[2] == "text_not_null"
    assert got[3] == "lang_in_set"
    assert got[4] == "lang_in_set,lang_max_length_2"  # sorted rule names
    assert got[5] == "n_chars_consistent"


def test_autocorr_matches_numpy(spark, sf_dir):
    import math

    from bridge_analytics_template_spark.catalog import load

    out = {r["user_id"]: r for r in QUERIES["ts_autocorr"](spark, sf_dir).collect()}
    e = load(spark, sf_dir, "events").orderBy("user_id", "ts", "event_id").collect()
    series: dict[int, list[int]] = {}
    for r in e:
        series.setdefault(r["user_id"], []).append(math.floor(r["value"] * 100))
    for uid, xs in list(series.items())[:10]:
        if len(xs) < 4:
            continue
        x, y = xs[:-1], xs[1:]
        n = len(x)
        sx, sy = sum(x), sum(y)
        sxy = sum(a * b for a, b in zip(x, y))
        sxx, syy = sum(a * a for a in x), sum(b * b for b in y)
        den = (n * sxx - sx * sx) * (n * syy - sy * sy)
        if den <= 0:
            continue
        expected = (n * sxy - sx * sy) / math.sqrt(den)
        assert abs(out[uid]["acf1"] - expected) < 1e-12
        assert out[uid]["n"] == n


def test_cogrouped_lag_handles_one_sided_keys(spark):
    """A user with only clicks (or only purchases) must yield a NULL lag
    row, not crash: Spark can hand the cogroup UDF an empty frame WITHOUT
    column metadata for the absent side (found by the 10x sweep)."""
    import datetime
    import tempfile

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 10, base, "click", 1.0, None),
        (2, 10, base + datetime.timedelta(seconds=30), "purchase", 1.0, None),
        (3, 11, base, "click", 1.0, None),          # click-only user
        (4, 12, base, "purchase", 1.0, None),       # purchase-only user
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {r.user_id: r.lag_seconds for r in QUERIES["x_cogrouped_pandas"](spark, d).collect()}
    assert got == {10: 30, 11: None, 12: None}


def test_lttb_downsample_crafted(spark):
    """LTTB keeps endpoints, picks the per-bucket extreme against the prior
    selection, and passes short series through whole."""
    import datetime as dt

    from bridge_analytics_template_spark.queries.registry import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: 11 points, flat zero except a spike at event 4 (bucket 0) and
    # a dip at event 7 (bucket 2 of interior indexes 1..9 over B=3 buckets)
    vals = [0.0, 0.0, 0.0, 0.0, 9.0, 0.0, 0.0, -9.0, 0.0, 0.0, 0.0]
    for i, v in enumerate(vals):
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, "view", v, "{}"))
    # user 2: 4 points < B+2 -> passthrough
    for i in range(4):
        rows.append((100 + i, t0 + dt.timedelta(minutes=i), 2, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = ordered("ts_lttb_downsample", QUERIES["ts_lttb_downsample"](spark, d)).collect()
    by_user: dict[int, list[int]] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["event_id"])
    assert by_user[2] == [100, 101, 102, 103]          # passthrough
    sel = by_user[1]
    assert len(sel) == 5 and sel[0] == 0 and sel[-1] == 10  # endpoints kept
    assert 4 in sel and 7 in sel                        # spike + dip survive
