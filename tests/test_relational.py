"""Operator-semantics unit tests on tiny in-memory frames: as-of join edge
cases, range join boundaries, set-op semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from bridge_analytics_template_spark.operators.joins import asof_join, range_join


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_basic_and_tie_and_miss(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(5), "p2"), (2, _ts(3), "p3"), (3, _ts(1), "p4")],
        "k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), "s1"), (1, _ts(7), "s2"), (2, _ts(3), "s3"), (2, _ts(9), "s4")],
        "k long, rts timestamp, tag string",
    )
    out = asof_join(left, right, ["k"], "ts", "rts", ["tag"]).collect()
    got = {r["ev"]: r["tag_asof"] for r in out}
    assert got["p1"] == "s2"  # latest <= 00:10 is s2@07
    assert got["p2"] == "s1"  # equal timestamps match (>= semantics)
    assert got["p3"] == "s3"  # tie at 00:03
    assert got["p4"] is None  # no earlier right row -> left outer null
    assert len(out) == 4  # no row blowup


def test_asof_multiple_right_cols(spark):
    left = spark.createDataFrame([(1, _ts(10))], "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(2), "a", 10.0), (1, _ts(8), "b", 20.0)],
        "k long, rts timestamp, tag string, v double",
    )
    row = asof_join(left, right, ["k"], "ts", "rts", ["tag", "v"]).collect()[0]
    assert (row["tag_asof"], row["v_asof"]) == ("b", 20.0)


def test_asof_tolerance_bound_inclusive(spark):
    # Matches at exactly the tolerance age stay; older matches null out;
    # row count never changes (left-outer semantics preserved).
    left = spark.createDataFrame(
        [(1, _ts(10), "fresh"), (1, _ts(20), "exact"), (1, _ts(40), "stale")],
        "k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame([(1, _ts(8), "s")], "k long, rts timestamp, tag string")
    out = asof_join(
        left, right, ["k"], "ts", "rts", ["tag"], tolerance_s=12 * 60
    ).collect()
    got = {r["ev"]: r["tag_asof"] for r in out}
    assert got == {"fresh": "s", "exact": "s", "stale": None}
    assert len(out) == 3


def test_range_join_boundaries(spark):
    facts = spark.createDataFrame([(1, 0.0), (2, 99.999), (3, 100.0), (4, 250.0)], "id long, v double")
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 250.0)], "band string, lo double, hi double"
    )
    out = range_join(facts, bands, F.col("v"), F.col("lo"), F.col("hi"))
    got = {r["id"]: r["band"] for r in out.collect()}
    assert got == {1: "low", 2: "low", 3: "mid"}  # lo inclusive, hi exclusive; 250 drops


def test_except_distinct_semantics(spark):
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "x long")
    b = spark.createDataFrame([(2,)], "x long")
    assert sorted(r["x"] for r in a.subtract(b).collect()) == [1, 3]  # distinct + removal


def test_contiguous_ids_match_sort_order(spark, sf_dir):
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.operators.rowids import assign_contiguous_ids

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    out = assign_contiguous_ids(o, "o_orderkey", num_partitions=8).collect()
    n = len(out)
    ids = sorted(r["row_id"] for r in out)
    assert ids == list(range(n))  # contiguous, no gaps or dups
    by_key = sorted(out, key=lambda r: r["o_orderkey"])
    assert [r["row_id"] for r in by_key] == list(range(n))  # order-aligned


def test_partitioned_cumsum_matches_window(spark):
    """Range-partitioned prefix sums == the single-partition window cumsum,
    on a composite (desc-via-negation, tiebreak) total order with negative
    values and many partitions; the grand-total column matches SUM() OVER()."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.operators.prefix import partitioned_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randint(-500, 500)) for i in range(997)]
    df = (
        spark.createDataFrame(rows, "k long, v long")
        .withColumn("_negv", -F.col("v"))
    )
    got = {
        r["k"]: (r["cum"], r["total"])
        for r in partitioned_cumsum(
            df, ["_negv", "k"], "v", cum_name="cum", total_name="total", num_partitions=16
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), "k")
    expect = {
        r["k"]: (r["cum"], r["total"])
        for r in df.select(
            "k",
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
            F.sum("v").over(Window.partitionBy()).alias("total"),
        ).collect()
    }
    assert got == expect


def test_assign_contiguous_ids_composite_order(spark):
    """Composite order keys: ids follow (-cnt, tok) exactly — the vocab
    ranking shape (frequency desc, lexicographic tiebreak)."""
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.operators.rowids import assign_contiguous_ids

    rows = [("b", 5), ("a", 5), ("c", 9), ("d", 1), ("e", 5), ("f", 9)]
    df = spark.createDataFrame(rows, "tok string, cnt long").withColumn(
        "_negcnt", -F.col("cnt")
    )
    out = assign_contiguous_ids(df, ["_negcnt", "tok"], id_name="id", num_partitions=4).collect()
    got = {r["tok"]: r["id"] for r in out}
    assert got == {"c": 0, "f": 1, "a": 2, "b": 3, "e": 4, "d": 5}


def test_assign_contiguous_ids_recompute_deterministic(spark, sf_dir):
    """ADVICE r2 regression: ids must be identical when the SAME returned
    DataFrame is re-executed after a cache wipe. The old recipe leaned on a
    persisted RangePartitioner sampling (fresh RDD-id seeds per execution);
    the bucket-boundary rewrite is a pure function of the data, so two
    executions — with a clearCache between — must agree id-for-id."""
    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.operators.rowids import assign_contiguous_ids

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    ranked = assign_contiguous_ids(o, "o_orderkey", num_partitions=8)
    first = {r["o_orderkey"]: r["row_id"] for r in ranked.collect()}
    spark.catalog.clearCache()
    second = {r["o_orderkey"]: r["row_id"] for r in ranked.collect()}
    assert first == second


def test_auto_window_rotation_rules(tmp_path):
    """The r4+ check window derives from the official ledger: flagship
    first, then latest-row failures, then rows-only entries that gained an
    oracle, then never-checked names — and the static fallback engages when
    too few ledgers exist."""
    import json

    from bridge_analytics_template_spark.queries import ORACLES, QUERIES, _auto_window

    names = list(QUERIES)
    some_oracled = next(n for n in names if n in ORACLES and n != "flagship")
    # r1: some_oracled failed; r2: still failed; r3: a rows-only row for a
    # query that HAS an oracle registered (upgrade case).
    upgraded = next(
        n for n in names if n in ORACLES and n not in ("flagship", some_oracled)
    )
    rows_fail = {some_oracled: {"rows_match": True, "schema_match": False, "hash_match": False, "err": None}}
    rows_up = {upgraded: {"rows_match": None, "hash_match": None, "err": "no_oracle"}}
    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps(rows_fail))
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps(rows_up))
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps({"flagship": {"hash_match": True, "err": None}}))

    got = _auto_window(window_size=10, ledger_glob=str(tmp_path / "CORRECTNESS_r*.json"))
    assert got is not None
    assert got[0] == "flagship"
    assert got[1] == some_oracled  # latest row failed -> must re-check
    assert got[2] == upgraded  # gained an oracle since its no_oracle row
    checked = {"flagship", some_oracled, upgraded}
    assert all(n not in checked for n in got[3:])  # rest are never-checked
    assert len(got) == 10

    # fewer ledgers than min -> static fallback
    assert _auto_window(ledger_glob=str(tmp_path / "CORRECTNESS_r*.json"), min_ledgers=4) is None


def test_auto_window_reads_its_own_checkout_ledgers():
    """The default ledger glob lies at the root of the checkout the package
    is imported from, so a second checkout ranks its window from its own
    ledgers."""
    import glob
    import inspect
    from pathlib import Path

    import bridge_analytics_template_spark
    from bridge_analytics_template_spark.queries import _LEDGER_GLOB, _auto_window

    root = Path(bridge_analytics_template_spark.__file__).resolve().parents[1]
    assert inspect.signature(_auto_window).parameters["ledger_glob"].default == _LEDGER_GLOB
    assert Path(_LEDGER_GLOB).parent == root and Path(_LEDGER_GLOB).name == "CORRECTNESS_r*.json"
    assert all(Path(p).parent == root for p in glob.glob(_LEDGER_GLOB))


def test_auto_window_stale_rotation(tmp_path, monkeypatch):
    """Once every name has an official row, the window re-certifies STALE
    greens oldest-official-round first (oracled before rows-only on round
    ties) — VERDICT r8 task 3."""
    import json

    from bridge_analytics_template_spark.queries import ORACLES, QUERIES, _auto_window

    names = list(QUERIES)
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    # Everything checked green in r3 except: two names last checked in r1
    # (one oracled, one rows-only) and one in r2. No failures, no upgrades,
    # no never-checked -> the window is flagship + pure stale rotation.
    # Since r10 EVERY registered query carries an oracle, so the rows-only
    # class must be SIMULATED: drop one name's oracle for this test so the
    # oracled-before-rows-only tie-break stays covered.
    old_oracled = next(n for n in names if n in ORACLES and n != "flagship")
    mid = next(
        n for n in names if n in ORACLES and n not in ("flagship", old_oracled)
    )
    old_rows_only = next(
        n for n in names if n in ORACLES and n not in ("flagship", old_oracled, mid)
    )
    monkeypatch.delitem(ORACLES, old_rows_only)
    ro_row = {"rows_match": True, "hash_match": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({old_oracled: green, old_rows_only: ro_row})
    )
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps({mid: green}))
    r3 = {
        n: (green if n in ORACLES else ro_row)
        for n in names
        if n not in (old_oracled, old_rows_only, mid)
    }
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps(r3))

    got = _auto_window(window_size=6, ledger_glob=str(tmp_path / "CORRECTNESS_r*.json"))
    assert got is not None
    assert got[0] == "flagship"
    # r1 names first (oracled before rows-only), then the r2 name, then r3s.
    assert got[1] == old_oracled
    assert got[2] == old_rows_only
    assert got[3] == mid
    assert len(got) == 6
    assert all(n in r3 for n in got[4:])


def test_partitioned_cumsum_recompute_deterministic(spark, sf_dir):
    """Same ADVICE r2 hazard class as rowids: cumsums must be identical
    when the returned DataFrame re-executes after a cache wipe."""
    from pyspark.sql import functions as F

    from bridge_analytics_template_spark.catalog import load
    from bridge_analytics_template_spark.operators.prefix import partitioned_cumsum

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("v")
    )
    out = partitioned_cumsum(o, ["o_orderkey"], "v", cum_name="cum", total_name="tot")
    first = {r["o_orderkey"]: (r["cum"], r["tot"]) for r in out.collect()}
    spark.catalog.clearCache()
    second = {r["o_orderkey"]: (r["cum"], r["tot"]) for r in out.collect()}
    assert first == second


def test_asof_directions(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(5), "p2"), (2, _ts(3), "p3"), (3, _ts(1), "p4")],
        "k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), "s1"), (1, _ts(7), "s2"), (1, _ts(13), "s3"), (2, _ts(1), "s4")],
        "k long, rts timestamp, tag string",
    )
    fwd = {
        r["ev"]: r["tag_asof"]
        for r in asof_join(left, right, ["k"], "ts", "rts", ["tag"], direction="forward").collect()
    }
    assert fwd["p1"] == "s3"  # next >= 00:10 is s3@13
    assert fwd["p2"] == "s1"  # equal timestamps match forward too
    assert fwd["p3"] is None  # only earlier rows exist -> null
    assert fwd["p4"] is None
    near = {
        r["ev"]: r["tag_asof"]
        for r in asof_join(left, right, ["k"], "ts", "rts", ["tag"], direction="nearest").collect()
    }
    # p1: backward s2@07 dist 3, forward s3@13 dist 3 -> exact tie prefers backward
    assert near["p1"] == "s2"
    assert near["p2"] == "s1"  # zero distance
    assert near["p3"] == "s4"  # only a backward candidate
    assert near["p4"] is None  # no candidates at all


def test_asof_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame([(1, _ts(10), "p1")], "k long, ts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, _ts(7), "back"), (1, _ts(13), "fwd")], "k long, rts timestamp, tag string"
    )
    row = asof_join(left, right, ["k"], "ts", "rts", ["tag"], direction="nearest").collect()[0]
    assert row["tag_asof"] == "back"


def test_asof_nearest_picks_closer_side_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (1, _ts(20), "b"), (2, _ts(4), "c")],
        "k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts(8), "r8"), (1, _ts(21), "r21"), (2, _ts(40), "r40")],
        "k long, rts timestamp, tag string",
    )
    near = {
        r["ev"]: r["tag_asof"]
        for r in asof_join(left, right, ["k"], "ts", "rts", ["tag"], direction="nearest").collect()
    }
    assert near == {"a": "r8", "b": "r21", "c": "r40"}
    # 36-minute distance for "c" exceeds a 10-minute tolerance -> nulls out
    tol = {
        r["ev"]: r["tag_asof"]
        for r in asof_join(
            left, right, ["k"], "ts", "rts", ["tag"], direction="nearest", tolerance_s=600
        ).collect()
    }
    assert tol == {"a": "r8", "b": "r21", "c": None}


def test_asof_forward_rejects_unknown_direction(spark):
    left = spark.createDataFrame([(1, _ts(1))], "k long, ts timestamp")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, left, ["k"], "ts", "ts", ["ts"], direction="sideways")
