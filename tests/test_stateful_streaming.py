"""applyInPandasWithState: final streamed state equals the batch aggregate."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.queries import ordered
from bridge_analytics_template_spark.streaming.stateful import running_user_totals
from bridge_analytics_template_spark.streaming.windows import stream_events


def test_running_totals_match_batch(spark, sf_dir):
    import uuid

    out = running_user_totals(stream_events(spark, sf_dir))
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode may emit a row per micro-batch per key: keep the last.
    streamed = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table(name).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    # every user's final streamed state must equal the batch totals
    assert set(batch) == set(streamed)
    for u, (n, t) in batch.items():
        assert streamed[u][0] == n
        assert abs(streamed[u][1] - t) < 1e-6


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


import pytest  # noqa: E402


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state-server protocol needs "
    "google.protobuf, not shipped in this container",
)
def test_transform_with_state_matches_batch(spark, sf_dir):
    """transformWithStateInPandas (StatefulProcessor): same equivalence."""
    import uuid

    from bridge_analytics_template_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    out = running_user_totals_tws(stream_events(spark, sf_dir))
    name = f"tws_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table(name).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(batch) == set(streamed)
    for u, (n, t) in batch.items():
        assert streamed[u][0] == n
        assert abs(streamed[u][1] - t) < 1e-6


def test_misra_gries_exact_regime_matches_batch(spark, sf_dir):
    """k=8 > 5 distinct event types → no decrement ever fires and the MG
    summary is EXACT: the streamed per-(user, type) counts equal the batch
    group-by, for every user and every type."""
    import uuid

    from bridge_analytics_template_spark.streaming.stateful import heavy_hitters_stream

    out = heavy_hitters_stream(stream_events(spark, sf_dir), k=8)
    name = f"hh_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # exact regime → counts monotone across emissions: keep the max
    streamed = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in spark.table(name)
        .groupBy("user_id", "event_type")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    batch = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_misra_gries_error_bound_small_k():
    """The MG guarantees at k=2 on a skewed synthetic stream, checked
    directly on the update fn (order-free, so any batch split is fair):
    every estimate is an UNDERcount by at most N/k, and any item with
    frequency > N/k is guaranteed retained — across several arrival orders
    AND micro-batch splits, including state roundtrips between batches."""
    import pandas as pd

    from bridge_analytics_template_spark.streaming.stateful import (
        _make_misra_gries_update,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    items = ["a"] * 60 + ["b"] * 25 + ["c"] * 10 + ["d"] * 5
    n = len(items)
    k = 2
    true = {t: items.count(t) for t in set(items)}
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        order = items[:]
        rng.shuffle(order)
        update = _make_misra_gries_update(k)
        state = FakeState()
        # split into 4 micro-batches: state must roundtrip between them
        cuts = sorted(rng.sample(range(1, n), 3))
        spans = [order[a:b] for a, b in zip([0] + cuts, cuts + [n])]
        last = None
        for span in spans:
            out = list(update((7,), iter([pd.DataFrame({"event_type": span})]), state))
            last = out[-1]
        got = dict(zip(last["event_type"], last["n"]))
        for t, est in got.items():
            assert est <= true[t], (t, est, true[t])
            assert est >= true[t] - n // k, (t, est, true[t])
        # retention guarantee: freq > N/k (= 50) ⇒ present ('a' at 60)
        assert "a" in got


def test_value_histogram_kernel_negative_nan_null():
    """The histogram kernel on hostile inputs, checked directly on the
    update fn: negatives clamp to bin 0 (matching the oracle's
    GREATEST(0, ...)), NaN and null rows are dropped instead of feeding
    floor(NaN).astype(int64) undefined behavior, and state roundtrips."""
    import numpy as np
    import pandas as pd

    from bridge_analytics_template_spark.streaming.stateful import (
        HIST_BINS,
        _update_value_histogram,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    state = FakeState()
    b1 = pd.DataFrame({"value": [-5.0, -0.001, 0.0, 19.99, np.nan, None, 500.0]})
    b2 = pd.DataFrame({"value": [25.0, float("nan"), -1e9]})
    out = list(_update_value_histogram(("t",), iter([b1]), state))
    out = list(_update_value_histogram(("t",), iter([b2]), state))
    got = dict(zip(out[-1]["bin"], out[-1]["n"]))
    # bin 0: -5, -0.001, 0.0, 19.99 (batch 1) + -1e9 (batch 2) = 5
    assert got[0] == 5
    assert got[1] == 1  # 25.0
    assert got[HIST_BINS - 1] == 1  # 500.0 clamps to the top bin
    assert sum(got.values()) == 7  # the three NaN/null rows dropped


def test_topk_kernel_order_invariance():
    """The top-k update fn is order-free: the same multiset fed in several
    shuffled orders AND micro-batch splits (state roundtripping between
    batches) lands in the identical final state, ties broken (value desc,
    id asc); NaN/null values are dropped; and every intermediate emission
    is pointwise dominated by the final one (the monotone-reduction
    premise of the t_stream_topk oracle)."""
    import random

    import numpy as np
    import pandas as pd

    from bridge_analytics_template_spark.streaming.stateful import _make_topk_update

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    rows = [
        (10.0, 7), (10.0, 3), (9.5, 1), (11.25, 9), (np.nan, 2),
        (8.0, 4), (11.25, 5), (None, 6), (7.5, 8), (10.0, 11),
    ]
    want = [(11.25, 5), (11.25, 9), (10.0, 3)]  # value desc, id asc
    update = _make_topk_update(3)
    for seed in (1, 2, 3, 4):
        rng = random.Random(seed)
        order = rows[:]
        rng.shuffle(order)
        cuts = sorted(rng.sample(range(1, len(order)), 3))
        spans = [order[a:b] for a, b in zip([0] + cuts, cuts + [len(order)])]
        state = FakeState()
        emitted = []
        for span in spans:
            pdf = pd.DataFrame(
                {"value": [v for v, _ in span], "event_id": [i for _, i in span]}
            )
            emitted.append(list(update(("t",), iter([pdf]), state))[-1])
        got = list(zip(state.get[0], state.get[1]))
        assert got == want, (seed, got)
        # pointwise domination: rank r's (value, -id) never degrades
        per_rank: dict = {}
        for em in emitted:
            for r, v, i in zip(em["rank"], em["value"], em["event_id"]):
                prev = per_rank.get(r)
                cur = (v, -i)
                assert prev is None or cur >= prev, (seed, r, prev, cur)
                per_rank[r] = cur


def test_topk_stream_matches_batch(spark, sf_dir):
    """The streamed per-type top-3 (after the monotone max-struct
    reduction) equals the batch window top-3 exactly."""
    from bridge_analytics_template_spark.queries import QUERIES

    got = [
        (r["event_type"], r["rank"], r["value"], r["event_id"])
        for r in ordered("t_stream_topk", QUERIES["t_stream_topk"](spark, sf_dir)).collect()
    ]
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    want = [
        (r["event_type"], r["rank"], r["value"], r["event_id"])
        for r in load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "value", "event_id")
        .orderBy("event_type", "rank")
        .collect()
    ]
    assert got == want


def test_lww_kernel_order_invariance():
    """The last-writer-wins update fn is order-free: the same events fed
    in shuffled orders and micro-batch splits land in the identical final
    state ((ts desc, event_id desc) winner), with state roundtripping."""
    import random

    import pandas as pd

    from bridge_analytics_template_spark.streaming.stateful import _update_last_writer

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    t = pd.Timestamp("2024-03-01 12:00:00")
    rows = [
        (t, 10, "a", 1.0),
        (t + pd.Timedelta(seconds=5), 11, "b", 2.0),
        (t + pd.Timedelta(seconds=5), 14, "c", 3.0),  # ts tie → max event_id
        (t - pd.Timedelta(seconds=9), 99, "d", 4.0),  # older ts, bigger id: loses
    ]
    want_ts = int((t + pd.Timedelta(seconds=5)).value)
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        order = rows[:]
        rng.shuffle(order)
        cut = rng.randrange(1, len(order))
        state = FakeState()
        for span in (order[:cut], order[cut:]):
            pdf = pd.DataFrame(span, columns=["ts", "event_id", "event_type", "value"])
            list(_update_last_writer((7,), iter([pdf]), state))
        assert state.get == (want_ts, 14, "c", 3.0), (seed, state.get)


def test_kmv_kernel_order_invariance():
    """The KMV update fn is order-free: the same values fed in shuffled
    orders and batch splits land in the identical final sketch (the k
    smallest DISTINCT hashes, ascending), duplicates collapse, and the
    rank-r minimum never increases across emissions."""
    import random

    import pandas as pd

    from bridge_analytics_template_spark.streaming.stateful import _make_kmv_update

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    vals = [9, -4, 9, 100, 3, -4, 7, 0, -50, 42, 3, 8]
    want = sorted(set(vals))[:4]
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        order = vals[:]
        rng.shuffle(order)
        cut = rng.randrange(1, len(order))
        state = FakeState()
        update = _make_kmv_update(4)
        per_rank: dict = {}
        for span in (order[:cut], order[cut:]):
            out = list(update(("t",), iter([pd.DataFrame({"h": span})]), state))[-1]
            for r, h in zip(out["rank"], out["h"]):
                assert r not in per_rank or h <= per_rank[r], (seed, r)
                per_rank[r] = h
        assert list(state.get[0]) == want, (seed, state.get)


def test_kmv_stream_matches_batch_and_accuracy(spark, sf_dir):
    """The streamed KMV sketch (after the min reduction) equals the batch
    k smallest distinct hash60(user_id) per type EXACTLY, and the
    registered query's estimate lands within 3/sqrt(k) of the true
    distinct count (the KMV standard-error bound with margin)."""
    import math

    from bridge_analytics_template_spark.queries import QUERIES
    from bridge_analytics_template_spark.streaming.stateful import kmv_distinct_stream

    k = 64
    import uuid

    name = f"kmv_{uuid.uuid4().hex[:8]}"
    q = (
        kmv_distinct_stream(stream_events(spark, sf_dir), k=k)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["event_type"], r["rank"]): r["h"]
        for r in spark.table(name)
        .groupBy("event_type", "rank")
        .agg(F.min("h").alias("h"))
        .collect()
    }
    batch = {}
    w = Window.partitionBy("event_type").orderBy("h")
    from bridge_analytics_template_spark.functions.numeric import sql_hash60

    for r in (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                f"CAST({sql_hash60('CAST(user_id AS STRING)')} AS BIGINT)"
            ).alias("h"),
        )
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .collect()
    ):
        batch[(r["event_type"], r["rank"])] = r["h"]
    assert streamed == batch

    true = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_users"]
        for r in QUERIES["t_stream_distinct_kmv"].__wrapped__(spark, sf_dir).collect()
    }
    tol = 3.0 / math.sqrt(k)
    for t, n in true.items():
        assert abs(est[t] - n) <= max(tol * n, 2), (t, est[t], n)


def test_value_histogram_stream_matches_batch(spark, sf_dir):
    """The streamed per-type histogram equals the batch bin counts exactly
    (same IEEE floor(value/20), capped at the last bin); zero bins are
    emitted but carry 0."""
    import uuid

    from bridge_analytics_template_spark.streaming.stateful import (
        HIST_BINS,
        HIST_WIDTH,
        value_histogram_stream,
    )

    out = value_histogram_stream(stream_events(spark, sf_dir))
    name = f"vh_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["event_type"], r["bin"]): r["n"]
        for r in spark.table(name)
        .groupBy("event_type", "bin")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    batch = {
        (r["event_type"], r["bin"]): r["n"]
        for r in load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy(
            "event_type",
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(HIST_BINS - 1),
                    F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long"),
                ),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for key, n in batch.items():
        assert streamed.get(key) == n, key
    # streamed-only keys are the explicitly-emitted empty bins
    for key in set(streamed) - set(batch):
        assert streamed[key] == 0, key


def test_drawdown_kernel_cross_batch_state():
    """The drawdown fold carries (cum, peak, dd, n) across batches: a peak
    in batch 1 and the trough in batch 2 must produce the cross-batch
    drawdown, and within-batch rows are sorted by (tsu, event_id) before
    the fold. Kernel-level check via a fake GroupState — no Spark."""
    import pandas as pd

    from bridge_analytics_template_spark.streaming.stateful import (
        _update_drawdown,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()

    def run(rows):  # rows: list of (tsu, event_id, vq)
        pdf = pd.DataFrame(rows, columns=["tsu", "event_id", "vq"])
        return list(_update_drawdown((7,), iter([pdf]), st))[0]

    # batch 1 deliberately UNSORTED: rows (t=2, +50), (t=1, +100) ->
    # ordered series +100, +50 -> cum 100, 150; peak 150; dd 0
    out1 = run([(2, 2, 50), (1, 1, 100)])
    assert out1["end_cents"][0] == 150 and out1["peak_cents"][0] == 150
    assert out1["max_drawdown_cents"][0] == 0
    # batch 2: -120, +30 -> cum 30, 60; peak stays 150; dd = 150-30 = 120
    out2 = run([(3, 3, -120), (4, 4, 30)])
    assert out2["end_cents"][0] == 60
    assert out2["peak_cents"][0] == 150
    assert out2["max_drawdown_cents"][0] == 120
    assert out2["n_events"][0] == 4


def test_drawdown_stream_matches_batch(spark, sf_dir):
    """The genuinely-streaming drawdown over time-ordered shards equals
    the batch window replay (the same duel the registered oracle runs;
    multi-batch execution is forced by the four maxFilesPerTrigger=1
    shards, cross-batch state by the kernel test above)."""
    from bridge_analytics_template_spark.queries import QUERIES

    got = {
        r["user_id"]: (
            r["n_events"],
            r["end_cents"],
            r["peak_cents"],
            r["max_drawdown_cents"],
        )
        for r in QUERIES["t_stream_drawdown"](spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("vq"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    w = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = q.select("user_id", "rn", F.sum("vq").over(w).alias("cum"))
    d = c.withColumn("runmax", F.max("cum").over(w))
    want = {
        r["user_id"]: (
            r["n"],
            r["end_cents"],
            r["peak_cents"],
            r["dd"],
        )
        for r in d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("max_by(cum, rn)").cast("long").alias("end_cents"),
            F.max("cum").cast("long").alias("peak_cents"),
            F.max(F.col("runmax") - F.col("cum")).cast("long").alias("dd"),
        )
        .collect()
    }
    assert got == want
