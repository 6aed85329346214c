"""The sizing contract of partitioning.py: an estimate may change cost,
never rows.

Differential style (one query, two modes, equal rows): every sizing
consumer runs over plan shapes whose footer estimate is exact, low, high
or unknown, with the estimate forced to unknown, 0, 1, the true count and
10x the true count. ``estimated_scan_rows`` is the one estimate that
``sizing_rows`` (the "estimate, else count()" entry point) and
``adaptive_group_buckets`` read, so patching it reaches every consumer.
Each run must return the driver-side reference rows, multiplicity
included; the only allowed deviation is a blocked-GEMM grid that an
under-estimate leaves too small, which must raise.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark import partitioning
from bridge_analytics_template_spark.llm.similarity import (
    blocked_cosine_cross_pairs,
    blocked_cosine_pairs,
    near_dup_pairs,
)
from bridge_analytics_template_spark.operators.prefix import partitioned_cumsum
from bridge_analytics_template_spark.operators.rowids import assign_contiguous_ids

SCHEMA = "id long, v long, emb array<double>"
N = 40
BLOCK = 16
THRESHOLD = 0.99
MODES = ["unknown", "zero", "one", "true", "10x"]


def _row(i: int) -> tuple:
    # 13 directions 0.4 rad apart (distinct cosines <= 0.93), so only ids
    # sharing i % 13 pair at THRESHOLD
    a = 0.4 * (i % 13)
    return (i, (i * 37) % 101, [float(np.cos(a)), float(np.sin(a)), 0.0, 0.0])


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sizing")
    spark.createDataFrame([_row(i) for i in range(N)], SCHEMA).coalesce(1).write.parquet(
        f"{root}/base"
    )
    spark.createDataFrame([], SCHEMA).write.parquet(f"{root}/empty")
    base = spark.read.parquet(f"{root}/base")
    local = spark.createDataFrame([_row(i) for i in range(100, 105)], SCHEMA)
    exploded = base.select(F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r"), "*").select(
        (F.col("id") * 3 + F.col("r")).alias("id"), "v", "emb"
    )
    return {
        "file": base,
        "self_union": base.unionByName(base),
        "file_local": base.unionByName(local),
        "explode": exploded,
        "empty_file": spark.read.parquet(f"{root}/empty"),
    }


def _estimate(n: int, mode: str) -> int | None:
    return {"unknown": None, "zero": 0, "one": 1, "true": n, "10x": 10 * n}[mode]


def _force(monkeypatch, mode):
    monkeypatch.setattr(
        partitioning, "estimated_scan_rows", lambda df: _estimate(df.count(), mode)
    )


def _each(inputs, check) -> None:
    """Run ``check(name, df)`` for every input concurrently (the jobs are
    tiny; their fixed costs overlap) and re-raise the first failure."""
    with ThreadPoolExecutor(max_workers=len(inputs)) as pool:
        for f in [pool.submit(check, name, df) for name, df in inputs.items()]:
            f.result()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _gemm_reference(left: pd.DataFrame, right: pd.DataFrame, ordered: bool) -> list[tuple]:
    if left.empty or right.empty:
        return []
    ma = np.array(left["emb"].tolist())
    mb = np.array(right["emb"].tolist())
    sims = (ma / np.linalg.norm(ma, axis=1, keepdims=True)) @ (
        mb / np.linalg.norm(mb, axis=1, keepdims=True)
    ).T
    ids_a, ids_b = left["id"].to_numpy(), right["id"].to_numpy()
    hit = sims >= THRESHOLD
    if ordered:
        hit &= ids_a[:, None] < ids_b[None, :]
    return sorted((int(ids_a[i]), int(ids_b[j])) for i, j in zip(*np.nonzero(hit)))


def _grid_covers(n: int, mode: str) -> bool:
    """Whether the block grid sized from the forced estimate holds n rows
    ("unknown" sizes from the exact count)."""
    est = _estimate(n, mode)
    est = n if est is None else est
    return max(1, -(-est // BLOCK)) * BLOCK >= n


def _ids(df) -> pd.DataFrame:
    return df.select("id", "v", "emb").toPandas()


def _check_gemm(run, reference, covered):
    if covered:
        assert sorted((r[0], r[1]) for r in run().collect()) == reference
    else:
        with pytest.raises(Exception, match="blocked GEMM"):
            run().collect()


@pytest.mark.parametrize("mode", MODES)
def test_cumsum_and_rowids_rows_invariant(spark, inputs, monkeypatch, mode):
    refs = {}
    for name, df in inputs.items():
        pdf = df.select("id", "v").toPandas().sort_values("id", kind="stable")
        refs[name] = (
            sorted(zip(pdf["id"], pdf["v"], pdf["v"].cumsum(), [int(pdf["v"].sum())] * len(pdf))),
            sorted(zip(pdf["id"], pdf["v"], range(len(pdf)))),
        )
    _force(monkeypatch, mode)

    def check(name, df):
        kv = df.select("id", "v")
        cum = partitioned_cumsum(kv, ["id"], "v", "cum", total_name="tot", num_partitions=2)
        assert _rows(cum) == refs[name][0], name
        rid = assign_contiguous_ids(kv, "id", id_name="rid", num_partitions=2)
        assert _rows(rid) == refs[name][1], name

    _each(inputs, check)


@pytest.mark.parametrize("mode", MODES)
def test_blocked_gemm_rows_invariant_or_raises(spark, inputs, monkeypatch, mode):
    base = _ids(inputs["file"])
    refs = {name: _ids(df) for name, df in inputs.items()}
    _force(monkeypatch, mode)

    def check(name, df):
        pdf = refs[name]
        covered = _grid_covers(len(pdf), mode)
        _check_gemm(
            lambda: blocked_cosine_pairs(
                df, THRESHOLD, id_col="id", vec_col="emb", block_size=BLOCK
            ),
            _gemm_reference(pdf, pdf, ordered=True),
            covered,
        )
        # the file side's grid is sized from the same forced estimate; an
        # empty left side has no pairs to lose (the join may skip the right)
        _check_gemm(
            lambda: blocked_cosine_cross_pairs(
                df, inputs["file"], THRESHOLD, id_col="id", vec_col="emb", block_size=BLOCK
            ),
            _gemm_reference(pdf, base, ordered=False),
            covered and (_grid_covers(N, mode) or pdf.empty),
        )

    _each(inputs, check)


@pytest.mark.parametrize("mode", MODES)
def test_adaptive_buckets_rows_invariant(spark, inputs, monkeypatch, mode):
    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.groupby("k", as_index=False)["v"].sum().rename(columns={"v": "s"})

    refs = {}
    for name, df in inputs.items():
        pdf = df.select((F.col("id") % 7).alias("k"), "v").toPandas()
        refs[name] = sorted(per_key(pdf).itertuples(index=False, name=None))
    _force(monkeypatch, mode)

    def check(name, df):
        buckets = partitioning.adaptive_group_buckets(df, floor=2, target_rows_per_bucket=8)
        keyed = df.select((F.col("id") % 7).alias("k"), "v")
        out = (
            keyed.withColumn("_b", F.pmod(F.xxhash64("k"), F.lit(buckets)))
            .groupBy("_b")
            .applyInPandas(lambda pdf: per_key(pdf[["k", "v"]]), "k long, s long")
        )
        assert _rows(out) == refs[name], (name, buckets)

    _each(inputs, check)


def test_empty_leaf_union_local_keeps_every_row(spark, tmp_path):
    """An empty parquet leaf unioned with a 5-row local relation has a
    footer estimate of 0; the ids must still cover all 5 rows."""
    spark.createDataFrame([], "k long").write.parquet(str(tmp_path / "empty"))
    df = spark.read.parquet(str(tmp_path / "empty")).unionByName(
        spark.createDataFrame([(k,) for k in (50, 10, 40, 20, 30)], "k long")
    )
    out = assign_contiguous_ids(df, "k", id_name="rid").orderBy("rid").collect()
    assert [(r["k"], r["rid"]) for r in out] == [(10, 0), (20, 1), (30, 2), (40, 3), (50, 4)]


def test_self_union_blocked_pairs_match_all_pairs(spark, sf_dir):
    """A self-union of one parquet file (second copy re-keyed) doubles its
    rows; the block grid must cover all of them (per-leaf-occurrence
    footer counts), so blocked GEMM finds every copy pair the all-pairs
    verifier finds."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    blocked = sorted(
        (r["id_a"], r["id_b"]) for r in blocked_cosine_pairs(v, 0.999, block_size=64).collect()
    )
    exact = sorted((r["id_a"], r["id_b"]) for r in near_dup_pairs(v, 0.999).collect())
    assert len(exact) >= e.count()  # every vector pairs with its copy
    assert blocked == exact
