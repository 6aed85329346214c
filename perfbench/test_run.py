"""Fault accounting of the benchmark loop, without Spark.

    python3 -m pytest perfbench/test_run.py -q

A fake workload plants one raising op and one op whose output check fails;
both must land in the failed count next to the op that succeeds.
"""

import numpy as np

import run
from layers import Spans


class PlantedWorkload:
    def ops(self):
        return ["good", "raises", "wrong"]

    def run_op(self, spark, name, spans, rng):
        with spans("queries.exec"):
            if name == "raises":
                raise RuntimeError("planted failure")
        return None

    def after_op(self, name):
        return {}

    def check(self, spark, ran):
        return {"wrong": "planted wrong answer"}


def test_raising_and_wrong_ops_are_failed():
    w = PlantedWorkload()
    records, _ = run.measure(w, None, 0.0, np.random.default_rng(0), Spans(), min_ops=0)
    assert sorted(r["name"] for r in records) == ["good", "raises", "wrong"]  # one whole round
    failed = run.tally(records, w.check(None, {r["name"] for r in records}))
    assert sorted(r["name"] for r in failed) == ["raises", "wrong"]
    assert len(failed) / len(records) == 2 / 3


def test_rounds_continue_until_min_ops():
    records, _ = run.measure(PlantedWorkload(), None, 0.0, np.random.default_rng(0), Spans(), min_ops=7)
    assert len(records) == 9  # three whole rounds of three ops


def test_percentile_is_nearest_rank():
    values = list(range(1, 41))
    assert run.percentile(values, 75) == 30
    assert run.percentile(values, 50) == 20
    assert sum(v > run.percentile(values, 75) for v in values) == 10
