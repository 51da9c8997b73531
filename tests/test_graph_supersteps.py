"""The superstep driver's contract (operators.graph._supersteps) on a
one-row state: fixed rounds, early exit, fixpoint error, lineage cut."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hikma_engine_spark.operators.graph import ConvergenceError, _supersteps


def _counter():
    """A step that adds 1 to x and records the rounds it ran."""
    rounds: list[int] = []

    def step(st, r):
        rounds.append(r)
        return st.select((F.col("x") + 1).alias("x"))

    return step, rounds


def _x(df) -> int:
    return df.first()["x"]


def test_fixed_rounds_run_exactly_and_cut_lineage(spark):
    step, rounds = _counter()
    out = _supersteps(spark.createDataFrame([(0,)], "x int"), step, 5)
    assert rounds == [1, 2, 3, 4, 5]
    assert _x(out) == 5
    # the returned state is materialized: its plan is a bare scan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LogicalRDD") and "Project" not in plan


def test_exits_at_first_round_whose_probe_is_true(spark):
    step, rounds = _counter()
    probed = []

    def until(new, old):
        probed.append((_x(new), _x(old)))
        return _x(new) >= 3

    out = _supersteps(spark.createDataFrame([(0,)], "x int"), step, 10, until=until)
    assert rounds == [1, 2, 3]
    assert probed == [(1, 0), (2, 1), (3, 2)]  # old = the previous state
    assert _x(out) == 3


def test_probe_runs_on_cut_rounds_only(spark):
    step, rounds = _counter()
    probed = []
    _supersteps(
        spark.createDataFrame([(0,)], "x int"),
        step,
        7,
        until=lambda new, _old: probed.append(_x(new)) or False,
        cut_every=3,
    )
    assert rounds == list(range(1, 8))
    assert probed == [3, 6, 7]  # every third round and the last


def test_fixpoint_budget_exhausted_raises(spark):
    step, rounds = _counter()
    with pytest.raises(ConvergenceError, match="no fixpoint in 4 rounds"):
        _supersteps(
            spark.createDataFrame([(0,)], "x int"),
            step,
            4,
            until=lambda new, old: False,
            fixpoint="no fixpoint in 4 rounds",
        )
    assert rounds == [1, 2, 3, 4]
    # the same budget without a fixpoint contract returns the last state
    step, _ = _counter()
    out = _supersteps(
        spark.createDataFrame([(0,)], "x int"), step, 4, until=lambda new, old: False
    )
    assert _x(out) == 4
