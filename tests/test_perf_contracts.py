"""Deterministic plan-shape and session contracts: exact properties of
the plan or the session that a slower spelling would break, asserted
without timing anything."""

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from coffea_spark.selection import PackedSelection


def _cuts():
    """name -> (cut, its predicate text as the optimized plan prints it)"""
    return {
        "hof": (F.exists("arr", lambda v: v > 1.25), "> 1.25)"),
        "nullable": (F.col("n") > 2, "> 2)"),
        "cx": (F.col("x") > 0.375, "> 0.375)"),
    }


def _optimized_plans(monkeypatch, df, run):
    """Optimized plans of the DataFrames ``run`` collects."""
    plans = []
    collect = type(df).collect

    def recording(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(type(df), "collect", recording)
    run()
    monkeypatch.undo()
    return plans


def test_cutflow_and_nminusone_evaluate_each_cut_once(spark, monkeypatch):
    df = spark.createDataFrame(
        [(0.5, [0.5, 2.0], 3, 1.0), (-1.0, [], None, 0.5), (2.0, [1.75], 1, 2.0)],
        "x double, arr array<double>, n int, w double",
    )
    cuts = _cuts()
    sel = PackedSelection().add_multiple({n: c for n, (c, _) in cuts.items()})
    plans = _optimized_plans(monkeypatch, df, lambda: (
        sel.cutflow(df, weight=F.col("w")), sel.nminusone(df)))
    assert len(plans) == 2
    for plan in plans:
        for name, (_, text) in cuts.items():
            assert plan.count(text) == 1, (name, plan)


def test_session_skips_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    # runtime errors keep their error class without the Python call site
    with pytest.raises(ArithmeticException) as err:
        spark.range(3).select(F.col("id") / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
