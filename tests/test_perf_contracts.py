"""Deterministic plan-shape and session contracts: exact properties of
the plan or the session that a slower spelling would break, asserted
without timing anything."""

import uuid

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from coffea_spark.llmdata.dedup import jaccard_join
from coffea_spark.selection import PackedSelection
from tests.test_llmdata import _low_entropy_corpus


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


def _job_count(spark, run):
    """Spark jobs ``run()`` launches from this thread, counted by job
    group on a cold cache (broadcast builds run under their own group)."""
    sc = spark.sparkContext
    group = f"perf-contract-{uuid.uuid4().hex}"
    spark.catalog.clearCache()
    sc.setJobGroup(group, "job-count contract")
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
        spark.catalog.clearCache()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.filterwarnings("ignore:jaccard_join")
def test_jaccard_join_job_counts(spark):
    rows = [
        (i, f"document number {i} speaks about unique topic alpha{i} beta{i}")
        for i in range(30)
    ]
    rows += [(100, rows[0][1] + " x"), (101, rows[1][1])]
    rich = spark.createDataFrame(rows, "doc_id long, text string")
    low = _low_entropy_corpus(spark)
    forced = dict(block_cols=["lang", "source"], dense_min_mass=100, dense_mass_per_doc=1)
    calls = {
        "inert": (15, lambda: jaccard_join(rich, 0.5, "doc_id", "text", 5).collect()),
        "guard_off": (12, lambda: jaccard_join(
            rich, 0.5, "doc_id", "text", 5, dense_min_mass=None).collect()),
        "dense_one_tile": (30, lambda: jaccard_join(
            low, 0.5, "doc_id", "text", 3, **forced).collect()),
        "dense_tiled": (30, lambda: jaccard_join(
            low, 0.5, "doc_id", "text", 3, dense_budget_cells=2000, **forced).collect()),
    }
    got = {name: _job_count(spark, run) for name, (_, run) in calls.items()}
    assert all(got[name] <= cap for name, (cap, _) in calls.items()), got
