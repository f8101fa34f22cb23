"""Deterministic plan-shape and session contracts: exact properties of
the plan or the session that a slower spelling would break, asserted
without timing anything."""

import re
import uuid

import numpy as np
import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from coffea_spark.hist import (
    hist1d,
    hist1d_edges,
    hist2d,
    hist_categorical,
    histnd,
    profile1d,
)
from coffea_spark.llmdata.dedup import jaccard_join
from coffea_spark.lookup import DenseLookup, DenseMappedLookup
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


def _executed_plan(df):
    """The executed (AQE final) physical plan of ``df`` after a collect."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_hist_fills_shuffle_once_and_lookups_stay_in_jvm(spark):
    df = spark.sql(
        "SELECT * FROM VALUES (0.5D, 1.5D, 2.0D, 'a', array('p', 'q')),"
        " (2.5D, 0.5D, 1.0D, 'b', array('q')), (7.0D, -1.0D, 0.5D, 'a', array())"
        " AS t(x, y, w, s, tags)"
    )
    fills = {
        "hist1d": hist1d(df, "x", 4, 0.0, 4.0, weight="w", by=["s"]),
        "hist1d_edges": hist1d_edges(df, "x", [0.0, 1.0, 4.0], weight="w"),
        "hist2d": hist2d(df, "x", "y", 4, 0.0, 4.0, 2, 0.0, 2.0, weight="w", flow=False),
        "histnd": histnd(df, [("x", 4, 0.0, 4.0), ("y", 2, 0.0, 2.0)], by=["s"], flow=False),
        "profile1d": profile1d(df, "x", "y", 4, 0.0, 4.0, weight="w"),
        "hist_categorical": hist_categorical(df, "tags", weight="w"),
    }
    for name, h in fills.items():
        plan = _executed_plan(h)
        assert len(re.findall(r"\bExchange\b", plan)) == 1, (name, plan)
    axes = [np.array([0.0, 2.0, 4.0]), np.array([0.0, 1.0, 2.0])]
    dense = DenseLookup(np.array([[1.0, 2.0], [3.0, 4.0]]), axes)
    mapped = DenseMappedLookup(axes, np.array([[0, 1], [1, -1]]), ["x", "2.0"], feval_dim=0)
    plan = _executed_plan(df.select(
        dense(F.col("x"), F.col("y")).alias("d"), mapped(F.col("x"), F.col("y")).alias("m")))
    assert "EvalPython" not in plan, plan


def test_read_root_is_one_python_scan(spark, tmp_path):
    """read_root plans as the format("root") batch scan: no pandas map
    and no shuffle, and one partition per ``plan_chunks`` work item."""
    from coffea_spark.root_reader import plan_chunks, read_root
    from tests.test_root_writer import _scan_files

    paths = _scan_files(tmp_path)
    df = read_root(spark, paths, split_rows=4)
    plan = _executed_plan(df)
    assert "MapInPandas" not in plan and not re.search(r"\bExchange\b", plan), plan
    assert df.rdd.getNumPartitions() == len(plan_chunks(paths, None, 4)) == 7


def test_root_read_decompresses_each_basket_once(tmp_path):
    """``to_arrow`` over a counts branch and two jagged members it frames
    decompresses each overlapping basket exactly once per call, for the
    whole tree and for a mid-file range; an adjacent next range does not
    decompress again the baskets that straddle the border."""
    from collections import Counter

    from coffea_spark.root_reader import RootTreeReader
    from coffea_spark.root_writer import write_root_file
    from tests.test_root_writer import _cols

    path = str(tmp_path / "t.root")
    write_root_file(
        _cols(), path, counts_map={"Muon_pt": "nMuon", "Muon_eta": "nMuon"},
        basket_rows=128,
    )
    names = ["nMuon", "Muon_pt", "Muon_eta"]
    r = RootTreeReader(path)
    assert min(len(r._baskets[n]) for n in names) == 4
    seen = Counter()
    raw = r._payload_raw

    def counting(key):
        seen[key.off] += 1
        return raw(key)

    r._payload_raw = counting

    def overlapping(e0, e1):
        out = Counter()
        for n in names:
            idx = r.basket_entry_index(n)
            out.update(
                k.off for k, a, b in zip(r._baskets[n], idx[:-1], idx[1:])
                if a < e1 and b > e0
            )
        return out

    for e0, e1 in [(0, 500), (200, 300)]:
        seen.clear()
        r.to_arrow(names, e0, e1)
        assert seen == overlapping(e0, e1), (e0, e1)
    seen.clear()
    r.to_arrow(names, 300, 400)  # the baskets of [256, 384) were read for [200, 300)
    assert seen == overlapping(300, 400) - overlapping(200, 300)
    assert sum(seen.values()) == 3


def test_similarity_search_never_shuffles_the_corpus(spark):
    """Every index serves through one shape: local candidates, then one
    per-query ranked window. The window's hash exchange on the query id
    is the only shuffle of each search; the probe joins broadcast the
    query side, and the corpus is never repartitioned."""
    from coffea_spark.llmdata import similarity as S

    vecs = np.random.default_rng(3).standard_normal((120, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) * 1.001 for x in vecs[i]]) for i in (5, 50)],
        "qid long, qvec array<double>",
    )
    cents = S.ivf_train(corpus, n_lists=4, seed=42, max_iter=5)
    books = S.pq_train(corpus, m=2, n_codes=8, seed=42)
    encoded = S.pq_encode(corpus, books, keep_cols=("embedding",))
    searches = {
        "exact_topk_join": S.exact_topk_join(queries, corpus, k=3),
        "ann_join": S.ann_join(queries, corpus, k=3, n_planes=4, dim=8),
        "ivf_probe_join": S.ivf_probe_join(
            queries, S.ivf_assign_table(corpus, cents), cents, k=3, n_probe=2
        ),
        "pq_adc_topk": S.pq_adc_topk(queries, encoded, books, k=3),
        "pq_adc_topk_rerank": S.pq_adc_topk(queries, encoded, books, k=3, rerank=10),
    }
    for name, df in searches.items():
        plan = _executed_plan(df)
        shuffles = re.findall(r"\bExchange\b.*", plan)
        assert len(shuffles) == 1, (name, plan)
        assert shuffles[0].startswith("Exchange hashpartitioning(qid#"), (name, plan)
