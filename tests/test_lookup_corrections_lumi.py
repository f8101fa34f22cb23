"""Lookup tools, JEC/JER corrections, MET propagation, btag, lumi tools
vs numpy oracles (reference patterns: tests/test_lookup_tools.py,
tests/test_jetmet_tools.py, tests/test_lumi_tools.py)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from coffea_spark.corrections import (
    BTagScaleFactor,
    CorrectedJetsFactory,
    FactorizedJetCorrector,
    content_randn,
    corrected_polar_met,
)
from coffea_spark.lookup import DenseLookup, FormulaLookup
from coffea_spark.lumi import LumiData, LumiList, LumiMask
from coffea_spark.testing import dummy_jagged_eta_pt, jagged_eta_pt_df, sample


def test_dense_lookup_2d(spark):
    """FIXTURES.md F3 sf_2d: clamp-to-edge 2D lookup, summed weights vs
    numpy (reference test_lookup_tools pattern)."""
    rng = np.random.default_rng(42)
    eta_bins = np.array([-3.0, -1.5, 0.0, 1.5, 3.0])
    pt_bins = np.array([0.0, 20.0, 40.0, 60.0, 100.0, np.inf])
    values = rng.uniform(0.8, 1.2, (4, 5))
    lk = DenseLookup(values, [eta_bins, pt_bins])

    counts, eta, pt = dummy_jagged_eta_pt()
    df = jagged_eta_pt_df(spark)
    flat = df.select(F.explode(F.arrays_zip(F.col("eta"), F.col("pt"))).alias("z")).select(
        F.col("z.eta").alias("eta"), F.col("z.pt").alias("pt")
    )
    got = flat.select(lk(F.col("eta"), F.col("pt")).alias("sf")).agg(F.sum("sf")).collect()[0][0]

    ei = np.clip(np.searchsorted(eta_bins, eta, side="right") - 1, 0, 3)
    pi = np.clip(np.searchsorted(pt_bins, pt, side="right") - 1, 0, 4)
    want = values[ei, pi].sum()
    assert np.isclose(got, want)


def test_dense_lookup_clamps(spark):
    lk = DenseLookup(np.array([1.0, 2.0, 3.0]), [np.array([0.0, 1.0, 2.0, 3.0])])
    df = spark.createDataFrame([{"x": -5.0}, {"x": 0.5}, {"x": 2.5}, {"x": 99.0}])
    got = [r.v for r in df.select(lk(F.col("x")).alias("v")).collect()]
    assert got == [1.0, 1.0, 3.0, 3.0]


def test_formula_lookup(spark):
    fl = FormulaLookup(["2.0*x + 1.0", "sqrt(x)"], np.array([0.0, 10.0, 100.0]))
    df = spark.createDataFrame([{"c": 5.0, "x": 3.0}, {"c": 50.0, "x": 16.0}])
    got = [r.v for r in df.select(fl(F.col("c"), F.col("x")).alias("v")).collect()]
    assert np.allclose(got, [7.0, 4.0])


def test_jec_chain(spark):
    """Chained multiplicative levels: level 2 sees level-1-corrected pt."""
    l1 = lambda eta, pt: F.lit(1.1)
    l2 = lambda eta, pt: 1.0 + pt / 1000.0  # depends on corrected pt
    corr = FactorizedJetCorrector([l1, l2])
    df = spark.createDataFrame([{"eta": 0.0, "pt_raw": 100.0}])
    got = df.select(corr.get_correction(F.col("eta"), F.col("pt_raw")).alias("c")).collect()[0].c
    # manual: c1=1.1, pt1=110 -> c2=1.11 -> total=1.1*1.11
    assert np.isclose(got, 1.1 * (1.0 + 110.0 / 1000.0))


def test_corrected_jets_factory(spark, nano):
    corrector = FactorizedJetCorrector([lambda eta, pt: F.lit(1.05)])
    fac = CorrectedJetsFactory(corrector, junc=0.02)
    out = nano.select("event", fac.build(F.col("Jet")).alias("Jet"))
    row = out.filter(F.size("Jet") > 0).select(F.col("Jet")[0].alias("j")).first().j
    pt_raw = row.pt_orig * (1 - row.rawFactor)
    assert np.isclose(row.pt_raw, pt_raw)
    assert np.isclose(row.pt, pt_raw * 1.05)
    assert np.isclose(row.JES_up_pt, row.pt * 1.02)
    assert np.isclose(row.JES_down_pt, row.pt * 0.98)
    assert np.isclose(row.mass, row.mass_orig * (1 - row.rawFactor) * 1.05)


def test_content_randn_deterministic(spark):
    df = spark.createDataFrame([{"a": 1.5}, {"a": 2.5}, {"a": 1.5}])
    got = [r.v for r in df.select(content_randn(F.col("a")).alias("v")).collect()]
    assert got[0] == got[2]  # same content -> same draw
    assert got[0] != got[1]
    # distribution sanity on many draws
    big = spark.range(20000).select(content_randn(F.col("id")).alias("v"))
    stats = big.agg(F.avg("v").alias("m"), F.stddev("v").alias("s")).collect()[0]
    assert abs(stats.m) < 0.05 and abs(stats.s - 1.0) < 0.05


def test_met_propagation(spark, nano):
    corrector = FactorizedJetCorrector([lambda eta, pt: F.lit(1.1)])
    fac = CorrectedJetsFactory(corrector, junc=None)
    df = nano.select("event", "MET", fac.build(F.col("Jet")).alias("Jet"))
    out = df.select(
        "event", "MET",
        corrected_polar_met(F.col("MET.pt"), F.col("MET.phi"), F.col("Jet")).alias("new_met"),
        F.col("Jet.pt").alias("pts"), F.col("Jet.pt_orig").alias("pts0"), F.col("Jet.phi").alias("phis"),
    ).first()
    dx = sum((p - p0) * np.cos(ph) for p, p0, ph in zip(out.pts, out.pts0, out.phis))
    dy = sum((p - p0) * np.sin(ph) for p, p0, ph in zip(out.pts, out.pts0, out.phis))
    mx = out.MET.pt * np.cos(out.MET.phi) - dx
    my = out.MET.pt * np.sin(out.MET.phi) - dy
    assert np.isclose(out.new_met.pt, np.hypot(mx, my))
    assert np.isclose(out.new_met.phi, np.arctan2(my, mx))


def test_btag_sf(spark):
    rows = [
        {"flavor": 5, "eta_min": 0.0, "eta_max": 2.5, "pt_min": 20.0, "pt_max": 1000.0,
         "formula": "0.9 + 0.001*x"},
        {"flavor": 0, "eta_min": 0.0, "eta_max": 2.5, "pt_min": 20.0, "pt_max": 1000.0,
         "formula": "1.1"},
    ]
    sf = BTagScaleFactor(rows)
    df = spark.createDataFrame(
        [{"fl": 5, "eta": 1.0, "pt": 100.0}, {"fl": 0, "eta": 2.0, "pt": 50.0},
         {"fl": 4, "eta": 1.0, "pt": 50.0}]
    )
    got = [r.v for r in df.select(sf.eval(F.col("fl"), F.col("eta"), F.col("pt")).alias("v")).collect()]
    assert np.isclose(got[0], 0.9 + 0.1)
    assert np.isclose(got[1], 1.1)
    assert got[2] is None  # flavor 4 not covered


def test_lumimask(spark, nano, nano_rows):
    """FIXTURES.md F4: golden ranges covering part of (run, lumi) space;
    literal-exists and broadcast-join variants agree with python oracle."""
    golden = {1: [[1, 20], [30, 40]], 2: [[5, 25]]}
    mask = LumiMask(golden)

    def ok(r):
        return any(lo <= r["luminosityBlock"] <= hi for lo, hi in golden.get(r["run"], []))

    want = sum(1 for r in nano_rows if ok(r))
    got_exists = mask.apply(nano).count()
    got_join = mask.apply_join(nano).count()
    assert got_exists == want == got_join


def test_lumidata_and_lumilist(spark, nano, nano_rows):
    pairs = sorted({(r["run"], r["luminosityBlock"]) for r in nano_rows})
    rng = np.random.default_rng(7)
    table = [
        {"run": int(r), "lumi": int(l), "intlumi": float(rng.uniform(0.1, 1.0))}
        for r, l in pairs
    ]
    ld = LumiData.from_rows(spark, table)
    got = ld.get_lumi(nano)
    want = sum(t["intlumi"] for t in table)  # every pair present
    assert np.isclose(got, want)

    ll = LumiList.from_events(nano)
    assert ll.count() == len(pairs)
    merged = ll + ll
    assert merged.count() == len(pairs)


def test_json_extractor(spark, tmp_path):
    """reference extractor pattern: corrections loaded from JSON apply
    identically to directly-constructed lookups."""
    import json

    from coffea_spark.lookup import extractor

    doc = {
        "corrections": [
            {"name": "sf2d", "type": "dense",
             "bins": [[0.0, 1.0, 2.0], [0.0, 10.0, 20.0, 30.0]],
             "values": [[1.1, 1.2, 1.3], [0.9, 0.8, 0.7]]},
            {"name": "jec", "type": "formula", "bins": [0.0, 1.0, 2.0],
             "formulas": ["1.0 + 1.0/sqrt(x)", "2.0 - 0.5*x"]},
        ]
    }
    p = tmp_path / "corr.json"
    p.write_text(json.dumps(doc))
    lk = extractor(str(p))
    assert set(lk) == {"sf2d", "jec"}
    df = spark.createDataFrame(
        [(0.5, 15.0), (1.5, 25.0), (5.0, -3.0)], "eta double, pt double"
    )
    r = df.select(
        lk["sf2d"](F.col("eta"), F.col("pt")).alias("sf"),
        lk["jec"](F.col("eta"), F.col("pt")).alias("c"),
    ).collect()
    # row 3 clamps: eta=5.0 -> last eta bin, pt=-3.0 -> first pt bin
    assert [x.sf for x in r] == [1.2, 0.7, 0.9]
    assert abs(r[0].c - (1.0 + 1.0 / 15.0**0.5)) < 1e-12
    assert abs(r[1].c - (2.0 - 0.5 * 25.0)) < 1e-12
    # error paths
    import pytest

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"corrections": [{"name": "x", "type": "nope"}]}))
    with pytest.raises(ValueError, match="unknown correction type"):
        extractor(str(bad))
    dup = tmp_path / "dup.json"
    dup.write_text(json.dumps({"corrections": [
        {"name": "x", "type": "formula", "bins": [0, 1], "formulas": ["x"]},
        {"name": "x", "type": "formula", "bins": [0, 1], "formulas": ["x"]},
    ]}))
    with pytest.raises(ValueError, match="duplicate"):
        extractor(str(dup))


def test_met_unclustered_variations(spark):
    """MET unclustered-energy up/down: |met ± u| with phi consistent."""
    import math

    from coffea_spark.corrections import corrected_polar_met

    df = spark.createDataFrame([(1,)], "id int").select(
        F.array(
            F.struct(F.lit(10.0).alias("pt_orig"), F.lit(12.0).alias("pt"),
                     F.lit(0.0).alias("phi"))
        ).alias("jets")
    )
    met = corrected_polar_met(
        F.lit(50.0), F.lit(0.0), F.col("jets"),
        unclust_dx=F.lit(3.0), unclust_dy=F.lit(4.0),
    )
    r = df.select(met.alias("m")).collect()[0].m
    # met_x = 50 - 2 = 48, met_y = 0
    assert abs(r["pt"] - 48.0) < 1e-12
    assert abs(r["pt_unclust_up"] - math.hypot(51.0, 4.0)) < 1e-12
    assert abs(r["pt_unclust_down"] - math.hypot(45.0, -4.0)) < 1e-12
    assert abs(r["phi_unclust_up"] - math.atan2(4.0, 51.0)) < 1e-12


@pytest.mark.samples
def test_lumidata_real_csv_golden(spark):
    """LumiData over the reference's real brilcalc csv: the sum over
    the first 10 (run, ls) keys must equal the golden 1.539941814
    (reference tests/test_lumi_tools.py:10-35)."""
    import numpy as np

    from coffea_spark.lumi import LumiData

    path = sample("lumi_small.csv")
    ld = LumiData.from_csv(spark, path)
    first10 = np.loadtxt(
        path, delimiter=",", usecols=(0, 1),
        converters={0: lambda s: s.split(":")[0], 1: lambda s: s.split(":")[0]},
        encoding="utf-8", max_rows=10,
    ).astype(int)
    ev = spark.createDataFrame(
        [(int(r), int(ls)) for r, ls in first10], "run long, luminosityBlock long"
    )
    total = ld.get_lumi(ev)
    assert abs(total - 1.539941814) < 1e-4, total
    # inst-lumi variant scales by the LHC lumisection wall time
    ldi = LumiData.from_csv(spark, path, is_inst_lumi=True)
    ti = ldi.get_lumi(ev)
    assert abs(ti - total * LumiData.SECONDS_PER_LUMI_LHC) < 1e-9

    # the 24v2-era file parses through the same recipe
    ld2 = LumiData.from_csv(spark, sample("small_lumi.csv"))
    assert ld2.table.count() > 0


@pytest.mark.samples
def test_lumimask_real_golden_json(spark):
    """LumiMask from the real 2017 certification JSON: the reference's
    pinned cases — (303825, 115) accepted, (123, 123) rejected
    (tests/test_lumi_tools.py:63-100) — via BOTH spellings."""
    import pyspark.sql.functions as F

    from coffea_spark.lumi import LumiMask

    mask = LumiMask.from_json(
        sample("Cert_294927-306462_13TeV_EOY2017ReReco_Collisions17_JSON.txt")
    )
    assert len(mask.ranges) > 100
    ev = spark.createDataFrame(
        [(303825, 115), (123, 123)], "run long, luminosityBlock long"
    )
    kept = ev.filter(mask.mask(F.col("run"), F.col("luminosityBlock"))).collect()
    assert [(r.run, r.luminosityBlock) for r in kept] == [(303825, 115)]
    kept2 = mask.apply_join(ev).collect()
    assert [(r.run, r.luminosityBlock) for r in kept2] == [(303825, 115)]
