"""Correction-file readers vs an independent numpy evaluation.

Real CMS-format sample files from the reference's test suite are parsed
when present (format parity with lookup_tools/txt_converters.py +
btag_tools/btagscalefactor.py); synthetic inline files cover the parser
unconditionally. The Spark column-expression evaluation is compared
against a straight numpy reimplementation sharing only the parsed table.
"""

import gzip
import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from coffea_spark.correction_files import (
    read_btag_csv,
    read_jec_txt,
    read_jersf_txt,
    read_junc_txt,
)
from coffea_spark.lookup import extractor
from coffea_spark.testing import SAMPLES

_NP_ENV = {
    "greatest": np.maximum,
    "least": np.minimum,
    "log": np.log,
    "log10": np.log10,
    "exp": np.exp,
    "sqrt": np.sqrt,
    "abs": np.abs,
    "pow": np.power,
    "sin": np.sin,
    "cos": np.cos,
    "tan": np.tan,
    "atan": np.arctan,
}


def _np_row_index(table, binned_vals):
    """Independent numpy walk of the nested jagged bin tree."""
    row = int(np.clip(np.searchsorted(table.edges, binned_vals[0], side="right") - 1,
                      0, len(table.edges) - 2))
    for (flat, eoff, ecnt, coff), v in zip(table.levels, binned_vals[1:]):
        se = flat[int(eoff[row]): int(eoff[row]) + int(ecnt[row])]
        si = int(np.clip(np.searchsorted(se, v, side="right") - 1, 0, len(se) - 2))
        row = int(coff[row]) + si
    return row


def _np_jec(table, eta, pt, rho=None):
    """Independent numpy evaluation of a parsed JECTable."""
    out = np.empty_like(np.asarray(eta, dtype=float))
    for j in range(len(out)):
        ev = {"JetPt": pt[j], "JetEta": eta[j]}
        if rho is not None:
            ev["Rho"] = rho[j]
        row = _np_row_index(table, [ev[v] for v in table.binned_vars])
        env = dict(_NP_ENV)
        for k in range(table.params.shape[0]):
            env[f"p{k}"] = table.params[k][row]
        for vi, v in enumerate(table.eval_vars):
            x = np.clip(ev[v], table.clamp_lo[vi][row], table.clamp_hi[vi][row])
            env["xyztws"[vi]] = x
        out[j] = eval(table.formula, {"__builtins__": {}}, env)
    return out


def _np_junc(table, eta, pt):
    ups, downs = [], []
    for e, p in zip(eta, pt):
        i = np.clip(np.searchsorted(table.edges, e, side="right") - 1,
                    0, len(table.edges) - 2)
        pc = np.clip(p, table.knots[0], table.knots[-1])
        k = np.clip(np.searchsorted(table.knots, pc, side="right") - 1,
                    0, len(table.knots) - 2)
        t = (pc - table.knots[k]) / (table.knots[k + 1] - table.knots[k])
        ups.append(1.0 + table.ups[i][k] + t * (table.ups[i][k + 1] - table.ups[i][k]))
        downs.append(1.0 - (table.downs[i][k] + t * (table.downs[i][k + 1] - table.downs[i][k])))
    return np.array(ups), np.array(downs)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(7)
    eta = rng.uniform(-5.3, 5.3, 60)
    pt = np.exp(rng.uniform(np.log(5.0), np.log(4000.0), 60))
    df = spark.createDataFrame(
        [(float(e), float(p)) for e, p in zip(eta, pt)], "eta double, pt double"
    )
    return df, eta, pt


# ---------------------------------------------------------------------------
# synthetic files (always run)
# ---------------------------------------------------------------------------

JEC_1D = """{1 JetEta 1 JetPt max(0.5,[0]+[1]*log10(x)) Correction Demo}
-2.0 0.0 4 10.0 1000.0 1.10 -0.02
 0.0 2.0 4 10.0 2000.0 0.95  0.03
"""

JUNC = """{1 JetEta 1 JetPt "" Correction Uncertainty}
-2.0 0.0 9 10.0 0.05 0.04 100.0 0.03 0.02 1000.0 0.02 0.01
 0.0 2.0 9 10.0 0.06 0.05 100.0 0.02 0.03 1000.0 0.01 0.02
"""

BTAG_CSV = """CSVv2;OperatingPoint, measurementType, sysType, jetFlavor, etaMin, etaMax, ptMin, ptMax, discrMin, discrMax, formula
1, comb, central, 0, -2.4, 2.4, 20, 1000, 0, 1, "0.9*((1.+(0.03*x))/(1.+(0.04*x)))"
1, comb, central, 1, -2.4, 2.4, 20, 1000, 0, 1, "0.85+0.001*x"
1, incl, central, 2, -2.4, 2.4, 20, 1000, 0, 1, "1.05-0.0002*x"
1, comb, up, 0, -2.4, 2.4, 20, 1000, 0, 1, "0.95*((1.+(0.03*x))/(1.+(0.04*x)))"
"""


def test_jec_1d_synthetic(spark, points, tmp_path):
    p = tmp_path / "Demo.jec.txt"
    p.write_text(JEC_1D)
    table = read_jec_txt(str(p))
    df, eta, pt = points
    got = np.array([r.v for r in df.select(table(F.col("eta"), F.col("pt")).alias("v")).collect()])
    want = _np_jec(table, eta, pt)
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_junc_synthetic(spark, points, tmp_path):
    p = tmp_path / "Demo.junc.txt"
    p.write_text(JUNC)
    table = extractor(str(p))["Demo"]
    df, eta, pt = points
    rows = df.select(table(F.col("eta"), F.col("pt")).alias("u")).collect()
    got_up = np.array([r.u.up for r in rows])
    got_dn = np.array([r.u.down for r in rows])
    want_up, want_dn = _np_junc(table, eta, pt)
    np.testing.assert_allclose(got_up, want_up, rtol=1e-12)
    np.testing.assert_allclose(got_dn, want_dn, rtol=1e-12)
    # interpolation sanity: inside the table, up is between its knot values
    assert (got_up >= 1.0).all() and (got_dn <= 1.0).all()


def test_btag_csv_synthetic(spark, points, tmp_path):
    p = tmp_path / "demo.btag.csv"
    p.write_text(BTAG_CSV)
    table = read_btag_csv(str(p))
    assert table.discriminator == "CSVv2"
    df, eta, pt = points
    df = df.withColumn("flav", F.lit(5))  # all b jets
    out = df.select(
        "pt", "eta",
        table.sf(F.col("flav"), F.abs("eta"), F.col("pt")).alias("sf"),
        table.sf(F.col("flav"), F.abs("eta"), F.col("pt"), systematic="up").alias("sf_up"),
    ).collect()
    for r in out:
        x = min(max(r.pt, 20.0), 1000.0)
        if 20 <= r.pt < 1000 and abs(r.eta) < 2.4:
            want = 0.9 * ((1.0 + 0.03 * x) / (1.0 + 0.04 * x))
            assert r.sf == pytest.approx(want, rel=1e-12)
            assert r.sf_up == pytest.approx(want / 0.9 * 0.95, rel=1e-12)
        else:
            assert r.sf is None  # outside the (pt, eta) rows -> no match

    # light jets use the incl method
    light = df.withColumn("flav", F.lit(0))
    r0 = light.select(table.sf(F.col("flav"), F.abs("eta"), F.lit(100.0)).alias("s")).first()
    assert r0.s == pytest.approx(1.05 - 0.0002 * 100.0, rel=1e-12)


def test_btag_ul_format_rejected(tmp_path):
    p = tmp_path / "ul.btag.csv"
    p.write_text(
        "deepJet;OperatingPoint, measurementType, sysType, jetFlavor, etaMin, etaMax, ptMin, ptMax, discrMin, discrMax, formula\n"
        'M, comb, central, 0, -2.4, 2.4, 20, 1000, 0, 1, "1.0"\n'
    )
    with pytest.raises(ValueError, match="UL"):
        read_btag_csv(str(p))


# ---------------------------------------------------------------------------
# real reference sample files (format parity; skipped when absent)
# ---------------------------------------------------------------------------

@pytest.mark.samples
def test_jec_2d_real_file(spark, points):
    table = read_jec_txt(f"{SAMPLES}/Fall17_17Nov2017_V32_MC_L2Relative_AK4PFPuppi.jec.txt")
    assert table.signature == ["JetEta", "JetPt"]
    df, eta, pt = points
    got = np.array([r.v for r in df.select(table(F.col("eta"), F.col("pt")).alias("v")).collect()])
    want = _np_jec(table, eta, pt)
    np.testing.assert_allclose(got, want, rtol=1e-9)
    assert np.isfinite(got).all() and (got > 0).all()


@pytest.mark.samples
def test_junc_real_file(spark, points):
    tables = read_junc_txt(f"{SAMPLES}/Fall17_17Nov2017_V32_MC_Uncertainty_AK4PFPuppi.junc.txt")
    (table,) = tables.values()
    df, eta, pt = points
    rows = df.select(table(F.col("eta"), F.col("pt")).alias("u")).collect()
    got_up = np.array([r.u.up for r in rows])
    got_dn = np.array([r.u.down for r in rows])
    want_up, want_dn = _np_junc(table, eta, pt)
    np.testing.assert_allclose(got_up, want_up, rtol=1e-9)
    np.testing.assert_allclose(got_dn, want_dn, rtol=1e-9)


@pytest.mark.samples
def test_junc_multi_component(spark):
    tables = read_junc_txt(
        f"{SAMPLES}/Regrouped_Fall17_17Nov2017_V32_MC_UncertaintySources_AK4PFchs.junc.txt"
    )
    assert {"FlavorQCD", "RelativeBal", "Absolute"} <= set(tables)


@pytest.mark.samples
def test_ea_real_file(spark, points):
    """photon_id.ea.txt: one 1-D DenseLookup per value column, named
    stem_col (reference txt_converters.py:442-534 +
    tests/test_lookup_tools.py:366-386)."""
    from coffea_spark.correction_files import read_ea_txt

    lookups = read_ea_txt(f"{SAMPLES}/photon_id.ea.txt")
    assert sorted(lookups) == [
        "photon_id_EA_CHad", "photon_id_EA_NHad", "photon_id_EA_Pho"
    ]
    # hand-checked rows straight from the file
    ch = lookups["photon_id_EA_CHad"]
    np.testing.assert_allclose(ch.bins[0][:3], [0.0, 1.0, 1.479])
    assert ch.values[0] == pytest.approx(0.0360)
    assert lookups["photon_id_EA_NHad"].values[-1] == pytest.approx(0.0591)
    # Spark evaluation == clamped searchsorted, including |eta| > 2.5
    df, eta, pt = points
    lk = lookups["photon_id_EA_Pho"]
    got = np.array(
        [r.v for r in df.select(lk(F.abs(F.col("eta"))).alias("v")).collect()]
    )
    edges = lk.bins[0]
    idx = np.clip(
        np.searchsorted(edges, np.abs(eta), side="right") - 1, 0, len(edges) - 2
    )
    np.testing.assert_allclose(got, lk.values[idx], rtol=0)


@pytest.mark.samples
def test_l5flavor_sections_real_file(spark, points):
    """Sectioned [flavor] JEC file -> one standard JECTable per section,
    named stem_flavor (reference convert_l5flavor_jes_txt_file,
    txt_converters.py:307-347)."""
    from coffea_spark.correction_files import read_jec_txt_sections

    secs = read_jec_txt_sections(f"{SAMPLES}/Winter14_V8_MC_L5Flavor_AK5Calo.txt")
    comps = {"aJ", "bJ", "cJ", "gJ", "qJ", "sJ", "udJ", "udsJ"}
    assert set(secs) == {f"Winter14_V8_MC_L5Flavor_AK5Calo_{c}" for c in comps}
    df, eta, pt = points
    for comp in ("gJ", "bJ"):
        table = secs[f"Winter14_V8_MC_L5Flavor_AK5Calo_{comp}"]
        assert table.signature == ["JetEta", "JetPt"]
        got = np.array(
            [r.v for r in
             df.select(table(F.col("eta"), F.col("pt")).alias("v")).collect()]
        )
        want = _np_jec(table, eta, pt)
        np.testing.assert_allclose(got, want, rtol=1e-9)
        assert np.isfinite(got).all()


@pytest.mark.samples
def test_extractor_ea_and_sectioned_dispatch():
    assert "photon_id_EA_CHad" in extractor(f"{SAMPLES}/photon_id.ea.txt")
    assert "Winter14_V8_MC_L5Flavor_AK5Calo_gJ" in extractor(
        f"{SAMPLES}/Winter14_V8_MC_L5Flavor_AK5Calo.txt"
    )


@pytest.mark.samples
def test_jersf_real_file(spark):
    table = read_jersf_txt(f"{SAMPLES}/Autumn18_V7b_DATA_SF_AK4PF.jersf.txt")
    assert len(table.edges) == 2
    np.testing.assert_allclose(table.central, [1.0])


@pytest.mark.samples
def test_btag_real_file(spark):
    table = read_btag_csv(f"{SAMPLES}/DeepCSV_102XSF_V1.btag.csv.gz")
    assert table.discriminator == "DeepCSV"
    assert len(table.rows) > 1000
    # evaluate medium-wp central b-jet SF at a plausible point
    sdf = spark.createDataFrame([(5, 1.0, 60.0)], "flav int, abseta double, pt double")
    r = sdf.select(
        table.sf(F.col("flav"), F.col("abseta"), F.col("pt"),
                 working_point="medium", methods="comb,comb,incl").alias("s")
    ).first()
    assert r.s is not None and 0.5 < r.s < 1.5


def test_extractor_dispatch(tmp_path):
    (tmp_path / "a.jec.txt").write_text(JEC_1D)
    (tmp_path / "b.junc.txt").write_text(JUNC)
    (tmp_path / "c.btag.csv").write_text(BTAG_CSV)
    assert "a" in extractor(str(tmp_path / "a.jec.txt"))
    assert "b" in extractor(str(tmp_path / "b.junc.txt"))
    assert "c" in extractor(str(tmp_path / "c.btag.csv"))


# ---------------------------------------------------------------------------
# N-D binned tables (nested jagged grid)
# ---------------------------------------------------------------------------

JERSF_2D = """{2 JetEta Rho 1 JetPt "" Resolution}
-2.0 0.0  0.0 20.0 5 10.0 5000.0 1.10 1.05 1.15
-2.0 0.0 20.0 40.0 5 10.0 5000.0 1.20 1.10 1.30
 0.0 2.0  0.0 15.0 5 10.0 5000.0 1.05 1.00 1.10
 0.0 2.0 15.0 30.0 5 10.0 5000.0 1.08 1.02 1.14
 0.0 2.0 30.0 45.0 5 10.0 5000.0 1.12 1.04 1.20
"""

JUNC_2D = """{2 JetEta Rho 1 JetPt "" Uncertainty}
-2.0 0.0  0.0 20.0 9 10.0 0.05 0.04 100.0 0.03 0.02 1000.0 0.02 0.01
-2.0 0.0 20.0 40.0 9 10.0 0.06 0.05 100.0 0.02 0.03 1000.0 0.01 0.02
 0.0 2.0  0.0 30.0 9 10.0 0.07 0.06 100.0 0.04 0.03 1000.0 0.03 0.02
 0.0 2.0 30.0 60.0 9 10.0 0.08 0.07 100.0 0.05 0.04 1000.0 0.04 0.03
"""


def test_jec_3d_nested(spark, tmp_path):
    """3-D (eta x rho x jagged pt) JEC vs an independent numpy walk."""
    table = read_jec_txt(
        "/root/repo/coffea_spark/data/demo3d.jec.txt"
    )
    assert table.binned_vars == ["JetEta", "Rho", "JetPt"]
    rng = np.random.default_rng(11)
    eta = rng.uniform(-3.5, 3.5, 80)
    rho = rng.uniform(-2.0, 50.0, 80)  # includes out-of-range clamping
    pt = np.exp(rng.uniform(np.log(5.0), np.log(6000.0), 80))
    df = spark.createDataFrame(
        [(float(e), float(r), float(p)) for e, r, p in zip(eta, rho, pt)],
        "eta double, rho double, pt double",
    )
    got = np.array([
        r.v for r in df.select(
            table(F.col("eta"), F.col("rho"), F.col("pt")).alias("v")
        ).collect()
    ])
    want = _np_jec(table, eta, pt, rho=rho)
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_jersf_2d_nested(spark, tmp_path):
    p = tmp_path / "Demo2D.jersf.txt"
    p.write_text(JERSF_2D)
    table = read_jersf_txt(str(p))
    assert len(table.levels) == 1
    pts = [(-1.0, 5.0), (-1.0, 25.0), (1.0, 10.0), (1.0, 20.0), (1.0, 40.0),
           (-5.0, 100.0), (5.0, -3.0)]  # last two clamp
    df = spark.createDataFrame([(float(a), float(b)) for a, b in pts],
                               "eta double, rho double")
    got = df.select(table(F.col("eta"), F.col("rho")).alias("s")).collect()
    # expected rows via the numpy tree walk
    for (e, r), row in zip(pts, got):
        i = _np_row_index(table, [e, r])
        assert row.s.central == table.central[i]
        assert row.s.down == table.down[i]
        assert row.s.up == table.up[i]


def test_junc_2d_nested(spark, tmp_path):
    p = tmp_path / "Demo2D.junc.txt"
    p.write_text(JUNC_2D)
    (table,) = extractor(str(p)).values()
    assert len(table.levels) == 1
    pts = [(-1.0, 10.0, 50.0), (-1.0, 30.0, 500.0), (1.0, 10.0, 9.0), (1.0, 50.0, 2000.0)]
    df = spark.createDataFrame([tuple(map(float, t)) for t in pts],
                               "eta double, rho double, pt double")
    got = df.select(table(F.col("eta"), F.col("rho"), F.col("pt")).alias("s")).collect()
    for (e, r, ptv), row in zip(pts, got):
        i = _np_row_index(table, [e, r])
        pc = np.clip(ptv, table.knots[0], table.knots[-1])
        k = int(np.clip(np.searchsorted(table.knots, pc, side="right") - 1,
                        0, len(table.knots) - 2))
        t = (pc - table.knots[k]) / (table.knots[k + 1] - table.knots[k])
        up = 1.0 + table.ups[i][k] + t * (table.ups[i][k + 1] - table.ups[i][k])
        dn = 1.0 - (table.downs[i][k] + t * (table.downs[i][k + 1] - table.downs[i][k]))
        assert abs(row.s.up - up) < 1e-12 and abs(row.s.down - dn) < 1e-12


# ---------------------------------------------------------------------------
# histogram converters, mapped lookup, double crystal ball, Extractor
# ---------------------------------------------------------------------------

def test_histo_json_demo(spark):
    from coffea_spark.correction_files import read_histo_json

    t = read_histo_json("/root/repo/coffea_spark/data/demo.histo.json")
    lk = t["DEMO/abseta_pt_ratio"]
    err = t["DEMO/abseta_pt_ratio_error"]
    df = spark.createDataFrame(
        [(0.5, 26.0), (1.0, 28.0), (2.0, 100.0), (0.1, 5.0)],
        "abseta double, pt double",
    )
    got = df.select(lk(F.col("abseta"), F.col("pt")).alias("v"),
                    err(F.col("abseta"), F.col("pt")).alias("e")).collect()
    assert [r.v for r in got] == [0.903, 0.886, 0.910, 0.903]  # clamp both axes
    assert [r.e for r in got] == [0.051, 0.040, 0.035, 0.051]


@pytest.mark.samples
def test_histo_json_reference_fixture(spark):
    from coffea_spark.correction_files import read_histo_json

    t = read_histo_json(f"{SAMPLES}/EIDISO_WH_out.histo.json")
    lk = t["EIDISO_WH/eta_pt_ratio"]
    assert lk.values.shape == (12, 7)
    # spot value: first eta/pt bin must equal the raw json leaf
    import json
    doc = json.load(open(f"{SAMPLES}/EIDISO_WH_out.histo.json"))
    first_eta = next(iter(doc["EIDISO_WH"]["eta_pt_ratio"].values()))
    first_val = next(iter(first_eta.values()))["value"]
    # locate bin of the smallest eta/pt edges
    assert lk.values[0][0] == first_val or first_val in lk.values


def test_histo_npz_roundtrip(spark, tmp_path):
    from coffea_spark.correction_files import read_histo_npz

    rng = np.random.default_rng(3)
    vals = rng.uniform(0.8, 1.2, (3, 4))
    var = rng.uniform(0.0, 0.01, (3, 4))
    e0 = np.array([0.0, 1.0, 2.0, 3.0])
    e1 = np.array([10.0, 20.0, 30.0, 40.0, 50.0])
    p = tmp_path / "sf2d.histo.npz"
    np.savez(p, sf2d__values=vals, sf2d__variances=var,
             sf2d__edges0=e0, sf2d__edges1=e1)
    t = read_histo_npz(str(p))
    assert set(t) == {"sf2d", "sf2d_error"}
    df = spark.createDataFrame([(0.5, 15.0), (2.5, 45.0)], "x double, y double")
    got = df.select(t["sf2d"](F.col("x"), F.col("y")).alias("v"),
                    t["sf2d_error"](F.col("x"), F.col("y")).alias("e")).collect()
    assert got[0].v == vals[0][0] and got[1].v == vals[2][3]
    assert abs(got[0].e - np.sqrt(var[0][0])) < 1e-12


def test_dense_mapped_lookup(spark):
    from coffea_spark.lookup import DenseMappedLookup

    axes = [np.array([0.0, 1.0, 2.0]), np.array([0.0, 10.0, 20.0])]
    mapping = np.array([[0, 1], [2, -1]])
    formulas = ["1.0 + 0.1*x", "2.0", "sqrt(x)"]
    df = spark.createDataFrame(
        [(0.5, 5.0), (0.5, 15.0), (1.5, 5.0), (1.5, 15.0), (0.5, -5.0), (0.5, 99.0)],
        "a double, b double",
    )
    # a Fortran-ordered mapping must index by logical cell, not memory stride
    for m in (mapping, np.asfortranarray(mapping)):
        lut = DenseMappedLookup(axes, m, formulas, feval_dim=1)
        got = [r.v for r in df.select(lut(F.col("a"), F.col("b")).alias("v")).collect()]
        assert got[0] == pytest.approx(1.0 + 0.1 * 5.0)
        assert got[1] == 2.0
        assert got[2] == pytest.approx(np.sqrt(5.0))
        assert got[3] is None           # mapping -1 -> no correction
        assert got[4] == pytest.approx(1.0)  # bin clamps low, x clamps to axis start
        assert got[5] == 2.0                 # bin clamps high into the constant row


def test_doublecrystalball(spark):
    from coffea_spark.lookup import doublecrystalball_cdf, doublecrystalball_pdf

    betaL, betaH, mL, mH = 1.2, 2.0, 2.5, 3.0
    xs = np.linspace(-6.0, 6.0, 241)
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    rows = df.select(
        "x",
        doublecrystalball_pdf(F.col("x"), betaL, betaH, mL, mH).alias("p"),
        doublecrystalball_cdf(F.col("x"), betaL, betaH, mL, mH).alias("c"),
    ).orderBy("x").collect()
    p = np.array([r.p for r in rows]); c = np.array([r.c for r in rows])
    assert (p > 0).all() and (np.diff(c) >= -1e-12).all()
    assert c[0] < 0.05 and c[-1] > 0.95  # heavy power-law tails hold a few %
    # cdf' == pdf (trapezoid integration of pdf matches cdf increments)
    integ = np.cumsum((p[1:] + p[:-1]) / 2 * np.diff(xs)) + c[0]
    np.testing.assert_allclose(integ, c[1:], atol=2e-4)
    # continuity at the matching points
    for edge in (-betaL, betaH):
        near = df.sparkSession.createDataFrame(
            [(edge - 1e-9,), (edge + 1e-9,)], "x double")
        v = [r.p for r in near.select(
            doublecrystalball_pdf(F.col("x"), betaL, betaH, mL, mH).alias("p")
        ).collect()]
        assert abs(v[0] - v[1]) < 1e-6


def test_extractor_registry(spark, tmp_path):
    from coffea_spark.lookup import Extractor

    (tmp_path / "a.json").write_text(
        '{"corrections": [{"name": "flat", "type": "dense",'
        ' "bins": [0.0, 1.0, 2.0], "values": [1.5, 2.5]}]}'
    )
    ex = Extractor()
    ex.add_weight_sets([
        f"myflat flat {tmp_path}/a.json",
        f"demo_* * /root/repo/coffea_spark/data/demo.histo.json",
    ])
    ex.finalize()
    ev = ex.make_evaluator()
    assert "myflat" in ev and "demo_DEMO/abseta_pt_ratio" in ev
    df = spark.createDataFrame([(0.5,), (1.5,)], "x double")
    got = [r.v for r in df.select(ev["myflat"](F.col("x")).alias("v")).collect()]
    assert got == [1.5, 2.5]
    # error paths
    with pytest.raises(RuntimeError):
        ex.finalize()
    with pytest.raises(RuntimeError):
        ex.add_weight_set("x y z")
    ex2 = Extractor()
    ex2.add_weight_set(f"missing nope {tmp_path}/a.json")
    with pytest.raises(KeyError):
        ex2.finalize()
