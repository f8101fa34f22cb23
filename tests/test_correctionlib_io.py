"""correctionlib schema-v2 evaluator (reference consumes these payloads
through the correctionlib package, jetmet_tools/correctionlib_adapters.py
+ tests/test_lookup_tools.py::test_correctionlib; here the JSON compiles
to Catalyst expressions)."""

import gzip
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from coffea_spark.correctionlib_io import CorrectionSet

from coffea_spark.testing import SAMPLES

pytestmark = pytest.mark.samples


def test_multibinning_reference_parity(spark):
    """Same oracle as the reference's test_correctionlib: the seed-42
    dummy kinematics through the correctionlib SF2d payload must
    reproduce the reference's hard-coded expected scale factors."""
    from tests.test_root_reader import _TESTSF2D_EXPECTED

    np.random.seed(42)
    counts = np.random.exponential(2, size=50).astype(int)
    entries = int(counts.sum())
    eta = np.random.uniform(-3.0, 3.0, size=entries)
    pt = np.random.exponential(10.0, size=entries) + np.random.exponential(
        10, size=entries
    )
    cs = CorrectionSet.from_file(f"{SAMPLES}/testSF2d.corr.json.gz")
    sf = cs["scalefactors_Tight_Electron"]
    assert sf.inputs == ["axis0", "axis1"]
    df = spark.createDataFrame(
        [(i, float(e), float(p)) for i, (e, p) in enumerate(zip(eta, pt))],
        "i long, eta double, pt double",
    )
    rows = (
        df.select("i", sf(F.col("eta"), F.col("pt")).alias("sf"))
        .orderBy("i")
        .collect()
    )
    got = np.array([r["sf"] for r in rows])
    assert got == pytest.approx(_TESTSF2D_EXPECTED, abs=1e-6)


def test_extractor_corr_json(spark):
    """The reference loads correctionlib payloads through the extractor
    ('* * file') — ours must too."""
    from coffea_spark.lookup import Extractor

    ex = Extractor()
    ex.add_weight_set(f"* * {SAMPLES}/testSF2d.corr.json.gz")
    ex.finalize()
    ev = ex.make_evaluator()
    assert "scalefactors_Tight_Electron" in ev
    got = (
        spark.range(1)
        .select(ev["scalefactors_Tight_Electron"](F.lit(0.0), F.lit(40.0)).alias("v"))
        .first()["v"]
    )
    # independent numpy evaluation of the same payload
    doc = json.load(gzip.open(f"{SAMPLES}/testSF2d.corr.json.gz", "rt"))
    node = doc["corrections"][0]["data"]
    e0, e1 = [np.asarray(e) for e in node["edges"]]
    i0 = np.searchsorted(e0, 0.0, "right") - 1
    i1 = np.searchsorted(e1, 40.0, "right") - 1
    expect = node["content"][i0 * (len(e1) - 1) + i1]
    assert got == pytest.approx(expect)


def test_jerc_formulas_and_compound(spark):
    """jet_jerc.json.gz: per-level formula corrections, a category node
    with systematic keys, and the compound L1L2L3Res chain (inputs_update
    on JetPt with input_op '*') — compared against an independent numpy
    evaluation of the same JSON."""
    cs = CorrectionSet.from_file(f"{SAMPLES}/jet_jerc.json.gz")
    names = cs.keys()
    compound = [n for n in names if "L1L2L3Res" in n][0]
    cc = cs[compound]
    assert cc.inputs == ["JetA", "JetEta", "JetPt", "Rho"]

    area, eta, pt, rho = 0.5, 1.2, 50.0, 20.0
    df = spark.range(1).select(
        F.lit(area).alias("a"), F.lit(eta).alias("e"),
        F.lit(pt).alias("p"), F.lit(rho).alias("r"),
    )
    got = df.select(
        cc(F.col("a"), F.col("e"), F.col("p"), F.col("r")).alias("v")
    ).first()["v"]
    # all four levels are (1.0 + 0.01*JetA) in this fixture; pt updates
    # don't feed back into the formulas, so total = step**4
    step = 1.0 + 0.01 * area
    assert got == pytest.approx(step ** 4)

    # category node: scale factors keyed by systematic string
    sfname = [n for n in names if "ScaleFactor" in n][0]
    sf = cs[sfname]
    assert sf.inputs == ["JetEta", "systematic"]
    vals = {
        syst: spark.range(1)
        .select(sf(F.lit(eta), F.lit(syst)).alias("v"))
        .first()["v"]
        for syst in ("nom", "up", "down")
    }
    assert vals["down"] <= vals["nom"] <= vals["up"]

    # unknown correction name errors clearly
    with pytest.raises(KeyError):
        cs["nope"]


def test_flow_behaviors(spark):
    cs = CorrectionSet.from_file(f"{SAMPLES}/testSF2d.corr.json.gz")
    sf = cs["scalefactors_Tight_Electron"]
    # flow=clamp: out-of-range coordinates land in the edge bins
    lo = spark.range(1).select(sf(F.lit(-99.0), F.lit(40.0)).alias("v")).first()["v"]
    hi = spark.range(1).select(sf(F.lit(99.0), F.lit(40.0)).alias("v")).first()["v"]
    in_lo = spark.range(1).select(sf(F.lit(-2.49), F.lit(40.0)).alias("v")).first()["v"]
    in_hi = spark.range(1).select(sf(F.lit(2.49), F.lit(40.0)).alias("v")).first()["v"]
    assert lo == pytest.approx(in_lo) and hi == pytest.approx(in_hi)


def test_as_jec_level_in_factory(spark):
    """correctionlib correction driving the CorrectedJetsFactory chain
    (reference correctionlib_adapters.py usage)."""
    from coffea_spark.corrections import CorrectedJetsFactory, FactorizedJetCorrector
    from coffea_spark.correctionlib_io import as_jec_level
    from pyspark.sql import Row

    cs = CorrectionSet.from_file(f"{SAMPLES}/jet_jerc.json.gz")
    flavor = [n for n in cs.keys() if "FlavorQCD" in n][0]
    level = as_jec_level(cs[flavor])  # inputs: JetEta, JetPt only
    corr = FactorizedJetCorrector([level])
    factory = CorrectedJetsFactory(corr)
    df = spark.createDataFrame(
        [Row(Jet=[
            Row(pt=100.0, mass=10.0, eta=1.0, phi=0.0, rawFactor=0.0),
            Row(pt=50.0, mass=5.0, eta=-2.0, phi=1.0, rawFactor=0.1),
        ])]
    )
    built = df.select(factory.build(F.col("Jet")).alias("j")).first()["j"]
    # this fixture's FlavorQCD correction is the constant formula 0.02
    assert built[0]["pt"] == pytest.approx(100.0 * 0.02)
    assert built[1]["pt"] == pytest.approx(50.0 * 0.9 * 0.02)
    # unbound extra input errors clearly
    compound = cs[[n for n in cs.keys() if "L1L2L3Res" in n][0]]
    with pytest.raises(Exception, match="not bound"):
        as_jec_level(compound)(F.lit(1.0), F.lit(2.0))


def _scale_spec(name, factor):
    """Minimal correction: out = factor * x."""
    return {
        "name": name,
        "version": 1,
        "inputs": [{"name": "x", "type": "real"}],
        "output": {"name": "out", "type": "real"},
        "data": {
            "nodetype": "formula",
            "expression": f"{factor}*x",
            "parser": "TFormula",
            "variables": ["x"],
        },
    }


def _compound_doc(input_op, output_op):
    return {
        "schema_version": 2,
        "corrections": [_scale_spec("double", 2.0), _scale_spec("triple", 3.0)],
        "compound_corrections": [
            {
                "name": "stack",
                "inputs": [{"name": "x", "type": "real"}],
                "output": {"name": "out", "type": "real"},
                "inputs_update": ["x"],
                "input_op": input_op,
                "output_op": output_op,
                "stack": ["double", "triple"],
            }
        ],
    }


@pytest.mark.parametrize(
    "input_op,output_op,expected",
    [
        # x=5: step1=2*5=10; '*' update x=5*10=50; step2=3*50=150
        ("*", "*", 10.0 * 150.0),
        ("*", "+", 10.0 + 150.0),
        ("*", "/", 10.0 / 150.0),
        ("*", "last", 150.0),
        # '+' update: x=5+10=15; step2=45
        ("+", "*", 10.0 * 45.0),
        # '/' update: x=5/10=0.5; step2=1.5
        ("/", "+", 10.0 + 1.5),
    ],
)
def test_compound_all_ops(spark, input_op, output_op, expected):
    """CompoundCorrection honors every schema-v2 input_op/output_op —
    '+', '/', and 'last' payloads must not silently evaluate as 'last'
    or '+' (round-4 advice)."""
    cs = CorrectionSet(_compound_doc(input_op, output_op))
    cc = cs["stack"]
    df = spark.range(1).select(F.lit(5.0).alias("x"))
    got = df.select(cc(F.col("x")).alias("v")).first()["v"]
    assert got == pytest.approx(expected)


def test_compound_bad_ops_raise():
    from coffea_spark.correctionlib_io import CorrectionError

    with pytest.raises(CorrectionError, match="input_op"):
        CorrectionSet(_compound_doc("-", "*"))
    with pytest.raises(CorrectionError, match="output_op"):
        CorrectionSet(_compound_doc("*", "pow"))
