"""Rochester scale + pileup weight vs independent numpy evaluation
(reference semantics: rochester_lookup.py:88-171)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from coffea_spark.muon_corrections import PileupWeight, RochesterCorrection
from coffea_spark.testing import SAMPLES


@pytest.fixture(scope="module")
def roc():
    return RochesterCorrection.from_tables(
        eta_edges=[-3.0, 0.0, 3.0],
        phi_edges=[-3.2, 0.0, 3.2],
        M_mc=[[0.99, 1.01], [1.02, 0.98]],
        M_data=[[1.01, 1.02], [1.03, 1.04]],
        A_mc=[[0.0005, -0.0005], [0.0015, -0.0015]],
        A_data=[[0.001, -0.001], [0.002, -0.002]],
        res_eta_edges=[0.0, 1.5, 3.0],
        k_res_mc=[1.0, 1.1],
        k_res_data=[1.05, 1.2],
    )


def test_k_scale_and_spread(spark, roc):
    rng = np.random.default_rng(3)
    rows = [
        (int(q), float(pt), float(eta), float(phi), float(gpt))
        for q, pt, eta, phi, gpt in zip(
            rng.choice([-1, 1], 50),
            rng.uniform(5, 100, 50),
            rng.uniform(-3, 3, 50),
            rng.uniform(-3.2, 3.2, 50),
            rng.uniform(5, 100, 50),
        )
    ]
    df = spark.createDataFrame(rows, "q int, pt double, eta double, phi double, genpt double")
    got = df.select(
        roc.k_scale_dt(F.col("q"), F.col("pt"), F.col("eta"), F.col("phi")).alias("kdt"),
        roc.k_spread_mc(
            F.col("q"), F.col("pt"), F.col("eta"), F.col("phi"), F.col("genpt")
        ).alias("ks"),
    ).collect()

    M_dt = np.array([[1.01, 1.02], [1.03, 1.04]])
    A_dt = np.array([[0.001, -0.001], [0.002, -0.002]])
    M_mc = np.array([[0.99, 1.01], [1.02, 0.98]])
    A_mc = np.array([[0.0005, -0.0005], [0.0015, -0.0015]])
    for (q, pt, eta, phi, gpt), r in zip(rows, got):
        i, j = int(eta >= 0), int(phi >= 0)
        want_dt = 1.0 / (M_dt[i][j] + q * A_dt[i][j] * pt)
        assert r.kdt == pytest.approx(want_dt, rel=1e-12)
        k = 1.0 / (M_mc[i][j] + q * A_mc[i][j] * pt)
        kd, km = (1.05, 1.0) if abs(eta) < 1.5 else (1.2, 1.1)
        x = gpt / (k * pt)
        want_ks = k * (x / (1.0 + (x - 1.0) * kd / km))
        assert r.ks == pytest.approx(want_ks, rel=1e-12)


def test_pileup_weight(spark):
    pu = PileupWeight([2, 4, 8, 2], [4, 4, 4, 4], [0.0, 5.0, 10.0, 15.0, 20.0])
    df = spark.createDataFrame([(i,) for i in range(25)], "n int")
    got = {r.n: r.w for r in df.select("n", pu(F.col("n")).alias("w")).collect()}
    for n in range(25):
        want = {0: 0.5, 1: 1.0, 2: 2.0, 3: 0.5}[min(n // 5, 3)]  # clamp above 20
        assert got[n] == pytest.approx(want, rel=1e-15)


def test_pileup_shape_mismatch():
    with pytest.raises(ValueError):
        PileupWeight([1, 2], [1, 2, 3], [0, 1, 2, 3])


def test_kspread_needs_res(spark):
    roc = RochesterCorrection.from_tables(
        [-3, 0, 3], [-3.2, 0, 3.2],
        [[1, 1], [1, 1]], [[1, 1], [1, 1]],
        [[0, 0], [0, 0]], [[0, 0], [0, 0]],
    )
    with pytest.raises(ValueError, match="k_res"):
        roc.k_spread_mc(F.lit(1), F.lit(10.0), F.lit(0.5), F.lit(0.1), F.lit(11.0))


@pytest.mark.samples
def test_rochester_official_values(spark):
    """One-to-one agreement with the OFFICIAL C++-derived Rochester
    values the reference pins (tests/test_lookup_tools.py:388-449):
    RoccoR2018.txt.gz parsed natively, kScaleDT/kScaleDTerror over the
    real nano_dimuon muons and kSpreadMC/kSpreadMCerror over the real
    gen-matched nano_dy muons must match the preloaded
    nano_*_rochester*.npy fixtures."""
    from coffea_spark.muon_corrections import read_rochester_txt
    from coffea_spark.root_reader import RootTreeReader

    roc = read_rochester_txt(f"{SAMPLES}/RoccoR2018.txt.gz", loaduncs=True)

    def muon_frame(fname, with_gen=False, rand=None):
        r = RootTreeReader(f"{SAMPLES}/{fname}")
        n = r.array("nMuon").astype(int)
        q = r.array("Muon_charge")
        pt, eta, phi = r.array("Muon_pt"), r.array("Muon_eta"), r.array("Muon_phi")
        nl = r.array("Muon_nTrackerLayers").astype(float)
        rows, k = [], 0
        gidx = r.array("Muon_genPartIdx").astype(int) if with_gen else None
        gpt_all = r.array("GenPart_pt") if with_gen else None
        goff = None
        if with_gen:
            ng = r.array("nGenPart").astype(int)
            goff = np.concatenate([[0], np.cumsum(ng)])[:-1]
        for ev, cnt in enumerate(n):
            for j in range(cnt):
                g = -1.0
                if with_gen and gidx[k] >= 0:
                    g = float(gpt_all[goff[ev] + gidx[k]])
                rows.append((k, int(q[k]), float(pt[k]), float(eta[k]),
                             float(phi[k]), g, float(nl[k]),
                             float(rand[k]) if rand is not None else 0.5))
                k += 1
        return spark.createDataFrame(
            rows,
            "i long, q int, pt double, eta double, phi double, genpt double,"
            " nl double, u double",
        )

    # -- data: kScaleDT + error over nano_dimuon -----------------------
    df = muon_frame("nano_dimuon.root")
    out = df.select(
        "i",
        roc.k_scale_dt(F.col("q"), F.col("pt"), F.col("eta"), F.col("phi")).alias("k"),
        roc.k_scale_dt_error(
            spark, F.col("q"), F.col("pt"), F.col("eta"), F.col("phi")
        ).alias("e"),
    ).orderBy("i").collect()
    got_k = np.array([r.k for r in out])
    got_e = np.array([r.e for r in out])
    want_k = np.load(f"{SAMPLES}/nano_dimuon_rochester.npy")
    want_e = np.load(f"{SAMPLES}/nano_dimuon_rochester_err.npy")
    assert got_k.shape == want_k.shape
    np.testing.assert_allclose(got_k, want_k, rtol=1e-6)
    np.testing.assert_allclose(got_e, want_e, atol=1e-8)

    # -- mc: kSpreadMC (matched) + kSmearMC (unmatched, preloaded
    # uniforms) composed exactly like the reference test -------------
    mc_rand = np.load(f"{SAMPLES}/nano_dy_rochester_rand.npy")
    dfm = muon_frame("nano_dy.root", with_gen=True, rand=mc_rand)
    matched = dfm.where(F.col("genpt") >= 0)
    unmatched = dfm.where(F.col("genpt") < 0)
    outm = matched.select(
        "i",
        roc.k_spread_mc(F.col("q"), F.col("pt"), F.col("eta"), F.col("phi"),
                        F.col("genpt")).alias("k"),
        roc.k_spread_mc_error(
            spark, F.col("q"), F.col("pt"), F.col("eta"), F.col("phi"), F.col("genpt")
        ).alias("e"),
    ).orderBy("i").collect()
    outs = unmatched.select(
        "i",
        roc.k_smear_mc(spark, F.col("q"), F.col("pt"), F.col("eta"),
                       F.col("phi"), F.col("nl"), F.col("u")).alias("k"),
        roc.k_smear_mc_error(
            spark, F.col("q"), F.col("pt"), F.col("eta"), F.col("phi"),
            F.col("nl"), F.col("u")
        ).alias("e"),
    ).orderBy("i").collect()
    want_mk_all = np.load(f"{SAMPLES}/nano_dy_rochester.npy")
    want_me_all = np.load(f"{SAMPLES}/nano_dy_rochester_err.npy")
    got_mk = np.ones_like(want_mk_all)
    got_me = np.ones_like(want_me_all)
    for r in outm:
        got_mk[r.i] = r.k
        got_me[r.i] = r.e
    for r in outs:
        got_mk[r.i] = r.k
        got_me[r.i] = r.e
    np.testing.assert_allclose(got_mk, want_mk_all, rtol=1e-5)
    np.testing.assert_allclose(got_me, want_me_all, atol=1e-8)

    # error path: a member that was never loaded
    with pytest.raises(KeyError):
        roc.correction(0, 1)
    nouncs = read_rochester_txt(f"{SAMPLES}/RoccoR2018.txt.gz", loaduncs=False)
    with pytest.raises(ValueError):
        nouncs.k_scale_dt_error(spark, F.col("q"), F.col("q"), F.col("q"), F.col("q"))
