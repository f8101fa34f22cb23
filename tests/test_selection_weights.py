"""PackedSelection / Cutflow / N-1 / Weights vs numpy oracle.

Mirrors the reference test strategy (tests/test_analysis_tools.py:445-2147).
"""

import numpy as np
import pyspark.sql.functions as F

from coffea_spark.selection import PackedSelection
from coffea_spark.weights import Weights


def _df(spark, n=2000, seed=9):
    rng = np.random.default_rng(seed)
    x = rng.normal(0, 1, n)
    y = rng.uniform(0, 10, n)
    z = rng.integers(0, 5, n)
    w = rng.uniform(0.5, 1.5, n)
    rows = [
        {"x": float(a), "y": float(b), "z": int(c), "w": float(d)}
        for a, b, c, d in zip(x, y, z, w)
    ]
    return spark.createDataFrame(rows, "x double, y double, z int, w double"), x, y, z, w


def test_packed_selection_logic(spark):
    df, x, y, z, w = _df(spark)
    sel = PackedSelection()
    sel.add("cx", F.col("x") > 0)
    sel.add("cy", F.col("y") < 5)
    sel.add("cz", F.col("z") != 0)

    nx, ny, nz = x > 0, y < 5, z != 0

    assert df.filter(sel.all()).count() == int((nx & ny & nz).sum())
    assert df.filter(sel.any()).count() == int((nx | ny | nz).sum())
    assert df.filter(sel.allfalse()).count() == int((~(nx | ny | nz)).sum())
    assert df.filter(sel.all("cx", "cy")).count() == int((nx & ny).sum())
    assert df.filter(sel.require(cx=True, cy=False)).count() == int((nx & ~ny).sum())

    # bitmask pack matches manual pack
    got = df.select(sel.bitmask().alias("m")).toPandas()["m"].to_numpy()
    want = nx * 1 + ny * 2 + nz * 4
    assert (got == want).all()


def test_cutflow_and_nminusone(spark):
    df, x, y, z, w = _df(spark)
    sel = PackedSelection()
    sel.add("cx", F.col("x") > 0)
    sel.add("cy", F.col("y") < 5)
    sel.add("cz", F.col("z") != 0)
    nx, ny, nz = x > 0, y < 5, z != 0

    cf = sel.cutflow(df, weight=F.col("w"))
    assert cf.initial == len(x)
    assert cf.nevonecut == [int(nx.sum()), int(ny.sum()), int(nz.sum())]
    assert cf.nevcutflow == [int(nx.sum()), int((nx & ny).sum()), int((nx & ny & nz).sum())]
    assert np.isclose(cf.wevcutflow[-1], w[nx & ny & nz].sum())
    assert np.isclose(cf.wevonecut[1], w[ny].sum())

    n1 = sel.nminusone(df)
    assert n1.nev == [
        int((ny & nz).sum()),
        int((nx & nz).sum()),
        int((nx & ny).sum()),
    ]
    assert n1.nev_all == int((nx & ny & nz).sum())


def _parity_frame(spark):
    rows = [
        (0.5, [0.5, 2.0], 3, 1.0),
        (-1.0, [], None, 0.5),
        (2.0, [1.75], 1, 2.0),
        (1.5, [3.0, 0.25], None, 0.75),
        (0.1, None, 5, 1.25),
        (-0.3, [1.5], 4, 0.125),
        (3.0, [0.1], 6, 1.5),
    ]
    df = spark.createDataFrame(rows, "x double, arr array<double>, n int, w double")
    cuts = {
        "hof": F.exists("arr", lambda v: v > 1.25),  # interpreted HOF; NULL on a NULL array
        "nullable": F.col("n") > 2,  # NULL where n is NULL
        "cx": F.col("x") > 0.375,
    }
    return df, cuts


def _direct(df, cond):
    """(count, weight sum) of the rows where ``cond`` is true, by filter."""
    hit = df.filter(cond)
    return hit.count(), hit.agg(F.sum("w")).first()[0] or 0.0


def test_cutflow_and_nminusone_match_filter_counts(spark):
    """cutflow (both weightings) and nminusone equal direct filter counts
    and weight sums, on a frame with a HOF cut and NULL cut values, and
    on the empty frame."""
    full, cuts = _parity_frame(spark)
    sel = PackedSelection().add_multiple(cuts)
    names = list(cuts)

    def all_of(ns):
        out = F.lit(True)
        for n in ns:
            out = out & cuts[n]
        return out

    for df in (full, full.limit(0)):
        cf = sel.cutflow(df)
        cfw = sel.cutflow(df, weight=F.col("w"))
        n1 = sel.nminusone(df)
        initial = df.count()
        assert cf.initial == cfw.initial == n1.initial == initial
        assert cf.wevonecut is None and cf.initial_w is None
        assert cfw.initial_w == df.agg(F.sum("w")).first()[0]
        for i, n in enumerate(names):
            one_n, one_w = _direct(df, cuts[n])
            cum_n, cum_w = _direct(df, all_of(names[: i + 1]))
            assert cf.nevonecut[i] == cfw.nevonecut[i] == one_n
            assert cf.nevcutflow[i] == cfw.nevcutflow[i] == cum_n
            assert abs(cfw.wevonecut[i] - one_w) <= 1e-12
            assert abs(cfw.wevcutflow[i] - cum_w) <= 1e-12
            assert n1.nev[i] == _direct(df, all_of([m for m in names if m != n]))[0]
        assert n1.nev_all == _direct(df, all_of(names))[0]
    assert cf.nevcutflow == [0, 0, 0] and n1.nev == [0, 0, 0] and n1.nev_all == 0


def test_weights_variations(spark):
    df, x, y, z, w = _df(spark)
    weights = Weights()
    weights.add("base", F.col("w"), weightUp=F.col("w") * 1.1, weightDown=F.col("w") * 0.9)
    weights.add("flat", F.lit(2.0))

    got = df.select(
        weights.weight().alias("nom"),
        weights.weight("baseUp").alias("up"),
        weights.weight("baseDown").alias("dn"),
        weights.partial_weight(include=["base"]).alias("part"),
    ).toPandas()
    assert np.allclose(got["nom"], w * 2.0)
    assert np.allclose(got["up"], w * 1.1 * 2.0)
    assert np.allclose(got["dn"], w * 0.9 * 2.0)
    assert np.allclose(got["part"], w)

    stats = weights.statistics(df)
    assert np.isclose(stats["base"]["sumw"], w.sum())
    assert np.isclose(stats["base"]["sumw2"], (w * w).sum())
    assert stats["base"]["n"] == len(w)


def test_weights_shift_mode(spark):
    df, x, y, z, w = _df(spark)
    weights = Weights()
    weights.add(
        "s", F.col("w"),
        weightUp=F.lit(0.1), weightDown=F.lit(0.1), shift=True,
    )
    got = df.select(weights.weight("sUp").alias("up"), weights.weight("sDown").alias("dn")).toPandas()
    assert np.allclose(got["up"], w + 0.1)
    assert np.allclose(got["dn"], w - 0.1)


def test_yieldhist_reports(spark, nano):
    """yieldhist packaged reports (reference analysis_tools.py:1138-1266,
    1719-1817): labels + yields consistent with result()."""
    sel = PackedSelection()
    sel.add("two_muons", F.size("Muon") >= 2)
    sel.add("has_jet", F.size("Jet") >= 1)

    cf = sel.cutflow(nano, weight=F.col("genWeight"))
    labels, one, cum = cf.yieldhist()  # defaults to weighted (has weight)
    assert labels == ["initial", "two_muons", "has_jet"]
    assert one[0] == cf.initial_w
    labels_u, one_u, cum_u = cf.yieldhist(weighted=False)
    assert one_u == [cf.initial] + cf.nevonecut
    assert all(a >= b for a, b in zip(cum_u, cum_u[1:]))  # monotone
    _, one_s, _ = cf.yieldhist(weighted=False, scale=2.0)
    assert one_s == [2 * v for v in one_u]

    n1 = sel.nminusone(nano)
    lab, nev = n1.yieldhist()
    assert lab == ["initial", "N - two_muons", "N - has_jet", "N"]
    assert nev == [n1.initial] + n1.nev + [n1.nev_all]


def test_plot_vars_single_pass(spark, nano):
    """plot_vars long report vs independently computed histograms: the
    stage-0 column equals hist1d of the variable; each stage column is
    hist1d over the cumulatively-filtered frame."""
    from coffea_spark.hist import hist1d

    sel = PackedSelection()
    sel.add("two_muons", F.size("Muon") >= 2)
    sel.add("met20", F.col("MET.pt") < 20.0)

    out = sel.plot_vars(
        nano, vars={"met": (F.col("MET.pt"), 10, 0.0, 40.0)}
    ).filter(F.col("var") == "met")
    got = {r.bin: (r.initial, r.n_two_muons, r.n_met20) for r in out.collect()}

    h0 = {r.bin: r.n for r in hist1d(nano, F.col("MET.pt"), 10, 0.0, 40.0).collect()}
    stage1 = nano.filter(F.size("Muon") >= 2)
    h1 = {r.bin: r.n for r in hist1d(stage1, F.col("MET.pt"), 10, 0.0, 40.0).collect()}
    stage2 = stage1.filter(F.col("MET.pt") < 20.0)
    h2 = {r.bin: r.n for r in hist1d(stage2, F.col("MET.pt"), 10, 0.0, 40.0).collect()}

    for b, (n0, n1, n2) in got.items():
        assert n0 == h0.get(b, 0)
        assert n1 == h1.get(b, 0)
        assert n2 == h2.get(b, 0)
    # totals conserved (flow bins kept)
    assert sum(v[0] for v in got.values()) == nano.count()


def test_weights_reference_table(spark):
    """Port of the reference test_weights (tests/test_analysis_tools.py:
    64-123): symmetric + shift-mode variations, duplicate-name rejection,
    variations listing, and the exact expected value table."""
    import pytest

    n = 200
    rng = np.random.default_rng(3)
    scale_central = rng.normal(loc=1.0, scale=0.01, size=n)
    rows = [{"i": i, "sc": float(s)} for i, s in enumerate(scale_central)]
    df = spark.createDataFrame(rows, "i long, sc double")
    sc = F.col("sc")

    weight = Weights()
    weight.add("test", sc, weightUp=sc * 1.10, weightDown=sc * 0.95)
    weight.add("testShift", sc, weightUp=0.10 * sc, weightDown=0.05 * sc, shift=True)

    with pytest.raises(ValueError, match="Weight 'test' already exists"):
        weight.add("test", sc)
    with pytest.raises(ValueError, match="Up' and 'Down'"):
        weight.add("badUp", sc)

    for name in ["testShiftUp", "testShiftDown", "testUp", "testDown"]:
        assert name in weight.variations

    got = (
        df.orderBy("i")
        .select(
            weight.weight().alias("nom"),
            weight.weight("testUp").alias("up"),
            weight.weight("testDown").alias("dn"),
            weight.weight("testShiftUp").alias("sup"),
            weight.weight("testShiftDown").alias("sdn"),
        )
        .toPandas()
    )
    exp = scale_central * scale_central
    assert np.all(np.abs(got["nom"] - exp) < 1e-6)
    assert np.all(np.abs(got["up"] - exp * 1.10) < 1e-6)
    assert np.all(np.abs(got["dn"] - exp * 0.95) < 1e-6)
    # shift=True: up = w + 0.10*w = 1.10*w ; down = w - 0.05*w = 0.95*w
    assert np.all(np.abs(got["sup"] - exp * 1.10) < 1e-6)
    assert np.all(np.abs(got["sdn"] - exp * 0.95) < 1e-6)

    # reference test_weights tail: partial_weight with BOTH / NEITHER raises
    with pytest.raises(ValueError):
        weight.partial_weight(include=["test"], exclude=["testShift"])
    with pytest.raises(ValueError):
        weight.partial_weight()


def test_weights_partial_reference_table(spark):
    """Port of the reference test_weights_partial (tests/
    test_analysis_tools.py:126-186): include/exclude products, modifier
    routing into the partial set, store_individual=False rejection, and
    the Up-only symmetric auto-Down."""
    import pytest

    n = 200
    rng = np.random.default_rng(7)
    w1 = rng.normal(loc=1.0, scale=0.01, size=n)
    w2 = rng.normal(loc=1.3, scale=0.05, size=n)
    rows = [{"i": i, "w1": float(a), "w2": float(b)} for i, (a, b) in enumerate(zip(w1, w2))]
    df = spark.createDataFrame(rows, "i long, w1 double, w2 double")

    weights = Weights(store_individual=True)
    weights.add("w1", F.col("w1"), weightUp=F.col("w1") * 1.2)  # Up only
    weights.add("w2", F.col("w2"))

    got = (
        df.orderBy("i")
        .select(
            weights.weight().alias("nom"),
            weights.partial_weight(exclude=["w1"]).alias("ex1"),
            weights.partial_weight(include=["w1"]).alias("in1"),
            weights.partial_weight(exclude=["w2"]).alias("ex2"),
            weights.partial_weight(include=["w2"]).alias("in2"),
            weights.partial_weight(include=["w1", "w2"]).alias("inb"),
            # Up-only variation: Down is served as the symmetric inverse
            weights.weight("w1Down").alias("autodn"),
            weights.partial_weight(include=["w1"], modifier="w1Up").alias("pmod"),
        )
        .toPandas()
    )
    assert np.all(np.abs(got["nom"] - w1 * w2) < 1e-6)
    assert np.all(np.abs(got["ex1"] - w2) < 1e-6)
    assert np.all(np.abs(got["in1"] - w1) < 1e-6)
    assert np.all(np.abs(got["ex2"] - w1) < 1e-6)
    assert np.all(np.abs(got["in2"] - w2) < 1e-6)
    assert np.all(np.abs(got["inb"] - w1 * w2) < 1e-6)
    assert "w1Down" in weights.variations  # synthesized
    assert np.all(np.abs(got["autodn"] - (w1 * w2) / 1.2) < 1e-6)
    assert np.all(np.abs(got["pmod"] - w1 * 1.2) < 1e-6)

    # unknown names intersect away (reference uses set ops, no raise)
    got2 = df.limit(5).select(
        weights.partial_weight(include=["w1", "nope"]).alias("p")
    ).toPandas()
    assert len(got2) == 5

    # modifier outside the partial set raises
    with pytest.raises(ValueError, match="not in the list of included"):
        weights.partial_weight(include=["w2"], modifier="w1Up")

    # store_individual=False forbids partial_weight but weight() works
    w_noind = Weights(store_individual=False)
    w_noind.add("w1", F.col("w1"))
    w_noind.add("w2", F.col("w2"))
    got3 = df.orderBy("i").select(w_noind.weight().alias("nom")).toPandas()
    assert np.all(np.abs(got3["nom"] - w1 * w2) < 1e-6)
    with pytest.raises(ValueError, match="store_individual=True"):
        w_noind.partial_weight(exclude=["w1"])


def test_weights_multivariation_and_zero_nominal(spark):
    """add_multivariation key shape ({name}_{mod}{Up,Down}) + the
    zero-nominal rule: where nominal==0 the stored modifier stays
    ABSOLUTE (reference __add_variation_eager:483-500)."""
    rows = [{"i": 0, "v": 2.0}, {"i": 1, "v": 0.0}, {"i": 2, "v": 4.0}]
    df = spark.createDataFrame(rows, "i long, v double")
    v = F.col("v")

    w = Weights()
    w.add_multivariation(
        "m", v, ["a", "b"], [v * 1.5, v + 1.0], [v * 0.5, v - 1.0]
    )
    assert {"m_aUp", "m_aDown", "m_bUp", "m_bDown"} <= w.variations

    got = df.orderBy("i").select(
        w.weight().alias("nom"),
        w.weight("m_aUp").alias("aup"),
        w.weight("m_bDown").alias("bdn"),
    ).toPandas()
    assert np.allclose(got["nom"], [2.0, 0.0, 4.0])
    # nonzero rows: ratio semantics; zero row: nominal*absolute = 0
    assert np.allclose(got["aup"], [3.0, 0.0, 6.0])
    assert np.allclose(got["bdn"], [1.0, 0.0, 3.0])

    # zero-nominal keeps the modifier absolute: weight()==0 there, but
    # the stored multiplier itself is the raw variation (v+1 = 1.0)
    got_mod = df.orderBy("i").select(
        w._modifiers["m_bUp"].alias("mod")
    ).toPandas()
    assert np.allclose(got_mod["mod"], [1.5, 1.0, 1.25])
