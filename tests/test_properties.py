"""Property-based tests (hypothesis) for the pure column-math kernels.

The reference's suite is example-based (SURVEY.md §5); properties are a
cheap upgrade for the math-heavy pieces: generate adversarial inputs,
assert algebraic invariants. Data goes through a real (session-scoped)
Spark DataFrame so the tested path is the Catalyst expression, not a
Python reimplementation.
"""

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
angles = st.floats(min_value=-10.0, max_value=10.0, allow_nan=False)


@settings(max_examples=20, deadline=None)
@given(st.lists(angles, min_size=2, max_size=6), st.lists(angles, min_size=2, max_size=6))
def test_delta_phi_wraps(spark, phis_a, phis_b):
    """delta_phi is always in [-pi, pi) and antisymmetric."""
    from coffea_spark.vector import delta_phi

    df = spark.createDataFrame(
        [(a, b) for a in phis_a for b in phis_b], "a double, b double"
    ).select(
        F.struct(F.col("a").alias("phi")).alias("va"),
        F.struct(F.col("b").alias("phi")).alias("vb"),
    )
    rows = df.select(
        delta_phi(F.col("va"), F.col("vb")).alias("d"),
        delta_phi(F.col("vb"), F.col("va")).alias("r"),
    ).collect()
    for r in rows:
        assert -math.pi <= r.d < math.pi
        # antisymmetric modulo 2pi (both mapped into [-pi, pi))
        s = (r.d + r.r) % (2 * math.pi)
        assert min(s, 2 * math.pi - s) < 1e-9


@settings(max_examples=15, deadline=None)
@given(st.lists(finite, min_size=0, max_size=12))
def test_combinations_count(spark, xs):
    """n-choose-2 and n-choose-3 counts; every pair ordered i<j."""
    from coffea_spark.joins import combinations

    n = len(xs)
    df = spark.createDataFrame(
        [(list(enumerate(xs)),)], "c array<struct<i:int, v:double>>"
    )
    r = df.select(
        F.size(combinations(F.col("c"), 2)).alias("n2"),
        F.size(combinations(F.col("c"), 3)).alias("n3"),
        F.size(
            F.filter(combinations(F.col("c"), 2), lambda p: p["f0"]["i"] >= p["f1"]["i"])
        ).alias("bad"),
    ).first()
    assert r.n2 == n * (n - 1) // 2
    assert r.n3 == n * (n - 1) * (n - 2) // 6
    assert r.bad == 0


@settings(max_examples=15, deadline=None)
@given(st.text(min_size=0, max_size=40))
def test_rolling_hash_range_and_pyref(spark, text):
    """rolling_hash stays in [0, mod) and equals the python fold."""
    from coffea_spark.llmdata.text import rolling_hash

    df = spark.createDataFrame([(text,)], "t string")
    h = df.select(rolling_hash(F.col("t")).alias("h")).first().h
    exp = 0
    for ch in text:
        exp = (exp * 257 + ord(ch)) % 2147483647
    assert h == exp
    assert 0 <= h < 2147483647


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.floats(min_value=0.0, max_value=100.0, allow_nan=False), min_size=1, max_size=50),
    st.integers(min_value=1, max_value=10),
)
def test_hist_conservation(spark, values, nbins):
    """Every value lands in exactly one bucket (incl. flow): sum(n) == N."""
    from coffea_spark.hist import hist1d

    df = spark.createDataFrame([(v,) for v in values], "x double")
    rows = hist1d(df, "x", nbins, 10.0, 90.0).collect()
    assert sum(r.n for r in rows) == len(values)
    assert sum(r.sumw for r in rows) == pytest.approx(len(values))


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=-1, max_value=5), min_size=1, max_size=6))
def test_gather_local_bounds(spark, idxs):
    """gather_local: any in-range index resolves, -1/out-of-range -> NULL."""
    from coffea_spark.joins import gather_local

    target = [(float(i),) for i in range(4)]
    df = spark.createDataFrame(
        [(idxs, [{"v": float(i)} for i in range(4)])],
        "idxs array<int>, target array<struct<v:double>>",
    )
    rows = df.select(
        F.transform("idxs", lambda i: gather_local(F.col("target"), i)).alias("g")
    ).first().g
    for i, got in zip(idxs, rows):
        if 0 <= i < 4:
            assert got["v"] == float(i)
        else:
            assert got is None


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=0, max_size=40,
    ),
    st.lists(st.integers(min_value=-2**31, max_value=2**31 - 1), min_size=0, max_size=40),
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=40),
    st.integers(min_value=1, max_value=7),
    st.sampled_from([0, 1]),
)
def test_root_writer_roundtrip_property(tmp_path_factory, floats, ints, jagged_lens, basket_rows, compression):
    """Serialize arbitrary scalar + jagged + string + bool columns to an
    in-memory ROOT file and read them back bit-identical, for any basket
    granularity and compression setting."""
    import numpy as np

    from coffea_spark.root_reader import RootTreeReader
    from coffea_spark.root_writer import write_root_file

    n = min(len(floats), len(ints), len(jagged_lens))
    floats, ints, jagged_lens = floats[:n], ints[:n], jagged_lens[:n]
    rng = np.random.default_rng(42)
    cols = {
        "f": np.asarray(floats, dtype=np.float32),
        "i": np.asarray(ints, dtype=np.int32),
        "flag": np.asarray([v % 2 == 0 for v in ints], dtype=bool),
        "s": np.asarray([f"x{v}" for v in ints], dtype=object),
        "jag": [rng.random(k) for k in jagged_lens],
    }
    path = str(tmp_path_factory.mktemp("prop") / "p.root")
    write_root_file(cols, path, basket_rows=basket_rows, compression=compression)
    r = RootTreeReader(path)
    assert r.entries == n
    assert np.array_equal(r.array("f"), cols["f"])
    assert np.array_equal(r.array("i"), cols["i"])
    assert (r.array("flag") == cols["flag"]).all()
    assert (r.array("s") == cols["s"]).all()
    if n:  # a zero-row jagged column degrades to scalar (data-driven schema)
        assert (r.array("n_jag") == jagged_lens).all()
        got = r.array("jag")
        want = (
            np.concatenate(cols["jag"]) if sum(jagged_lens) else np.empty(0)
        )
        assert np.array_equal(got, want)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=9),
    st.integers(min_value=1, max_value=6),
)
def test_combinations_generic_matches_itertools(spark, xs, k):
    """The recursive builder equals itertools.combinations for ANY
    (list, k): same count, same order, same tuples."""
    import itertools

    from coffea_spark.joins import combinations

    df = spark.createDataFrame([(xs,)], "c array<int>")
    got = df.select(
        F.transform(
            combinations(F.col("c"), k),
            (lambda kk: lambda s: F.array(*[s[f"f{i}"] for i in range(kk)]))(k),
        ).alias("t")
    ).first().t
    want = [list(t) for t in itertools.combinations(xs, k)]
    assert got == want


@settings(max_examples=100, deadline=None)
@given(
    st.lists(finite, min_size=1, max_size=200),
    st.sampled_from([(8000, 16000), (8000, 5513), (16000, 8000),
                     (44100, 16000), (3, 7), (7, 3)]),
)
def test_resample_linear_properties(pcm, rates):
    """Grid law, endpoint preservation, range boundedness, and the
    np.interp reference for arbitrary inputs and rate ratios."""
    import numpy as np

    from coffea_spark.llmdata.multimodal import resample_linear

    src, dst = rates
    x = np.array(pcm, dtype=float)
    y = resample_linear(x, src, dst)
    assert len(y) == (len(x) - 1) * dst // src + 1
    assert y[0] == x[0]
    # linear interpolation never leaves the local hull
    assert y.min() >= x.min() - 1e-9 and y.max() <= x.max() + 1e-9
    pos = np.arange(len(y)) * (src / dst)
    np.testing.assert_allclose(y, np.interp(pos, np.arange(len(x)), x),
                               rtol=1e-9, atol=1e-6)


@settings(max_examples=50, deadline=None)
@given(
    st.floats(min_value=1e-6, max_value=1 - 1e-6),
    st.floats(min_value=0.3, max_value=4.0),
    st.floats(min_value=0.3, max_value=4.0),
    st.floats(min_value=1.2, max_value=20.0),
    st.floats(min_value=1.2, max_value=20.0),
)
def test_dscb_ppf_inverts_cdf(p, bl, bh, ml, mh):
    """ppf is the exact inverse of the reference CDF formulas for any
    shape parameters in the physical range."""
    import numpy as np

    from coffea_spark.muon_corrections import _norm_cdf_np, dscb_ppf

    x = dscb_ppf(np.array([p]), bl, bh, ml, mh)[0]
    assert np.isfinite(x)
    cl = ml / bl / (ml - 1) * np.exp(-0.5 * bl * bl)
    ch = mh / bh / (mh - 1) * np.exp(-0.5 * bh * bh)
    core = np.sqrt(2 * np.pi) * (_norm_cdf_np(np.array([bh]))[0]
                                 - _norm_cdf_np(np.array([-bl]))[0])
    n = 1.0 / (cl + ch + core)
    if x < -bl:
        cdf = n * ml / bl / (ml - 1) * np.exp(-0.5 * bl * bl) \
            * (ml / bl / (ml / bl - bl - x)) ** (ml - 1)
    elif x > bh:
        cdf = 1 - n * mh / bh / (mh - 1) * np.exp(-0.5 * bh * bh) \
            * (mh / bh / (mh / bh - bh + x)) ** (mh - 1)
    else:
        cdf = n * (cl + np.sqrt(2 * np.pi)
                   * (_norm_cdf_np(np.array([x]))[0]
                      - _norm_cdf_np(np.array([-bl]))[0]))
    assert abs(cdf - p) < 5e-9, (p, bl, bh, ml, mh, x, cdf)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.floats(min_value=-5000, max_value=5000, allow_nan=False),
             min_size=2, max_size=400),
    st.floats(min_value=10.0, max_value=3990.0),
)
def test_goertzel_equals_iir_recurrence(pcm, freq):
    """The vectorized identity form equals the classic per-sample
    Goertzel IIR recurrence (the independent reference) for any signal
    and any in-band frequency."""
    import math

    import numpy as np

    from coffea_spark.llmdata.multimodal import goertzel_power

    fs = 8000
    x = np.array(pcm, dtype=float)
    w = 2 * math.pi * freq / fs
    c = 2 * math.cos(w)
    s1 = s2 = 0.0
    for v in x:
        s0 = v + c * s1 - s2
        s2, s1 = s1, s0
    ref = (s1 * s1 + s2 * s2 - c * s1 * s2) / (len(x) / 2.0) ** 2
    got = goertzel_power(x, fs, [freq])[0]
    scale = max(abs(ref), np.sum(np.abs(x)) ** 2 / (len(x) / 2.0) ** 2, 1.0)
    assert abs(got - ref) <= 1e-9 * scale


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=12),
)
def test_patchify_partition_property(h, w, p):
    """Patch means of a constant image are that constant; the patch
    grid covers exactly the cropped area; total mass is conserved."""
    import numpy as np

    from coffea_spark.llmdata.multimodal import patchify

    rng = np.random.default_rng(h * 41 + w)
    a = rng.uniform(0, 255, (h, w))
    m = patchify(a, p)
    assert m.shape == (h // p, w // p)
    if m.size:
        hc, wc = (h // p) * p, (w // p) * p
        assert abs(m.mean() * m.size - a[:hc, :wc].mean() * m.size) < 1e-6
        np.testing.assert_allclose(
            m.sum() * p * p, a[:hc, :wc].sum(), rtol=1e-12
        )
    c = patchify(np.full((h, w), 7.25), p)
    if c.size:
        np.testing.assert_allclose(c, 7.25)


# genealogy forest: each particle's mother is an earlier index or -1
# (the forward-ordered shape generators emit), pdg from a tiny alphabet
# so same-pdg chains actually occur
@st.composite
def _forests(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    mothers = [draw(st.integers(min_value=-1, max_value=i - 1)) for i in range(n)]
    pdgs = [draw(st.sampled_from([1, 2, 3])) for _ in range(n)]
    return mothers, pdgs


@settings(max_examples=15, deadline=None)
@given(st.lists(_forests(), min_size=1, max_size=4))
def test_genealogy_view_matches_kernels_property(spark, events):
    """GenealogyView's pure-column walks (distinctParent,
    distinctChildrenDeep) must agree with the Arrow kernels on RANDOM
    genealogy forests — chains, branches, roots, multi-root events —
    not just the fixtures. Deep sets compare order-insensitively."""
    from coffea_spark.genealogy import (
        distinct_children_deep_idx,
        distinct_parent_idx,
    )
    from coffea_spark.nanoevents import GenealogyView

    rows = [
        ([{"genPartIdxMother": m, "pdgId": p} for m, p in zip(ms, ps)],)
        for ms, ps in events
    ]
    df = spark.createDataFrame(
        rows, "gp array<struct<genPartIdxMother int, pdgId int>>"
    )
    idx0 = F.transform(F.col("gp"), lambda x, i: i)
    view = GenealogyView(F.col("gp"), idx0, 1)
    got = df.select(
        view.distinctParent.c.alias("dp_v"),
        distinct_parent_idx(F.col("gp")).alias("dp_k"),
        view.distinctChildrenDeep.c.alias("deep_v"),
        distinct_children_deep_idx(F.col("gp")).alias("deep_k"),
        view.children.c.alias("kids_v"),
    ).collect()
    for r, (ms, ps) in zip(got, events):
        assert list(r.dp_v) == list(r.dp_k)
        for a, b in zip(r.deep_v, r.deep_k):
            assert sorted(a or []) == sorted(b or [])
        # children from the view == direct inversion of the mother array
        for i, kids in enumerate(r.kids_v):
            want = [j for j, m in enumerate(ms) if m == i]
            assert sorted(kids or []) == want


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=6, max_value=48),
    st.integers(min_value=2, max_value=6),
    st.floats(min_value=0.35, max_value=0.9),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_semdedup_tiled_matches_bruteforce(spark, n, dim, threshold, seed):
    """Property: the tiled dense scorer (forced tiny tiles, so most
    pairs cross tile boundaries) equals the brute-force O(n²) 'any
    lower-id in-cluster hit' on random corpora of any size/dim/
    threshold. Margins: examples whose pairwise cosine sits within
    1e-9 of the threshold, or whose cluster assignment is within 1e-9
    of a tie, are assumed away (ULP territory by construction)."""
    import numpy as np
    from hypothesis import assume

    from coffea_spark.llmdata import dedup

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim))
    # seed near-duplicates so the dup branch is actually exercised
    X[n // 2] = X[0] + rng.normal(scale=1e-6, size=dim)
    cents = rng.normal(size=(2, dim))
    d = (cents * cents).sum(axis=1) - 2.0 * X @ cents.T
    assume(np.min(np.abs(d[:, 0] - d[:, 1])) > 1e-9)
    asg = np.argmin(d, axis=1)
    nrm = np.linalg.norm(X, axis=1)
    Xn = X / np.where(nrm == 0, 1.0, nrm)[:, None]
    C = Xn @ Xn.T
    off = np.abs(C - threshold)
    np.fill_diagonal(off, 1.0)
    assume(off.min() > 1e-9)
    want = {
        j
        for j in range(n)
        if any(asg[i] == asg[j] and C[i, j] >= threshold for i in range(j))
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    out = dedup.semdedup(
        df,
        threshold=threshold,
        centroids=cents,
        tile_rows=4,
        max_tiles=5,
    ).collect()
    assert len(out) == n
    assert {r.vec_id for r in out if r.is_dup == 1} == want
