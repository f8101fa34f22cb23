"""Native pure-Python ROOT TTree reader, validated against the reference's
own ROOT fixtures (read-only binary test data; reference tests:
test_nanoevents.py, mapping semantics nanoevents/mapping/uproot.py)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from coffea_spark.root_reader import (
    RootFileError,
    RootTreeReader,
    read_nanoevents,
    read_root,
    root_to_arrow,
)

from coffea_spark.testing import SAMPLES

pytestmark = pytest.mark.samples


def test_dimuon_basics():
    r = RootTreeReader(f"{SAMPLES}/nano_dimuon.root")
    assert r.tree == "Events"
    assert r.entries == 40
    nmuon = r.array("nMuon")
    pt = r.array("Muon_pt")
    assert nmuon.sum() == len(pt)
    assert nmuon.dtype == np.uint32
    assert pt.dtype == np.float32
    assert 0 < pt.min() and pt.max() < 1000  # GeV sanity
    charge = r.array("Muon_charge")
    assert set(np.unique(charge)) <= {-1, 1}
    softid = r.array("Muon_softId")
    assert softid.dtype == bool
    run = r.array("run")
    assert len(np.unique(run)) == 1  # single-run file


def test_jagged_arrow_consistency():
    import pyarrow.compute as pc

    r = RootTreeReader(f"{SAMPLES}/nano_dimuon.root")
    tbl = r.to_arrow(["nMuon", "Muon_pt", "Muon_eta", "nElectron", "Electron_pt"])
    assert tbl.num_rows == 40
    assert (
        pc.list_value_length(tbl["Muon_pt"]).to_numpy() == r.array("nMuon")
    ).all()
    assert (
        pc.list_value_length(tbl["Electron_pt"]).to_numpy() == r.array("nElectron")
    ).all()


def test_column_pruning_equivalence():
    full = root_to_arrow(f"{SAMPLES}/nano_dy.root", columns=["run", "nMuon", "Muon_pt"])
    r2 = RootTreeReader(f"{SAMPLES}/nano_dy.root")
    assert (full["run"].to_numpy() == r2.array("run")).all()


def test_lzma_compressed_file():
    # pfnano.root is LZMA-compressed (fCompress=209) with multiple trees
    r = RootTreeReader(f"{SAMPLES}/pfnano.root", tree="Events")
    assert r.entries == 10
    njet = r.array("nJet")
    jpt = r.array("Jet_pt")
    assert njet.sum() == len(jpt)


def test_other_experiment_trees():
    r = RootTreeReader(f"{SAMPLES}/pduneana.root")
    assert r.tree == "beamana"
    assert r.entries == 10
    t = RootTreeReader(f"{SAMPLES}/treemaker.root")
    assert t.tree == "PreSelection"
    assert t.entries == 10
    # scalar leaves of the TreeMaker tree decode; split-vector object
    # branches are TLeafElement and stay unsupported (root_io convert path)
    assert "NJets" in t.branches


def test_nested_vector_branches(spark):
    """vector<vector<T>> branches (ProtoDUNE per-hit data) decode to
    doubly-jagged columns: outer header + per-inner i4 count framing."""
    r = RootTreeReader(f"{SAMPLES}/pduneana.root")
    nested = [n for n, b in r.branches.items() if b.depth == 2]
    assert len(nested) == 60
    name = "reco_daughter_allTrack_dQdX_SCE"
    vals = r.array(name)
    assert r.inner_counts(name).sum() == len(vals)
    assert len(r.counts(name)) == r.entries
    for n in nested:
        v = r.array(n)
        assert r.inner_counts(n).sum() == len(v), n
    df = read_root(spark, [f"{SAMPLES}/pduneana.root"],
                   columns=[name, "reco_beam_startX"])
    assert dict(df.dtypes)[name] == "array<array<double>>"
    row = df.agg(
        F.sum(F.aggregate(
            F.col(name), F.lit(0),
            lambda s, inner: s + F.size(inner),
        )).alias("n")
    ).first()
    assert row["n"] == int(r.inner_counts(name).sum())


def test_empty_and_corrupt_files():
    # empty Events tree: no baskets -> zero readable branches, zero rows
    r = RootTreeReader(f"{SAMPLES}/nano_dy_empty.root")
    assert r.tree == "Events" and r.entries == 0 and not r.branches
    # truncated/corrupt fixture (the reference's bad_delphes.root) must
    # fail with a clear error, not a parse crash
    with pytest.raises(RootFileError):
        RootTreeReader(f"{SAMPLES}/bad_delphes.root")


def test_embedded_baskets_scouting_parity():
    """scouting_nano.root stores every basket INSIDE the TTree record
    (no loose TBasket keys — the one-flush storage form). The reader's
    fBaskets scan must agree branch-for-branch with an independent
    from-scratch decode of the embedded records (these derived the
    scouting_real_scan gate goldens)."""
    import re as _re
    import struct as _struct
    import zlib as _zlib

    path = f"{SAMPLES}/scouting_nano.root"
    r = RootTreeReader(path)
    assert r.tree == "Events" and r.entries == 40
    assert len(r.branches) >= 260

    # independent decode: walk file keys, decompress the Events record,
    # walk TBasket tags with the long-form TKey layout
    data = open(path, "rb").read()
    fbegin = _struct.unpack_from(">i", data, 8)[0]
    fend = _struct.unpack_from(">i", data, 12)[0]
    off, tree_key = fbegin, None
    while off < fend:
        nbytes, ver = _struct.unpack_from(">iH", data, off)
        if nbytes == 0:
            break
        if nbytes < 0:
            off += -nbytes
            continue
        objlen, _dt, keylen, _cyc = _struct.unpack_from(">iIhh", data, off + 6)
        p = off + 18 + (16 if ver > 1000 else 8)

        def rs(p):
            n = data[p]
            return data[p + 1 : p + 1 + n].decode(), p + 1 + n

        cls, p = rs(p)
        nm, p = rs(p)
        _ti, p = rs(p)
        if cls == "TTree" and nm == "Events":
            tree_key = (off, nbytes, objlen, keylen)
        off += nbytes
    off, nbytes, objlen, keylen = tree_key
    out, p, total = [], off + keylen, 0
    while p < off + nbytes and total < objlen:
        csize = data[p + 3] | (data[p + 4] << 8) | (data[p + 5] << 16)
        blob = _zlib.decompress(data[p + 9 : p + 9 + csize])
        out.append(blob)
        total += len(blob)
        p += 9 + csize
    buf = b"".join(out)

    def embedded(branch):
        for m in _re.finditer(b"\x07TBasket", buf):
            q = m.start()
            kv = _struct.unpack_from(">H", buf, q - 30)[0]
            if not (1000 < kv < 1100):
                continue
            klen = _struct.unpack_from(">h", buf, q - 20)[0]
            p = q + 8
            n1 = buf[p]
            name = buf[p + 1 : p + 1 + n1].decode()
            p += 1 + n1
            n2 = buf[p]
            title = buf[p + 1 : p + 1 + n2].decode()
            p += 1 + n2
            if name != branch or title != "Events":
                continue
            _bv, _bs, _nbs, nevbuf, last = _struct.unpack_from(">hiiii", buf, p)
            flag = buf[p + 18]
            body = p + 19
            if nevbuf == 0 or flag == 0:
                continue
            if flag % 10 != 2 and nevbuf:
                n = _struct.unpack_from(">i", buf, body)[0]
                body += 4 + 4 * n
            if flag == 1 or flag > 10:
                return buf[body + klen : body + last], nevbuf
        return None, 0

    for br, dt in [("run", ">u4"), ("event", ">u8"), ("nScoutingJet", ">i4"),
                   ("ScoutingJet_pt", ">f4"), ("ScoutingFatJet_pt", ">f4"),
                   ("ScoutingMuon_pt", ">f4")]:
        blob, nev = embedded(br)
        want = np.frombuffer(blob, dtype=dt)
        got = np.asarray(r.array(br))
        assert got.dtype.itemsize == want.dtype.itemsize
        assert len(got) == len(want) and (got == want.astype(got.dtype)).all(), br

    # jagged framing: per-event counts come from the streamed
    # entry-offset table and must match the count branch exactly
    cnt = np.asarray(r.array("nScoutingJet"))
    offs_counts = np.asarray(r.counts("ScoutingJet_pt"))
    assert (cnt == offs_counts).all()


def test_error_paths():
    with pytest.raises(RootFileError, match="RNTuple"):
        RootTreeReader(f"{SAMPLES}/nano_dy_rntuple.root")
    with pytest.raises(RootFileError, match="no tree"):
        RootTreeReader(f"{SAMPLES}/nano_dimuon.root", tree="NoSuchTree")
    r = RootTreeReader(f"{SAMPLES}/nano_dimuon.root")
    with pytest.raises(KeyError):
        r.array("Not_a_branch")


def test_spark_read_root(spark):
    df = read_root(
        spark,
        [f"{SAMPLES}/nano_dimuon.root", f"{SAMPLES}/nano_dy.root"],
        columns=["run", "event", "nMuon", "Muon_pt", "Muon_charge", "Muon_softId"],
    )
    row = df.agg(
        F.count("*").alias("n"),
        F.sum("nMuon").alias("nm"),
        F.sum(F.size("Muon_pt")).alias("npt"),
    ).first()
    assert row["n"] == 80
    assert row["nm"] == row["npt"]
    # unsigned counts widened to signed, bools kept boolean
    assert dict(df.dtypes)["nMuon"] == "bigint"
    assert dict(df.dtypes)["Muon_softId"] == "array<boolean>"


def test_read_nanoevents_dimuon_pipeline(spark):
    """Raw ROOT -> distributed scan -> NanoAOD zip -> dimuon mass: the
    reference's flagship flow (factory.from_root + ak.combinations)."""
    from coffea_spark.joins import combinations
    from coffea_spark.vector import invariant_mass

    ev = read_nanoevents(
        spark,
        [f"{SAMPLES}/nano_dimuon.root"],
        columns=["run", "nMuon", "Muon_pt", "Muon_eta", "Muon_phi", "Muon_mass", "Muon_charge"],
    )
    assert "Muon" in ev.columns
    pairs = combinations(F.col("Muon"), 2)
    masses = ev.select(
        F.explode(
            F.transform(pairs, lambda p: invariant_mass(p["f0"], p["f1"]))
        ).alias("m")
    )
    z_window = masses.filter("m BETWEEN 60 AND 120").count()
    assert z_window == 7  # deterministic for this fixture


def test_vector_branches_podio_fcc():
    """TBranchElement member-wise branches (podio/FCC): offsets-table
    jaggedness + fType element types; every vector branch must decode with
    counts/content agreement."""
    r = RootTreeReader(f"{SAMPLES}/test_FCC_Winter2023.root")
    assert r.tree == "events"
    assert r.entries == 100
    e = r.array("ReconstructedParticles.energy")
    c = r.counts("ReconstructedParticles.energy")
    assert c.sum() == len(e) and (e > 0).all()
    for name, info in r.branches.items():
        if info.from_offsets:
            assert r.counts(name).sum() == len(r.array(name)), name


def test_stl_vector_branches_physlite():
    """Object-wise std::vector<T> branches (ATLAS xAOD AuxDyn): 10-byte
    per-entry vector headers stripped, dtype from fClassName."""
    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    assert r.tree == "CollectionTree"
    pt = r.array("AnalysisElectronsAuxDyn.pt")
    cts = r.counts("AnalysisElectronsAuxDyn.pt")
    assert cts.sum() == len(pt) == 134
    assert 1000 < pt.mean() / 1000 * 1000 < 1e6  # MeV scale
    # nested vector<vector<T>> branches read as doubly-jagged
    eps = "AnalysisJetsAuxDyn.EnergyPerSampling"
    assert r.branches[eps].depth == 2
    assert r.inner_counts(eps).sum() == len(r.array(eps))


def test_native_fcc_pipeline(spark):
    """Raw podio ROOT -> read_root -> FCCSchemaSpec -> constituent range
    gather; jet energy must approximately equal its constituents' sum."""
    from coffea_spark.schemas_variants import FCCSchemaSpec, gather_range

    df = read_root(
        spark,
        [f"{SAMPLES}/test_FCC_Winter2023.root"],
        columns=[
            "ReconstructedParticles.energy", "ReconstructedParticles.momentum.x",
            "Jet.energy", "Jet.particles_begin", "Jet.particles_end",
            "Muon#0.index", "Muon#0.collectionID",
        ],
    )
    ev = FCCSchemaSpec.apply(df)
    assert {"Jet", "Muon_idx0", "ReconstructedParticles"} <= set(ev.columns)
    out = ev.select(
        F.size("Jet").alias("njet"),
        F.col("Jet.E").alias("jetE"),
        gather_range(
            F.col("ReconstructedParticles.E"),
            F.col("Jet.particles.begin"),
            F.col("Jet.particles.end"),
        ).alias("cons"),
    ).agg(
        F.sum("njet").alias("njets"),
        F.sum(F.aggregate(F.col("jetE"), F.lit(0.0), lambda s, e: s + e)).alias("sumJetE"),
        F.sum(
            F.aggregate(
                "cons",
                F.lit(0.0),
                lambda s, c: s + F.aggregate(c, F.lit(0.0), lambda a, e: a + e),
            )
        ).alias("sumConsE"),
    ).first()
    assert out["njets"] == 268
    assert abs(out["sumJetE"] - out["sumConsE"]) / out["sumJetE"] < 0.05


def test_native_physlite_pipeline(spark):
    from coffea_spark.schemas_variants import PHYSLITESchemaSpec

    df = read_root(
        spark,
        [f"{SAMPLES}/PHYSLITE_example.root"],
        columns=[
            "AnalysisElectronsAuxDyn.pt", "AnalysisElectronsAuxDyn.eta",
            "GSFTrackParticlesAuxDyn.qOverP", "GSFTrackParticlesAuxDyn.theta",
        ],
    )
    ev = PHYSLITESchemaSpec.apply(df)
    row = ev.agg(
        F.sum(F.size("Electrons")).alias("nele"),
        F.sum(F.aggregate("GSFTrackParticles", F.lit(0.0), lambda s, t: s + t["pt"])).alias("pt"),
    ).first()
    assert row["nele"] == 134
    assert row["pt"] > 0


def test_native_treemaker_pipeline(spark):
    from coffea_spark.schemas_variants import TreeMakerSchemaSpec

    df = read_root(
        spark,
        [f"{SAMPLES}/treemaker.root"],
        columns=[
            "Jets.fCoordinates.fPt", "Jets.fCoordinates.fEta",
            "Jets.fCoordinates.fPhi", "Jets.fCoordinates.fE",
        ],
    )
    ev = TreeMakerSchemaSpec.apply(df)
    r = RootTreeReader(f"{SAMPLES}/treemaker.root")
    zipped = ev.agg(F.sum(F.size("Jets"))).first()[0]
    assert zipped == int(r.counts("Jets.fCoordinates.fPt").sum()) == 172


def test_read_histograms():
    from coffea_spark.root_reader import convert_histo_root_file, read_histograms

    h = read_histograms(f"{SAMPLES}/testSF2d.histo.root")
    edges, vals, errs = h["scalefactors_Tight_Electron"]
    assert vals.shape == (10, 6) and errs.shape == (10, 6)
    assert edges[0][0] == -2.5 and edges[0][-1] == 2.5
    assert edges[1][0] == 10.0 and edges[1][-1] == 500.0
    # TH1D with variable edges + directory-nested TH1F
    h1 = read_histograms(f"{SAMPLES}/SFttbar_2016_ele_pt.root")
    assert h1["histo_eff_data"][1].shape[0] == 10
    h2 = read_histograms(f"{SAMPLES}/PR554_SkipReadOnlyDirectory.root")
    assert h2["h1"][1].shape == (25,)
    conv = convert_histo_root_file(f"{SAMPLES}/testSF2d.histo.root")
    assert ("scalefactors_Tight_Electron", "dense_lookup") in conv
    assert ("scalefactors_Tight_Electron_error", "dense_lookup") in conv


# the reference's own expected output for evaluator["testSF2d"](eta, pt)
# over its seed-42 dummy distribution (tests/test_lookup_tools.py:26-91 in
# the reference) — reproduced here as the parity oracle for the native
# histogram reader + DenseLookup chain.
_TESTSF2D_EXPECTED = np.array([
    0.90780139, 0.82748538, 0.86332178, 0.86332178, 0.97981155, 0.79701495,
    0.88245934, 0.82857144, 0.91884059, 0.97466666, 0.94072163, 1.00775194,
    0.82748538, 1.00775194, 0.97203946, 0.98199672, 0.80655736, 0.90893763,
    0.88245934, 0.79701495, 0.82748538, 0.82857144, 0.91884059, 0.90893763,
    0.97520661, 0.97520661, 0.82748538, 0.91884059, 0.97203946, 0.88245934,
    0.79701495, 0.9458763, 1.00775194, 0.80655736, 1.00775194, 1.00775194,
    0.98976982, 0.98976982, 0.86332178, 0.94072163, 0.80655736, 0.98976982,
    0.96638656, 0.9458763, 0.90893763, 0.9529984, 0.9458763, 0.9529984,
    0.80655736, 0.80655736, 0.80655736, 0.98976982, 0.97466666, 0.98199672,
    0.86332178, 1.03286386, 0.94072163, 1.03398061, 0.82857144, 0.80655736,
    1.00775194, 0.80655736,
])


def test_root_scalefactors_reference_parity(spark):
    """Reference tests/test_lookup_tools.py::test_root_scalefactors
    end-to-end: Extractor('.root') -> DenseLookup on a Spark column must
    reproduce the reference's hard-coded expected scale factors for its
    seed-42 dummy kinematics."""
    from coffea_spark.lookup import Extractor

    np.random.seed(42)
    counts = np.random.exponential(2, size=50).astype(int)
    entries = int(counts.sum())
    test_eta = np.random.uniform(-3.0, 3.0, size=entries)
    test_pt = np.random.exponential(10.0, size=entries) + np.random.exponential(
        10, size=entries
    )

    ex = Extractor()
    ex.add_weight_set(
        f"testSF2d scalefactors_Tight_Electron {SAMPLES}/testSF2d.histo.root"
    )
    ex.finalize()
    ev = ex.make_evaluator()
    sf = ev["testSF2d"]

    df = spark.createDataFrame(
        [(i, float(e), float(p)) for i, (e, p) in enumerate(zip(test_eta, test_pt))],
        "i long, eta double, pt double",
    )
    rows = df.select("i", sf(F.col("eta"), F.col("pt")).alias("sf")).orderBy("i").collect()
    got = np.array([r["sf"] for r in rows])
    assert got == pytest.approx(_TESTSF2D_EXPECTED, abs=1e-6)


def test_convert_fallback_roundtrip(tmp_path, spark):
    """root_io.ttree_to_parquet now works without uproot via the native
    reader; parquet round-trip preserves values."""
    from coffea_spark.root_io import ttree_to_parquet

    out = str(tmp_path / "dimuon.parquet")
    ttree_to_parquet(
        f"{SAMPLES}/nano_dimuon.root", out, branches=["run", "nMuon", "Muon_pt"]
    )
    df = spark.read.parquet(out)
    r = RootTreeReader(f"{SAMPLES}/nano_dimuon.root")
    assert df.count() == 40
    got = df.agg(F.sum(F.size("Muon_pt"))).first()[0]
    assert got == int(r.array("nMuon").sum())


def test_entry_range_matches_full_read():
    """to_arrow(entry range) agrees with slicing the whole-file table, on
    a multi-basket fixture and across basket boundaries (reference chunk
    semantics: processor/executor.py cluster-aligned chunks)."""
    r = RootTreeReader(f"{SAMPLES}/treemaker.root")
    cols = [
        n for n, info in list(r.branches.items())[:40]
    ]
    full = r.to_arrow(cols)
    r2 = RootTreeReader(f"{SAMPLES}/treemaker.root")
    n = r.entries
    for e0, e1 in [(0, 3), (3, 7), (7, n), (0, n), (2, 2), (n - 1, n)]:
        got = r2.to_arrow(cols, entry_start=e0, entry_stop=e1)
        assert got.equals(full.slice(e0, e1 - e0)), (e0, e1)


def test_entry_range_jagged_and_nested():
    """Jagged (counts-branch) and STL columns slice correctly mid-file."""
    r = RootTreeReader(f"{SAMPLES}/nano_dimuon.root")
    cols = ["run", "nMuon", "Muon_pt", "Muon_charge", "Muon_softId"]
    full = r.to_arrow(cols)
    for e0, e1 in [(0, 8), (8, 16), (13, 29), (39, 40)]:
        got = r.to_arrow(cols, entry_start=e0, entry_stop=e1)
        assert got.equals(full.slice(e0, e1 - e0)), (e0, e1)


def test_entry_range_decompresses_only_overlap():
    """A range confined to the first basket must not decompress later
    baskets — the memory-bounding contract of the chunked read path."""
    r = RootTreeReader(f"{SAMPLES}/treemaker.root")
    # find a branch with >1 basket
    name = max(r._baskets, key=lambda n: len(r._baskets[n]))
    assert len(r._baskets[name]) >= 2
    idx = r.basket_entry_index(name)
    first_end = int(idx[1])
    touched = []
    orig = RootTreeReader._payload_raw

    def spy(self, key):
        touched.append(key.off)
        return orig(self, key)

    RootTreeReader._payload_raw = spy
    try:
        r.to_arrow([name], entry_start=0, entry_stop=first_end)
    finally:
        RootTreeReader._payload_raw = orig
    basket_offs = [k.off for k in r._baskets[name]]
    assert basket_offs[0] in touched
    assert all(off not in touched for off in basket_offs[1:])


def test_read_root_chunked_fanout(spark):
    """read_root with sub-file splits smaller than the file produces the
    same frame as one-shot reads: the (file, entry-range) work items and
    batch iteration reassemble losslessly."""
    path = f"{SAMPLES}/nano_dimuon.root"
    cols = ["run", "nMuon", "Muon_pt"]
    big = read_root(spark, [path], columns=cols).orderBy("run").collect()
    small = read_root(
        spark, [path], columns=cols, batch_rows=3, split_rows=7
    )
    assert small.count() == 40
    got = small.agg(
        F.sum("nMuon").alias("s"), F.sum(F.size("Muon_pt")).alias("z")
    ).first()
    r = RootTreeReader(path)
    assert got["s"] == int(r.array("nMuon").sum())
    assert got["z"] == int(r.array("nMuon").sum())


def test_streamer_info_parse():
    """TStreamerInfo dictionary parse (reference reads it via uproot's
    model zoo, mapping/uproot.py:115-226): class member tables with
    names and C++ type names."""
    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    infos = r.streamers
    assert len(infos) > 50
    trig = infos.get("xAOD::TrigDecisionAuxInfo_v1")
    assert trig is not None
    tav = [m for m in trig if m["name"] == "tav"]
    assert tav and tav[0]["typename"] == "vector<unsigned int>"


def test_physlite_stl_member_via_streamers():
    """Members whose type exists ONLY in StreamerInfo (fClassName is the
    parent Aux class) now read: tav is 16 trigger words per event."""
    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    tav = r.array("xTrigDecisionAux.tav")
    cts = r.counts("xTrigDecisionAux.tav")
    assert tav.dtype == np.uint32
    assert len(cts) == 100 and (cts == 16).all()


def _hand_decode_first_links(r, name):
    """Independent byte-level decode of the FIRST entry of an
    object-wise nested ElementLink branch (ground truth for the reader)."""
    import struct as st

    k = r._baskets[name][0]
    buf = r._payload(k)
    border = r._basket_last(k) - k.keylen
    offs = r._entry_offsets(k, buf, border)
    p = int(offs[0])
    n_outer = st.unpack_from(">i", buf, p + 6)[0]
    p += 10
    n_in = st.unpack_from(">i", buf, p)[0]
    p += 4
    first = []
    for _ in range(n_in):
        bc = st.unpack_from(">I", buf, p)[0] & 0x3FFFFFFF
        end = p + 4 + bc
        first.append(st.unpack_from(">II", buf, end - 8))
        p = end
    return n_outer, n_in, first


def test_element_link_nested_vectors():
    """vector<vector<ElementLink<...>>> (PHYSLITE vertex->track links):
    outer counts equal the vertex multiplicity, exactly one target
    container key, and the first inner vector matches an independent
    byte-level decode."""
    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    name = "PrimaryVerticesAuxDyn.trackParticleLinks"
    info = r.branches[name]
    assert info.link and info.depth == 2
    links = r.array(name)
    outer = r.counts(name)
    inner = r.inner_counts(name)
    z = r.counts("PrimaryVerticesAuxDyn.z")
    assert np.array_equal(outer, z)
    assert inner.sum() == len(links)
    nonzero = np.unique(links["persKey"])
    assert len(nonzero) == 2 and nonzero[0] == 0  # null links + one container
    n_outer, n_in, first = _hand_decode_first_links(r, name)
    assert n_outer == outer[0] and n_in == inner[0]
    got = [tuple(x) for x in links[["persKey", "persIndex"]][:n_in]]
    assert got == first


def test_element_link_memberwise():
    """Member-wise streamed vector<ElementLink> (0x4000 version flag:
    header then all persKeys then all persIndexes): decoded values match
    an independent byte-level parse of the first entry."""
    import struct as st

    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    name = "METAssoc_AnalysisMETAux.jetLink"
    links = r.array(name)
    cts = r.counts(name)
    k = r._baskets[name][0]
    buf = r._payload(k)
    border = r._basket_last(k) - k.keylen
    offs = r._entry_offsets(k, buf, border)
    p = int(offs[0])
    ver = st.unpack_from(">H", buf, p + 4)[0]
    assert ver & 0x4000
    q = p + 6
    elem_ver = st.unpack_from(">H", buf, q)[0]
    q += 2 + (4 if elem_ver == 0 else 0)
    n = st.unpack_from(">i", buf, q)[0]
    q += 4
    keys = np.frombuffer(buf, ">u4", count=n, offset=q)
    idxs = np.frombuffer(buf, ">u4", count=n, offset=q + 4 * n)
    assert cts[0] == n
    assert np.array_equal(links["persKey"][:n], keys)
    assert np.array_equal(links["persIndex"][:n], idxs)
    # the split spelling of a SINGLE ElementLink member reads too, as
    # plain columns — both spellings coexist in the same file
    pk = r.array("GSFTrackParticlesAuxDyn.originalTrackParticle.m_persKey")
    assert pk.dtype == np.uint32 and len(pk) > 0


def test_edm4hep_fixed_dim_members():
    """Member-wise fixed-size array members (covMatrix.values[6]) frame
    by the offset table: every entry's count is a multiple of 6."""
    r = RootTreeReader(f"{SAMPLES}/edm4hep.root")
    name = "ClusterCollection.positionError.values[6]"
    assert name in r.branches
    cts = r.counts(name)
    assert (cts % 6 == 0).all()
    # streamer-typed scalar members read too
    cell = r.array("CalorimeterHitCollection.cellID")
    assert cell.dtype == np.uint64


def test_read_root_link_structs(spark):
    """ElementLink branches surface in Spark as array<struct<persKey,
    persIndex>> columns through the distributed reader."""
    from pyspark.sql import types as T

    name = "METAssoc_AnalysisMETAux.jetLink"
    df = read_root(spark, [f"{SAMPLES}/PHYSLITE_example.root"], columns=[name])
    f = df.schema[name]
    assert isinstance(f.dataType, T.ArrayType)
    assert isinstance(f.dataType.elementType, T.StructType)
    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    total = df.agg(F.sum(F.size(F.col(f"`{name}`")))).first()[0]
    assert total == len(r.array(name))
    s = df.select(F.explode(F.col(f"`{name}`")).alias("l")).agg(
        F.sum("l.persIndex")
    ).first()[0]
    assert s == int(r.array(name)["persIndex"].astype("int64").sum())


def test_pdune_string_branches():
    """std::string / vector<string> branches read natively (the data
    probe types branches whose fClassName streams empty): pduneana is
    now 100% readable."""
    r = RootTreeReader(f"{SAMPLES}/pduneana.root")
    assert len(r.branches) == len(r._baskets)
    info = r.branches["true_beam_endProcess"]
    assert info.string == 1
    v = r.array("true_beam_endProcess")
    assert v.dtype == object and len(v) == r.entries
    vp = r.branches["true_beam_processes"]
    assert vp.string == 2
    t = r.to_arrow(["true_beam_endProcess", "true_beam_processes"])
    assert str(t.schema.field("true_beam_endProcess").type) == "string"
    assert str(t.schema.field("true_beam_processes").type) == "list<item: string>"


@pytest.mark.parametrize(
    "fname,rows",
    [
        ("PHYSLITE_example.root", 100),
        ("edm4hep.root", 3),
        ("p8_ee_WW_ecm240_edm4hep.root", 10),
        ("pduneana.root", 10),
        ("treemaker.root", 10),
        ("test_FCC_Spring2021.root", 100),
        ("test_FCC_Winter2023.root", 100),
        ("nano_dy.root", 40),
        ("nano_dimuon.root", 40),
    ],
)
def test_full_schema_spark_read(spark, fname, rows):
    """EVERY readable branch of every fixture round-trips through the
    distributed reader's schema mapping and Arrow casts (links, strings,
    doubly-jagged, u8 widening) — the whole-schema regression net."""
    path = f"{SAMPLES}/{fname}"
    r = RootTreeReader(path)
    df = read_root(spark, [path], columns=sorted(r.branches))
    assert df.count() == rows
    assert len(df.columns) == len(r.branches)


def test_triple_nested_vectors():
    """vector<vector<vector<T>>> branches (xAOD MET overlapIndices u8 /
    overlapTypes u1) decode with EXACT content equality against an
    independent sequential byte parse of the same baskets."""
    import struct

    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    for name, itemsize, fmt in [
        ("METAssoc_AnalysisMETAux.overlapTypes", 1, ">B"),
        ("METAssoc_AnalysisMETAux.overlapIndices", 8, ">Q"),
    ]:
        info = r.branches[name]
        assert info.depth == 3 and info.header_bytes == 10
        got = r.to_arrow([name]).column(0).to_pylist()

        want = []
        for k in r._baskets[name]:
            buf = r._payload(k)
            border = r._basket_last(k) - k.keylen
            offs = r._entry_offsets(k, buf, border)
            for e in range(len(offs) - 1):
                p, end = int(offs[e]), int(offs[e + 1])
                n1 = struct.unpack_from(">i", buf, p + 6)[0]
                q = p + 10
                entry = []
                for _ in range(n1):
                    n2 = struct.unpack_from(">i", buf, q)[0]
                    q += 4
                    mid = []
                    for _ in range(n2):
                        n3 = struct.unpack_from(">i", buf, q)[0]
                        q += 4
                        mid.append(
                            [struct.unpack_from(fmt, buf, q + j * itemsize)[0]
                             for j in range(n3)]
                        )
                        q += n3 * itemsize
                    entry.append(mid)
                assert q == end
                want.append(entry)
        assert got == want
        # entry-range path agrees with the full read
        sub = r.to_arrow([name], entry_start=37, entry_stop=73).column(0).to_pylist()
        assert sub == want[37:73]


def test_scalar_element_link_member():
    """SCALAR ElementLink members (one link object per entry, xAOD
    EventInfo hardScatterVertexLink) decode as plain struct columns,
    verified against an independent byte walk; split parents sharing
    the ElementLink fClassName stay rejected by the framing probe."""
    import struct

    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    name = "EventInfoAuxDyn.hardScatterVertexLink"
    info = r.branches[name]
    assert info.link and info.depth == 0

    got = r.to_arrow([name]).column(0).to_pylist()
    want = []
    for k in r._baskets[name]:
        buf = r._payload(k)
        border = r._basket_last(k) - k.keylen
        p = 0
        while p < border:
            bc = struct.unpack_from(">I", buf, p)[0] & 0x3FFFFFFF
            ver = struct.unpack_from(">H", buf, p + 4)[0]
            q = p + 6 + (4 if ver == 0 else 0)
            key, idx = struct.unpack_from(">II", buf, q)
            want.append({"persKey": key, "persIndex": idx})
            p = p + 4 + bc
    assert got == want and len(got) == r.entries

    # split parents carry the same fClassName but a counts payload —
    # the probe must keep them unreadable (their data is in children)
    assert "AnalysisElectronsAuxDyn.truthParticleLink" not in r.branches
    assert "AnalysisElectronsAuxDyn.truthParticleLink.m_persKey" in r.branches


def test_map_string_sub_branches():
    """map<string,string> members split to .first/.second sub-branches
    (PHYSLITE EventInfoAuxDyn.detDescrTags): member-wise entries =
    bytecount|mask u4 + version u2, then TStrings. The real fixture's
    maps are all EMPTY (the split parent's counts are 0), so the content
    path is exercised on a synthetic basket with the same framing."""
    import struct as _s

    import numpy as np

    from coffea_spark.root_reader import (
        BranchInfo,
        RootFileError,
        RootTreeReader,
    )

    # real fixture: classification + 100 empty maps
    r = RootTreeReader(f"{SAMPLES}/PHYSLITE_example.root")
    for n in (
        "EventInfoAuxDyn.detDescrTags.first",
        "EventInfoAuxDyn.detDescrTags.second",
    ):
        assert r.branches[n].string == 3
        t = r.to_arrow([n])
        lst = t.column(0).to_pylist()
        assert len(lst) == 100 and all(x == [] for x in lst)

    # synthetic basket: non-empty maps through the same decode path
    def ts(s):
        b = s.encode()
        if len(b) >= 255:  # long TString: 0xFF prefix + u4 length
            return b"\xff" + _s.pack(">I", len(b)) + b
        return bytes([len(b)]) + b

    def entry(strings):
        body = b"".join(ts(s) for s in strings)
        return _s.pack(">I", 0x40000000 | (2 + len(body))) + _s.pack(">H", 9) + body

    entries = [entry([]), entry(["GeoAtlas", "ATLAS-R3"]), entry(["k" * 300])]
    buf = b"".join(entries)
    offs = np.cumsum([0] + [len(e) for e in entries])

    fake = object.__new__(RootTreeReader)
    fake.path = "<synthetic>"
    fake._entry_offsets = lambda k, b, border: offs
    info = BranchInfo(
        "m.first", "u1", None, 1, is_bool=False,
        from_offsets=True, header_bytes=6, string=3,
    )
    vals, counts, _ = fake._basket_strings("m.first", info, None, buf, len(buf))
    assert list(counts) == [0, 2, 1]
    assert list(vals) == ["GeoAtlas", "ATLAS-R3", "k" * 300]

    # corrupted bytecount fails loud, not silently wrong
    bad = bytearray(buf)
    bad[0:4] = _s.pack(">I", 2 + 1)  # mask bit missing
    try:
        fake._basket_strings("m.first", info, None, bytes(bad), len(bad))
    except RootFileError:
        pass
    else:
        raise AssertionError("expected RootFileError for bad header")


def test_root_datasource_format(spark):
    """spark.read.format('root') must match the native reader exactly,
    split a file into multiple partitions when split_rows is small, and
    fail loudly on bad columns/paths."""
    from coffea_spark.datasource import RootDataSource, register_root_source

    register_root_source(spark)
    p = f"{SAMPLES}/nano_dimuon.root"
    cols = "Muon_pt,nMuon,event"
    df = (
        spark.read.format("root")
        .option("columns", cols)
        .option("split_rows", "16")  # 40 events -> 3 partitions
        .load(p)
    )
    assert df.rdd.getNumPartitions() == 3
    via_ds = df.orderBy("event").collect()
    native = RootTreeReader(p).to_arrow(cols.split(",")).sort_by("event")
    assert [tuple(r) for r in via_ds] == [tuple(r.values()) for r in native.to_pylist()]

    # RNTuple files route through the same source (open_tree dispatch)
    rnt = (
        spark.read.format("root")
        .option("columns", "Muon_pt")
        .load(f"{SAMPLES}/nano_dimuon_rntuple.root")
    )
    assert rnt.agg(F.sum(F.size("Muon_pt"))).collect()[0][0] == 84

    import pytest

    with pytest.raises(Exception, match="unreadable columns"):
        spark.read.format("root").option("columns", "NoSuch").load(p).collect()
    with pytest.raises(Exception, match="no files match"):
        spark.read.format("root").load("/nonexistent/*.root").collect()


def test_root_datasource_sql_using(spark):
    """SQL catalog surface: CREATE TEMPORARY VIEW ... USING root routes
    through the registered Python data source."""
    from coffea_spark.datasource import register_root_source

    register_root_source(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW nano_sql_gate
        USING root
        OPTIONS (path '{SAMPLES}/nano_dimuon.root', columns 'nMuon,Muon_pt')"""
    )
    row = spark.sql(
        "SELECT count(*) AS n, sum(nMuon) AS s,"
        " sum(size(Muon_pt)) AS sp FROM nano_sql_gate"
    ).collect()[0]
    assert (row.n, row.s, row.sp) == (40, 84, 84)


def test_special_tree_discovery_after_unmarked_gap():
    """nano_dy_SpecialTree.root carries Events, Runs AND NotEvents —
    with a sub-key-size unmarked gap mid-file that desyncs a naive
    linear key walk (ROOT cannot write a freed-slot marker smaller
    than a key header). The reader must resync and also read the
    directory key list, so all three trees resolve (reference exercises
    this file as the missing-tree case in test_local_executors.py:44)."""
    with pytest.raises(RootFileError, match="NotThere"):
        RootTreeReader(f"{SAMPLES}/nano_dy_SpecialTree.root", tree="NotThere")
    try:
        RootTreeReader(f"{SAMPLES}/nano_dy_SpecialTree.root", tree="NotThere")
    except RootFileError as e:
        assert "'Events'" in str(e) and "'NotEvents'" in str(e) and "'Runs'" in str(e)
    # the NotEvents tree decodes to exactly the nano_dy Events content
    r = RootTreeReader(f"{SAMPLES}/nano_dy_SpecialTree.root", tree="NotEvents")
    ref = RootTreeReader(f"{SAMPLES}/nano_dy.root", tree="Events")
    assert len(r.branches) >= len(ref.branches)
    ev = r.array("event")
    ev_ref = ref.array("event")
    assert sorted(ev.tolist()) == sorted(ev_ref.tolist())
    np.testing.assert_array_equal(np.sort(r.array("MET_pt")), np.sort(ref.array("MET_pt")))


def test_missing_event_ids_raise_and_warn(spark):
    """NanoAOD event-id contract on the real missing_luminosityBlock
    fixture (reference tests/test_nanoevents.py:183-201): RuntimeError
    by default, RuntimeWarning with error_missing_event_ids=False."""
    import warnings

    from coffea_spark.nanoevents import NanoEvents
    from coffea_spark.schema import NanoAODSchemaSpec

    df = read_root(
        spark, f"{SAMPLES}/missing_luminosityBlock.root",
        columns=["run", "event", "Muon_pt"],
    )
    with pytest.raises(RuntimeError, match=r"Missing event_ids : \['luminosityBlock'\]"):
        NanoEvents.from_variant(df, "nanoaod")
    NanoAODSchemaSpec.error_missing_event_ids = False
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ev = NanoEvents.from_variant(df, "nanoaod")
            assert any("Missing event_ids" in str(x.message) for x in w)
    finally:
        NanoAODSchemaSpec.error_missing_event_ids = True
    assert ev.df.count() > 0
