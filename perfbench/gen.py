"""Seeded inputs for the benchmark, and the expected results worked out
from them in numpy or plain Python (the oracles every pass is checked
against). Nothing here imports Spark or the library under test."""

from __future__ import annotations

import numpy as np

# -- flat NanoAOD-style events ------------------------------------------------

#: per collection: (mean multiplicity, max multiplicity)
MULTIPLICITY = {"Muon": (1.8, 5), "Electron": (0.8, 4), "Jet": (3.0, 8)}


def nano_events(rng: np.random.Generator, n: int, event0: int = 0) -> dict:
    """``n`` events as {"scalars": {branch: array}, "collections":
    {name: (counts, {member: flat array})}}. Floats are float32, as in
    NanoAOD; ``Muon_jetIdx`` points into the event's jets, is -1 for
    half the muons and sometimes past the last jet (a NULL gather)."""
    counts = {
        c: np.minimum(rng.poisson(mu, n), cap).astype(np.int32)
        for c, (mu, cap) in MULTIPLICITY.items()
    }

    def kin(c, pt0, pt_scale, eta_max, mass):
        k = int(counts[c].sum())
        m = (
            np.full(k, mass, np.float32)
            if np.isscalar(mass)
            else mass(k).astype(np.float32)
        )
        return {
            "pt": (pt0 + rng.exponential(pt_scale, k)).astype(np.float32),
            "eta": rng.uniform(-eta_max, eta_max, k).astype(np.float32),
            "phi": rng.uniform(-np.pi, np.pi, k).astype(np.float32),
            "mass": m,
        }

    mu = kin("Muon", 5.0, 30.0, 2.7, 0.10566)
    k = len(mu["pt"])
    mu["charge"] = rng.choice(np.array([-1, 1], np.int32), k)
    njet_of_muon = np.repeat(counts["Jet"], counts["Muon"])
    idx = rng.integers(0, njet_of_muon + 2, k).astype(np.int32)
    mu["jetIdx"] = np.where(rng.random(k) < 0.5, -1, idx).astype(np.int32)
    mu["tightId"] = rng.random(k) < 0.8

    el = kin("Electron", 5.0, 20.0, 2.7, 0.000511)
    k = len(el["pt"])
    el["charge"] = rng.choice(np.array([-1, 1], np.int32), k)
    el["cutBased"] = rng.integers(0, 5, k).astype(np.int32)

    jet = kin("Jet", 15.0, 35.0, 4.7, lambda k: 5.0 + rng.exponential(5.0, k))
    jet["btagDeepFlavB"] = rng.random(len(jet["pt"])).astype(np.float32)

    scalars = {
        "run": np.full(n, 1, np.int32),
        "luminosityBlock": (np.arange(n) // 1000 + 1).astype(np.int32),
        "event": np.arange(event0, event0 + n, dtype=np.int64),
        "HLT_IsoMu24": rng.random(n) < 0.7,
        "genWeight": rng.normal(1.0, 0.2, n).astype(np.float32),
        "MET_pt": rng.exponential(30.0, n).astype(np.float32),
        "MET_phi": rng.uniform(-np.pi, np.pi, n).astype(np.float32),
    }
    return {
        "n": n,
        "scalars": scalars,
        "collections": {
            "Muon": (counts["Muon"], mu),
            "Electron": (counts["Electron"], el),
            "Jet": (counts["Jet"], jet),
        },
    }


def arrow_table(ev: dict):
    """Flat NanoAOD as an Arrow table: jagged branches are list columns."""
    import pyarrow as pa

    cols = {k: pa.array(v) for k, v in ev["scalars"].items()}
    for name, (counts, members) in ev["collections"].items():
        cols[f"n{name}"] = pa.array(counts)
        off = pa.array(np.concatenate([[0], np.cumsum(counts)]).astype(np.int32))
        for m, v in members.items():
            cols[f"{name}_{m}"] = pa.ListArray.from_arrays(off, pa.array(v))
    return pa.table(cols)


def root_columns(ev: dict) -> tuple[dict, dict]:
    """Column dict and counts map for ``root_writer.write_root_file``:
    jagged branches as one array per event, sharing ``nX`` counts."""
    cols = dict(ev["scalars"])
    cmap = {}
    for name, (counts, members) in ev["collections"].items():
        cuts = np.cumsum(counts)[:-1]
        for m, v in members.items():
            cols[f"{name}_{m}"] = np.split(v, cuts)
            cmap[f"{name}_{m}"] = f"n{name}"
    return cols, cmap


def _padded(counts: np.ndarray, flat: np.ndarray, width: int, fill) -> np.ndarray:
    """Jagged (counts, flat) -> (n, width) array padded with ``fill``."""
    n = len(counts)
    out = np.full((n, width), fill, dtype=flat.dtype)
    ev = np.repeat(np.arange(n), counts)
    pos = np.arange(len(flat)) - np.repeat(np.cumsum(counts) - counts, counts)
    out[ev, pos] = flat
    return out


def _mass(pt1, eta1, phi1, m1, pt2, eta2, phi2, m2):
    """Pair invariant mass, term for term as ``vector.mass2_pair``."""

    def comps(pt, eta, phi, m):
        p = pt * np.cosh(eta)
        return pt * np.cos(phi), pt * np.sin(phi), pt * np.sinh(eta), np.sqrt(m * m + p * p)

    x1, y1, z1, e1 = comps(pt1, eta1, phi1, m1)
    x2, y2, z2, e2 = comps(pt2, eta2, phi2, m2)
    se, sx, sy, sz = e1 + e2, x1 + x2, y1 + y2, z1 + z2
    return np.sqrt(np.maximum(se * se - sx * sx - sy * sy - sz * sz, 0.0))


# the analysis the nano_analysis processor runs, stated once for both sides
MUON_PT, MUON_ETA = 10.0, 2.4
ELECTRON_PT, ELECTRON_ETA = 15.0, 2.5
ISO_JET_PT = 40.0
Z_LO, Z_HI = 60.0, 120.0
CUTS = ["trigger", "two_muons", "os_pair", "z_window", "muon_jet_iso", "electron_veto"]
SF_PT_EDGES = np.array([10.0, 20.0, 30.0, 40.0, 60.0, 100.0, 200.0])
SF_ETA_EDGES = np.array([0.0, 0.9, 1.2, 2.1, 2.4])


def scale_factor_tables(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Muon scale factor and its uncertainty on the (pt, |eta|) grid."""
    shape = (len(SF_PT_EDGES) - 1, len(SF_ETA_EDGES) - 1)
    return rng.uniform(0.9, 1.05, shape), rng.uniform(0.005, 0.03, shape)


def _lookup(values: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Clamped bin lookup, the semantics of ``lookup.DenseLookup``."""
    ix = np.clip(np.searchsorted(SF_PT_EDGES, x, "right") - 1, 0, len(SF_PT_EDGES) - 2)
    iy = np.clip(np.searchsorted(SF_ETA_EDGES, y, "right") - 1, 0, len(SF_ETA_EDGES) - 2)
    return values[ix, iy]


def nano_expected(ev: dict, sf: np.ndarray, sf_unc: np.ndarray) -> dict:
    """Cutflow counts and per-variation histogram totals of one dataset."""
    n = ev["n"]
    s = {k: v.astype(np.float64) if v.dtype.kind == "f" else v for k, v in ev["scalars"].items()}
    mc, mu = ev["collections"]["Muon"]
    jc, jet = ev["collections"]["Jet"]
    ec, el = ev["collections"]["Electron"]
    f64 = {k: v.astype(np.float64) if v.dtype.kind == "f" else v for k, v in mu.items()}
    good = (f64["pt"] > MUON_PT) & (np.abs(f64["eta"]) < MUON_ETA)
    ngood = np.bincount(np.repeat(np.arange(n), mc)[good], minlength=n)

    # muon_jet_iso: a good muon whose jetIdx points at a jet with pt > 40
    first_jet = np.repeat(np.cumsum(jc) - jc, mc)
    in_range = (mu["jetIdx"] >= 0) & (mu["jetIdx"] < np.repeat(jc, mc))
    jpt = np.zeros(len(good))
    jpt[in_range] = jet["pt"].astype(np.float64)[first_jet[in_range] + mu["jetIdx"][in_range]]
    hard = good & in_range & (jpt > ISO_JET_PT)
    no_hard = np.bincount(np.repeat(np.arange(n), mc)[hard], minlength=n) == 0

    eg = (el["pt"].astype(np.float64) > ELECTRON_PT) & (np.abs(el["eta"].astype(np.float64)) < ELECTRON_ETA)
    no_ele = np.bincount(np.repeat(np.arange(n), ec)[eg], minlength=n) == 0

    # good muons compacted to the left of a padded (n, width) table, then
    # the first opposite-charge pair in combinations order (i < j)
    width = MULTIPLICITY["Muon"][1]
    pad = {k: _padded(ngood, f64[k][good], width, 0) for k in ("pt", "eta", "phi", "mass", "charge")}
    found = np.zeros(n, bool)
    i, j = np.zeros(n, int), np.zeros(n, int)
    for a in range(width):
        for b in range(a + 1, width):
            ok = (~found) & (b < ngood) & (pad["charge"][:, a] + pad["charge"][:, b] == 0)
            i[ok], j[ok] = a, b
            found |= ok
    rows = np.arange(n)
    mass = _mass(*(pad[k][rows, i] for k in ("pt", "eta", "phi", "mass")),
                 *(pad[k][rows, j] for k in ("pt", "eta", "phi", "mass")))
    cuts = {
        "trigger": s["HLT_IsoMu24"],
        "two_muons": ngood >= 2,
        "os_pair": found,
        "z_window": found & (mass > Z_LO) & (mass < Z_HI),
        "muon_jet_iso": no_hard,
        "electron_veto": no_ele,
    }
    sel = np.ones(n, bool)
    cutflow = []
    for c in CUTS:
        sel = sel & cuts[c]
        cutflow.append(int(sel.sum()))
    lead_pt, lead_eta = pad["pt"][rows, i][sel], np.abs(pad["eta"][rows, i][sel])
    nominal = s["genWeight"][sel] * _lookup(sf, lead_pt, lead_eta)
    ratio_up = _lookup(sf + sf_unc, lead_pt, lead_eta) / _lookup(sf, lead_pt, lead_eta)
    ratio_dn = _lookup(sf - sf_unc, lead_pt, lead_eta) / _lookup(sf, lead_pt, lead_eta)
    weights = {"nominal": nominal, "muon_sfUp": nominal * ratio_up, "muon_sfDown": nominal * ratio_dn}
    return {
        "onecut": [int(cuts[c].sum()) for c in CUTS],
        "cutflow": cutflow,
        "sumw": {v: float(w.sum()) for v, w in weights.items()},
        "n": int(sel.sum()),
    }


def skim_mask(ev: dict) -> np.ndarray:
    """Events the nano_root_skim selection keeps: two good muons and
    MET below 80."""
    n = ev["n"]
    mc, mu = ev["collections"]["Muon"]
    good = (mu["pt"].astype(np.float64) > 20.0) & (np.abs(mu["eta"].astype(np.float64)) < MUON_ETA)
    ngood = np.bincount(np.repeat(np.arange(n), mc)[good], minlength=n)
    return (ngood >= 2) & (ev["scalars"]["MET_pt"].astype(np.float64) < 80.0)


def event_digest(event: np.ndarray, counts: np.ndarray, flat: np.ndarray) -> tuple:
    """(sorted event ids, counts, per-event float64 sums of ``flat``) in
    event-id order: compares a jagged branch independent of row order."""
    order = np.argsort(event, kind="stable")
    sums = np.zeros(len(counts))
    np.add.at(sums, np.repeat(np.arange(len(counts)), counts), flat.astype(np.float64))
    return event[order], counts[order], sums[order]


# -- near-duplicate document corpus --------------------------------------------

def _shingles(text: str, n: int = 5) -> set[str]:
    """Distinct character n-grams (``llmdata.text.char_ngrams``)."""
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def doc_corpus(rng: np.random.Generator, n_docs: int, dup_share: float,
               threshold: float) -> tuple[list[tuple[int, str]], set, dict]:
    """``n_docs`` documents; ``dup_share`` of them are near-duplicates of
    an earlier original (1 to a quarter of its words replaced, putting
    the pairs' Jaccard on both sides of ``threshold``), so originals with
    their copies form planted clusters. Words follow a Zipf-like law over a
    20k-word vocabulary. Returns (docs, planted pairs with true Jaccard
    >= ``threshold`` as (id_a, id_b) with id_a < id_b, {id: shingle
    set})."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(20_000)]
    p = 1.0 / (np.arange(len(vocab)) + 20.0)
    p /= p.sum()
    n_dup = int(round(n_docs * dup_share))
    n_orig = n_docs - n_dup
    words = []
    for _ in range(n_orig):
        words.append(list(rng.choice(len(vocab), rng.integers(40, 81), p=p)))
    cluster_of = list(range(n_orig))
    for _ in range(n_dup):
        base = int(rng.integers(0, n_orig))
        w = list(words[base])
        for pos in rng.choice(len(w), rng.integers(1, len(w) // 4 + 1), replace=False):
            w[pos] = int(rng.integers(0, len(vocab)))
        words.append(w)
        cluster_of.append(base)
    ids = rng.permutation(n_docs) * 7 + 3  # ids carry no cluster order
    docs = [(int(ids[k]), " ".join(vocab[i] for i in w)) for k, w in enumerate(words)]
    sets = [_shingles(t) for _, t in docs]
    members: dict[int, list[int]] = {}
    for k, c in enumerate(cluster_of):
        members.setdefault(c, []).append(k)
    planted = set()
    for ks in members.values():
        for x in range(len(ks)):
            for y in range(x + 1, len(ks)):
                a, b = ks[x], ks[y]
                if jaccard(sets[a], sets[b]) >= threshold:
                    planted.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    by_id = {docs[k][0]: sets[k] for k in range(n_docs)}
    return docs, {(int(a), int(b)) for a, b in planted}, by_id
