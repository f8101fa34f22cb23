"""NanoEvents genealogy invariants through the OBJECT API over REAL
binaries — the reference's remaining genroundtrip suite
(tests/test_nanoevents.py:12-47) and its slice-stability variants
(:87-93), run through nanoevents.GenealogyView / Collection on
nano_dy.root (GenPart genealogy) and nano_dimuon.root (crossref), read
by the native ROOT reader (root_reader.read_root).

The invariants were already gate-checked relationally (xref_roundtrip,
genealogy_walk, deep_children); this file checks them through the
user-facing proxy API — the index-space design (GenealogyView mirrors
the reference's childrenIdxG + _apply_global_index) must survive
event-level masks and object-level slices exactly like the reference's
global-index columns do.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from coffea_spark.nanoevents import NanoEvents
from coffea_spark.root_reader import read_root
from coffea_spark.schema import NanoAODSchemaSpec
from coffea_spark.testing import sample

GEN_COLS = [
    "GenPart_pt",
    "GenPart_eta",
    "GenPart_phi",
    "GenPart_mass",
    "GenPart_pdgId",
    "GenPart_genPartIdxMother",
    "Electron_pt",
    "Electron_eta",
    "Electron_phi",
    "Electron_mass",
    "Electron_charge",
    "Electron_genPartIdx",
]


@pytest.fixture(scope="module")
def ne_dy(spark):
    df = read_root(spark, [sample("nano_dy.root")], columns=GEN_COLS)
    ev = NanoEvents.from_flat(df, schema=NanoAODSchemaSpec)
    ev.df.cache().count()
    return ev


def _walk(v):
    """Flatten arbitrarily nested lists, keeping alignment tuples out —
    yields (path, value) leaves."""
    if isinstance(v, list):
        for x in v:
            yield from _walk(x)
    else:
        yield v


def _genroundtrips(df, view):
    """The reference genroundtrip invariants (tests/test_nanoevents.py
    :12-34) evaluated on a GenealogyView: masked/absent links are NULL
    and skip the comparison, exactly like ak.mask + ak.all."""
    rows = df.select(
        view.pdgId.alias("pdg"),
        view.children.parent.pdgId.alias("cp_pdg"),
        view.parent.children.pdgId.alias("pc_pdg"),
        view.parent.c.alias("par_idx"),
        view.distinctParent.pdgId.alias("dp_pdg"),
        view.distinctParent.children.pdgId.alias("dpc_pdg"),
        view.distinctChildren.pdgId.alias("dc_pdg"),
        view.distinctChildren.distinctParent.pdgId.alias("dcdp_pdg"),
    ).collect()
    n_checked = 0
    for r in rows:
        for i, pdg in enumerate(r.pdg):
            if pdg is None:
                # masked particle: every derived link must be NULL too
                assert r.cp_pdg[i] is None and r.dp_pdg[i] is None
                continue
            # children.parent.pdgId == pdgId
            for v in _walk(r.cp_pdg[i] or []):
                assert v == pdg
                n_checked += 1
            # any(parent.children.pdgId == pdgId) when parent exists
            if r.par_idx[i] is not None:
                sibs = [v for v in _walk(r.pc_pdg[i] or []) if v is not None]
                assert pdg in sibs
            # distinctParent.pdgId != pdgId, and it has a child with
            # this particle's pdgId
            if r.dp_pdg[i] is not None:
                assert r.dp_pdg[i] != pdg
                dpc = [v for v in _walk(r.dpc_pdg[i] or []) if v is not None]
                assert pdg in dpc
            # distinctChildren should be distinct...
            for v in _walk(r.dc_pdg[i] or []):
                assert v is not None and v != pdg
            # ...and their distinctParent is this particle
            for v in _walk(r.dcdp_pdg[i] or []):
                assert v == pdg
                n_checked += 1
    assert n_checked > 0, "fixture exercised no genealogy links"


@pytest.mark.samples
def test_genroundtrips_plain(ne_dy):
    _genroundtrips(ne_dy.df, ne_dy.GenPart.indexed)


@pytest.mark.samples
def test_genroundtrips_object_mask(ne_dy):
    """ak.mask(events.GenPart, eta > 0) analog: null-preserving object
    mask through Collection.mask, genealogy resolved via the pristine
    base (reference tests/test_nanoevents.py:87)."""
    masked = ne_dy.GenPart.mask(lambda p: p.eta > 0)
    _genroundtrips(ne_dy.df, masked.indexed)


@pytest.mark.samples
def test_genroundtrips_object_slice(ne_dy):
    """events.GenPart[eta > 0] analog: HARD slice in index space
    (GenealogyView.where) — relations still resolve into the full
    array, like the reference's travelling IdxG columns (:92)."""
    _genroundtrips(ne_dy.df, ne_dy.GenPart.indexed.where(lambda p: p.eta > 0))


@pytest.mark.samples
def test_genroundtrips_event_filter(ne_dy):
    """events[any(Electron.pt > 50)].GenPart analog (:88/:93)."""
    ev = ne_dy.filter(F.exists("Electron", lambda e: e["pt"] > 50))
    assert ev.df.count() > 0
    _genroundtrips(ev.df, ev.GenPart.indexed)


@pytest.mark.samples
def test_collection_where_blocks_genealogy(ne_dy):
    """A where()-sliced Collection loses position alignment; genealogy
    must fail LOUD, pointing at the index-space slice."""
    sliced = ne_dy.GenPart.where(lambda p: p.eta > 0)
    with pytest.raises(ValueError, match="alignment"):
        _ = sliced.indexed


@pytest.mark.samples
def test_matched_gen_sanity(ne_dy):
    """Reference test_read_nanomc gen-matching sanity
    (tests/test_nanoevents.py:95-100): electron gen match is an
    electron (|pdgId| == 11) or a photon (22)."""
    el = ne_dy.Electron
    rows = ne_dy.df.select(el.matched_gen.pdgId.alias("gp")).collect()
    n = 0
    for r in rows:
        for v in _walk(r.gp or []):
            if v is not None:
                assert abs(v) == 11 or v == 22
                n += 1
    assert n > 0


CROSSREF_COLS = [
    "Jet_pt",
    "Jet_eta",
    "Jet_phi",
    "Jet_mass",
    "Jet_muonIdx1",
    "Jet_muonIdx2",
    "Muon_pt",
    "Muon_eta",
    "Muon_phi",
    "Muon_mass",
    "Muon_charge",
    "Muon_jetIdx",
]


@pytest.mark.samples
@pytest.mark.parametrize("fname", ["nano_dy.root", "nano_dimuon.root"])
def test_crossref_real(spark, fname):
    """Reference crossref invariant (tests/test_nanoevents.py:54-63) on
    both real fixtures, pre- and post-slice:
    Jet.matched_muons.matched_jet.pt == Jet.pt."""
    df = read_root(spark, [sample(fname)], columns=CROSSREF_COLS)
    ev = NanoEvents.from_flat(df, schema=NanoAODSchemaSpec)

    def crossref(frame, events):
        jets = events.Jet
        mm = jets.matched_muons
        back_pt = frame.select(
            F.col("Jet.pt").alias("jpt"),
            F.transform(
                mm.c,
                lambda ms: F.transform(ms, lambda m: m["jetIdx"]),
            ).alias("back"),
        ).collect()
        n = 0
        for r in back_pt:
            for j, idxs in enumerate(r.back or []):
                for bi in _walk(idxs or []):
                    if bi is not None and bi >= 0:
                        # the muon matched from jet j points back at j
                        assert bi == j
                        n += 1
        return n

    n_all = crossref(ev.df, ev)
    # post-slice: events with > 2 jets (reference crossref(events[...]))
    ev2 = ev.filter(F.size("Jet") > 2)
    if ev2.df.count():
        crossref(ev2.df, ev2)
    assert n_all >= 0


@pytest.mark.samples
def test_view_walks_match_arrow_kernels(ne_dy):
    """The pure-column expression walks (GenealogyView._distinct_parent_of
    / _deep_children_of — required because Spark bans Python UDFs inside
    HOF lambdas) must agree with the vectorized Arrow kernels the
    relational operators use (genealogy.distinct_parent_idx /
    distinct_children_deep_idx); deep sets compare order-insensitively
    (the kernel emits DFS order, the expression ascending index)."""
    import pyspark.sql.functions as F

    from coffea_spark.genealogy import (
        distinct_children_deep_idx,
        distinct_parent_idx,
    )

    view = ne_dy.GenPart.indexed
    rows = ne_dy.df.select(
        view.distinctParent.c.alias("dp_view"),
        distinct_parent_idx(F.col("GenPart")).alias("dp_kernel"),
        view.distinctChildrenDeep.c.alias("deep_view"),
        distinct_children_deep_idx(F.col("GenPart")).alias("deep_kernel"),
    ).collect()
    n_deep = 0
    for r in rows:
        assert list(r.dp_view) == list(r.dp_kernel)
        for a, b in zip(r.deep_view, r.deep_kernel):
            assert sorted(a or []) == sorted(b or [])
            n_deep += len(b or [])
    assert n_deep > 0


@pytest.mark.samples
def test_deep_children_invariants(ne_dy):
    """The reference deep-chain invariants (tests/test_nanoevents.py
    :35-47) on the real nano_dy GenPart record, through the object API:
    chain-interior particles never have distinctChildrenDeep; chain
    tops with children always do; deep children that are same-pdg chain
    leaves have no children of their own."""
    view = ne_dy.GenPart.indexed
    rows = ne_dy.df.select(
        view.pdgId.alias("pdg"),
        view.parent.pdgId.alias("par_pdg"),
        view.parent.c.alias("par_idx"),
        view.children.count.alias("n_kids"),
        view.distinctChildrenDeep.count.alias("n_deep"),
        view.distinctChildrenDeep.pdgId.alias("deep_pdg"),
        view.distinctChildrenDeep.children.count.alias("deep_kid_counts"),
    ).collect()
    n_interior = n_top = n_leafdeep = 0
    for r in rows:
        for i, pdg in enumerate(r.pdg):
            # parents in decay chains (same pdg as their parent) never
            # have distinctChildrenDeep
            if r.par_pdg[i] is not None and r.par_pdg[i] == pdg:
                assert r.n_deep[i] == 0
                n_interior += 1
            # parents at the top of chains that have children always do
            if (
                r.par_idx[i] is not None
                and r.par_pdg[i] != pdg
                and r.n_kids[i] > 0
            ):
                assert r.n_deep[i] > 0
                n_top += 1
            # same-pdg deep children (chain leaves) have no children
            for dp, nk in zip(r.deep_pdg[i] or [], r.deep_kid_counts[i] or []):
                if dp == pdg:
                    assert nk == 0
                    n_leafdeep += 1
    assert n_interior > 0 and n_top > 0


@pytest.mark.samples
def test_empty_selection_issue409(ne_dy):
    """Reference issue-409 regression (tests/test_nanoevents.py:106):
    an EMPTY event selection must flow through the object API — empty
    collections, empty genealogy — without errors."""
    empty = ne_dy.filter(F.lit(False))
    view_rows = empty.df.select(
        empty.GenPart.pt.alias("pt"),
        empty.GenPart.indexed.children.pdgId.alias("cp"),
    ).collect()
    assert view_rows == []
    assert empty.df.count() == 0


@pytest.mark.samples
def test_genroundtrips_detached_mask(ne_dy):
    """A DETACHED (events=None) Collection that is mask()-sliced must
    still resolve genealogy against the pristine pre-mask structs —
    regression for the r9 advice finding (nanoevents.py Collection
    .indexed base fallback): without the stored pristine column the
    base contains NULL structs and walks silently lose links through
    masked entries."""
    from coffea_spark.nanoevents import Collection

    detached = Collection(F.col("GenPart"), "GenPart")  # no events
    masked = detached.mask(lambda p: p.eta > 0)
    _genroundtrips(ne_dy.df, masked.indexed)

    # and the detached walk must agree exactly with the events-attached one
    attached = ne_dy.GenPart.mask(lambda p: p.eta > 0)
    a = ne_dy.df.select(masked.indexed.children.pdgId.alias("x")).collect()
    b = ne_dy.df.select(attached.indexed.children.pdgId.alias("x")).collect()
    assert a == b


def test_deep_children_cyclic_terminates():
    """ADVICE r9 (genealogy depth guard): adversarial mother-CYCLES must
    never make the deep walk emit a chain-interior node as childless or
    hang. For single-valued mother arrays a same-pdg kids-cycle is
    provably unreachable from a chain top (entering the cycle would need
    its entry node to be both same-pdg — to descend into — and
    different-pdg — to make the top condition hold), so the guard is
    defense-in-depth that now RAISES instead of silently reclassifying;
    this exercises the reachable cyclic shapes and checks exact
    reference emit-at-pdg-change semantics."""
    from coffea_spark.genealogy import _deep_children_event

    # 2-cycle across a pdg change: both are chain tops, each emits the
    # other at the pdg boundary, no descent loop
    assert _deep_children_event([1, 0], [1, 2], 2) == [[1], [0]]
    # self-mother: never a chain top (same pdg as itself) -> empty
    assert _deep_children_event([0], [5], 1) == [[]]
    # same-pdg 2-cycle: no valid different-pdg mother anywhere -> empty
    assert _deep_children_event([1, 0], [7, 7], 2) == [[], []]
    # normal chain top still walks: 2 (top: mother 3 has different pdg)
    # -> kid 0 (same pdg, has kid) -> kid 1 (pdg change) emitted
    assert _deep_children_event([2, 0, 3, -1], [21, 5, 21, 99], 4) == [
        [], [], [1], [],
    ]
