"""Native RNTuple reader, validated bit-for-bit against the TTree twins
the reference ships (nano_dy.root vs nano_dy_rntuple.root, etc.)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from coffea_spark.rntuple import RNTupleReader, rntuple_to_arrow
from coffea_spark.root_reader import RootTreeReader, open_tree, read_root

from coffea_spark.testing import SAMPLES

pytestmark = pytest.mark.samples

zstd_available = pytest.mark.skipif(
    __import__("coffea_spark.root_reader", fromlist=["_ZSTD"])._ZSTD is None,
    reason="system libzstd not available",
)


def _twin_match(rnt_path, ttree_path, tree=None):
    r = RNTupleReader(f"{SAMPLES}/{rnt_path}")
    t = RootTreeReader(f"{SAMPLES}/{ttree_path}", tree)
    assert r.entries == t.entries
    common = sorted(set(r.branches) & set(t.branches))
    assert len(common) > 100
    bad = []
    for name in common:
        a, b = r.array(name), t.array(name)
        ca, cb = r.counts(name), t.counts(name)
        if len(a) != len(b) or not np.array_equal(
            np.asarray(a, dtype=b.dtype), b, equal_nan=np.issubdtype(b.dtype, np.floating)
        ):
            bad.append((name, "values"))
        elif (ca is None) != (cb is None) or (
            ca is not None and not np.array_equal(ca, cb)
        ):
            bad.append((name, "counts"))
    assert not bad, bad[:5]
    return r, len(common)


@zstd_available
def test_nano_dy_twin_bit_exact():
    r, n = _twin_match("nano_dy_rntuple.root", "nano_dy.root")
    assert r.entries == 40 and n > 1400


@zstd_available
def test_nano_dimuon_twin_bit_exact():
    _twin_match("nano_dimuon_rntuple.root", "nano_dimuon.root")


@zstd_available
def test_pfnano_twin_bit_exact():
    _twin_match("pfnano_rntuple.root", "pfnano.root", tree="Events")


@zstd_available
def test_empty_rntuple():
    r = RNTupleReader(f"{SAMPLES}/nano_dy_empty_rntuple.root")
    assert r.entries == 0
    tbl = r.to_arrow(list(r.branches)[:5])
    assert tbl.num_rows == 0


@zstd_available
def test_open_tree_dispatch():
    r = open_tree(f"{SAMPLES}/nano_dy_rntuple.root")
    assert isinstance(r, RNTupleReader)
    t = open_tree(f"{SAMPLES}/nano_dy.root")
    assert isinstance(t, RootTreeReader)
    tbl = rntuple_to_arrow(
        f"{SAMPLES}/nano_dy_rntuple.root", columns=["run", "Muon_pt"]
    )
    assert tbl.num_rows == 40


@zstd_available
def test_read_events_any_format(spark):
    """One entry point from raw file to collections regardless of format
    and naming convention."""
    from coffea_spark.root_reader import read_events

    # NanoAOD RNTuple
    ev = read_events(spark, [f"{SAMPLES}/nano_dy_rntuple.root"],
                     columns=["Muon_pt", "Muon_eta", "Muon_charge"])
    assert "Muon" in ev.columns
    # ATLAS PHYSLITE TTree
    ev2 = read_events(spark, [f"{SAMPLES}/PHYSLITE_example.root"],
                      columns=["AnalysisElectronsAuxDyn.pt", "AnalysisElectronsAuxDyn.eta"])
    assert "Electrons" in ev2.columns
    assert ev2.agg(F.sum(F.size("Electrons"))).first()[0] == 134


@zstd_available
def test_spark_read_root_rntuple(spark):
    """read_root transparently scans RNTuple files; results match the
    TTree twin read through the same entry point."""
    cols = ["run", "event", "Muon_pt", "Muon_eta", "Muon_charge", "Muon_softId"]
    a = read_root(spark, [f"{SAMPLES}/nano_dy_rntuple.root"], columns=cols)
    b = read_root(spark, [f"{SAMPLES}/nano_dy.root"], columns=cols)
    agg = [
        F.count("*").alias("n"),
        F.sum(F.size("Muon_pt")).alias("nmu"),
        F.round(F.sum(F.aggregate("Muon_pt", F.lit(0.0), lambda s, x: s + x)), 3).alias("spt"),
        F.sum(F.aggregate("Muon_charge", F.lit(0), lambda s, x: s + x)).alias("sq"),
    ]
    ra, rb = a.agg(*agg).first(), b.agg(*agg).first()
    assert ra == rb
    assert ra["n"] == 40 and ra["nmu"] > 0
