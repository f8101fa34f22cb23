"""The three workloads. Each one generates its inputs from the seed,
writes them through the engine's own writers, runs one pass through the
library's public functions, and checks the pass against the oracle in
``gen``. Spans name the layer each call enters."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import gen
from coffea_spark import NanoAODSchemaSpec, NanoEvents, hist1d, hist2d
from coffea_spark.accumulator import accumulate
from coffea_spark.hist import Hist1D, Hist2D
from coffea_spark.llmdata.dedup import jaccard_join
from coffea_spark.lookup import DenseLookup
from coffea_spark.nanoevents import Record
from coffea_spark.root_reader import open_tree, read_root
from coffea_spark.root_writer import write_events_root, write_root_file
from coffea_spark.runner import run
from coffea_spark.selection import PackedSelection
from coffea_spark.weights import Weights


class Workload:
    """Base: ``items`` input items per pass, named ``item``; ``sizes``
    for the record; ``warmups`` passes after the cold one before timing,
    enough for the JIT to have done most of its work."""

    items: int
    item = "events"
    sizes: dict
    warmups = 4
    root_inputs = False  # inputs written with root_writer

    def __init__(self, rng: np.random.Generator, slots: int, work: str):
        self.rng, self.slots, self.work = rng, slots, work
        self.spark = self.tracer = None

    def attach(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def pass_counts(self, result) -> dict:
        """Per-layer counts taken from a checked pass's result."""
        return {}

    def check_partitions(self, df, what: str) -> None:
        n = df.rdd.getNumPartitions()
        if n % self.slots:
            raise RuntimeError(f"{what}: {n} partitions on {self.slots} slots")

    def write_parquet(self, table, path: str) -> list[str]:
        """Write an Arrow table as one parquet file per slot; returns the
        files, checked to read back as a multiple of the slot count."""
        df = self.spark.createDataFrame(table)
        if df.rdd.getNumPartitions() != self.slots:
            df = df.repartition(self.slots)
        df.write.parquet(path)
        files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        self.check_partitions(self.spark.read.parquet(*files), path)
        return files


class NanoAnalysis(Workload):
    """A coffea-style processor through ``runner.run`` over a fileset of
    generated flat-NanoAOD parquet datasets."""

    DATASETS = 1
    EVENTS = 10_000  # per dataset
    VARIATIONS = (None, "muon_sfUp", "muon_sfDown")

    def generate(self) -> None:
        n = self.EVENTS
        self.events = {
            f"ds{i}": gen.nano_events(self.rng, n, event0=i * n) for i in range(self.DATASETS)
        }
        self.sf, self.sf_unc = gen.scale_factor_tables(self.rng)
        self.expected = {
            ds: gen.nano_expected(ev, self.sf, self.sf_unc) for ds, ev in self.events.items()
        }
        self.tables = {ds: gen.arrow_table(ev) for ds, ev in self.events.items()}
        self.items = n * self.DATASETS
        self.sizes = {"datasets": self.DATASETS, "events_per_dataset": n,
                      "files_per_dataset": self.slots}

    def write_inputs(self, dest: str) -> None:
        self.fileset = {ds: self.write_parquet(table, os.path.join(dest, ds))
                        for ds, table in self.tables.items()}
        self.sizes["input_bytes"] = sum(
            os.path.getsize(p) for ps in self.fileset.values() for p in ps
        )

    def processor(self, df) -> dict:
        span = self.tracer.span
        with span("runner.dataset"):
            with span("schema.apply"):
                events = NanoEvents(NanoAODSchemaSpec.apply(df), NanoAODSchemaSpec)
            with span("nanoevents.build"):
                muons = events.Muon.where(
                    lambda m: (m.pt > gen.MUON_PT) & (abs(m.eta) < gen.MUON_ETA))
                electrons = events.Electron.where(
                    lambda e: (e.pt > gen.ELECTRON_PT) & (abs(e.eta) < gen.ELECTRON_ETA))
                os_pairs = muons.combinations(2).where(
                    lambda p: p.f0.charge + p.f1.charge == 0)
                lead = F.when(F.size(os_pairs.c) >= 1, F.element_at(os_pairs.c, 1))
                frame = (
                    events.df.withColumn("_lead", lead)
                    .withColumn("mass", _pair_mass(F.col("_lead")))
                    .withColumn("lead_pt", F.col("_lead.f0.pt"))
                    .withColumn("lead_abseta", F.abs(F.col("_lead.f0.eta")))
                    .persist()
                )
                hard_jet = muons.matched_jet.where(
                    lambda j: j.isNotNull() & (j.pt > gen.ISO_JET_PT))
                sel = PackedSelection()
                sel.add("trigger", F.col("HLT_IsoMu24"))
                sel.add("two_muons", muons.count >= 2)
                sel.add("os_pair", F.size(os_pairs.c) >= 1)
                sel.add("z_window", (F.col("mass") > gen.Z_LO) & (F.col("mass") < gen.Z_HI))
                sel.add("muon_jet_iso", hard_jet.count == 0)
                sel.add("electron_veto", electrons.count == 0)
            with span("selection.cutflow"):
                cutflow = sel.cutflow(frame, *gen.CUTS)
            selected = frame.filter(sel.all(*gen.CUTS))
            with span("weights.build"):
                edges = [gen.SF_PT_EDGES, gen.SF_ETA_EDGES]
                x, y = F.col("lead_pt"), F.col("lead_abseta")
                weights = Weights()
                weights.add("genweight", F.col("genWeight"))
                weights.add(
                    "muon_sf", DenseLookup(self.sf, edges)(x, y),
                    weightUp=DenseLookup(self.sf + self.sf_unc, edges)(x, y),
                    weightDown=DenseLookup(self.sf - self.sf_unc, edges)(x, y),
                )
                systematics = F.explode(F.array(*[
                    F.struct(F.lit(var or "nominal").alias("systematic"),
                             weights.weight(var).alias("w"))
                    for var in self.VARIATIONS
                ]))
            with span("hist.fill"):
                by_syst = selected.select("mass", systematics.alias("_s")).select(
                    "mass", "_s.systematic", "_s.w")
                masses, n = _hist1d_by(
                    hist1d(by_syst, "mass", 60, gen.Z_LO, gen.Z_HI, weight="w", by=["systematic"]),
                    60, gen.Z_LO, gen.Z_HI)
            with span("hist.fill"):
                lead, n["lead2d"] = _hist2d(
                    hist2d(selected, "lead_pt", "lead_abseta", 20, 0.0, 200.0, 12, 0.0, 2.4,
                           weight=weights.weight()),
                    20, 0.0, 200.0, 12, 0.0, 2.4)
            sumw = {k: h.sumw.sum() for k, h in masses.items()} | {"lead2d": lead.sumw.sum()}
            return {"cutflow": np.array(cutflow.nevcutflow), "onecut": np.array(cutflow.nevonecut),
                    "mass": masses, "lead": lead, "n": n, "sumw": sumw}

    def run_pass(self):
        result = run(self.spark, self.fileset, self.processor)
        if self.tracer.enabled:
            with self.tracer.span("accumulator.merge"):
                accumulate(result[ds] for ds in self.fileset)
        return result

    def check(self, result) -> bool:
        ok = True
        for ds, exp in self.expected.items():
            got = result[ds]
            ok &= got["cutflow"].tolist() == exp["cutflow"]
            ok &= got["onecut"].tolist() == exp["onecut"]
            want = exp["sumw"] | {"lead2d": exp["sumw"]["nominal"]}
            ok &= got["n"] == dict.fromkeys(want, exp["n"])
            ok &= got["sumw"].keys() == want.keys() and all(
                np.isclose(got["sumw"][k], w, rtol=1e-9, atol=1e-9) for k, w in want.items())
        total = result["__total__"]
        ok &= total["cutflow"].tolist() == np.sum(
            [e["cutflow"] for e in self.expected.values()], axis=0).tolist()
        return bool(ok)


def _pair_mass(pair):
    return Record(pair).f0.invariant_mass(Record(pair).f1)


def _hist1d_by(hdf, nbins, lo, hi) -> tuple[dict, dict]:
    """Collect a hist1d with a ``systematic`` category axis into one
    Hist1D and one entry count per systematic."""
    sumw, sumw2, n = {}, {}, {}
    for row in hdf.collect():
        k = row["systematic"]
        if k not in sumw:
            sumw[k], sumw2[k], n[k] = np.zeros(nbins + 2), np.zeros(nbins + 2), 0
        sumw[k][row["bin"] + 1] += row["sumw"]
        sumw2[k][row["bin"] + 1] += row["sumw2"]
        n[k] += row["n"]
    return {k: Hist1D(nbins, lo, hi, sumw[k], sumw2[k]) for k in sumw}, n


def _hist2d(hdf, xbins, xlo, xhi, ybins, ylo, yhi) -> tuple[Hist2D, int]:
    sumw, n = np.zeros((xbins + 2, ybins + 2)), 0
    for row in hdf.collect():
        sumw[row["xbin"] + 1, row["ybin"] + 1] += row["sumw"]
        n += row["n"]
    return Hist2D(xbins, xlo, xhi, ybins, ylo, yhi, sumw), n


class NanoRootSkim(Workload):
    """Flat NanoAOD ``.root`` files in, a skim written back as ``.root``."""

    root_inputs = True

    FILES_PER_SLOT = 2
    EVENTS = 10_000  # per file

    def generate(self) -> None:
        nfiles = self.FILES_PER_SLOT * self.slots
        self.events = [gen.nano_events(self.rng, self.EVENTS, event0=i * self.EVENTS)
                       for i in range(nfiles)]
        self.columns = [gen.root_columns(ev) for ev in self.events]
        keep = [gen.skim_mask(ev) for ev in self.events]
        event = np.concatenate([ev["scalars"]["event"][k] for ev, k in zip(self.events, keep)])
        counts, flat = [], []
        for ev, k in zip(self.events, keep):
            c, mu = ev["collections"]["Muon"]
            counts.append(c[k])
            flat.append(mu["pt"][np.repeat(k, c)])
        self.expected = gen.event_digest(event, np.concatenate(counts), np.concatenate(flat))
        self.items = nfiles * self.EVENTS
        self.sizes = {"files": nfiles, "events_per_file": self.EVENTS,
                      "skimmed_events": int(len(event))}
        self.passes = 0

    def write_inputs(self, dest: str) -> None:
        os.makedirs(dest)
        self.paths = []
        for i, (cols, cmap) in enumerate(self.columns):
            self.paths.append(write_root_file(cols, os.path.join(dest, f"events{i}.root"),
                                              counts_map=cmap))
        self.sizes["input_bytes"] = sum(os.path.getsize(p) for p in self.paths)
        self.check_partitions(read_root(self.spark, self.paths), "root inputs")

    def run_pass(self):
        span = self.tracer.span
        self.passes += 1
        out = os.path.join(self.work, f"skim{self.passes}")
        with span("root_reader.read_root"):
            flat = read_root(self.spark, self.paths)
        with span("schema.apply"):
            events = NanoEvents(NanoAODSchemaSpec.apply(flat), NanoAODSchemaSpec)
        with span("nanoevents.build"):
            good = events.Muon.where(lambda m: (m.pt > 20.0) & (abs(m.eta) < gen.MUON_ETA))
            skim = events.filter((good.count >= 2) & (events.MET.pt < 80.0))
        with span("root_writer.write_events_root"):
            files = write_events_root(skim.df, out)
        return out, files

    def check(self, result) -> bool:
        out, files = result
        try:
            tables = [open_tree(f, cache=False).to_arrow(["event", "nMuon", "Muon_pt"])
                      for f in files]
            event = np.concatenate([t["event"].to_numpy() for t in tables])
            counts = np.concatenate([t["nMuon"].to_numpy() for t in tables])
            flat = np.concatenate([t["Muon_pt"].combine_chunks().flatten().to_numpy()
                                   for t in tables])
            got = gen.event_digest(event, counts, flat)
            self.output_bytes = sum(os.path.getsize(f) for f in files)
            return all(np.array_equal(g, e) for g, e in zip(got, self.expected))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def pass_counts(self, result) -> dict:
        return {"root_writer.output_bytes_per_event":
                self.output_bytes / self.sizes["skimmed_events"]}


class DocNearDup(Workload):
    """``jaccard_join`` at t = 0.5 over a corpus with planted clusters."""

    item = "docs"
    # passes were still getting faster at the eighth warm one (see README)
    warmups = 8
    DOCS = 400
    DUP_SHARE = 0.2
    THRESHOLD = 0.5

    def generate(self) -> None:
        self.docs, self.planted, self.shingles = gen.doc_corpus(
            self.rng, self.DOCS, self.DUP_SHARE, self.THRESHOLD)
        self.items = self.DOCS
        self.sizes = {"docs": self.DOCS, "dup_share": self.DUP_SHARE,
                      "threshold": self.THRESHOLD, "planted_pairs": len(self.planted),
                      "chars": sum(len(t) for _, t in self.docs)}

    def write_inputs(self, dest: str) -> None:
        import pyarrow as pa

        table = pa.table({"doc_id": [d for d, _ in self.docs], "text": [t for _, t in self.docs]})
        self.files = self.write_parquet(table, os.path.join(dest, "docs"))

    def run_pass(self):
        with self.tracer.span("dedup.jaccard_join", sql_joins=True):
            docs = self.spark.read.parquet(*self.files)
            return jaccard_join(docs, self.THRESHOLD).select("id_a", "id_b", "jaccard").collect()

    def check(self, rows) -> bool:
        pairs = set()
        for r in rows:
            a, b = self.shingles.get(r["id_a"]), self.shingles.get(r["id_b"])
            if a is None or b is None or r["id_a"] >= r["id_b"]:
                return False
            j = gen.jaccard(a, b)
            if j < self.THRESHOLD or abs(j - r["jaccard"]) > 1e-12:
                return False
            pairs.add((r["id_a"], r["id_b"]))
        return len(pairs) == len(rows) and self.planted <= pairs

    def pass_counts(self, rows) -> dict:
        return {"dedup.pairs_out": len(rows)}


WORKLOADS = {"nano_analysis": NanoAnalysis, "nano_root_skim": NanoRootSkim,
             "doc_near_dup": DocNearDup}
