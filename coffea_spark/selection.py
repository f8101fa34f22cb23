"""PackedSelection / Cutflow / N-1 — named boolean cuts as predicates.

Reference: analysis_tools.py PackedSelection (add :2254-2279, require
:2295-2334, all/any/allfalse :2336-2384, cutflow :2483-2608, nminusone
:2386-2481). The reference bit-packs cuts into integer masks; here each
cut is a Catalyst boolean expression, and the bitmask is an optional
materialized column for reuse. Cutflow and N-1 reports are one scan: a
projection evaluates each cut once per row into a flag column, and one
conditional aggregation over the flags yields every count. Aggregating
over the cut trees would repeat cut k in each cumulative / N-1 term
(6 cuts: 27 copies) that Catalyst does not fold, so a HOF cut would run
once per copy; the flags are the reference's evaluate-once bitmask.

Null handling: a NULL cut value counts as False (the reference coerces
option-type masks with explicit filling, analysis_tools.py:2196-2199).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_bool(c: Column) -> Column:
    """NULL -> False so conditional counts are well-defined."""
    return F.coalesce(c.cast("boolean"), F.lit(False))


def _flagged(sel: "PackedSelection", df: DataFrame, names: list[str], weight=None, keep=()):
    """``df`` as the ``keep`` columns plus one flag column ``_c_<name>`` per
    named cut (+ ``_w``), and a PackedSelection over the flags: each cut is
    evaluated once per row."""
    cols = [c.alias(f"_c_{n}") for n, c in zip(names, sel._pick(names))]
    cols += [] if weight is None else [weight.alias("_w")]
    flags = PackedSelection("uint64").add_multiple({n: F.col(f"_c_{n}") for n in names})
    return df.select(*keep, *cols), flags


class PackedSelection:
    """Registry of named boolean cuts over one DataFrame's columns."""

    def __init__(self, dtype: str = "uint32"):
        # dtype mirrors the reference ctor signature; capacity check only.
        self._maxitems = {"uint16": 16, "uint32": 32, "uint64": 63}[dtype]
        self._cuts: dict[str, Column] = {}

    @property
    def names(self) -> list[str]:
        return list(self._cuts)

    def add(self, name: str, cond: Column) -> "PackedSelection":
        if name in self._cuts:
            raise ValueError(f"cut {name!r} already registered")
        if len(self._cuts) >= self._maxitems:
            raise RuntimeError(f"capacity {self._maxitems} cuts exceeded")
        self._cuts[name] = _as_bool(cond)
        return self

    def add_multiple(self, cuts: dict[str, Column]) -> "PackedSelection":
        for k, v in cuts.items():
            self.add(k, v)
        return self

    def _pick(self, names) -> list[Column]:
        names = names or self.names
        missing = [n for n in names if n not in self._cuts]
        if missing:
            raise ValueError(f"unknown cuts: {missing}")
        return [self._cuts[n] for n in names]

    def all(self, *names: str) -> Column:
        out = F.lit(True)
        for c in self._pick(names):
            out = out & c
        return out

    def any(self, *names: str) -> Column:
        out = F.lit(False)
        for c in self._pick(names):
            out = out | c
        return out

    def allfalse(self, *names: str) -> Column:
        return ~self.any(*names)

    def require(self, **kv: bool) -> Column:
        """Rows where each named cut equals the given boolean."""
        out = F.lit(True)
        for name, want in kv.items():
            if name not in self._cuts:
                raise ValueError(f"unknown cut {name!r}")
            c = self._cuts[name]
            out = out & (c if want else ~c)
        return out

    def bitmask(self) -> Column:
        """Packed integer mask column (bit i = i-th registered cut), for
        persisting selections compactly (reference pack: analysis_tools
        :2219-2251)."""
        out = F.lit(0).cast("long")
        for i, c in enumerate(self._cuts.values()):
            out = out + F.when(c, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
        return out

    # -- reports ----------------------------------------------------------

    def cutflow_aggs(self, *names: str, weight: Column | None = None):
        """Aggregate expressions for a cutflow: one-cut and cumulative counts
        per cut (+ weighted variants when ``weight`` given), 0 if none pass."""
        names = list(names) or self.names
        aggs = [F.count(F.lit(1)).alias("initial")]
        if weight is not None:
            aggs.append(F.coalesce(F.sum(weight), F.lit(0.0)).alias("initial_w"))
        cumulative = F.lit(True)
        for n in names:
            c = self._cuts[n]
            cumulative = cumulative & c
            aggs += [F.count_if(c).alias(f"onecut_{n}"),
                     F.count_if(cumulative).alias(f"cutflow_{n}")]
            if weight is not None:
                aggs += [F.coalesce(F.sum(F.when(cond, weight)), F.lit(0.0)).alias(f"{kind}_w_{n}")
                         for kind, cond in (("onecut", c), ("cutflow", cumulative))]
        return aggs

    def cutflow(self, df: DataFrame, *names: str, weight: Column | None = None) -> "Cutflow":
        """Single-pass cutflow over ``df`` (reference: PackedSelection.cutflow
        analysis_tools.py:2483-2608). One job, one row out."""
        names = list(names) or self.names
        flags, sel = _flagged(self, df, names, weight)
        w = None if weight is None else F.col("_w")
        row = flags.agg(*sel.cutflow_aggs(weight=w)).collect()[0]
        return Cutflow(
            names=names,
            initial=row["initial"],
            nevonecut=[row[f"onecut_{n}"] for n in names],
            nevcutflow=[row[f"cutflow_{n}"] for n in names],
            wevonecut=[row[f"onecut_w_{n}"] for n in names] if weight is not None else None,
            wevcutflow=[row[f"cutflow_w_{n}"] for n in names] if weight is not None else None,
            initial_w=row["initial_w"] if weight is not None else None,
        )

    def plot_vars(
        self,
        df: DataFrame,
        vars: dict[str, tuple[Column, int, float, float]],
        names: list[str] | None = None,
        weight: Column | None = None,
    ) -> DataFrame:
        """Per-variable histograms at every cumulative selection stage
        (reference NminusOne/Cutflow.plot_vars, analysis_tools.py:
        1267-1459): the packaged "distribution after each cut" report.

        ``vars`` maps name -> (column, nbins, lo, hi). Returns a wide
        DataFrame ``(var, bin, initial[, initial_w], n_<cut>...
        [, w_<cut>...])`` — one row per (variable, bucket), one count
        column per cumulative stage.

        Plan shape (the reason this is NOT reference-style per-stage
        refills): each input row emits one (var, bucket) pair per
        variable (a single ``explode`` of a literal-built array), every
        stage is a conditional partial sum — ONE scan of the data and
        one shuffle of at most ``sum(nbins)+2`` rows per variable,
        regardless of input size or stage count. The reference fills
        len(stages) histograms per variable in separate passes.
        """
        from coffea_spark.hist import bucket

        names = list(names) if names else self.names
        entries = F.array(
            *[
                F.struct(
                    F.lit(vname).alias("var"),
                    bucket(col, lo, hi, nbins).alias("bin"),
                )
                for vname, (col, nbins, lo, hi) in vars.items()
            ]
        )
        flags, _ = _flagged(self, df, names, weight, keep=[F.explode(entries).alias("_e")])
        flat = (
            flags.select(F.col("_e.var").alias("var"), F.col("_e.bin").alias("bin"), "*")
            .drop("_e")
            .filter(F.col("bin").isNotNull())  # null values fill nothing
        )

        aggs = [F.count(F.lit(1)).alias("initial")]
        if weight is not None:
            aggs.append(F.sum("_w").alias("initial_w"))
        cumulative = F.lit(True)
        for n in names:
            cumulative = cumulative & F.col(f"_c_{n}")
            aggs.append(F.sum(F.when(cumulative, 1).otherwise(0)).alias(f"n_{n}"))
            if weight is not None:
                aggs.append(
                    F.sum(F.when(cumulative, F.col("_w")).otherwise(0.0)).alias(f"w_{n}")
                )
        return flat.groupBy("var", "bin").agg(*aggs)

    def nminusone(self, df: DataFrame, *names: str) -> "NminusOne":
        """Counts passing all-but-one cut, per cut, plus all cuts, in one
        aggregation over the cut flags; 0 on an empty frame (reference:
        analysis_tools.py:2386-2481)."""
        names = list(names) or self.names
        flags, sel = _flagged(self, df, names)
        aggs = [F.count(F.lit(1)).alias("initial")]
        for leave_out in names:
            others = [n for n in names if n != leave_out]
            cond = sel.all(*others) if others else F.lit(True)
            aggs.append(F.count_if(cond).alias(f"nminusone_{leave_out}"))
        aggs.append(F.count_if(sel.all()).alias("all_cuts"))
        row = flags.agg(*aggs).collect()[0]
        return NminusOne(
            names=names,
            initial=row["initial"],
            nev=[row[f"nminusone_{n}"] for n in names],
            nev_all=row["all_cuts"],
        )


@dataclass
class Cutflow:
    """Result object mirroring the reference Cutflow.result tuple
    (analysis_tools.py:1494-1580)."""

    names: list[str]
    initial: int
    nevonecut: list[int]
    nevcutflow: list[int]
    wevonecut: list[float] | None = None
    wevcutflow: list[float] | None = None
    initial_w: float | None = None

    def result(self):
        return self.names, [self.initial] + self.nevonecut, [self.initial] + self.nevcutflow

    def to_rows(self) -> list[dict]:
        out = []
        for i, n in enumerate(self.names):
            row = {
                "cut": n,
                "onecut": self.nevonecut[i],
                "cutflow": self.nevcutflow[i],
            }
            if self.wevonecut is not None:
                row["onecut_w"] = self.wevonecut[i]
                row["cutflow_w"] = self.wevcutflow[i]
            out.append(row)
        return out

    def yieldhist(self, weighted: bool | None = None, scale: float | None = None):
        """Packaged yield report (reference Cutflow.yieldhist,
        analysis_tools.py:1719-1817): returns
        ``(labels, onecut_yields, cutflow_yields)`` with labels
        ``["initial", <cut>, ...]``. The reference wraps these in a
        hist.Hist with an Integer axis; the arrays ARE that histogram's
        bin contents (hist is not a dependency here). ``weighted`` picks
        the weighted fills when the cutflow carried a weight; ``scale``
        multiplies yields."""
        do_weighted = (self.wevonecut is not None) if weighted is None else weighted
        if do_weighted and self.wevonecut is None:
            raise ValueError("cutflow was built without a weight")
        labels = ["initial"] + list(self.names)
        if do_weighted:
            one = [self.initial_w] + list(self.wevonecut)
            cum = [self.initial_w] + list(self.wevcutflow)
        else:
            one = [self.initial] + list(self.nevonecut)
            cum = [self.initial] + list(self.nevcutflow)
        if scale is not None:
            if not isinstance(scale, (int, float)):
                raise ValueError("scale must be a number")
            one = [v * scale for v in one]
            cum = [v * scale for v in cum]
        return labels, one, cum

    def to_npz(self, path: str) -> None:
        """Export counts as npz (reference CutflowToNpz,
        analysis_tools.py:768-919; we export the counts, not per-event
        masks — masks at 100 TB belong in parquet via df.write)."""
        import numpy as np

        arrays = {
            "labels": np.array(["initial"] + self.names),
            "nevonecut": np.array([self.initial] + self.nevonecut),
            "nevcutflow": np.array([self.initial] + self.nevcutflow),
        }
        if self.wevonecut is not None:
            arrays["wevonecut"] = np.array([self.initial_w] + self.wevonecut)
            arrays["wevcutflow"] = np.array([self.initial_w] + self.wevcutflow)
        np.savez(path, **arrays)


@dataclass
class NminusOne:
    """Reference: NminusOne class analysis_tools.py:921-1010."""

    names: list[str]
    initial: int
    nev: list[int]
    nev_all: int

    def result(self):
        return self.names, [self.initial] + self.nev + [self.nev_all]

    def yieldhist(self, scale: float | None = None):
        """Packaged N-1 yield report (reference NminusOne.yieldhist,
        analysis_tools.py:1138-1266): ``(labels, yields)`` with labels
        ``["initial", "N - <cut>", ..., "N"]`` — the contents of the
        reference's Integer-axis hist."""
        labels = ["initial"] + [f"N - {n}" for n in self.names] + ["N"]
        nev = [self.initial] + list(self.nev) + [self.nev_all]
        if scale is not None:
            nev = [v * scale for v in nev]
        return labels, nev

    def to_npz(self, path: str) -> None:
        """Export counts as npz (reference NminusOneToNpz,
        analysis_tools.py:649-766)."""
        import numpy as np

        np.savez(
            path,
            labels=np.array(["initial"] + [f"N - {n}" for n in self.names] + ["N"]),
            nev=np.array([self.initial] + self.nev + [self.nev_all]),
        )
