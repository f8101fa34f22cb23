"""Histogram aggregation — the terminal operator of nearly every analysis.

The reference fills hist.Hist objects per chunk and monoid-merges them
(analysis_tools.py:41-55, processor/accumulator.py). Spark-first, a
weighted N-dim histogram is a groupBy over bucket ids with map-side
partial aggregation — one shuffle of at most ``nbins`` rows regardless of
input size, which is exactly the plan you want at 100 TB.

Bucket convention (matches both numpy.histogram on the in-range part and
SQL ``width_bucket``): bin i covers [lo + i*w, lo + (i+1)*w) for
i in 0..nbins-1; underflow -> bin -1, overflow -> bin nbins. The flow
bins are kept so totals are conserved (hist.Hist keeps under/overflow
too); filter them out for plotting.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket(col: Column, lo: float, hi: float, nbins: int) -> Column:
    """Uniform bucket id for ``col``: -1 underflow, nbins overflow,
    else floor((x-lo)/w). NULL stays NULL (null values fill nothing,
    matching option-type skip in the reference's Weights/fills)."""
    w = (hi - lo) / nbins
    raw = F.floor((col - F.lit(lo)) / F.lit(w)).cast("long")
    return (
        F.when(col.isNull(), F.lit(None).cast("long"))
        .when(col < F.lit(lo), F.lit(-1))
        .when(col >= F.lit(hi), F.lit(nbins))
        .otherwise(raw)
    )


def bucket_edges(col: Column, edges: list[float]) -> Column:
    """Variable-width bucket id via a literal edges array: -1 underflow,
    len(edges)-1 overflow, else index of the containing bin. O(len(edges))
    per value but fully codegen'd (no UDF)."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    nedges = len(edges)
    idx = F.size(F.filter(arr, lambda e: e <= col)) - 1
    return (
        F.when(col.isNull(), F.lit(None).cast("long"))
        .when(col < F.lit(float(edges[0])), F.lit(-1))
        .when(col >= F.lit(float(edges[-1])), F.lit(nedges - 1))
        .otherwise(idx.cast("long"))
    )


def _col(c: Column | str) -> Column:
    """A column name or a Column, as a Column."""
    return F.col(c) if isinstance(c, str) else c


def _weight(weight: Column | str | None) -> Column:
    """The fill weight: 1.0 per row when ``weight`` is None."""
    return F.lit(1.0) if weight is None else _col(weight)


def _fill(df: DataFrame, bins: dict, weight, by, flow: bool) -> DataFrame:
    """The one histogram fill. ``bins`` maps each bin column to (bin-id
    Column, in-range bin count); output is ``by..., bins..., sumw, sumw2,
    n``, one row per occupied cell. ``flow=False`` keeps [0, nbins)."""
    by = by or []
    out = (
        df.select(
            *by,
            *[expr.alias(name) for name, (expr, _) in bins.items()],
            _weight(weight).alias("_w"),
        )
        .groupBy(*by, *bins)
        .agg(
            F.sum("_w").alias("sumw"),
            F.sum(F.col("_w") * F.col("_w")).alias("sumw2"),
            F.count("_w").alias("n"),
        )
    )
    if not flow:
        conds = [c for b, (_, n) in bins.items() for c in (F.col(b) >= 0, F.col(b) < n)]
        out = out.filter(reduce(operator.and_, conds))
    return out


def hist1d(
    df: DataFrame,
    value: Column | str,
    nbins: int,
    lo: float,
    hi: float,
    weight: Column | str | None = None,
    by: list[str] | None = None,
    flow: bool = True,
) -> DataFrame:
    """Weighted 1-D histogram as a DataFrame (bin, sumw, sumw2, n).

    ``by`` adds categorical axes (e.g. dataset) — the reference's hist
    category axis. Plan shape: project -> partial hash agg -> final agg;
    a single small shuffle.
    """
    b = bucket(_col(value), lo, hi, nbins)
    return _fill(df, {"bin": (b, nbins)}, weight, by, flow)


def hist1d_edges(
    df: DataFrame,
    value: Column | str,
    edges: list[float],
    weight: Column | str | None = None,
    by: list[str] | None = None,
    flow: bool = True,
) -> DataFrame:
    """Weighted 1-D histogram over VARIABLE-width bins (the reference's
    hist.axis.Variable — SURVEY.md §2.5 "variable-width bins"): same
    ``(bin, sumw, sumw2, n)`` contract and single-small-shuffle plan as
    :func:`hist1d`, bucketed by :func:`bucket_edges` (codegen'd literal
    edges array, no UDF). Bin i covers ``[edges[i], edges[i+1])`` for
    i in 0..len(edges)-2; underflow -> -1, overflow -> len(edges)-1."""
    if len(edges) < 2 or any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError("edges must be strictly increasing with >= 2 entries")
    b = bucket_edges(_col(value), edges)
    return _fill(df, {"bin": (b, len(edges) - 1)}, weight, by, flow)


def hist2d(
    df: DataFrame,
    xvalue: Column | str,
    yvalue: Column | str,
    xbins: int,
    xlo: float,
    xhi: float,
    ybins: int,
    ylo: float,
    yhi: float,
    weight: Column | str | None = None,
    flow: bool = True,
) -> DataFrame:
    """Weighted 2-D histogram: group by the bucket-id tuple."""
    x = bucket(_col(xvalue), xlo, xhi, xbins)
    y = bucket(_col(yvalue), ylo, yhi, ybins)
    return _fill(df, {"xbin": (x, xbins), "ybin": (y, ybins)}, weight, None, flow)


def profile1d(
    df: DataFrame,
    xvalue: Column | str,
    yvalue: Column | str,
    nbins: int,
    lo: float,
    hi: float,
    weight: Column | str | None = None,
    flow: bool = True,
) -> DataFrame:
    """Profile histogram (the reference's hist.storage.Mean axis / ROOT
    TProfile): per x-bin the weighted MEAN of a sample value, with the
    accumulators (sumw, sumwy, sumwy2, n) needed for the error on the
    mean. Same bucket-id groupBy shape as hist1d — the shuffle carries
    one small row per occupied bin, map-side combined."""
    out = (
        df.select(
            bucket(_col(xvalue), lo, hi, nbins).alias("bin"),
            _weight(weight).alias("_w"),
            _col(yvalue).alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.sum("_w").alias("sumw"),
            F.sum(F.col("_w") * F.col("_y")).alias("sumwy"),
            F.sum(F.col("_w") * F.col("_y") * F.col("_y")).alias("sumwy2"),
            F.count("_w").alias("n"),
        )
        .withColumn(
            "mean",
            F.when(F.col("sumw") != 0, F.col("sumwy") / F.col("sumw")),
        )
    )
    if not flow:
        out = out.filter((F.col("bin") >= 0) & (F.col("bin") < nbins))
    return out


@dataclass
class Hist1D:
    """Driver-side materialized histogram (dense numpy arrays), for the
    accumulator/merge path and plotting — the engine-side object stays a
    DataFrame. Addition is the reference's accumulator monoid
    (processor/accumulator.py:28-104)."""

    nbins: int
    lo: float
    hi: float
    sumw: np.ndarray  # length nbins+2: [underflow, bins..., overflow]
    sumw2: np.ndarray

    @classmethod
    def from_df(cls, hdf: DataFrame, nbins: int, lo: float, hi: float) -> "Hist1D":
        sumw = np.zeros(nbins + 2)
        sumw2 = np.zeros(nbins + 2)
        for row in hdf.collect():
            i = int(row["bin"]) + 1  # shift so underflow=-1 -> 0
            sumw[i] += row["sumw"]
            sumw2[i] += row["sumw2"]
        return cls(nbins, lo, hi, sumw, sumw2)

    @property
    def edges(self) -> np.ndarray:
        return np.linspace(self.lo, self.hi, self.nbins + 1)

    @property
    def values(self) -> np.ndarray:
        """In-range bin contents (no flow)."""
        return self.sumw[1:-1]

    def __add__(self, other: "Hist1D") -> "Hist1D":
        assert (self.nbins, self.lo, self.hi) == (other.nbins, other.lo, other.hi)
        return Hist1D(self.nbins, self.lo, self.hi, self.sumw + other.sumw, self.sumw2 + other.sumw2)


@dataclass
class Hist2D:
    xbins: int
    xlo: float
    xhi: float
    ybins: int
    ylo: float
    yhi: float
    sumw: np.ndarray  # (xbins+2, ybins+2)

    @classmethod
    def from_df(cls, hdf: DataFrame, xbins, xlo, xhi, ybins, ylo, yhi) -> "Hist2D":
        sumw = np.zeros((xbins + 2, ybins + 2))
        for row in hdf.collect():
            sumw[int(row["xbin"]) + 1, int(row["ybin"]) + 1] += row["sumw"]
        return cls(xbins, xlo, xhi, ybins, ylo, yhi, sumw)

    def __add__(self, other: "Hist2D") -> "Hist2D":
        return Hist2D(
            self.xbins, self.xlo, self.xhi, self.ybins, self.ylo, self.yhi,
            self.sumw + other.sumw,
        )


def histnd(
    df: DataFrame,
    axes: list[tuple],
    weight: Column | str | None = None,
    by: list[str] | None = None,
    flow: bool = True,
) -> DataFrame:
    """Weighted N-dimensional histogram — the general form of the
    reference's hist.Hist fill (n regular axes + category axes,
    analysis_tools.py:1138-1459).

    ``axes`` is a list of (value, nbins, lo, hi) tuples (value: Column or
    column name). Output: one row per occupied bucket tuple
    (by..., bin0..bin{n-1}, sumw, sumw2, n). Plan shape is identical at
    any dimensionality: project to bucket ids -> partial hash agg ->
    final agg — ONE shuffle of (occupied buckets x partitions) tiny
    rows, never the data. Sparse by construction: empty buckets don't
    exist, so a 30000^3 binning costs only the occupied cells (the dense
    ndarray view is driver-side, HistND.from_df)."""
    bins = {
        f"bin{i}": (bucket(_col(value), lo, hi, nbins), nbins)
        for i, (value, nbins, lo, hi) in enumerate(axes)
    }
    return _fill(df, bins, weight, by, flow)


def hist_categorical(
    df: DataFrame,
    categories: Column | str,
    weight: Column | str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Categorical (StrCategory-axis) histogram: one row per observed
    label with (sumw, sumw2, n). The reference's growable StrCategory
    axis (hist.axis.StrCategory(growth=True)) is a groupBy in Spark —
    the label set needs no pre-declaration.

    ``categories`` may be a scalar string column (one label per row) or
    an ``array<string>`` column (RAGGED per-event label lists, e.g. all
    quality flags a document carries): arrays are exploded so each label
    receives the row's full weight, matching the reference's fill
    broadcasting of a jagged categorical. NULL labels / NULL arrays fill
    nothing (option-type skip).

    Scale: explode -> partial hash agg -> final agg; the shuffle carries
    one row per DISTINCT label per partition."""
    cols = [*(by or []), _col(categories).alias("_c"), _weight(weight).alias("_w")]
    base = df.select(*cols)
    ctype = base.schema["_c"].dataType.typeName()
    if ctype == "array":
        base = base.select(*(by or []), F.explode("_c").alias("_c"), "_w")
    return (
        base.where(F.col("_c").isNotNull())
        .groupBy(*(by or []), F.col("_c").alias("category"))
        .agg(
            F.sum("_w").alias("sumw"),
            F.sum(F.col("_w") * F.col("_w")).alias("sumw2"),
            F.count("_w").alias("n"),
        )
    )


#: histogram accumulator columns (summable under projection/merge)
_HIST_ACCS = ("sumw", "sumw2", "sumwy", "sumwy2", "n")


def project(hdf: DataFrame, axis: str) -> DataFrame:
    """Project an N-dim histogram DataFrame onto one bin axis by summing
    the accumulators over the other bin axes (the reference's
    ``hist.project``; works on any hist1d/hist2d/histnd output whose bin
    columns end in 'bin'). Category columns (e.g. a dataset axis) are
    KEPT as group keys, not summed away. Tiny aggregate over
    already-reduced bins — no data re-scan."""
    bin_cols = [c for c in hdf.columns if c.endswith("bin")]
    if axis not in bin_cols:
        raise ValueError(f"axis {axis!r} not among bin columns {bin_cols}")
    keys = [axis] + [
        c for c in hdf.columns
        if c not in bin_cols and c not in _HIST_ACCS and c != "mean"
    ]
    aggs = [F.sum(c).alias(c) for c in hdf.columns if c in _HIST_ACCS]
    return hdf.groupBy(*keys).agg(*aggs)
