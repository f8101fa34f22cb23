"""Binned-table lookups — the generic "correction from histogram" operator.

Reference: lookup_tools/dense_lookup.py:8-60 (N-dim searchsorted with
clamp-to-edge), dispatch lookup_tools/lookup_base.py:75-138;
dense_evaluated_lookup.py (per-bin formula evaluation).

One strategy for every table: the bin edges and the values become
LITERAL arrays and the lookup compiles to pure column expressions — a
clamped bin search per axis (:func:`_bin_index_expr`), one C-order cell
index (:func:`_cell_index`) and one ``element_at`` gather, inside
whole-stage codegen: zero Python, zero shuffle. Out-of-range coordinates
clamp to the edge bins like the reference (`np.clip(searchsorted(...)-1, 0, n-2)`).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F


def _lit_array(vals) -> Column:
    """Literal ``array<double>`` of ``vals``."""
    return F.array(*[F.lit(float(v)) for v in vals])


def _bin_index_expr(x: Column, edges: np.ndarray) -> Column:
    """searchsorted(edges, x, 'right')-1 clamped to [0, nbins-1] as a
    column expression (edges literal; +/-inf edges become +/-1e300)."""
    finite = np.nan_to_num(np.asarray(edges, dtype=float), posinf=1e300, neginf=-1e300)
    raw = F.size(F.filter(_lit_array(finite), lambda e: e <= x)) - 1
    return F.greatest(F.least(raw, F.lit(len(edges) - 2)), F.lit(0))


def _cell_index(coords, edges) -> Column:
    """0-based C-order (last axis fastest) cell index of ``coords`` over
    the axes ``edges``: strides come from the edge lengths, so it indexes
    the logical ``ravel()`` of any table layout. One-bin axes add nothing."""
    dims = [len(e) - 1 for e in edges]
    idx = F.lit(0)
    for d, (c, e) in enumerate(zip(coords, edges)):
        if dims[d] > 1:
            stride = int(np.prod(dims[d + 1:], dtype=int))
            idx = idx + _bin_index_expr(c, e) * F.lit(stride)
    return idx


class DenseLookup:
    """N-dimensional binned lookup: ``lookup(x, y, ...) -> Column``.

    Parameters mirror the reference's dense_lookup: ``values`` with shape
    (len(bins[0])-1, len(bins[1])-1, ...), ``bins`` a list of 1-D edge
    arrays (finite edges; +/-inf edges are clamped by construction).
    """

    def __init__(self, values: np.ndarray, bins: list[np.ndarray] | np.ndarray):
        if isinstance(bins, np.ndarray) and bins.ndim == 1:
            bins = [bins]
        self.bins = [np.asarray(b, dtype=float) for b in bins]
        self.values = np.asarray(values, dtype=float)
        expected = tuple(len(b) - 1 for b in self.bins)
        if self.values.shape != expected:
            raise ValueError(
                f"values shape {self.values.shape} != bins shape {expected}"
            )

    def __call__(self, *coords: Column) -> Column:
        if len(coords) != len(self.bins):
            raise ValueError(f"expected {len(self.bins)} coordinates")
        idx = _cell_index(coords, self.bins)
        return F.element_at(_lit_array(self.values.ravel()), idx + F.lit(1))


class FormulaLookup:
    """Per-bin formula evaluation (reference: dense_evaluated_lookup /
    jme_standard_function): bins select a formula; the formula is a Spark
    SQL expression string in the variable ``x`` (e.g. ``"2.0*x + 1.0"``),
    compiled into a CASE chain of native expressions."""

    def __init__(self, formulas: list[str], bins: np.ndarray):
        self.bins = np.asarray(bins, dtype=float)
        if len(formulas) != len(self.bins) - 1:
            raise ValueError("need len(bins)-1 formulas")
        self.formulas = formulas

    def __call__(self, coord: Column, x: Column) -> Column:
        idx = _bin_index_expr(coord, self.bins)
        result = F.lit(None).cast("double")
        for i, formula in enumerate(self.formulas):
            compiled = _substitute(formula, x)
            result = F.when(idx == F.lit(i), compiled).otherwise(result)
        return result


_BINOPS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
}

_FUNCS = {
    "sqrt": F.sqrt,
    "log": F.log,
    "log10": F.log10,
    "exp": F.exp,
    "abs": F.abs,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "atan": F.atan,
    "pow": lambda a, b: F.pow(a, b),
    "least": F.least,
    "greatest": F.greatest,
}


def _substitute(formula: str, x: Column | None = None, variables: dict[str, Column] | None = None) -> Column:
    """Tiny recursive-descent evaluator for arithmetic formulas —
    produces a pure Column tree (TFormula-lite; the reference parses ROOT
    TFormula strings the same way, lookup_tools/jme_standard_function.py).

    ``x`` names the single formula variable (FormulaLookup's contract);
    ``variables`` maps additional names (``y``, ``p0``...) to Columns for
    the multi-variable JME formulas in correction_files.py.
    """
    import ast

    env: dict[str, Column] = dict(variables or {})
    if x is not None:
        env["x"] = x

    def build(node):
        if isinstance(node, ast.Expression):
            return build(node.body)
        if isinstance(node, ast.BinOp):
            op = {ast.Add: "+", ast.Sub: "-", ast.Mult: "*", ast.Div: "/"}.get(type(node.op))
            if op is None:
                if isinstance(node.op, ast.Pow):
                    return F.pow(build(node.left), build(node.right))
                raise ValueError(f"unsupported operator {node.op}")
            return _BINOPS[op](build(node.left), build(node.right))
        if isinstance(node, ast.UnaryOp):
            if isinstance(node.op, ast.USub):
                return -build(node.operand)
            raise ValueError("unsupported unary op")
        if isinstance(node, ast.Constant):
            return F.lit(float(node.value))
        if isinstance(node, ast.Name):
            if node.id in env:
                return env[node.id]
            raise ValueError(f"unknown variable {node.id}")
        if isinstance(node, ast.Call):
            fname = node.func.id
            if fname not in _FUNCS:
                raise ValueError(f"unknown function {fname}")
            return _FUNCS[fname](*[build(a) for a in node.args])
        raise ValueError(f"unsupported syntax: {ast.dump(node)}")

    return build(ast.parse(formula.replace("^", "**"), mode="eval"))


class DenseMappedLookup:
    """Bins select a FORMULA id through an integer mapping table, the
    formula evaluates at a clamped coordinate — the reference's
    dense_mapped_lookup (lookup_tools/dense_mapped_lookup.py:10-71) as
    pure column math.

    ``axes``: one edge array per coordinate; a 2-entry axis means "any
    value -> bin 0" (the reference's degenerate-axis convention).
    ``mapping``: int array of shape (bins per axis...) holding formula
    indices (-1 = no correction available -> NULL, the column-math
    analogue of the reference's ignore_missing path).
    ``formulas``: expression strings in ``x`` (or plain numbers);
    ``feval_dim`` names which coordinate feeds ``x``, clamped to that
    axis' range."""

    def __init__(self, axes, mapping, formulas, feval_dim: int | None):
        self.axes = [np.asarray(a, dtype=float) for a in axes]
        self.mapping = np.asarray(mapping, dtype=int)
        expected = tuple(len(a) - 1 for a in self.axes)
        if self.mapping.shape != expected:
            raise ValueError(f"mapping shape {self.mapping.shape} != bins {expected}")
        self.formulas = list(formulas)
        self.feval_dim = feval_dim

    def __call__(self, *coords: Column) -> Column:
        if len(coords) != len(self.axes):
            raise ValueError(f"expected {len(self.axes)} coordinates")
        idx = _cell_index(coords, self.axes)
        mapidx = F.element_at(
            F.array(*[F.lit(int(v)) for v in self.mapping.ravel()]), idx + F.lit(1)
        )
        result = F.lit(None).cast("double")
        for i, formula in enumerate(self.formulas):
            s = str(formula)
            if "x" in s:
                if self.feval_dim is None:
                    raise ValueError("formulas use x but feval_dim not set")
                ax = self.axes[self.feval_dim]
                xc = F.greatest(
                    F.lit(float(ax[0])),
                    F.least(F.lit(float(ax[-1])), coords[self.feval_dim]),
                )
                compiled = _substitute(s, x=xc)
            else:
                compiled = F.lit(float(s))
            result = F.when(mapidx == F.lit(i), compiled).otherwise(result)
        return result


# ---------------------------------------------------------------------------
# double-sided Crystal Ball (reference lookup_tools/doublecrystalball.py)
# ---------------------------------------------------------------------------

_SQRT2PI = 2.5066282746310002


def _erf(x: Column) -> Column:
    """erf as column math (Abramowitz & Stegun 7.1.26, |err| < 1.5e-7 —
    Spark has no erf builtin; the approximation keeps the whole
    distribution inside whole-stage codegen)."""
    sign = F.when(x < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * ax)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    return sign * (F.lit(1.0) - poly * F.exp(-ax * ax))


def _norm_cdf_col(x: Column) -> Column:
    return F.lit(0.5) * (F.lit(1.0) + _erf(x / F.lit(2.0 ** 0.5)))


def _dcb_norm(betaL: float, betaH: float, mL: float, mH: float) -> float:
    import math

    def phi(v):
        return 0.5 * (1.0 + math.erf(v / math.sqrt(2.0)))

    return 1.0 / (
        mL / betaL / (mL - 1) * math.exp(-0.5 * betaL * betaL)
        + mH / betaH / (mH - 1) * math.exp(-0.5 * betaH * betaH)
        + _SQRT2PI * (phi(betaH) - phi(-betaL))
    )


def doublecrystalball_pdf(x: Column, betaL: float, betaH: float,
                          mL: float, mH: float) -> Column:
    """PDF of the two-sided Crystal Ball: Gaussian core on
    (-betaL, betaH), power-law tails outside (reference
    doublecrystalball.py:55-84; exact N computed driver-side with true
    erf). Pure column math — used by muon-scale unc. models."""
    if not (betaL > 0 and betaH > 0 and mL > 1 and mH > 1):
        raise ValueError("need beta > 0 and m > 1 on both sides")
    N = F.lit(_dcb_norm(betaL, betaH, mL, mH))

    def tail(v: Column, beta: float, m: float) -> Column:
        return (
            F.lit((m / beta) ** m)
            * F.lit(float(np.exp(-0.5 * beta * beta)))
            * F.pow(F.lit(m / beta - beta) - v, F.lit(-m))
        )

    core = F.exp(F.lit(-0.5) * x * x)
    return N * (
        F.when(x <= F.lit(-betaL), tail(x, betaL, mL))
        .when(x >= F.lit(betaH), tail(-x, betaH, mH))
        .otherwise(core)
    )


def doublecrystalball_cdf(x: Column, betaL: float, betaH: float,
                          mL: float, mH: float) -> Column:
    """CDF of the two-sided Crystal Ball (reference
    doublecrystalball.py:121-168): closed-form tail integrals + Gaussian
    core through the column-math normal CDF."""
    if not (betaL > 0 and betaH > 0 and mL > 1 and mH > 1):
        raise ValueError("need beta > 0 and m > 1 on both sides")
    import math

    N = F.lit(_dcb_norm(betaL, betaH, mL, mH))

    def inttail(beta: float, m: float) -> float:
        return m / beta / (m - 1) * math.exp(-0.5 * beta * beta)

    def phi(v: float) -> float:
        return 0.5 * (1.0 + math.erf(v / math.sqrt(2.0)))

    intcore = _SQRT2PI * (phi(betaH) - phi(-betaL))

    def tail(v: Column, beta: float, m: float) -> Column:
        return (
            F.lit((m / beta) ** m)
            * F.lit(float(np.exp(-0.5 * beta * beta)))
            * F.pow(F.lit(m / beta - beta) - v, F.lit(1.0 - m))
            / F.lit(m - 1.0)
        )

    low = tail(x, betaL, mL)
    core = F.lit(inttail(betaL, mL)) + F.lit(_SQRT2PI) * (
        _norm_cdf_col(x) - F.lit(phi(-betaL))
    )
    high = (
        F.lit(inttail(betaL, mL) + intcore + inttail(betaH, mH))
        - tail(-x, betaH, mH)
    )
    return N * (
        F.when(x <= F.lit(-betaL), low)
        .when(x >= F.lit(betaH), high)
        .otherwise(core)
    )


def extractor(path: str):
    """Load correction tables into lookup objects, dispatching on the
    file extension (reference: lookup_tools.extractor:153-189 dispatches
    the same way on `.json` / `.csv` / `.txt` inputs).

    - ``*.btag.csv[.gz]`` / ``*.csv[.gz]`` -> {name: BTagSFTable}
    - ``*.ea.txt[.gz]``                   -> {name_col: DenseLookup} (EGM
      effective areas; one 1-D lookup per value column)
    - ``*.jec.txt[.gz]``                  -> {name: JECTable}; sectioned
      ``[flavor]`` files (L5Flavor/L7Parton) -> {name_flavor: JECTable}
    - ``*.junc.txt[.gz]``                 -> {component: JuncTable}
    - ``*.jersf.txt[.gz]``                -> {name: JERSFTable}
    - ``*.histo.json``                    -> {hist: DenseLookup (+_error)}
    - ``*.npz``                           -> {hist: DenseLookup (+_error)}
    - ``*.json``: the normalized form below.

    JSON schema: {"corrections": [
      {"name": ..., "type": "dense",   "bins": [edges...] | [[e0..],[e1..]],
       "values": nested-list},
      {"name": ..., "type": "formula", "bins": [edges...],
       "formulas": ["1.0 + 2.0/sqrt(x)", ...]},
      {"name": ..., "type": "dense_mapped", "bins": [[e0..],[e1..]],
       "mapping": nested-int-list, "formulas": [...], "feval_dim": 0}
    ]}
    Returns {name: DenseLookup | FormulaLookup | DenseMappedLookup}.
    """
    import json

    base = path.rsplit("/", 1)[-1]
    if base.endswith(".gz"):
        base = base[:-3]
    if base.endswith(".csv"):
        from coffea_spark.correction_files import read_btag_csv

        t = read_btag_csv(path)
        return {base.split(".")[0]: t}
    if base.endswith(".junc.txt"):
        from coffea_spark.correction_files import read_junc_txt

        return read_junc_txt(path)
    if base.endswith(".jersf.txt"):
        from coffea_spark.correction_files import read_jersf_txt

        t = read_jersf_txt(path)
        return {t.name: t}
    if base.endswith(".ea.txt"):
        from coffea_spark.correction_files import read_ea_txt

        return read_ea_txt(path)
    if base.endswith(".txt"):
        from coffea_spark.correction_files import (
            _open_text,
            read_jec_txt,
            read_jec_txt_sections,
        )

        # sniff for a sectioned ([flavor]) file — the L5Flavor/L7Parton
        # layout; the reference keys this on "_L5Flavor_" in the name
        # (extractor.py:156), but the first non-comment line is the
        # authoritative signal and also catches L7 files
        with _open_text(path) as f:
            for line in f:
                s = line.strip()
                if not s or s.startswith("#"):
                    continue
                sectioned = s.startswith("[")
                break
            else:
                sectioned = False
        if sectioned:
            return read_jec_txt_sections(path)
        t = read_jec_txt(path)
        return {t.name: t}
    if base.endswith(".histo.json"):
        from coffea_spark.correction_files import read_histo_json

        return read_histo_json(path)
    if base.endswith(".root"):
        # native TH1/TH2/TH3 extraction (reference root_converters.py:19-34
        # via uproot; here via the pure-Python reader) — each histogram
        # becomes a DenseLookup plus a "<name>_error" lookup
        from coffea_spark.root_reader import read_histograms

        out = {}
        for name, (edges, values, errors) in read_histograms(path).items():
            out[name] = DenseLookup(values, [np.asarray(e) for e in edges])
            out[name + "_error"] = DenseLookup(errors, [np.asarray(e) for e in edges])
        return out
    if base.endswith(".npz"):
        from coffea_spark.correction_files import read_histo_npz

        return read_histo_npz(path)
    if base.endswith(".corr.json"):
        from coffea_spark.correctionlib_io import CorrectionSet

        cs = CorrectionSet.from_file(path)
        return {name: cs[name] for name in cs}

    with open(path) as f:
        doc = json.load(f)
    if doc.get("schema_version") == 2:  # correctionlib JSON-POG payload
        from coffea_spark.correctionlib_io import CorrectionSet

        cs = CorrectionSet(doc)
        return {name: cs[name] for name in cs}
    out = {}
    for c in doc.get("corrections", []):
        name, kind = c["name"], c["type"]
        if name in out:
            raise ValueError(f"duplicate correction name {name!r}")
        if kind == "dense":
            bins = c["bins"]
            if bins and not isinstance(bins[0], (list, tuple)):
                bins = [bins]
            out[name] = DenseLookup(
                np.asarray(c["values"], dtype=float),
                [np.asarray(b, dtype=float) for b in bins],
            )
        elif kind == "formula":
            out[name] = FormulaLookup(list(c["formulas"]), np.asarray(c["bins"], dtype=float))
        elif kind == "dense_mapped":
            out[name] = DenseMappedLookup(
                [np.asarray(b, dtype=float) for b in c["bins"]],
                np.asarray(c["mapping"], dtype=int),
                list(c["formulas"]),
                c.get("feval_dim"),
            )
        else:
            raise ValueError(f"unknown correction type {kind!r} for {name!r}")
    return out


class Extractor:
    """The reference's extractor/evaluator REGISTRY surface
    (lookup_tools/extractor.py:41-218): accumulate weight-set
    descriptions across many files, then finalize into one evaluator
    mapping local names to lookup callables.

    Descriptions are ``"<local_name> <name-in-file> <file>"`` with ``*``
    wildcards: ``"* * file"`` imports every table in the file under its
    in-file name, ``"prefix_* * file"`` prefixes them. Files are parsed
    once (cache keyed by path) no matter how many sets they feed —
    multi-file stacking composes one namespace from many payloads."""

    def __init__(self):
        self._pending: list[tuple[str, str, str]] = []
        self._filecache: dict[str, dict] = {}
        self._names: dict[str, object] = {}
        self._finalized = False

    def add_weight_set(self, description: str) -> None:
        if self._finalized:
            raise RuntimeError("extractor is finalized, cannot add more sets")
        parts = description.split()
        if len(parts) != 3:
            raise ValueError(
                f"expected '<local> <in-file> <file>', got {description!r}"
            )
        self._pending.append((parts[0], parts[1], parts[2]))

    def add_weight_sets(self, descriptions: list[str]) -> None:
        for d in descriptions:
            self.add_weight_set(d)

    def _tables(self, path: str) -> dict:
        if path not in self._filecache:
            self._filecache[path] = extractor(path)
        return self._filecache[path]

    def finalize(self) -> None:
        if self._finalized:
            raise RuntimeError("extractor is already finalized")
        for local, infile, path in self._pending:
            tables = self._tables(path)
            if infile == "*":
                prefix = local[:-1] if local.endswith("*") else ""
                for name, t in tables.items():
                    key = prefix + name if prefix else name
                    if key in self._names:
                        raise ValueError(f"duplicate weight name {key!r}")
                    self._names[key] = t
            else:
                if infile not in tables:
                    raise KeyError(f"{infile!r} not found in {path}")
                if local in self._names:
                    raise ValueError(f"duplicate weight name {local!r}")
                self._names[local] = tables[infile]
        self._finalized = True

    def make_evaluator(self) -> dict:
        if not self._finalized:
            raise RuntimeError("call finalize() before make_evaluator()")
        return dict(self._names)
