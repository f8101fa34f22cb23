"""Correction-file readers: BTag CSV, JEC txt, JES-uncertainty txt, JER SF txt.

The reference's extractor consumes the standard CMS correction text
formats (lookup_tools/extractor.py dispatching to txt converters at
lookup_tools/txt_converters.py:22-441 and the BTag CSV reader at
btag_tools/btagscalefactor.py:52-86). This module parses the SAME public
file formats but compiles them into **Catalyst column expressions**
instead of numpy lookups: every table below becomes literal arrays +
pure column math (bin index, clamp, linear interpolation, formula
evaluation) that runs inside whole-stage codegen — no UDF, no Python in
the hot path, trivially broadcast to every task because it is part of
the plan itself. Correction tables are KBs; at 100 TB the cost of a
lookup is exactly the cost of the arithmetic.

File formats (public CMS/JME conventions, also documented by the
reference converters):

- **JEC txt** — header ``{1 JetEta 1 JetPt <formula> Correction <name>}``;
  rows ``etaMin etaMax N xMin xMax p0 p1 ...``. The formula is a TFormula
  in ``x`` (clamped to [xMin, xMax] per bin) with ``[k]`` parameter slots.
- **junc txt** — header ``{1 JetEta 1 JetPt "" Correction Uncertainty}``;
  rows ``etaMin etaMax N  pt dn up  pt dn up ...`` — per eta bin, a knot
  table linearly interpolated in (clamped) pt; result up = 1 + interp,
  down = 1 - interp (reference jec_uncertainty_lookup.py:82-112).
  ``[Component]`` section headers split multi-source files.
- **JER SF txt** — like JEC but each bin carries exactly 3 params
  (central, down, up) (reference txt_converters.py:263-305).
- **BTag CSV** — columns ``OperatingPoint, measurementType, sysType,
  jetFlavor, etaMin, etaMax, ptMin, ptMax, discrMin, discrMax, formula``
  (reference btagscalefactor.py:37-49); formula in ``x`` = pt (or the
  discriminant for the reshape working point).
"""

from __future__ import annotations

import gzip
import io
import re

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

from coffea_spark.lookup import _bin_index_expr, _lit_array, _substitute

__all__ = [
    "read_btag_csv",
    "read_ea_txt",
    "read_jec_txt",
    "read_jec_txt_sections",
    "read_junc_txt",
    "read_jersf_txt",
    "read_histo_json",
    "read_histo_npz",
    "BTagSFTable",
    "JECTable",
    "JuncTable",
    "JERSFTable",
]

_TEMPLATE_VARS = ["x", "y", "z", "t", "w", "s"]


def _open_text(path: str):
    """Open plain or gzipped text (gzip magic sniff, like the reference's
    is_gz_file)."""
    with open(path, "rb") as probe:
        magic = probe.read(2)
    if magic == b"\x1f\x8b":
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="ascii")
    return open(path, encoding="ascii")


def _pick(flat_vals: np.ndarray, idx: Column) -> Column:
    """element_at over a literal array with a 0-based index Column."""
    return F.element_at(_lit_array(flat_vals), idx + F.lit(1))


def _normalize_formula(formula: str) -> str:
    """TFormula -> python-parseable: [k] -> pk, TMath:: names -> plain."""
    formula = formula.strip().strip('"')
    formula = re.sub(r"\[(\d+)\]", r"p\1", formula)
    for src, dst in [
        ("TMath::Max", "greatest"),
        ("TMath::Min", "least"),
        ("TMath::Log", "log"),
        ("TMath::Log10", "log10"),
        ("TMath::Power", "pow"),
        ("TMath::Exp", "exp"),
        ("TMath::Abs", "abs"),
        ("TMath::Sqrt", "sqrt"),
    ]:
        formula = formula.replace(src, dst)
    # bare max/min in JME formulas mean elementwise 2-arg forms
    formula = re.sub(r"\bmax\(", "greatest(", formula)
    formula = re.sub(r"\bmin\(", "least(", formula)
    return formula


def _parse_jme_header(line: str):
    """``{nBinned <names...> nEval <names...> <formula> ...}`` ->
    (binned_var_names, eval_var_names, formula_str)."""
    body = line.strip().strip("{}").strip()
    toks = body.split()
    if not toks or not toks[0].isdigit():
        raise ValueError(f"malformed JME header: {line!r}")
    n_binned = int(toks[0])
    binned = toks[1 : 1 + n_binned]
    n_eval = int(toks[1 + n_binned])
    eval_vars = toks[2 + n_binned : 2 + n_binned + n_eval]
    formula = toks[2 + n_binned + n_eval] if len(toks) > 2 + n_binned + n_eval else '""'
    return binned, eval_vars, formula


def _edges_from_rows(los: np.ndarray, his: np.ndarray) -> np.ndarray:
    """Contiguous [lo, hi) rows -> one edge array."""
    lo_u = np.unique(los)
    hi_u = np.unique(his)
    if not np.allclose(lo_u[1:], hi_u[:-1]):
        raise ValueError("non-contiguous bins in correction file")
    return np.append(lo_u, hi_u[-1])


def _clamp(x: Column, lo, hi) -> Column:
    lo = lo if isinstance(lo, Column) else F.lit(float(lo))
    hi = hi if isinstance(hi, Column) else F.lit(float(hi))
    return F.greatest(lo, F.least(hi, x))


def _jagged_bin_index(x: Column, flat_edges: np.ndarray, off: Column, cnt: Column) -> Column:
    """Bin index of ``x`` within the edge slice [off, off+cnt) of a flat
    literal edge array (jagged second binning dim), clamped in-range."""
    arr = F.slice(_lit_array(np.nan_to_num(flat_edges, posinf=1e300, neginf=-1e300)),
                  off + F.lit(1), cnt)
    raw = F.size(F.filter(arr, lambda e: e <= x)) - 1
    return F.greatest(F.least(raw, cnt - F.lit(2)), F.lit(0))


def _build_nested(rows: np.ndarray, nb: int):
    """Build the N-level jagged bin tree from bound-pair columns.

    CMS JME tables are a DEPTH-FIRST dense grid: level-0 bins from
    column pair 0, and for every level-(k-1) cell its own (jagged)
    level-k edge array from column pair k — L2Relative's per-eta pt
    edges generalized to any depth (reference
    txt_converters.py:137-235 builds the same structure as awkward
    offsets). Returns ``(order, edges0, levels)``: ``order`` sorts rows
    into cell DFS order; ``levels[k-1]`` holds, per parent cell,
    ``(flat_edges, edge_off, edge_cnt, cell_off)`` as literal-array
    fodder — a row index is then computed by chained jagged bin
    searches, O(sum of edge counts) expression size, never
    O(rows x params)."""
    order = np.lexsort(tuple(rows[:, 2 * k] for k in reversed(range(nb))))
    rows = rows[order]
    edges0 = _edges_from_rows(rows[:, 0], rows[:, 1])
    parents = [np.flatnonzero(rows[:, 0] == lo) for lo in np.unique(rows[:, 0])]
    levels = []
    for k in range(1, nb):
        flat_edges: list[float] = []
        edge_off, edge_cnt, cell_off = [], [], []
        children = []
        n_cells = 0
        for idxs in parents:
            sub_edges = _edges_from_rows(rows[idxs, 2 * k], rows[idxs, 2 * k + 1])
            edge_off.append(len(flat_edges))
            edge_cnt.append(len(sub_edges))
            cell_off.append(n_cells)
            flat_edges.extend(sub_edges)
            los = rows[idxs, 2 * k]
            for lo in np.unique(los):
                children.append(idxs[los == lo])
            n_cells += len(sub_edges) - 1
        levels.append(
            (
                np.asarray(flat_edges),
                np.asarray(edge_off),
                np.asarray(edge_cnt),
                np.asarray(cell_off),
            )
        )
        parents = children
    for i, idxs in enumerate(parents):
        if len(idxs) != 1 or int(idxs[0]) != i:
            raise ValueError("binned rows do not form a dense nested grid")
    return order, edges0, levels


def _nested_row_index(cols: list[Column], edges0: np.ndarray, levels) -> Column:
    """Flat row index from one Column per binned dimension: level-0 bin
    search, then per level a jagged search inside the parent cell's edge
    slice. Out-of-range values clamp into the edge bins at every level
    (reference lookup semantics)."""
    cell = _bin_index_expr(cols[0], edges0)
    for (flat_edges, eoff, ecnt, coff), col in zip(levels, cols[1:]):
        off = _pick(eoff, cell).cast("int")
        cnt = _pick(ecnt, cell).cast("int")
        sub = _jagged_bin_index(col, flat_edges, off, cnt)
        cell = _pick(coff, cell).cast("int") + sub
    return cell


class JECTable:
    """One JEC level as column math: ``jec(eta[, rho, pt], ...evals) ->
    Column``.

    Supports the standard CMS layouts at ANY binning depth: 1 binned var
    (eta), 2 (eta x jagged pt, e.g. L2Relative), or 3+ (eta x rho x pt,
    e.g. L1FastJet) — the nested jagged grid of :func:`_build_nested`.
    Bin indices select the flat row; parameter vectors come from literal
    arrays indexed once (NOT a per-row CASE chain, so expression size is
    O(params + edges), not O(rows x params)); eval variables clamp to
    the row's validity range; the TFormula becomes a Column tree.
    Reference semantics: lookup_tools/jme_standard_function.py (clamp +
    formula eval), jagged binning dims as in txt_converters.py:137-235
    _build_standard_jme_lookup.

    ``signature`` lists the positional args of ``__call__`` — binned
    vars then eval vars, deduplicated by name (for L2Relative that is
    ``(JetEta, JetPt)``: JetPt is both the second binning dim and the
    formula variable).
    """

    def __init__(self, name, edges, levels, clamp_lo, clamp_hi, params, formula,
                 binned_vars, eval_vars):
        self.name = name
        self.edges = np.asarray(edges, dtype=float)
        # per-level jagged structures from _build_nested (empty for 1-D)
        self.levels = levels
        self.clamp_lo = np.asarray(clamp_lo, dtype=float)  # [n_eval][flat_row]
        self.clamp_hi = np.asarray(clamp_hi, dtype=float)
        self.params = np.asarray(params, dtype=float)  # [n_params][flat_row]
        self.formula = formula
        self.binned_vars = list(binned_vars)
        self.eval_vars = list(eval_vars)
        self.signature = list(dict.fromkeys(self.binned_vars + self.eval_vars))

    def __call__(self, *args: Column) -> Column:
        if len(args) != len(self.signature):
            raise ValueError(f"expected args {self.signature}")
        named = dict(zip(self.signature, args))
        row = _nested_row_index(
            [named[v] for v in self.binned_vars], self.edges, self.levels
        )
        env: dict[str, Column] = {}
        for i, v in enumerate(self.eval_vars):
            lo = _pick(self.clamp_lo[i], row)
            hi = _pick(self.clamp_hi[i], row)
            env[_TEMPLATE_VARS[i]] = _clamp(named[v], lo, hi)
        for k in range(self.params.shape[0]):
            env[f"p{k}"] = _pick(self.params[k], row)
        return _substitute(self.formula, variables=env)


def _parse_guard(path: str, what: str):
    """Context manager converting low-level parse crashes on malformed
    correction files (IndexError/struct walk-offs, numpy shape errors)
    into a typed ValueError naming the file — config corruption must
    fail loud, never stack-smash (same boundary rule as the binary
    readers)."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        try:
            yield
        except (ValueError, KeyError, NotImplementedError):
            raise
        except (IndexError, OverflowError, TypeError) as exc:
            raise ValueError(
                f"{path}: malformed {what} ({type(exc).__name__}: {exc})"
            ) from exc

    return cm()


def _guarded(what: str):
    """Decorator applying :func:`_parse_guard` to a path-first parser."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrap(path, *a, **k):
            with _parse_guard(path, what):
                return fn(path, *a, **k)

        return wrap

    return deco


def read_jec_txt(path: str, name: str | None = None) -> JECTable:
    """Parse a single-level ``*.jec.txt[.gz]`` file (any binning depth)."""
    with _parse_guard(path, "JEC text"), _open_text(path) as f:
        return _read_jec_stream(f, name or path.rsplit("/", 1)[-1].split(".")[0])


@_guarded("sectioned JEC text")
def read_jec_txt_sections(path: str) -> dict[str, JECTable]:
    """Parse a SECTIONED JEC text file — ``[flavor]`` headers split the
    file into independent standard JEC tables (the CMS L5Flavor /
    L7Parton layout; reference txt_converters.py:307-347
    ``convert_l5flavor_jes_txt_file``). Returns
    ``{"<stem>_<section>": JECTable}`` with the same names the
    reference's evaluator exposes (``basename_component``)."""
    stem = path.rsplit("/", 1)[-1].split(".")[0]
    sections: list[tuple[str, list[str]]] = []
    with _open_text(path) as f:
        for line in f:
            s = line.strip()
            if not s or s.startswith("#"):
                continue
            if s.startswith("[") and s.endswith("]"):
                sections.append((s[1:-1], []))
            elif sections:
                sections[-1][1].append(line)
    if not sections:
        return {stem: read_jec_txt(path)}
    out = {}
    for comp, lines in sections:
        out[f"{stem}_{comp}"] = _read_jec_stream(
            io.StringIO("".join(lines)), f"{stem}_{comp}"
        )
    return out


@_guarded("effective-area text")
def read_ea_txt(path: str) -> dict:
    """Parse a CMS EGM effective-area file (``*.ea.txt``; reference
    txt_converters.py:442-534 ``convert_effective_area_file``). Header
    ``{nBinned <names...> nEval <colnames...>}``; each row is
    ``lo hi v_1 .. v_nEval``. Every value column becomes an independent
    1-D :class:`~coffea_spark.lookup.DenseLookup` named
    ``<stem>_<colname>`` (clamp-to-edge bin semantics, same as the
    reference's dense_lookup). Only 1-D binning exists in the wild; the
    reference's converter has the same restriction."""
    from coffea_spark.lookup import DenseLookup

    stem = path.rsplit("/", 1)[-1].split(".")[0]
    with _open_text(path) as f:
        header = f.readline().strip().strip("{}").split()
        if not header or not header[0].isdigit():
            raise ValueError(f"malformed EA header in {path!r}")
        n_binned = int(header[0])
        if n_binned != 1:
            raise ValueError("effective-area files are 1-D binned")
        n_eval = int(header[1 + n_binned])
        colnames = header[2 + n_binned : 2 + n_binned + n_eval]
        if len(colnames) != n_eval:
            raise ValueError(f"EA header names {colnames} != nEval {n_eval}")
        rows = np.loadtxt(f, ndmin=2)
    if rows.shape[1] != 2 + n_eval:
        raise ValueError(
            f"EA rows have {rows.shape[1]} columns, expected {2 + n_eval}"
        )
    edges = _edges_from_rows(rows[:, 0], rows[:, 1])
    order = np.argsort(rows[:, 0], kind="stable")
    return {
        f"{stem}_{col}": DenseLookup(rows[order, 2 + i], [edges])
        for i, col in enumerate(colnames)
    }


def _read_jec_stream(f, name: str) -> JECTable:
    binned, eval_vars, formula = _parse_jme_header(f.readline())
    rows = np.loadtxt(f, ndmin=2)
    nb = len(binned)
    ncol = rows[:, 2 * nb].astype(int)
    if not (ncol == ncol[0]).all():
        raise ValueError("ragged parameter rows in JEC file")
    ne = len(eval_vars)
    order, edges, levels = _build_nested(rows, nb)
    rows = rows[order]
    pcol0 = 2 * nb + 1
    clamp_lo = [rows[:, pcol0 + 2 * i] for i in range(ne)]
    clamp_hi = [rows[:, pcol0 + 1 + 2 * i] for i in range(ne)]
    params = [rows[:, pcol0 + 2 * ne + k] for k in range(ncol[0] - 2 * ne)]
    return JECTable(
        name,
        edges, levels, clamp_lo, clamp_hi, params, _normalize_formula(formula),
        binned, eval_vars,
    )


class JuncTable:
    """Binned JES uncertainty: ``junc(eta[, more bins...], pt) ->
    struct<up, down>``.

    up = 1 + lerp(ups[row], pt_clamped), down = 1 - lerp(downs...) —
    exactly the reference's jec_uncertainty_lookup.py:100-112 (clip pt
    to the knot range, linear interpolation between knots), with the
    bin-row selection generalized to any binning depth through the same
    nested jagged grid as :class:`JECTable`. All literal-array column
    math; knots are shared across bins (the format guarantees it; the
    reference asserts the same).
    """

    def __init__(self, name, edges, knots, ups, downs, levels=()):
        self.name = name
        self.edges = np.asarray(edges, dtype=float)
        self.levels = list(levels)
        self.knots = np.asarray(knots, dtype=float)
        self.ups = np.asarray(ups, dtype=float)  # [row][knot]
        self.downs = np.asarray(downs, dtype=float)
        nk = len(self.knots)
        if self.ups.shape[1] != nk or self.downs.shape != self.ups.shape:
            raise ValueError("uncertainty table shape mismatch")
        if not self.levels and self.ups.shape[0] != len(self.edges) - 1:
            raise ValueError("uncertainty table shape mismatch")

    def _lerp(self, table: np.ndarray, bin_idx: Column, ptc: Column, kidx: Column) -> Column:
        nk = len(self.knots)
        flat = table.ravel()  # [row*nk + k]
        base = bin_idx * F.lit(nk) + kidx
        v0 = _pick(flat, base)
        v1 = _pick(flat, base + F.lit(1))
        k0 = _pick(self.knots, kidx)
        k1 = _pick(self.knots, kidx + F.lit(1))
        t = (ptc - k0) / (k1 - k0)
        return v0 + t * (v1 - v0)

    def __call__(self, *args: Column) -> Column:
        *binned, pt = args
        if len(binned) != len(self.levels) + 1:
            raise ValueError(f"expected {len(self.levels) + 1} binned args + pt")
        idx = _nested_row_index(list(binned), self.edges, self.levels)
        ptc = _clamp(pt, self.knots[0], self.knots[-1])
        kidx = _bin_index_expr(ptc, self.knots)
        up = F.lit(1.0) + self._lerp(self.ups, idx, ptc, kidx)
        down = F.lit(1.0) - self._lerp(self.downs, idx, ptc, kidx)
        return F.struct(up.alias("up"), down.alias("down"))


@_guarded("JES-uncertainty text")
def read_junc_txt(path: str) -> dict[str, JuncTable]:
    """Parse ``*.junc.txt[.gz]`` (any binning depth); multi-component
    files (``[Name]`` sections) yield one table per component. Returns
    {component: table} with ``""`` for the single-section form."""
    sections: list[tuple[str, list[str]]] = [("", [])]
    with _open_text(path) as f:
        for line in f:
            s = line.strip()
            if not s or s.startswith("#"):
                continue
            if s.startswith("[") and s.endswith("]"):
                sections.append((s[1:-1], []))
            else:
                sections[-1][1].append(line)
    out: dict[str, JuncTable] = {}
    for comp, lines in sections:
        if not lines:
            continue
        header, *data = lines
        binned, eval_vars, _ = _parse_jme_header(header)
        nb = len(binned)
        rows = np.loadtxt(io.StringIO("".join(data)), ndmin=2)
        order, edges, levels = _build_nested(rows, nb)
        rows = rows[order]
        triplets = rows[:, 2 * nb + 1 :]
        if triplets.shape[1] % 3:
            raise ValueError("junc rows must hold (pt, down, up) triplets")
        knots = triplets[0, 0::3]
        if not np.allclose(triplets[:, 0::3], knots[None, :]):
            raise ValueError("knots differ across bins")
        # triplet layout (reference txt_converters.py:425-427):
        # vals[0::3]=knots, vals[1::3]=downs, vals[2::3]=ups
        downs = triplets[:, 1::3]
        ups = triplets[:, 2::3]
        key = comp or path.rsplit("/", 1)[-1].split(".")[0]
        out[key] = JuncTable(key, edges, knots, ups, downs, levels)
    if not out:
        raise ValueError(f"no uncertainty tables found in {path}")
    return out


class JERSFTable:
    """JER scale factors: ``jersf(eta[, more bins...]) ->
    struct<central, down, up>`` (reference txt_converters.py:263-305
    convert_jersf_txt_file; 3 params per bin row, optional extra eval
    columns ignored; any binning depth through the nested jagged
    grid)."""

    def __init__(self, name, edges, central, down, up, levels=()):
        self.name = name
        self.edges = np.asarray(edges, dtype=float)
        self.levels = list(levels)
        self.central = np.asarray(central, dtype=float)
        self.down = np.asarray(down, dtype=float)
        self.up = np.asarray(up, dtype=float)

    def __call__(self, *binned: Column) -> Column:
        if len(binned) != len(self.levels) + 1:
            raise ValueError(f"expected {len(self.levels) + 1} binned args")
        idx = _nested_row_index(list(binned), self.edges, self.levels)
        return F.struct(
            _pick(self.central, idx).alias("central"),
            _pick(self.down, idx).alias("down"),
            _pick(self.up, idx).alias("up"),
        )


@_guarded("JERSF text")
def read_jersf_txt(path: str) -> JERSFTable:
    with _open_text(path) as f:
        binned, eval_vars, _ = _parse_jme_header(f.readline())
        rows = np.loadtxt(f, ndmin=2)
    nb = len(binned)
    order, edges, levels = _build_nested(rows, nb)
    rows = rows[order]
    ne = len(eval_vars)
    # after bound pairs and N: [evalMin evalMax]*ne, then central down up
    p = rows[:, 2 * nb + 1 + 2 * ne :]
    if p.shape[1] < 3:
        raise ValueError("jersf rows need (central, down, up)")
    return JERSFTable(
        path.rsplit("/", 1)[-1].split(".")[0], edges, p[:, 0], p[:, 1], p[:, 2], levels
    )


_BTAG_COLUMNS = [
    "OperatingPoint", "measurementType", "sysType", "jetFlavor",
    "etaMin", "etaMax", "ptMin", "ptMax", "discrMin", "discrMax", "formula",
]


class BTagSFTable:
    """BTag scale factors from the CSV layout, compiled per call into a
    WHEN chain over (flavor, eta-bin, pt-bin) with the row formula
    evaluated at clamped pt (or discriminant for reshape working
    points). Reference surface: btag_tools/btagscalefactor.py (same
    flavor constants: 0=b, 1=c, 2=udsg in BTV numbering 5/4/0)."""

    LOOSE, MEDIUM, TIGHT, RESHAPE = range(4)
    _wp_names = {"loose": 0, "medium": 1, "tight": 2, "reshape": 3}

    def __init__(self, rows: list[dict], discriminator: str):
        self.rows = rows
        self.discriminator = discriminator

    def sf(
        self,
        flavor: Column,
        abseta: Column,
        pt: Column,
        discr: Column | None = None,
        working_point: int | str = "medium",
        systematic: str = "central",
        methods: str = "comb,comb,incl",
    ) -> Column:
        """SF Column. ``flavor`` uses BTV codes (5=b, 4=c, else light).

        Out-of-range pt clamps to the row range edges (the reference
        clamps via its mapped dense lookup); unmatched rows -> NULL.
        """
        if isinstance(working_point, str):
            working_point = self._wp_names[working_point.lower()]
        meths = methods.split(",")
        flav_method = {0: meths[0], 1: meths[1] if len(meths) > 1 else meths[0],
                       2: meths[2] if len(meths) > 2 else meths[0]}
        btv2local = {5: 0, 4: 1}

        sel = [
            r for r in self.rows
            if int(r["OperatingPoint"]) == working_point
            and r["sysType"] == systematic
            and r["measurementType"] == flav_method[int(r["jetFlavor"])]
        ]
        if not sel:
            raise ValueError(
                f"no rows for wp={working_point} sys={systematic!r} methods={methods!r}"
            )
        use_discr = working_point == self.RESHAPE
        if use_discr and discr is None:
            raise ValueError("reshape working point needs the discriminant column")

        local_flavor = F.when(flavor == 5, 0).when(flavor == 4, 1).otherwise(2)
        result = F.lit(None).cast("double")
        for r in sel:
            var = discr if use_discr else pt
            x = _clamp(var, r["ptMin" if not use_discr else "discrMin"],
                       r["ptMax" if not use_discr else "discrMax"])
            cond = (
                (local_flavor == int(r["jetFlavor"]))
                & (abseta >= F.lit(r["etaMin"])) & (abseta < F.lit(r["etaMax"]))
                & (pt >= F.lit(r["ptMin"])) & (pt < F.lit(r["ptMax"]))
            )
            if use_discr:
                cond = cond & (discr >= F.lit(r["discrMin"])) & (discr < F.lit(r["discrMax"]))
            result = F.when(cond, _substitute(r["formula"], x=x)).otherwise(result)
        return result


@_guarded("b-tag CSV")
def read_btag_csv(path: str) -> BTagSFTable:
    """Parse the BTag CSV layout (first header cell carries the
    discriminator name, ``<discr>;OperatingPoint``)."""
    import csv

    with _open_text(path) as f:
        reader = csv.reader(f, skipinitialspace=True)
        header = [h.strip() for h in next(reader)]
        discriminator = ""
        if ";" in header[0]:
            discriminator, header[0] = (p.strip() for p in header[0].split(";", 1))
        if header != _BTAG_COLUMNS:
            raise ValueError(f"unexpected BTag CSV columns: {header}")
        rows = []
        for raw in reader:
            if not raw:
                continue
            r = dict(zip(header, (c.strip() for c in raw)))
            if r["OperatingPoint"] in {"L", "M", "T"}:
                raise ValueError(
                    f"{path} is in the UL letter-coded format; "
                    "convert working points to 0-3 (reference refuses these too, "
                    "btagscalefactor.py:97-101)"
                )
            for k in ("etaMin", "etaMax", "ptMin", "ptMax", "discrMin", "discrMax"):
                r[k] = float(r[k])
            r["formula"] = r["formula"].strip().strip('"')
            rows.append(r)
    return BTagSFTable(rows, discriminator)


# ---------------------------------------------------------------------------
# histogram converters (the ".histo" extractor family)
# ---------------------------------------------------------------------------

def read_histo_json(path: str):
    """CMS EGM-style ``*.histo.json``: nested ``axis:[lo,hi]`` keys ending
    in ``{"value": v, "error": e}`` leaves (reference
    json_converters.py:13-45 extract_json_histo_structure/_values, test
    fixture ``EIDISO_WH_out.histo.json``). Returns
    ``{"dir/title": DenseLookup, "dir/title_error": DenseLookup}`` —
    the same (values, edges) and (errors, edges) pair the reference
    registers per histogram."""
    import json

    from coffea_spark.lookup import DenseLookup

    with _open_text(path) as f:
        doc = json.load(f)
    out = {}
    for dirname, hists in doc.items():
        for htitle, tree in hists.items():
            axes: list[np.ndarray] = []
            node = tree
            while "value" not in node:
                pairs = [k.split(":")[-1].strip("[]").split(",") for k in node]
                edges = np.unique(np.asarray(
                    [float(v) for p in pairs for v in p], dtype=float))
                axes.append(edges)
                node = node[next(iter(node))]
            shape = tuple(len(e) - 1 for e in axes)
            vals = np.zeros(shape)
            errs = np.zeros(shape)

            def fill(node, idx):
                if "value" in node:
                    vals[tuple(idx)] = float(node["value"])
                    errs[tuple(idx)] = float(node.get("error", 0.0))
                    return
                level = len(idx)
                for k, sub in node.items():
                    lo = float(k.split(":")[-1].strip("[]").split(",")[0])
                    fill(sub, idx + [int(np.searchsorted(axes[level], lo))])

            fill(tree, [])
            name = f"{dirname}/{htitle}"
            out[name] = DenseLookup(vals, axes)
            out[name + "_error"] = DenseLookup(errs, axes)
    return out


def read_histo_npz(path: str):
    """TH1/TH2/TH3 dumps as npz — the uproot-free carrier for ROOT
    histogram content (reference root_converters.py:19-49 registers
    (values, edges) and (sqrt(variances), edges) per histogram; this
    reads the same payload from arrays a one-time conversion script
    writes with uproot::

        np.savez(out, **{f"{name}__values": h.values(),
                         f"{name}__variances": h.variances(),
                         **{f"{name}__edges{i}": ax.edges()
                            for i, ax in enumerate(h.axes)}})

    Returns ``{name: DenseLookup, name_error: DenseLookup}`` (the error
    table only when variances were dumped)."""
    from coffea_spark.lookup import DenseLookup

    with np.load(path) as z:
        names = sorted({k.rsplit("__", 1)[0] for k in z.files})
        out = {}
        for name in names:
            vals = z[f"{name}__values"]
            edges = []
            i = 0
            while f"{name}__edges{i}" in z.files:
                edges.append(np.asarray(z[f"{name}__edges{i}"], dtype=float))
                i += 1
            if not edges:
                raise ValueError(f"{path}: no edges arrays for {name!r}")
            out[name] = DenseLookup(vals, edges)
            if f"{name}__variances" in z.files:
                out[name + "_error"] = DenseLookup(
                    np.sqrt(np.asarray(z[f"{name}__variances"], dtype=float)), edges
                )
    return out
