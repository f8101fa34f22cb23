"""correctionlib schema-v2 evaluator compiled to Spark Columns.

correctionlib (https://github.com/cms-nanoAOD/correctionlib) is the
JSON-POG format CMS distributes modern corrections in; the reference
consumes it through the correctionlib package
(jetmet_tools/correctionlib_adapters.py:1-180, tests
test_correctionlib/test_jetmet_tools).  Here the JSON is compiled
directly into Catalyst expressions — no correctionlib dependency, and
evaluation is whole-stage-codegen column math instead of a Python UDF.

Supported node types: constant floats, ``binning`` (uniform or edge
lists), ``multibinning`` (N-D, C-order content), ``category``
(int/string keys + default), ``formula`` (TFormula parser, positional
x/y/z/t variables, [p] parameters), ``formularef`` with
``generic_formulas``, and ``transform`` (rewrites one input through a
sub-node before evaluating the content).  Flow behaviors: ``clamp``,
``error`` (NULL out of range — Spark expressions cannot raise per-row),
or a default content node.  Compound corrections apply their stack with
``input_op``-updated inputs and combine outputs with ``output_op``.

The shape of every non-constant table stays literal-array column math —
the same scale posture as DenseLookup: a broadcast-free scan-stage gather.
"""

from __future__ import annotations

import gzip
import json

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from coffea_spark.correction_files import _normalize_formula
from coffea_spark.lookup import _bin_index_expr, _cell_index, _lit_array, _substitute

_VARS = "xyzt"


class CorrectionError(ValueError):
    pass


class Correction:
    """One correction record: ``evaluate(*cols)`` maps the declared
    inputs (positionally) to a result Column."""

    def __init__(self, spec: dict, generic_formulas: dict | None = None):
        self._spec = spec
        self.name = spec["name"]
        self.inputs = [i["name"] for i in spec["inputs"]]
        self._input_types = {i["name"]: i["type"] for i in spec["inputs"]}
        self._generic = generic_formulas or {
            g["name"]: g for g in spec.get("generic_formulas", []) or []
        }

    def evaluate(self, *cols: Column) -> Column:
        if len(cols) != len(self.inputs):
            raise CorrectionError(
                f"{self.name}: expected inputs {self.inputs}, got {len(cols)}"
            )
        env = dict(zip(self.inputs, cols))
        return self._compile(self._spec["data"], env)

    __call__ = evaluate

    # -- node compiler ------------------------------------------------------

    def _compile(self, node, env: dict[str, Column]) -> Column:
        if isinstance(node, (int, float)):
            return F.lit(float(node))
        nt = node.get("nodetype")
        if nt == "binning":
            return self._binning(node, env)
        if nt == "multibinning":
            return self._multibinning(node, env)
        if nt == "category":
            return self._category(node, env)
        if nt == "formula":
            return self._formula(node, env)
        if nt == "formularef":
            ref = self._generic[node["noderef"]] if isinstance(node.get("noderef"), str) else None
            if ref is None:
                raise CorrectionError(f"{self.name}: unresolvable formularef")
            return self._formula(ref, env, parameters=node.get("parameters"))
        if nt == "transform":
            sub = dict(env)
            sub[node["input"]] = self._compile(node["rule"], env)
            return self._compile(node["content"], sub)
        raise CorrectionError(f"{self.name}: unsupported nodetype {nt!r}")

    @staticmethod
    def _edges_of(edges) -> np.ndarray:
        if isinstance(edges, dict):  # UniformBinning
            return np.linspace(edges["low"], edges["high"], edges["n"] + 1)
        return np.asarray(edges, dtype=float)

    def _guard_flow(self, node, x: Column, edges: np.ndarray, env, result: Column) -> Column:
        flow = node.get("flow", "error")
        if flow == "clamp":
            return result  # clamped index already stays in range
        out_of_range = (x < F.lit(float(edges[0]))) | (x >= F.lit(float(edges[-1])))
        if flow == "error":
            return F.when(~out_of_range, result)  # NULL out of range
        return F.when(out_of_range, self._compile(flow, env)).otherwise(result)

    def _gather(self, idx: Column, content, env) -> Column:
        """``content[idx]``: one literal-array gather when every entry is a
        number, else a CASE chain over the compiled sub-nodes."""
        if all(isinstance(c, (int, float)) for c in content):
            return F.element_at(_lit_array(content), idx + F.lit(1))
        result = F.lit(None).cast("double")
        for i, sub in enumerate(content):
            result = F.when(idx == F.lit(i), self._compile(sub, env)).otherwise(result)
        return result

    def _binning(self, node, env) -> Column:
        x = env[node["input"]]
        edges = self._edges_of(node["edges"])
        result = self._gather(_bin_index_expr(x, edges), node["content"], env)
        return self._guard_flow(node, x, edges, env, result)

    def _multibinning(self, node, env) -> Column:
        inputs = node["inputs"]
        edge_sets = [self._edges_of(e) for e in node["edges"]]
        guard = F.lit(False)
        for name, edges in zip(inputs, edge_sets):
            x = env[name]
            guard = guard | (x < F.lit(float(edges[0]))) | (x >= F.lit(float(edges[-1])))
        idx = _cell_index([env[name] for name in inputs], edge_sets)
        result = self._gather(idx, node["content"], env)
        flow = node.get("flow", "error")
        if flow == "clamp":
            return result
        if flow == "error":
            return F.when(~guard, result)
        return F.when(guard, self._compile(flow, env)).otherwise(result)

    def _category(self, node, env) -> Column:
        key = env[node["input"]]
        result = None
        for item in node["content"]:
            k = item["key"]
            lit = F.lit(k)
            branch = self._compile(item["value"], env)
            result = (
                F.when(key == lit, branch)
                if result is None
                else result.when(key == lit, branch)
            )
        default = node.get("default")
        if default is not None:
            result = (
                self._compile(default, env)
                if result is None
                else result.otherwise(self._compile(default, env))
            )
        elif result is None:
            raise CorrectionError(f"{self.name}: empty category node")
        return result

    def _formula(self, node, env, parameters=None) -> Column:
        if node.get("parser") != "TFormula":
            raise CorrectionError(
                f"{self.name}: unsupported formula parser {node.get('parser')!r}"
            )
        expr = _normalize_formula(node["expression"])
        variables: dict[str, Column] = {}
        for pos, vname in enumerate(node["variables"]):
            variables[_VARS[pos]] = env[vname]
        params = parameters if parameters is not None else node.get("parameters")
        for i, p in enumerate(params or []):
            variables[f"p{i}"] = F.lit(float(p))
        return _substitute(expr, variables=variables)


class CompoundCorrection:
    """Stack of corrections applied in sequence: each step may update
    some inputs with the accumulated output (``input_op``), outputs
    combine with ``output_op`` — the correctionlib spelling of the JEC
    chain (reference correctionlib_adapters.py CorrectedJetsFactory
    usage)."""

    _INPUT_OPS = ("*", "+", "/")
    _OUTPUT_OPS = ("*", "+", "/", "last")

    def __init__(self, spec: dict, corrections: dict[str, Correction]):
        self.name = spec["name"]
        self.inputs = [i["name"] for i in spec["inputs"]]
        self._update = set(spec.get("inputs_update") or [])
        self._input_op = spec.get("input_op", "*")
        self._output_op = spec.get("output_op", "*")
        if self._input_op not in self._INPUT_OPS:
            raise CorrectionError(
                f"{self.name}: unsupported input_op {self._input_op!r} "
                f"(schema v2 allows {self._INPUT_OPS})"
            )
        if self._output_op not in self._OUTPUT_OPS:
            raise CorrectionError(
                f"{self.name}: unsupported output_op {self._output_op!r} "
                f"(schema v2 allows {self._OUTPUT_OPS})"
            )
        self._stack = [corrections[n] for n in spec["stack"]]

    @staticmethod
    def _combine(acc: Column, step: Column, op: str) -> Column:
        if op == "*":
            return acc * step
        if op == "+":
            return acc + step
        if op == "/":
            return acc / step
        return step  # 'last' — each step's output replaces the total

    def evaluate(self, *cols: Column) -> Column:
        env = dict(zip(self.inputs, cols))
        total = None
        for corr in self._stack:
            step = corr.evaluate(*[env[n] for n in corr.inputs])
            total = step if total is None else self._combine(
                total, step, self._output_op
            )
            for name in self._update:
                env[name] = self._combine(env[name], step, self._input_op)
        return total if total is not None else F.lit(1.0)

    __call__ = evaluate


class CorrectionSet:
    """Parsed correctionlib JSON (optionally gzipped): name -> evaluator.
    Compound corrections are addressable by their own names."""

    def __init__(self, doc: dict):
        if doc.get("schema_version") != 2:
            raise CorrectionError(
                f"unsupported correctionlib schema_version {doc.get('schema_version')}"
            )
        self._corrections = {
            c["name"]: Correction(c) for c in doc.get("corrections", [])
        }
        self._compound = {
            c["name"]: CompoundCorrection(c, self._corrections)
            for c in doc.get("compound_corrections", []) or []
        }

    @classmethod
    def from_file(cls, path: str) -> "CorrectionSet":
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt") as f:
            return cls(json.load(f))

    def __getitem__(self, name: str):
        if name in self._corrections:
            return self._corrections[name]
        if name in self._compound:
            return self._compound[name]
        raise KeyError(
            f"no correction {name!r}; have {sorted(self._corrections) + sorted(self._compound)}"
        )

    def __iter__(self):
        yield from self._corrections
        yield from self._compound

    def keys(self):
        return list(self)


def as_jec_level(correction, fixed: dict[str, Column] | None = None):
    """Adapt a (compound) correction to the FactorizedJetCorrector level
    interface ``(eta, pt) -> Column`` (the reference's
    correctionlib_adapters.py:21-120 name-mapped wrapper): inputs named
    JetEta/JetPt bind to the level arguments; every other declared input
    (Rho, JetA, systematic...) must be supplied in ``fixed``.  Event-level
    columns are legal there even inside the factory's per-jet lambda
    (outer-row references in higher-order functions); per-jet extras need
    the correction called directly on the jet struct instead."""
    fixed = fixed or {}

    def level(eta: Column, pt: Column) -> Column:
        args = []
        for name in correction.inputs:
            if name in ("JetEta", "eta"):
                args.append(eta)
            elif name in ("JetPt", "pt"):
                args.append(pt)
            elif name in fixed:
                args.append(fixed[name])
            else:
                raise CorrectionError(
                    f"{correction.name}: input {name!r} not bound — pass it "
                    f"via fixed= (declared inputs: {correction.inputs})"
                )
        return correction.evaluate(*args)

    return level
