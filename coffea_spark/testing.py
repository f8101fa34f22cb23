"""Deterministic synthetic fixtures for tests (FIXTURES.md F1/F2).

Mirrors the shape of the reference's test samples (tests/samples/nano_dy.root
and tests/dummy_distributions.py:5-27) without any ROOT dependency: a jagged
NanoAOD-like event table generated with seeded numpy, delivered both as
pandas (the numpy oracle side) and as a Spark DataFrame (the engine side).

Also the one place that locates the reference's own binary samples
(FIXTURES.md F-ROOT): ``SAMPLES`` and ``sample(name)``.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MUON_MASS = 0.10566

#: coffea's own binary test samples (FIXTURES.md F-ROOT). Optional: the
#: gates and tests that read them skip when the directory is absent.
SAMPLES = "/root/reference/tests/samples"


class FixtureMissing(FileNotFoundError):
    """A reference sample under ``SAMPLES`` is absent."""


def sample(name: str) -> str:
    """Path of the reference sample ``name``; raises ``FixtureMissing``
    naming the file when it is absent."""
    path = os.path.join(SAMPLES, name)
    if not os.path.exists(path):
        raise FixtureMissing(f"reference fixture absent: {path}")
    return path


def preloaded_df(spark: SparkSession, columns: dict) -> DataFrame:
    """Preloaded (already-in-memory) source: build a DataFrame from
    materialized columnar arrays — the reference's PreloadedSourceMapping
    idiom (uproot trees opened elsewhere handed to the processor without
    a filesystem scan; nanoevents/mapping/preloaded.py). Spark-first this
    is only legitimate for SMALL side data (dimension tables, lookup
    payloads, fixtures): the arrays live on the driver and ship with the
    plan, so the natural consumer is a broadcast join against a real
    scanned fact table — never a fact table itself. Accepts any mapping
    of column name -> numpy array / list; Arrow-backed via pandas."""
    return spark.createDataFrame(pd.DataFrame(dict(columns)))


def _vec_struct(extra: dict[str, T.DataType] | None = None) -> T.StructType:
    fields = [
        T.StructField("pt", T.DoubleType()),
        T.StructField("eta", T.DoubleType()),
        T.StructField("phi", T.DoubleType()),
        T.StructField("mass", T.DoubleType()),
    ]
    for k, v in (extra or {}).items():
        fields.append(T.StructField(k, v))
    return T.StructType(fields)


F1_SCHEMA = T.StructType(
    [
        T.StructField("run", T.LongType()),
        T.StructField("luminosityBlock", T.LongType()),
        T.StructField("event", T.LongType()),
        T.StructField("genWeight", T.DoubleType()),
        T.StructField(
            "Muon",
            T.ArrayType(
                _vec_struct(
                    {
                        "charge": T.IntegerType(),
                        "jetIdx": T.IntegerType(),
                        "genPartIdx": T.IntegerType(),
                    }
                )
            ),
        ),
        T.StructField(
            "Electron",
            T.ArrayType(
                _vec_struct(
                    {
                        "charge": T.IntegerType(),
                        "cutBased": T.IntegerType(),
                        "jetIdx": T.IntegerType(),
                        "genPartIdx": T.IntegerType(),
                    }
                )
            ),
        ),
        T.StructField(
            "Jet",
            T.ArrayType(
                _vec_struct(
                    {
                        "jetId": T.IntegerType(),
                        "area": T.DoubleType(),
                        "rawFactor": T.DoubleType(),
                        "muonIdx1": T.IntegerType(),
                        "muonIdx2": T.IntegerType(),
                        "electronIdx1": T.IntegerType(),
                        "electronIdx2": T.IntegerType(),
                        "genJetIdx": T.IntegerType(),
                    }
                )
            ),
        ),
        T.StructField(
            "GenPart",
            T.ArrayType(
                _vec_struct(
                    {
                        "pdgId": T.IntegerType(),
                        "statusFlags": T.IntegerType(),
                        "genPartIdxMother": T.IntegerType(),
                    }
                )
            ),
        ),
        T.StructField("GenJet", T.ArrayType(_vec_struct())),
        T.StructField(
            "MET",
            T.StructType(
                [T.StructField("pt", T.DoubleType()), T.StructField("phi", T.DoubleType())]
            ),
        ),
        T.StructField(
            "PV",
            T.StructType(
                [
                    T.StructField("npvs", T.IntegerType()),
                    T.StructField("x", T.DoubleType()),
                    T.StructField("y", T.DoubleType()),
                    T.StructField("z", T.DoubleType()),
                ]
            ),
        ),
    ]
)


def _idx_or_minus1(rng, n_target: int, frac_minus1: float = 0.3) -> int:
    if n_target == 0 or rng.random() < frac_minus1:
        return -1
    return int(rng.integers(0, n_target))


def make_events_nano(n_events: int = 2000, seed: int = 42) -> list[dict]:
    """F1 `events_nano` rows (FIXTURES.md) as plain python dicts."""
    rng = np.random.default_rng(seed)
    pdg_pool = np.array([23, 13, -13, 11, -11, 22, 1, 21])
    rows = []
    for i in range(n_events):
        n_mu = int(rng.poisson(2))
        n_el = int(rng.poisson(1))
        n_jet = int(rng.poisson(4))
        n_gp = int(rng.poisson(5))
        n_gj = int(rng.poisson(3))

        mu_pt = np.sort(rng.exponential(15.0, n_mu) + 3.0)[::-1]
        muons = [
            {
                "pt": float(mu_pt[j]),
                "eta": float(rng.uniform(-2.4, 2.4)),
                "phi": float(rng.uniform(-math.pi, math.pi)),
                "mass": MUON_MASS,
                "charge": int(rng.choice([-1, 1])),
                "jetIdx": _idx_or_minus1(rng, n_jet),
                "genPartIdx": _idx_or_minus1(rng, n_gp),
            }
            for j in range(n_mu)
        ]
        electrons = [
            {
                "pt": float(rng.exponential(12.0) + 2.0),
                "eta": float(rng.uniform(-2.5, 2.5)),
                "phi": float(rng.uniform(-math.pi, math.pi)),
                "mass": 0.000511,
                "charge": int(rng.choice([-1, 1])),
                "cutBased": int(rng.integers(0, 5)),
                "jetIdx": _idx_or_minus1(rng, n_jet),
                "genPartIdx": _idx_or_minus1(rng, n_gp),
            }
            for _ in range(n_el)
        ]
        jets = [
            {
                "pt": float(rng.exponential(30.0) + 10.0),
                "eta": float(rng.uniform(-4.7, 4.7)),
                "phi": float(rng.uniform(-math.pi, math.pi)),
                "mass": float(rng.exponential(5.0)),
                "jetId": int(rng.integers(0, 8)),
                "area": float(rng.normal(0.5, 0.05)),
                "rawFactor": float(rng.uniform(0.0, 0.2)),
                "muonIdx1": _idx_or_minus1(rng, n_mu),
                "muonIdx2": _idx_or_minus1(rng, n_mu),
                "electronIdx1": _idx_or_minus1(rng, n_el),
                "electronIdx2": _idx_or_minus1(rng, n_el),
                "genJetIdx": _idx_or_minus1(rng, n_gj),
            }
            for _ in range(n_jet)
        ]
        genpart = []
        for j in range(n_gp):
            # parents precede children (genPartIdxMother < j or -1)
            mother = -1 if (j == 0 or rng.random() < 0.3) else int(rng.integers(0, j))
            genpart.append(
                {
                    "pt": float(rng.exponential(20.0)),
                    "eta": float(rng.uniform(-5, 5)),
                    "phi": float(rng.uniform(-math.pi, math.pi)),
                    "mass": float(rng.exponential(1.0)),
                    # chains repeat pdgId sometimes (exercises distinctParent)
                    "pdgId": int(
                        genpart[mother]["pdgId"] if mother >= 0 and rng.random() < 0.4
                        else rng.choice(pdg_pool)
                    ),
                    "statusFlags": int(rng.integers(0, 1 << 15)),
                    "genPartIdxMother": mother,
                }
            )
        genjet = [
            {
                "pt": float(rng.exponential(25.0) + 5.0),
                "eta": float(rng.uniform(-4.7, 4.7)),
                "phi": float(rng.uniform(-math.pi, math.pi)),
                "mass": float(rng.exponential(4.0)),
            }
            for _ in range(n_gj)
        ]
        rows.append(
            {
                "run": int(rng.integers(1, 4)),
                "luminosityBlock": int(rng.integers(1, 51)),
                "event": i,
                "genWeight": float(rng.normal(1.0, 0.05)),
                "Muon": muons,
                "Electron": electrons,
                "Jet": jets,
                "GenPart": genpart,
                "GenJet": genjet,
                "MET": {
                    "pt": float(rng.exponential(25.0)),
                    "phi": float(rng.uniform(-math.pi, math.pi)),
                },
                "PV": {
                    "npvs": int(rng.poisson(25)),
                    "x": float(rng.normal(0, 0.01)),
                    "y": float(rng.normal(0, 0.01)),
                    "z": float(rng.normal(0, 5.0)),
                },
            }
        )
    return rows


def events_nano_df(spark: SparkSession, n_events: int = 2000, seed: int = 42) -> DataFrame:
    rows = make_events_nano(n_events, seed)
    return spark.createDataFrame(rows, schema=F1_SCHEMA)


def events_flat_df(spark: SparkSession, n_events: int = 2000, seed: int = 42) -> DataFrame:
    """F1b: the same data in flat branch layout (Muon_pt: array<double>,
    nMuon: int, ...) — input for the schema-zipping tests."""
    rows = make_events_nano(n_events, seed)
    flat_rows = []
    for r in rows:
        fr: dict = {k: r[k] for k in ("run", "luminosityBlock", "event", "genWeight")}
        for coll in ("Muon", "Electron", "Jet", "GenPart", "GenJet"):
            items = r[coll]
            fr[f"n{coll}"] = len(items)
            if items:
                for fieldname in items[0]:
                    fr[f"{coll}_{fieldname}"] = [it[fieldname] for it in items]
            else:
                # empty lists still need the columns present
                proto = {
                    "Muon": ["pt", "eta", "phi", "mass", "charge", "jetIdx", "genPartIdx"],
                    "Electron": ["pt", "eta", "phi", "mass", "charge", "cutBased", "jetIdx", "genPartIdx"],
                    "Jet": ["pt", "eta", "phi", "mass", "jetId", "area", "rawFactor",
                            "muonIdx1", "muonIdx2", "electronIdx1", "electronIdx2", "genJetIdx"],
                    "GenPart": ["pt", "eta", "phi", "mass", "pdgId", "statusFlags", "genPartIdxMother"],
                    "GenJet": ["pt", "eta", "phi", "mass"],
                }[coll]
                for fieldname in proto:
                    fr[f"{coll}_{fieldname}"] = []
        fr["MET_pt"] = r["MET"]["pt"]
        fr["MET_phi"] = r["MET"]["phi"]
        for f_ in ("npvs", "x", "y", "z"):
            fr[f"PV_{f_}"] = r["PV"][f_]
        flat_rows.append(fr)
    return spark.createDataFrame(pd.DataFrame(flat_rows))


def dummy_jagged_eta_pt(n: int = 50, seed: int = 42):
    """F2 fixture — port of the reference's seeded dummy distribution
    (tests/dummy_distributions.py:5-13): returns (counts, flat_eta, flat_pt)."""
    rng = np.random.RandomState(seed)
    counts = rng.exponential(2, size=n).astype(int)
    total = int(counts.sum())
    eta = rng.uniform(-3.0, 3.0, size=total)
    pt = rng.exponential(10.0, size=total) + rng.exponential(10.0, size=total)
    return counts, eta, pt


def jagged_eta_pt_df(spark: SparkSession, n: int = 50, seed: int = 42) -> DataFrame:
    counts, eta, pt = dummy_jagged_eta_pt(n, seed)
    rows = []
    off = 0
    for c in counts:
        rows.append(
            {
                "eta": [float(x) for x in eta[off : off + c]],
                "pt": [float(x) for x in pt[off : off + c]],
            }
        )
        off += c
    schema = T.StructType(
        [
            T.StructField("eta", T.ArrayType(T.DoubleType())),
            T.StructField("pt", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)
