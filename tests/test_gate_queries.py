"""Gate-query smoke + oracle parity at sf0.001 for the registry entries
added after the first driver round (lookup/corrections/lumi/genealogy/
weights/ML/streaming). The full-registry check at sf0.01 lives in
tools/check_oracle.py; this keeps the new entries under pytest so a
regression is caught before the driver runs."""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

NEW_ORACLE_QUERIES = [
    "dense_lookup",
    "formula_jec",
    "lumi_mask",
    "lumi_sum",
    "genealogy_walk",
    "weights_variations",
    "ml_score",
    "stream_windowed_hist",
    "xref_roundtrip",
    "corrected_met",
    "btag_sf",
    "systematics_updown",
    "doc_fingerprint",
    "asof_operator",
    "quantiles",
    "triples_metric",
    "hist3d",
    "salted_join",
    "deep_children",
    "stream_cutflow",
    "stream_sessions",
    "masked_filter",
    "range_gather",
    "gbdt_score",
    "ccnet_pipeline",
    "pairs_routed",
    "tree_train",
    "gbdt_train_boost",
    # r13: the pytest-only SURVEY rows upgraded to oracle gates
    "hist_varwidth",
    "padded_leading",
    "accumulator_merge",
    "cutflow_npz",
    "preloaded_agg",
]


def test_jer_smear_deterministic(spark):
    """jer_smear has no SQL oracle (content-seeded RNG); assert it is
    deterministic and the smear direction ordering holds."""
    from coffea_spark.queries import REGISTRY

    a = REGISTRY["jer_smear"].fn(spark, SF_DIR).collect()[0]
    b = REGISTRY["jer_smear"].fn(spark, SF_DIR).collect()[0]
    assert a == b
    assert a.n_jets > 0
    assert a.sum_jes_up > a.sum_pt_jec  # +2% JES
    assert a.avg_smear > 0


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in ["lineitem", "orders", "events", "documents", "embeddings",
              "customer", "nation", "region"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", NEW_ORACLE_QUERIES)
def test_new_gate_query_matches_oracle(spark, oracle_con, name):
    from coffea_spark.queries import REGISTRY

    q = REGISTRY[name]
    sdf = q.fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    ores = oracle_con.execute(q.sql)
    orows = ores.fetchall()
    ocols = [d[0] for d in ores.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert _canon(srows, sdf.columns) == _canon(orows, ocols)


def test_registry_is_hermetic_without_samples(spark, tmp_path, monkeypatch):
    """With the reference samples absent, a fixture gate raises the typed
    FixtureMissing when run, and oracle_sql() drops only the two gates
    whose oracle SQL embeds a sample's contents."""
    from __spark_entry__ import oracle_sql
    from coffea_spark import testing
    from coffea_spark.queries import REGISTRY

    monkeypatch.setattr(testing, "SAMPLES", str(tmp_path))
    with pytest.raises(testing.FixtureMissing, match="nano_dimuon.root"):
        testing.sample("nano_dimuon.root")
    with pytest.raises(testing.FixtureMissing):
        REGISTRY["root_scan"].fn(spark, SF_DIR)
    sql = oracle_sql()
    assert len(sql) == 156
    with_oracle = {n for n, q in REGISTRY.items() if q.oracle is not None}
    assert with_oracle - set(sql) == {"correctionlib_sf", "effarea_l5flavor"}
