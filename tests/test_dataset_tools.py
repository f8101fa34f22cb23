"""Dataset discovery / fileset preprocess / splitting (reference
dataset_tools/preprocess.py:1148, splitting.py:163; Rucio/DAS catalog
queries stay out of scope — discovery is filesystem-native)."""

import pytest

from coffea_spark.dataset_tools import (
    discover_fileset,
    missing_files,
    preprocess,
    split_fileset,
)
from coffea_spark.testing import SAMPLES

SF = "/root/testdata/sf0.001"


def test_discover_and_preprocess_parquet(spark):
    fs = discover_fileset(
        {"tpch": f"{SF}/*.parquet"}, metadata={"tpch": {"era": "sf0.001"}}
    )
    assert len(fs["tpch"]["files"]) >= 9
    assert fs["tpch"]["metadata"] == {"era": "sf0.001"}
    avail, upd = preprocess(fs, step_size=500, spark=spark)
    import duckdb

    con = duckdb.connect()
    for path, meta in avail["tpch"]["files"].items():
        n = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        assert meta["num_entries"] == n
        assert meta["format"] == "parquet"
        assert meta["steps"][0][0] == 0 and meta["steps"][-1][1] == n
        assert sum(b - a for a, b in meta["steps"]) == n
        assert all(b - a <= 500 for a, b in meta["steps"])
        assert meta["uuid"]


@pytest.mark.samples
def test_preprocess_root_align_clusters():
    fs = discover_fileset({"dy": f"{SAMPLES}/nano_dimuon.root"})
    avail, upd = preprocess(fs, step_size=16, align_clusters=True)
    meta = next(iter(avail["dy"]["files"].values()))
    assert meta["num_entries"] == 40
    assert meta["object_path"] == "Events"
    assert meta["format"] == "root"
    assert meta["steps"][0][0] == 0 and meta["steps"][-1][1] == 40
    assert sum(b - a for a, b in meta["steps"]) == 40


def test_skip_bad_files_and_missing():
    fs = discover_fileset({"d": [f"{SF}/lineitem.parquet", "/nonexistent.parquet"]})
    with pytest.raises(Exception):
        preprocess(fs)
    avail, upd = preprocess(fs, skip_bad_files=True)
    assert len(avail["d"]["files"]) == 1
    assert upd["d"]["files"]["/nonexistent.parquet"] is None
    assert missing_files(upd, avail) == {"d": ["/nonexistent.parquet"]}


def test_split_fileset_round_robin():
    fs = discover_fileset({"a": f"{SF}/*.parquet"})
    nfiles = len(fs["a"]["files"])
    parts = split_fileset(fs, 3)
    assert len(parts) == 3
    got = [p for part in parts for p in part["a"]["files"]]
    assert sorted(got) == sorted(fs["a"]["files"])
    sizes = [len(part["a"]["files"]) for part in parts]
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == nfiles
    with pytest.raises(ValueError):
        split_fileset(fs, 0)


def test_read_fileset_mixed_formats(spark):
    from coffea_spark.dataset_tools import read_fileset

    fs = discover_fileset(
        {
            "orders": f"{SF}/orders.parquet",
            "lineitem": f"{SF}/lineitem.parquet",
        }
    )
    avail, _ = preprocess(fs)
    dfs = read_fileset(spark, avail)
    assert set(dfs) == {"orders", "lineitem"}
    meta = next(iter(avail["orders"]["files"].values()))
    assert dfs["orders"].count() == meta["num_entries"]
    assert dfs["orders"].select("dataset").first()[0] == "orders"


@pytest.mark.samples
def test_read_fileset_root(spark):
    from pyspark.sql import functions as F

    from coffea_spark.dataset_tools import read_fileset

    fs = discover_fileset({"dy": f"{SAMPLES}/nano_dimuon.root"})
    avail, _ = preprocess(fs)
    dfs = read_fileset(spark, avail, columns=["run", "nMuon"])
    df = dfs["dy"]
    assert df.count() == 40
    assert df.agg(F.sum("nMuon")).first()[0] == 84


def _demo_catalog(tmp_path):
    """Catalog over REAL testdata parquet: two 'sites' expose the same
    physical files (a local catalog's common shape)."""
    import glob

    files = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))[:4]
    cat = {}
    for i, name in enumerate(["mc_dy_2018", "mc_tt_2018", "data_egamma_2018A", "data_mu_2018B"]):
        cat[name] = {
            "files": [
                {"lfn": f"store/{name}/f{j}.parquet",
                 "replicas": {"SITE_A": files[j], "SITE_B": files[j],
                              **({"SITE_C": files[j]} if j % 2 else {})}}
                for j in range(len(files))
            ],
            "metadata": {"era": "2018", "is_mc": name.startswith("mc")},
        }
    return cat


def test_data_discovery_query_select_replicas(tmp_path):
    """Local-catalog DataDiscovery: wildcard query, range select with
    metadata merge, deterministic replica strategies, site filters
    (reference dataset_query.py:109-889 minus the grid network)."""
    import json

    import pytest as _pytest

    from coffea_spark.dataset_query import DataDiscovery, parse_selection

    cat = _demo_catalog(tmp_path)
    # also exercise the JSON-file path
    p = tmp_path / "catalog.json"
    p.write_text(json.dumps(cat))
    dd = DataDiscovery(str(p))

    assert dd.do_query("mc_*") == ["mc_dy_2018", "mc_tt_2018"]
    dd.do_select("1", metadata={"xsec": 6077.22})
    assert dd.selected_datasets == ["mc_dy_2018"]
    assert dd.selected_datasets_metadata[0]["xsec"] == 6077.22
    assert dd.selected_datasets_metadata[0]["is_mc"] is True  # catalog meta kept

    dd.do_query("data_*_2018*")
    dd.do_select("1-2")
    assert len(dd.selected_datasets) == 3

    # round-robin is deterministic: same pick twice
    r1 = dd.do_replicas("round-robin", "all")
    picks1 = {ds: list(v["files"]) for ds, v in r1.items()}
    r2 = DataDiscovery(cat)
    r2.do_query("*"); r2.do_select("all")
    assert {ds: list(v["files"]) for ds, v in
            r2.do_replicas("round-robin", "all").items()} | picks1 == \
           {ds: list(v["files"]) for ds, v in
            r2.do_replicas("round-robin", "all").items()} | picks1

    # site filters: blocklist removes a site; regex keeps only A/B
    dd.do_blocklist_sites(["SITE_C"])
    dd.do_regex_sites(r"SITE_[AB]")
    out = dd.do_replicas("first", "all")
    for info in out.values():
        assert set(info["site_counts"]) <= {"SITE_A", "SITE_B"}

    # choose mode honors preference order and errors when impossible
    out = dd.do_replicas("choose", "1", choose_sites=["SITE_B", "SITE_A"])
    assert out  # picked from SITE_B (identical paths here, shape check)
    dd.do_allowlist_sites(["SITE_A"])
    with _pytest.raises(ValueError, match="SITE_Z"):
        dd.do_replicas("choose", "1", choose_sites=["SITE_Z"])

    # selection parser
    assert parse_selection("all", 3) == [0, 1, 2]
    assert parse_selection("1 3", 3) == [0, 2]
    assert parse_selection("2-3", 3) == [1, 2]
    with _pytest.raises(ValueError):
        parse_selection("0", 3)
    with _pytest.raises(ValueError):
        parse_selection("4", 3)


def test_data_discovery_fileset_preprocess(spark, tmp_path):
    """End-to-end: dataset definition -> fileset -> the engine's
    distributed preprocess over REAL parquet (load_dataset_definition,
    reference :721-889)."""
    from coffea_spark.dataset_query import DataDiscovery

    dd = DataDiscovery(_demo_catalog(tmp_path))
    fs = dd.load_dataset_definition({"mc_*": {"campaign": "RunIISummer20"}})
    assert set(fs) == {"mc_dy_2018", "mc_tt_2018"}
    for info in fs.values():
        assert info["metadata"]["campaign"] == "RunIISummer20"
        assert all(v == "Events" for v in info["files"].values())

    out, updated = dd.do_preprocess(spark, step_size=500)
    assert set(out) == set(fs)
    for ds, info in out.items():
        for f, finfo in info["files"].items():
            assert finfo["num_entries"] > 0
            assert finfo["steps"][0][0] == 0


@pytest.mark.samples
def test_preprocess_missing_tree_and_malformed_parquet():
    """The reference's bad-fileset taxonomy (test_local_executors.py:30-70):
    a treename present in one file but not another, and a malformed
    parquet file — both must raise by default and be dropped (recorded
    as None in the updated fileset) under skip_bad_files."""
    dy, special = f"{SAMPLES}/nano_dy.root", f"{SAMPLES}/nano_dy_SpecialTree.root"
    fs = discover_fileset({"zjets": [dy, special]}, tree="NotEvents")
    with pytest.raises(Exception):
        preprocess(fs)
    avail, upd = preprocess(fs, skip_bad_files=True)
    assert list(avail["zjets"]["files"]) == [special]
    assert upd["zjets"]["files"][dy] is None
    assert missing_files(upd, avail) == {"zjets": [dy]}
    meta = avail["zjets"]["files"][special]
    assert meta["object_path"] == "NotEvents" and meta["num_entries"] == 40

    fs2 = discover_fileset({"bad": f"{SAMPLES}/nano_dy_malformed.parquet"})
    with pytest.raises(Exception):
        preprocess(fs2)
    avail2, _ = preprocess(fs2, skip_bad_files=True)
    assert avail2["bad"]["files"] == {}


def test_data_discovery_injected_grid_backend(spark, tmp_path):
    """The grid-transport seam (reference rucio_utils client= /
    dataset_query grid backends, mirrored as DataDiscovery's duck-typed
    catalog): a fake Rucio-shaped backend — query_dataset wildcard
    resolution, (outfiles, outsites, site_counts) replica contract,
    site filters arriving as kwargs — drives the WHOLE
    query -> select -> sites -> replicas -> fileset -> preprocess flow.
    Only the literal network client is absent in this container."""
    import pyspark.sql.functions as F

    from coffea_spark.dataset_query import DataDiscovery

    # two "grid" datasets whose replicas are local parquet files under
    # site-prefixed dirs (the PFN role)
    sites = ["T1_US", "T2_DE", "T2_CH"]
    paths = {}
    for ds, n_files in [("/ZJets/NanoAODv9", 2), ("/Data/Run2023C", 1)]:
        paths[ds] = []
        for fi in range(n_files):
            per_site = []
            for s in sites:
                p = tmp_path / s / ds.strip("/").replace("/", "_")
                p.mkdir(parents=True, exist_ok=True)
                f = p / f"part-{fi}.parquet"
                spark.range(5).withColumn("w", F.lit(float(fi))).write.mode(
                    "overwrite"
                ).parquet(str(f))
                per_site.append(str(f))
            paths[ds].append(per_site)

    calls = {}

    class FakeRucioBackend:
        def query_dataset(self, pattern):
            import fnmatch

            return sorted(fnmatch.filter(paths.keys(), pattern))

        def dataset_metadata(self, dataset):
            return {"is_data": dataset.startswith("/Data")}

        def get_dataset_files_replicas(
            self, dataset, allowlist_sites=None, blocklist_sites=None,
            regex_sites=None,
        ):
            calls[dataset] = {
                "allow": allowlist_sites, "block": blocklist_sites,
                "regex": regex_sites,
            }
            keep = [
                s for s in sites
                if (not allowlist_sites or s in allowlist_sites)
                and (not blocklist_sites or s not in blocklist_sites)
            ]
            outfiles = [
                [ps[sites.index(s)] for s in keep] for ps in paths[dataset]
            ]
            outsites = [list(keep) for _ in paths[dataset]]
            counts = {s: len(paths[dataset]) for s in keep}
            return outfiles, outsites, counts

    dd = DataDiscovery(FakeRucioBackend())
    assert dd.do_query("/*") == ["/Data/Run2023C", "/ZJets/NanoAODv9"]
    dd.do_select("all")
    dd.do_blocklist_sites(["T2_CH"])
    dd.do_replicas(mode="first")
    # the backend received the site filter (the reference passes them
    # through to rucio_utils the same way)
    assert calls["/ZJets/NanoAODv9"]["block"] == ["T2_CH"]
    fileset = dd.as_dict()
    # every picked replica is a surviving-site path, metadata rides along
    for ds, spec in fileset.items():
        assert isinstance(spec["metadata"]["is_data"], bool)
        for f in spec["files"]:
            assert "T2_CH" not in f
    # end-to-end: the picked fileset actually reads
    total = sum(
        spark.read.parquet(f).count()
        for ds in dd.selected_datasets
        for f in dd.replica_results[ds]["files"]
    )
    assert total == (2 + 1) * 5
