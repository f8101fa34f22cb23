"""ROOT-format sink (root_writer.py): round-trip through the native
reader — reference surface uproot_writeable (schemas/base.py:136-178,
schemas/nanoaod.py:417-464)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from coffea_spark.root_reader import RootTreeReader, read_root
from coffea_spark.root_writer import (
    RootWriteError,
    write_root_dir,
    write_root_file,
)


def _cols(n=500, seed=5):
    rng = np.random.default_rng(seed)
    pt = [rng.random(k).astype(np.float32) * 50 for k in rng.integers(0, 6, n)]
    return {
        "run": np.full(n, 7, dtype=np.int32),
        "met": (rng.random(n) * 100).astype(np.float32),
        "weight": rng.random(n),
        "flag": rng.random(n) > 0.5,
        "evt": np.arange(n, dtype=np.int64),
        "Muon_pt": pt,
        "Muon_eta": [rng.standard_normal(len(x)).astype(np.float32) for x in pt],
    }


def _scan_files(dest, sizes=(7, 11, 5), seed=3):
    """One file per size, with bool, u8, jagged and counts branches and
    event ids running on across the files."""
    rng = np.random.default_rng(seed)
    paths, e0 = [], 0
    for i, n in enumerate(sizes):
        cols = {
            "event": np.arange(e0, e0 + n, dtype=np.int64),
            "flag": rng.random(n) > 0.5,
            "id": np.uint64(2**63) + rng.integers(0, 1000, n).astype(np.uint64),
            "Muon_pt": [rng.random(k).astype(np.float32) * 50 for k in rng.integers(0, 4, n)],
        }
        path = str(dest / f"f{i}.root")
        paths.append(write_root_file(cols, path, counts_map={"Muon_pt": "nMuon"}))
        e0 += n
    return paths


def _assert_written(tbl, cols, e0, e1):
    """``tbl`` holds entries [e0, e1) of the columns written from ``cols``."""
    assert tbl.num_rows == e1 - e0
    for name, want in cols.items():
        got = tbl.column(name).combine_chunks()
        if isinstance(want, list):  # jagged: one array per entry
            assert got.to_pylist() == [x.tolist() for x in want[e0:e1]], name
        else:
            assert got.to_pylist() == want[e0:e1].tolist(), name


def test_roundtrip_all_dtypes(tmp_path):
    cols = _cols()
    path = str(tmp_path / "t.root")
    write_root_file(
        cols, path,
        counts_map={"Muon_pt": "nMuon", "Muon_eta": "nMuon"},
        basket_rows=128,
    )
    r = RootTreeReader(path)
    assert r.entries == 500
    assert len(r._baskets["met"]) == 4  # multi-basket
    assert (r.array("run") == cols["run"]).all()
    assert np.array_equal(r.array("met"), cols["met"])
    assert np.array_equal(r.array("weight"), cols["weight"])
    assert (r.array("flag") == cols["flag"]).all()
    assert (r.array("evt") == cols["evt"]).all()
    assert (r.array("nMuon") == [len(x) for x in cols["Muon_pt"]]).all()
    assert np.array_equal(r.array("Muon_pt"), np.concatenate(cols["Muon_pt"]))
    nmuon = [len(x) for x in cols["Muon_pt"]]
    assert r.counts("Muon_pt").tolist() == nmuon
    assert r.counts("met") is None
    # the whole tree and entry ranges that start and end mid-basket,
    # adjacent ones included, against the written columns
    names = [*cols, "nMuon"]
    for e0, e1 in [(0, 500), (100, 400), (127, 129), (499, 500), (100, 300), (300, 400)]:
        got = r.to_arrow(names, entry_start=e0, entry_stop=e1)
        _assert_written(got, cols, e0, e1)
        assert got["nMuon"].to_pylist() == nmuon[e0:e1]
    _assert_written(r.to_arrow(), cols, 0, 500)


def test_uncompressed_and_empty(tmp_path):
    path = str(tmp_path / "u.root")
    write_root_file(
        {"x": np.arange(10, dtype=np.float64)}, path, compression=0
    )
    r = RootTreeReader(path)
    assert np.array_equal(r.array("x"), np.arange(10.0))
    path2 = str(tmp_path / "e.root")
    write_root_file({"x": np.asarray([], dtype=np.float64)}, path2)
    assert RootTreeReader(path2).entries == 0


def test_error_paths(tmp_path):
    with pytest.raises(RootWriteError, match="rows"):
        write_root_file(
            {"a": np.arange(3), "b": np.arange(4)}, str(tmp_path / "x.root")
        )
    with pytest.raises(RootWriteError, match="disagree"):
        write_root_file(
            {
                "a": [np.arange(2), np.arange(3)],
                "b": [np.arange(1), np.arange(3)],
            },
            str(tmp_path / "y.root"),
            counts_map={"a": "n", "b": "n"},
        )
    with pytest.raises(RootWriteError, match="collides"):
        write_root_file(
            {"a": [np.arange(2)], "n_a": np.arange(1)},
            str(tmp_path / "z.root"),
        )


def test_distributed_sink_roundtrip(spark, tmp_path):
    """write_root_dir: one part file per partition, read back losslessly
    with read_root over the directory glob — the parquet sink contract
    in ROOT format."""
    df = (
        spark.range(0, 400)
        .select(
            F.col("id").alias("evt"),
            (F.col("id") % 9).cast("double").alias("met"),
            F.sequence(F.lit(0), F.col("id") % 4).cast("array<int>").alias("hits"),
        )
        .repartition(4)
    )
    out = str(tmp_path / "rootdir")
    files = write_root_dir(df, out, tree="T", basket_rows=64)
    assert len(files) == 4
    back = read_root(spark, f"{out}/part-*.root", tree="T")
    assert back.count() == 400
    a = back.agg(
        F.sum("evt").alias("se"),
        F.sum("met").alias("sm"),
        F.sum(F.size("hits")).alias("sh"),
    ).first()
    e = df.agg(
        F.sum("evt").alias("se"),
        F.sum("met").alias("sm"),
        F.sum(F.size("hits")).alias("sh"),
    ).first()
    assert (a["se"], a["sm"], a["sh"]) == (e["se"], e["sm"], e["sh"])


def test_string_column_roundtrip(tmp_path):
    """TLeafC string columns: write one TString per entry (offset-table
    framed), read back through the native reader — including across
    basket boundaries and via entry ranges."""
    rng = np.random.default_rng(11)
    procs = np.array(
        ["primary", "hIoni", "Decay", "pi+Inelastic", ""], dtype=object
    )
    cols = {
        "evt": np.arange(300, dtype=np.int64),
        "process": procs[rng.integers(0, 5, 300)],
    }
    path = str(tmp_path / "s.root")
    write_root_file(cols, path, basket_rows=64)
    r = RootTreeReader(path)
    assert (r.array("process") == cols["process"]).all()
    assert r.counts("process") is None
    _assert_written(r.to_arrow(), cols, 0, 300)
    for e0, e1 in [(50, 250), (63, 65), (299, 300), (10, 100), (100, 130)]:
        _assert_written(r.to_arrow(list(cols), e0, e1), cols, e0, e1)
    with pytest.raises(RootWriteError, match="jagged string"):
        write_root_file(
            {"a": [np.array(["x"], dtype=object), np.array(["y", "z"], dtype=object)]},
            str(tmp_path / "j.root"),
        )


@pytest.mark.samples
def test_uproot_writeable_full_circle(spark, tmp_path):
    """ROOT -> collections -> ROOT: read the reference's dimuon fixture,
    zip into Muon collections, write back through write_events_root
    (the uproot_writeable surface), re-read, and compare values."""
    from coffea_spark.root_reader import read_nanoevents
    from coffea_spark.root_writer import write_events_root
    from coffea_spark.testing import SAMPLES

    ev = read_nanoevents(
        spark,
        [f"{SAMPLES}/nano_dimuon.root"],
        columns=["run", "nMuon", "Muon_pt", "Muon_charge"],
    )
    out = str(tmp_path / "circle")
    write_events_root(ev.df if hasattr(ev, "df") else ev, out, tree="Events")
    back = read_root(spark, f"{out}/part-*.root", tree="Events")
    assert back.count() == 40
    got = back.agg(
        F.sum(F.size("Muon_pt")).alias("n"),
        F.round(F.sum(F.aggregate("Muon_pt", F.lit(0.0), lambda a, x: a + x)), 3).alias("s"),
    ).first()
    r = RootTreeReader(f"{SAMPLES}/nano_dimuon.root")
    assert got["n"] == int(r.array("nMuon").sum())
    assert got["s"] == round(float(r.array("Muon_pt").astype("float64").sum()), 3)


def test_u8_reads_lossless_as_decimal(spark, tmp_path):
    """Unsigned-64 values >= 2^63 cannot widen to Spark's LongType: the
    distributed reader maps u8 to DecimalType(20,0) — Spark's own
    parquet convention for UINT64 — so the full unsigned range reads
    losslessly (supersedes the round-4 fail-loud behavior: xAOD
    pileUpMixtureID branches genuinely carry such values)."""
    path = str(tmp_path / "u8.root")
    write_root_file(
        {"evt": np.array([1, 2 ** 63 + 5, 3], dtype=np.uint64)}, path
    )
    r = RootTreeReader(path)
    assert r.branches["evt"].dtype == "u8"
    assert int(r.array("evt")[1]) == 2 ** 63 + 5  # native read is fine
    df = read_root(spark, [path], columns=["evt"])
    assert dict(df.dtypes)["evt"] == "decimal(20,0)"
    vals = sorted(int(row.evt) for row in df.collect())
    assert vals == [1, 3, 2 ** 63 + 5]


def test_read_root_list_glob_and_source_agree(spark, tmp_path):
    """read_root over a file list, and format("root") over the same list
    and over a glob, read exactly the concatenated native reads, with
    every file split into several partitions."""
    from decimal import Decimal

    import pyarrow as pa

    from coffea_spark.datasource import register_root_source

    paths = _scan_files(tmp_path)
    cols = sorted(RootTreeReader(paths[0]).branches)
    assert cols == ["Muon_pt", "event", "flag", "id", "nMuon"]
    want = pa.concat_tables([RootTreeReader(p).to_arrow(cols) for p in paths]).to_pylist()
    register_root_source(spark)
    source = spark.read.format("root").option("split_rows", 4)
    for df in (
        read_root(spark, paths, split_rows=4),
        source.load(paths),
        source.load(str(tmp_path / "*.root")),
    ):
        assert dict(df.dtypes)["id"] == "decimal(20,0)"
        got = [
            {k: int(v) if isinstance(v, Decimal) else v for k, v in r.asDict().items()}
            for r in df.orderBy("event").collect()
        ]
        assert got == want


def test_read_root_list_with_missing_file_raises(spark, tmp_path):
    """A list with one missing entry fails loudly, through read_root and
    through format("root"), rather than reading the other files' rows."""
    from coffea_spark.datasource import register_root_source

    good = _scan_files(tmp_path, sizes=(3,))[0]
    missing = str(tmp_path / "gone.root")
    register_root_source(spark)
    for read in (
        lambda: read_root(spark, [good, missing]).count(),
        lambda: spark.read.format("root").load([good, missing]).count(),
    ):
        with pytest.raises(Exception, match=f"no files match {missing}"):
            read()


def test_empty_jagged_row_preserves_dtype(spark, tmp_path):
    """A row with an empty array must not promote an integer jagged
    column to float64 (code-review finding: np.asarray([]) is float64)."""
    df = spark.createDataFrame(
        [(0, [1, 2]), (1, []), (2, [3])], "evt long, hits array<long>"
    ).repartition(1)
    out = str(tmp_path / "ej")
    write_root_dir(df, out, tree="T")
    back = read_root(spark, f"{out}/part-*.root", tree="T")
    assert dict(back.dtypes)["hits"] == "array<bigint>"
    got = back.agg(F.sum(F.aggregate("hits", F.lit(0).cast("long"), lambda a, x: a + x))).first()[0]
    assert got == 6


def test_incompressible_payload_stores_raw(tmp_path):
    """zlib-expanded frames fall back to raw storage instead of
    overflowing the 3-byte compressed-size field."""
    rng = np.random.default_rng(12)
    # incompressible random bytes just over one frame of f8 values
    n = (1 << 21) + 7
    cols = {"x": rng.random(n)}
    path = str(tmp_path / "big.root")
    write_root_file(cols, path, basket_rows=1 << 22, compression=9)
    r = RootTreeReader(path)
    assert np.array_equal(r.array("x"), cols["x"])


def test_mixed_dtype_jagged_promotes(tmp_path):
    """Mixed-dtype jagged parts promote via numpy rules instead of
    truncating to the first part's dtype (second-pass review finding)."""
    path = str(tmp_path / "mix.root")
    write_root_file(
        {"x": [np.array([1, 2], dtype=np.int64), np.array([0.5])]}, path
    )
    r = RootTreeReader(path)
    got = r.array("x")
    assert got.dtype == np.float64
    assert np.array_equal(got, [1.0, 2.0, 0.5])


def test_null_scalar_int_raises(spark, tmp_path):
    """NULLs in an integer scalar column fail loudly instead of silently
    writing a float64 branch of NaNs."""
    df = spark.createDataFrame(
        [(1,), (None,), (3,)], "evt long"
    ).repartition(1)
    with pytest.raises(Exception, match="NULL"):
        write_root_dir(df, str(tmp_path / "n"), tree="T")


def test_null_array_cell_raises(spark, tmp_path):
    """NULL array cells (not empty arrays) fail loudly."""
    df = spark.createDataFrame(
        [(1, [1, 2]), (2, None)], "evt long, hits array<long>"
    ).repartition(1)
    with pytest.raises(Exception, match="NULL"):
        write_root_dir(df, str(tmp_path / "na"), tree="T")


def test_root_datasource_writer_roundtrip(spark, tmp_path):
    """df.write.format('root') -> part-NNNNN.root per partition with a
    _SUCCESS marker; reads back through format('root') with the derived
    counts leaf intact."""
    import pyspark.sql.functions as F

    from coffea_spark.datasource import register_root_source

    register_root_source(spark)
    df = spark.range(0, 300).select(
        F.col("id").alias("event"),
        F.transform(
            F.sequence(F.lit(1), (F.col("id") % 5).cast("int")),
            lambda i: (i * 0.5).cast("float"),
        ).alias("jet_pt"),
    )
    out = str(tmp_path / "rootsink")
    (
        df.repartition(2)
        .write.format("root")
        .mode("overwrite")
        .option("counts_map", "jet_pt:njet")
        .save(out)
    )
    import os

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names and sum(n.endswith(".root") for n in names) == 2
    # task-commit protocol: tasks write _temp-part-<pid>-<attempt>.root
    # and commit() publishes via rename — no temp may survive a commit
    assert not [n for n in names if n.startswith("_temp-")]

    # an orphan temp from a crashed/speculative attempt must be swept
    # by the next commit, not blessed by _SUCCESS
    with open(os.path.join(out, "_temp-part-99999-42.root"), "wb") as fh:
        fh.write(b"partial garbage")
    (
        df.repartition(2)
        .write.format("root")
        .mode("overwrite")
        .option("counts_map", "jet_pt:njet")
        .save(out)
    )
    names = sorted(os.listdir(out))
    assert not [n for n in names if n.startswith("_temp-")]
    assert sum(n.endswith(".root") for n in names) == 2

    back = spark.read.format("root").load(out + "/part-*.root")
    got = back.agg(
        F.count("*").alias("n"),
        F.sum("njet").alias("s"),
        F.round(
            F.sum(F.aggregate("jet_pt", F.lit(0.0), lambda a, x: a + x.cast("double"))), 2
        ).alias("sp"),
    ).collect()[0]
    want = df.agg(
        F.count("*"),
        F.sum(F.size("jet_pt")),
        F.round(
            F.sum(F.aggregate("jet_pt", F.lit(0.0), lambda a, x: a + x.cast("double"))), 2
        ),
    ).collect()[0]
    assert tuple(got) == tuple(want)


def test_read_events_enforces_nanoaod_event_ids(spark, tmp_path):
    """read_events applies the NanoAOD event-id contract of
    NanoEvents.from_variant: a flat NanoAOD-style file without
    luminosityBlock raises, and a complete one zips its Muon collection."""
    from coffea_spark.root_reader import read_events

    cols = {
        "run": np.full(2, 1, dtype=np.int32),
        "event": np.arange(2, dtype=np.int64),
        "Muon_pt": [np.array([30.0, 12.5], dtype=np.float32), np.array([], dtype=np.float32)],
    }
    counts = {"Muon_pt": "nMuon"}
    missing = write_root_file(cols, str(tmp_path / "nolumi.root"), counts_map=counts)
    with pytest.raises(RuntimeError, match="Missing event_ids"):
        read_events(spark, [missing])
    cols["luminosityBlock"] = np.full(2, 3, dtype=np.int32)
    cols["Muon_eta"] = [np.array([0.5, -1.0], dtype=np.float32), np.array([], dtype=np.float32)]
    counts["Muon_eta"] = "nMuon"
    full = write_root_file(cols, str(tmp_path / "nano.root"), counts_map=counts)
    ev = read_events(spark, [full]).orderBy("event")
    assert [r[0] for r in ev.select("Muon.pt").collect()] == [[30.0, 12.5], []]
