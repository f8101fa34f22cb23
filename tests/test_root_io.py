"""ROOT ingestion plumbing: the convert-once path and the read-side
collection reassembly on a parquet file with the converted layout
(reference: nanoevents/factory.py from_root + schemas/base.py)."""

import pytest

from coffea_spark.root_io import read_converted, ttree_to_parquet


def test_converter_native_fallback():
    # the converter decodes with the native pure-Python reader
    # (root_reader), which surfaces real I/O errors
    with pytest.raises(FileNotFoundError):
        ttree_to_parquet("/nonexistent.root", "/tmp/out.parquet")


def test_read_converted_zips_collections(spark, tmp_path):
    # simulate the converter's output layout (flat NanoAOD naming with
    # jagged LIST columns) and check the Spark-side reassembly
    src = spark.createDataFrame(
        [
            (1, [20.0, 11.0], [1, -1], 2),
            (2, [35.5], [1], 1),
            (3, [], [], 0),
        ],
        "event long, Muon_pt array<double>, Muon_charge array<int>, nMuon int",
    )
    path = str(tmp_path / "converted.parquet")
    src.write.parquet(path)
    df = read_converted(spark, path)
    assert "Muon" in df.columns and "Muon_pt" not in df.columns
    rows = {r["event"]: r["Muon"] for r in df.select("event", "Muon").collect()}
    assert [m["pt"] for m in rows[1]] == [20.0, 11.0]
    assert [m["charge"] for m in rows[1]] == [1, -1]
    assert rows[3] == []


@pytest.mark.samples
def test_three_representations_agree(spark):
    """nano_dimuon ships as TTree, plain parquet and arrow
    extension-array parquet (reference test_nanoevents.py:60-130 runs
    its factory over all three); the engine must read identical physics
    from each."""
    import pyspark.sql.functions as F

    from coffea_spark.root_reader import read_root
    from coffea_spark.testing import SAMPLES as S

    froot = read_root(spark, f"{S}/nano_dimuon.root", columns=["event", "Muon_pt"])
    fpq = spark.read.parquet(f"{S}/nano_dimuon.parquet")
    fext = spark.read.parquet(f"{S}/nano_dimuon.extensionarray.parquet")
    sums = []
    events = []
    for df in (froot, fpq, fext):
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("aggregate(Muon_pt, 0D, (a, x) -> a + double(x))")).alias("s"),
        ).first()
        sums.append((agg.n, round(agg.s, 3)))
        events.append(sorted(r.event for r in df.select("event").collect()))
    assert sums[0] == sums[1] == sums[2], sums
    assert events[0] == events[1] == events[2]
