"""Structured Streaming aggregations, batch ML inference, runner facade."""

import os

import numpy as np
import pytest
import pyspark.sql.functions as F

from coffea_spark.accumulator import accumulate, add
from coffea_spark.hist import Hist1D, hist1d
from coffea_spark.mltools import BatchInferencer
from coffea_spark.runner import run
from coffea_spark.streaming import (
    run_foreach_batch,
    sessionized,
    windowed_cutflow,
    windowed_hist,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Bounded file-stream source: events written as parquet."""
    d = str(tmp_path_factory.mktemp("stream"))
    rows = []
    base = 1700000000
    rng = np.random.default_rng(3)
    for i in range(2000):
        rows.append(
            {
                "event_id": i,
                "ts": base + i * 30,  # one event / 30s
                "user_id": int(rng.integers(0, 20)),
                "value": float(rng.uniform(0, 100)),
            }
        )
    df = spark.createDataFrame(rows, "event_id long, ts long, user_id long, value double")
    df = df.withColumn("ts", F.timestamp_seconds("ts"))
    df.write.mode("overwrite").parquet(d)
    return d


def _read_stream(spark, d):
    schema = spark.read.parquet(d).schema
    return spark.readStream.schema(schema).parquet(d)


def test_windowed_hist_matches_batch(spark, stream_dir):
    stream = _read_stream(spark, stream_dir)
    agg = windowed_hist(stream, "value", 10, 0.0, 100.0, window="10 minutes")
    q = agg.writeStream.outputMode("append").format("memory").queryName("wh").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select sum(n) as n from wh").collect()[0].n or 0
    # append mode emits only watermark-closed windows; the final window(s)
    # stay open with a bounded source. Compare against batch on the same
    # closed-window set.
    windows = [r.window for r in spark.sql("select distinct window from wh").collect()]
    batch = spark.read.parquet(stream_dir)
    want = 0
    for w in windows:
        want += batch.filter((F.col("ts") >= w.start) & (F.col("ts") < w.end)).count()
    assert got == want and got > 0


def test_windowed_cutflow(spark, stream_dir):
    stream = _read_stream(spark, stream_dir)
    agg = windowed_cutflow(
        stream,
        {"big": F.col("value") > 50, "even_user": F.col("user_id") % 2 == 0},
        window="30 minutes",
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("wc").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from wc").collect()
    assert rows
    for r in rows:
        assert r.cutflow_big <= r.initial
        assert r.cutflow_even_user <= r.cutflow_big  # cumulative monotone


def test_sessionized_stream(spark, stream_dir):
    stream = _read_stream(spark, stream_dir)
    agg = sessionized(stream, key="user_id", gap="5 minutes")
    q = agg.writeStream.outputMode("append").format("memory").queryName("ss").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from ss").collect()
    assert rows and all(r.n_events >= 1 for r in rows)


def test_start_sessionized_append_matches_batch_islands(spark, stream_dir):
    """Append-mode sessions (the production path: one emit per
    watermark-closed session, state evicted) must agree exactly with the
    batch lag-based island computation on every session they emit."""
    from coffea_spark.streaming import start_sessionized

    # single time-ordered file -> one micro-batch: cross-batch watermark
    # drops would otherwise make the emitted set depend on file order
    d = stream_dir + "_single"
    spark.read.parquet(stream_dir).orderBy("ts").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    stream = _read_stream(spark, d)
    q = start_sessionized(
        stream, key="user_id", gap="5 minutes", watermark="10 minutes",
        output="append", query_name="ss_append", trigger_available_now=True,
    )
    q.awaitTermination(300)
    # epoch via SQL cast on BOTH sides: naive datetime.timestamp() is
    # local-tz-dependent and would skew keys against the pandas epochs
    got = {
        (r.user_id, r.sstart): (r.n_events, round(r.sum_value, 6))
        for r in spark.sql(
            "select user_id, cast(session_window.start as long) sstart,"
            " n_events, sum_value from ss_append"
        ).collect()
    }
    assert got, "append mode emitted no closed sessions"

    # batch islands: Spark's merge is INCLUSIVE (an event exactly gap
    # after the last still extends the session — verified on a 300s-grid
    # fixture), so a new session starts only when delta > gap
    pdf = (
        spark.read.parquet(d)
        .withColumn("ts", F.col("ts").cast("long"))
        .toPandas()
        .sort_values(["user_id", "ts"])
    )
    want, ends = {}, {}
    for uid, g in pdf.groupby("user_id"):
        start, n, sv, last = None, 0, 0.0, None
        for _, row in g.iterrows():
            t = float(row["ts"])
            if last is None or t - last > 300.0:
                if start is not None:
                    want[(uid, int(start))] = (n, round(sv, 6))
                    ends[(uid, int(start))] = last + 300.0
                start, n, sv = t, 0, 0.0
            n += 1
            sv += float(row["value"])
            last = t
        if start is not None:
            want[(uid, int(start))] = (n, round(sv, 6))
            ends[(uid, int(start))] = last + 300.0
    for key, val in got.items():
        assert key in want and want[key] == val
    # append must emit every session the FINAL watermark closed: session
    # end (last event + gap) strictly before max event time - watermark
    max_ts = float(pdf["ts"].max())
    closed = {k for k, e in ends.items() if e < max_ts - 600.0}
    assert closed <= set(got)


def test_foreach_batch_accumulate(spark, stream_dir):
    stream = _read_stream(spark, stream_dir)

    def pipeline(bdf):
        h = hist1d(bdf, "value", 10, 0.0, 100.0)
        return {"hist": Hist1D.from_df(h, 10, 0.0, 100.0), "n": bdf.count()}

    q, holder = run_foreach_batch(stream, pipeline, add)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = holder["value"]
    assert out["n"] == 2000
    assert out["hist"].sumw.sum() == 2000


def test_batch_inferencer(spark):
    """Worker-side lazy model load + Arrow batch marshalling with a numpy
    'model' (reference mechanism, ml_tools/helper.py:10-386)."""
    rng = np.random.default_rng(8)
    w = rng.standard_normal(8)

    inf = BatchInferencer(
        "linreg-test",
        loader=lambda: w,  # "model" = weight vector
        predict=lambda model, X, b: X @ model + b,
    )
    rows = [
        {"x": [float(v) for v in rng.standard_normal(8)], "b": float(i)} for i in range(100)
    ]
    df = spark.createDataFrame(rows, "x array<double>, b double")
    got = df.select(inf(F.col("x"), F.col("b")).alias("y")).toPandas()["y"].to_numpy()
    X = np.stack([r["x"] for r in rows])
    want = X @ w + np.arange(100)
    assert np.allclose(got, want)


def test_framework_wrappers_gated(spark):
    from coffea_spark.mltools import torch_wrapper, triton_wrapper, xgboost_wrapper

    for fn in (lambda: torch_wrapper("/nope"), lambda: xgboost_wrapper("/nope"),
               lambda: triton_wrapper("http://x", "m")):
        with pytest.raises(ImportError):
            fn()


def test_runner_merges_datasets(spark, tmp_path):
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(100).select(F.col("id").cast("double").alias("v")).write.parquet(d1)
    spark.range(50).select((F.col("id") + 10).cast("double").alias("v")).write.parquet(d2)

    def pipeline(df):
        return {
            "n": df.count(),
            "hist": Hist1D.from_df(hist1d(df, "v", 10, 0.0, 200.0), 10, 0.0, 200.0),
        }

    out = run(spark, {"dsA": d1, "dsB": d2}, pipeline)
    assert out["dsA"]["n"] == 100 and out["dsB"]["n"] == 50
    assert out["__total__"]["n"] == 150
    assert out["__total__"]["hist"].sumw.sum() == 150


def test_accumulator_semantics():
    a = {"x": 1, "s": {1, 2}, "l": [1], "nested": {"y": 2.0}}
    b = {"x": 2, "s": {2, 3}, "l": [2], "nested": {"y": 3.0}, "new": 7}
    m = accumulate([a, b])
    assert m == {"x": 3, "s": {1, 2, 3}, "l": [1, 2], "nested": {"y": 5.0}, "new": 7}


def test_fileset_manipulations(spark, tmp_path):
    """max_files/slice_files/filter_files/max_rows (reference:
    dataset_tools/manipulations.py)."""
    from coffea_spark.runner import filter_files, max_files, max_rows, slice_files

    fs = {"a": ["f1", "f2", "f3"], "b": "single"}
    assert max_files(fs, 2) == {"a": ["f1", "f2"], "b": ["single"]}
    assert max_files(fs) is fs
    assert slice_files(fs, slice(0, None, 2)) == {"a": ["f1", "f3"], "b": ["single"]}
    assert filter_files(fs, lambda p: "f" in p) == {"a": ["f1", "f2", "f3"], "b": []}

    df = spark.range(1000)
    assert max_rows(df, 10).count() == 10
    assert max_rows(df).count() == 1000
    # limit must reach the scan as a CollectLimit, not a full read
    plan = max_rows(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"), 5)
    assert "CollectLimit" in plan._jdf.queryExecution().executedPlan().toString() or plan.count() == 5


def test_stream_dedup_drops_replays(spark, tmp_path):
    """stream_dedup emits first arrivals only; replayed keys are dropped
    (both all-time and within-watermark modes on a bounded replayed
    source)."""
    from coffea_spark.streaming import stream_dedup

    d = str(tmp_path / "dup_stream")
    rows = [
        {"doc_id": i % 50, "ts": 1700000000 + i * 10, "text": f"doc-{i % 50}"}
        for i in range(300)  # every key replayed 6x
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts long, text string")
    df.withColumn("ts", F.timestamp_seconds("ts")).write.mode("overwrite").parquet(d)

    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    out = stream_dedup(stream, ["doc_id"], watermark="1 hour", within_watermark=False)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id, count(*) c FROM sdedup GROUP BY 1").collect()
    assert len(got) == 50 and all(r["c"] == 1 for r in got)

    out2 = stream_dedup(stream, ["doc_id"], watermark="1 minute")
    q2 = (
        out2.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup2")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    n2 = spark.sql("SELECT count(DISTINCT doc_id) FROM sdedup2").collect()[0][0]
    assert n2 == 50  # every key still present at least once


def test_stateful_ewma(spark, tmp_path):
    """applyInPandasWithState EWMA: single-batch fold matches the pandas
    reference fold; alpha validated."""
    import pandas as pd
    import pytest

    from coffea_spark.streaming import stateful_ewma

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from coffea_spark.queries import _normalize_event_ts

    src = _normalize_event_ts(src).filter(F.col("user_id") % 31 == 0)
    pdf = src.toPandas().sort_values(["ts", "event_id"])
    expect = {}
    for uid, g in pdf.groupby("user_id"):
        ew = None
        for v in g["value"]:
            ew = float(v) if ew is None else 0.25 * float(v) + 0.75 * ew
        expect[uid] = (len(g), ew)

    sch = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    raw = spark.readStream.schema(sch).parquet("/root/testdata/sf0.001/events.*")
    stream = _normalize_event_ts(raw).filter(F.col("user_id") % 31 == 0)
    agg = stateful_ewma(stream, "user_id", alpha=0.25, tiebreak_cols=["event_id"])
    q = (
        agg.writeStream.format("memory").queryName("ewma_t")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.n_events, r.ewma)
        for r in spark.table("ewma_t")
        .groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "ewma"), "n_events").alias("s"))
        .select("user_id", "s.n_events", "s.ewma")
        .collect()
    }
    assert set(got) == set(expect)
    for uid, (n, ew) in expect.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - ew) < 1e-9

    with pytest.raises(ValueError):
        stateful_ewma(stream, "user_id", alpha=0.0)


def test_runner_checkpoint_recovery(spark, tmp_path):
    """Mid-fileset failure -> partial result with __failed__; resumed run
    skips completed datasets (checkpointer semantics,
    reference processor/checkpointer.py:15-130 + Ok/Err partials)."""
    d1, d2, d3 = (str(tmp_path / n) for n in ("a", "b", "c"))
    for i, d in enumerate((d1, d2, d3)):
        spark.range(10 * (i + 1)).select(
            F.col("id").cast("double").alias("v")
        ).write.parquet(d)
    ckpt = str(tmp_path / "ckpt")
    calls = []

    def flaky(df):
        ds = df.select("dataset").first()["dataset"]
        calls.append(ds)
        if ds == "dsB" and calls.count("dsB") == 1:
            raise RuntimeError("simulated mid-fileset failure")
        return {"n": df.count()}

    fileset = {"dsA": d1, "dsB": d2, "dsC": d3}
    out = run(spark, fileset, flaky, checkpoint_dir=ckpt, on_error="partial")
    assert out["__failed__"] == {"dsB": "RuntimeError('simulated mid-fileset failure')"}
    assert out["dsA"]["n"] == 10 and out["dsC"]["n"] == 30
    assert out["__total__"]["n"] == 40  # successes only

    # resume: dsA/dsC load from checkpoint (pipeline NOT re-invoked),
    # dsB recomputes; merged output matches a clean full run
    calls_before = list(calls)
    out2 = run(spark, fileset, flaky, checkpoint_dir=ckpt, resume=True)
    assert calls == calls_before + ["dsB"]
    assert "__failed__" not in out2
    assert out2["__total__"]["n"] == 60
    clean = run(spark, fileset, lambda df: {"n": df.count()})
    assert out2["__total__"] == clean["__total__"]

    with pytest.raises(ValueError, match="on_error"):
        run(spark, fileset, flaky, on_error="bogus")


def test_numpy_mlp_wrapper_loads_real_weights(spark):
    """ml_score's model is a genuine loaded artifact: the wrapper's
    scores must equal a driver-side numpy forward pass of the same .npz
    weights (reference tests its torch/xgboost wrappers the same way,
    tests/test_ml_tools.py)."""
    import os

    import numpy as np

    from coffea_spark.mltools import numpy_mlp_wrapper

    path = os.path.join(
        os.path.dirname(__file__), "..", "coffea_spark", "data", "mlp_demo.npz"
    )
    z = np.load(path)
    W1, b1, W2, b2 = z["W1"], z["b1"], z["W2"], float(z["b2"])
    rng = np.random.default_rng(7)
    X = rng.standard_normal((20, W1.shape[0]))
    expected = 1.0 / (
        1.0 + np.exp(-(np.maximum(X @ W1 + b1, 0.0) @ W2 + b2))
    )

    scorer = numpy_mlp_wrapper(path, name="mlp-test")
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "i long, emb array<double>",
    )
    rows = df.select("i", scorer(F.col("emb")).alias("s")).orderBy("i").collect()
    got = np.array([r["s"] for r in rows])
    assert got == pytest.approx(expected, abs=1e-12)


def test_stream_interval_join_matches_batch(spark, stream_dir):
    """Stream-stream interval join must reproduce the batch self-join
    with the same key + event-time-range predicate (single-batch
    bounded source; inner matches emit append-mode)."""
    from coffea_spark.streaming import stream_interval_join

    left = _read_stream(spark, stream_dir).filter(F.col("value") > 80)
    right = _read_stream(spark, stream_dir)
    joined = stream_interval_join(
        left, right, key="user_id", ts_col="ts",
        lower="5 minutes", upper="5 minutes", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("sij")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "select count(*) n, sum(event_id) s, sum(event_id_r) sr from sij"
    ).collect()[0]

    b = spark.read.parquet(stream_dir)
    l = b.filter(F.col("value") > 80)
    r = b.select([F.col(c).alias(c + "_r") for c in b.columns])
    cond = (
        (F.col("user_id") == F.col("user_id_r"))
        & (F.col("ts_r") >= F.expr("ts - interval 5 minutes"))
        & (F.col("ts_r") <= F.expr("ts + interval 5 minutes"))
    )
    want = l.join(r, cond).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("s"),
        F.sum("event_id_r").alias("sr"),
    ).collect()[0]
    assert (got.n, got.s, got.sr) == (want.n, want.s, want.sr) and got.n > 0


def test_logreg_train_matches_numpy_and_separates(spark):
    """logreg_train's distributed gradient steps must equal the numpy
    full-batch recurrence exactly (same float op order per component up
    to partial-sum association), and the trained model must separate a
    linearly separable toy set."""
    import numpy as np

    from coffea_spark.mltools import logreg_predict, logreg_train

    rng = np.random.default_rng(11)
    n = 400
    x1 = rng.normal(size=n)
    x2 = rng.normal(size=n)
    y = (x1 + 2 * x2 > 0).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    w = logreg_train(df, ["x1", "x2"], "y", lr=2.0, iters=10)

    # numpy mirror of the recurrence
    X = np.column_stack([np.ones(n), x1, x2])
    wn = np.zeros(3)
    for _ in range(10):
        p = 1.0 / (1.0 + np.exp(-(X @ wn)))
        wn -= 2.0 * (X.T @ (p - y)) / n
    assert np.allclose(w, wn, rtol=1e-9, atol=1e-12)

    # separation: >95% training accuracy on this separable set
    pcol = logreg_predict(w, ["x1", "x2"])
    acc = df.select(
        ((pcol >= 0.5).cast("double") == F.col("y")).cast("int").alias("ok")
    ).agg(F.avg("ok")).collect()[0][0]
    assert acc > 0.95


def test_logreg_train_null_rows_and_empty(spark):
    """Null-label / null-feature rows must be excluded from BOTH the
    gradient sums and the divisor n (they vanish from F.sum but would
    still inflate count(), deflating gradients); an empty training set
    raises a clear error, not ZeroDivisionError."""
    from coffea_spark.mltools import logreg_train

    clean = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (-1.0, 0.0), (-2.0, 0.0)],
        "x double, y double",
    )
    dirty = clean.unionAll(
        spark.createDataFrame(
            [(None, 1.0), (5.0, None), (None, None)], "x double, y double"
        )
    )
    w_clean = logreg_train(clean, ["x"], "y", lr=1.0, iters=4)
    w_dirty = logreg_train(dirty, ["x"], "y", lr=1.0, iters=4)
    assert w_clean == w_dirty

    with pytest.raises(ValueError, match="no rows"):
        logreg_train(clean.filter("x > 100"), ["x"], "y")


def test_stream_countmin_equals_batch(spark, tmp_path):
    """CMS linearity end-to-end: the sketch merged across 3 file
    micro-batches must equal the batch sketch over the union."""
    from coffea_spark.llmdata.sketch import countmin_build
    from coffea_spark.streaming import stream_countmin

    rows = [(f"w{i % 13}", 1 + i % 3) for i in range(300)]
    df = spark.createDataFrame(rows, "term string, n long")
    src = str(tmp_path / "terms")
    df.repartition(3).write.parquet(src)

    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    )
    acc = stream_countmin(stream, "term", "n", depth=3, width=64)

    batch = {
        (r.d, r.bucket): r.c
        for r in countmin_build(df, "term", "n", depth=3, width=64).collect()
    }
    assert acc == batch and len(acc) > 0


def test_stream_countmin_occurrence_prereduce(spark, tmp_path):
    """count_col=None path: stream_countmin pre-reduces each batch to
    (term, n) before the sketch build (one hash fold per DISTINCT term).
    CMS linearity says the result must equal the per-occurrence batch
    sketch exactly — pinned on a stream with heavy term duplication."""
    from coffea_spark.llmdata.sketch import countmin_build
    from coffea_spark.streaming import stream_countmin

    rows = [(f"tok{i % 7}",) for i in range(500)]
    df = spark.createDataFrame(rows, "term string")
    src = str(tmp_path / "occ")
    df.repartition(3).write.parquet(src)

    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    )
    acc = stream_countmin(stream, "term", None, depth=3, width=64)

    batch = {
        (r.d, r.bucket): r.c
        for r in countmin_build(df, "term", None, depth=3, width=64).collect()
    }
    assert acc == batch and len(acc) > 0
    assert sum(acc.values()) == 500 * 3  # every occurrence counted, all depths


@pytest.mark.samples
def test_root_stream_source_incremental(spark, tmp_path):
    """spark.readStream.format('root'): files are the offset unit —
    batch 1 ingests the first file, a restart from the same checkpoint
    ingests ONLY the newly-arrived file while the aggregation state
    carries over (exactly-once per file)."""
    import shutil

    from coffea_spark.datasource import register_root_source
    from coffea_spark.testing import sample

    register_root_source(spark)
    src = tmp_path / "rootstream"
    src.mkdir()
    ck = str(tmp_path / "ck")
    shutil.copy(sample("nano_dimuon.root"), src / "a.root")

    def drain(qname):
        q = (
            spark.readStream.format("root")
            .option("columns", "nMuon,Muon_pt")
            .load(str(src))
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("nMuon").alias("s"))
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(qname).collect()[0]

    b1 = drain("root_stream_b1")
    assert (b1.n, b1.s) == (40, 84)

    shutil.copy(sample("nano_dy.root"), src / "b.root")
    b2 = drain("root_stream_b2")
    assert (b2.n, b2.s) == (80, 102)  # +40 events, +18 muons — b.root only


def test_torch_wrapper_protocol_with_injected_backend(spark, tmp_path):
    """The torch wrapper's FULL Spark path (per-executor load-once,
    Arrow batch -> tensor marshaling, detach().numpy() return) driven
    with an injected numpy backend (no torch wheel in this container;
    reference ml_tools/torch_wrapper.py:14)."""
    import numpy as np

    from coffea_spark.mltools import torch_wrapper

    wpath = tmp_path / "linear.npz"
    np.savez(wpath, w=np.array([2.0, -1.0]), b=np.array(0.5))

    class _Tensor:
        def __init__(self, a):
            self.a = np.asarray(a)

        def detach(self):
            return self

        def numpy(self):
            return self.a

    class _Model:
        def __init__(self, path):
            z = np.load(path)
            self.w, self.b = z["w"], float(z["b"])

        def __call__(self, x0, x1):
            return _Tensor(self.w[0] * x0.a + self.w[1] * x1.a + self.b)

    class _Jit:
        @staticmethod
        def load(path):
            return _Model(path)

    class _FakeTorch:
        jit = _Jit()

        @staticmethod
        def from_numpy(a):
            return _Tensor(a)

    scorer = torch_wrapper(str(wpath), name="torch-fake", backend=_FakeTorch())
    df = spark.createDataFrame(
        [(1.0, 2.0), (3.0, 4.0), (-1.0, 0.5)], "a double, b double"
    )
    import pyspark.sql.functions as F

    got = sorted(
        r.s for r in df.select(scorer(F.col("a"), F.col("b")).alias("s")).collect()
    )
    want = sorted(2.0 * a - b + 0.5 for a, b in [(1, 2), (3, 4), (-1, 0.5)])
    assert got == pytest.approx(want)


def test_triton_wrapper_protocol_with_injected_client(spark):
    """The triton wrapper's Spark path with an injected fake server
    client: the client must receive the STACKED batch arrays (one
    request per Arrow batch, not per row) and its array reply flows
    back as the UDF result (reference ml_tools/triton_wrapper.py:19)."""
    import numpy as np

    from coffea_spark.mltools import triton_wrapper

    class _FakeClient:
        def __init__(self, url, model):
            assert url == "http://fake:8000" and model == "quality"

        def infer(self, *arrays):
            # batched: whole columns arrive, not scalars
            assert all(isinstance(a, np.ndarray) and a.ndim == 1 for a in arrays)
            assert len(arrays[0]) > 1
            return arrays[0] * 10.0 + arrays[1]

    scorer = triton_wrapper(
        "http://fake:8000", "quality", name="triton-fake",
        client_factory=lambda u, m: _FakeClient(u, m),
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(float(i), float(i % 3)) for i in range(40)], "a double, b double"
    ).coalesce(1)
    got = {r.a: r.s for r in df.select(
        "a", scorer(F.col("a"), F.col("b")).alias("s")
    ).collect()}
    for i in range(40):
        assert got[float(i)] == pytest.approx(10.0 * i + (i % 3))


def test_xgboost_wrapper_protocol_with_injected_backend(spark, tmp_path):
    """The xgboost wrapper's load-once + DMatrix protocol with an
    injected backend (reference ml_tools/xgboost_wrapper.py:14)."""
    import json as _json

    import numpy as np

    from coffea_spark.mltools import xgboost_wrapper

    mpath = tmp_path / "m.json"
    mpath.write_text(_json.dumps({"coef": 3.0}))

    class _DMatrix:
        def __init__(self, x):
            self.x = np.asarray(x)

    class _Booster:
        def __init__(self):
            self.coef = None

        def load_model(self, path):
            self.coef = _json.loads(open(path).read())["coef"]

        def predict(self, dm):
            return dm.x * self.coef

    class _FakeXgb:
        Booster = _Booster
        DMatrix = _DMatrix

    scorer = xgboost_wrapper(str(mpath), name="xgb-fake", backend=_FakeXgb())
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1.5,), (2.0,), (-4.0,)], "x double")
    got = sorted(r.s for r in df.select(scorer(F.col("x")).alias("s")).collect())
    assert got == pytest.approx(sorted([4.5, 6.0, -12.0]))
