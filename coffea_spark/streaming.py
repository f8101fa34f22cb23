"""Structured Streaming forms of the engine's aggregations.

The reference is batch-only (SURVEY.md §2.10): its "streaming" is
incremental chunk accumulation with monoid merges
(processor/executor.py:339-519). Spark gives the real thing: the same
histogram / cutflow / weight aggregations run over micro-batches with
watermarked event-time windows, or accumulate via foreachBatch with the
same driver-side monoid — so one pipeline definition serves batch and
streaming.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from coffea_spark.hist import bucket
from coffea_spark.selection import PackedSelection


def windowed_hist(
    stream: DataFrame,
    value: Column | str,
    nbins: int,
    lo: float,
    hi: float,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    weight: Column | None = None,
) -> DataFrame:
    """Per event-time window histogram: watermark bounds state, late rows
    beyond it are dropped (exactly-once per window once the watermark
    passes). Output: (window, bin, sumw, n) in append mode."""
    value = F.col(value) if isinstance(value, str) else value
    w = F.lit(1.0) if weight is None else weight
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), bucket(value, lo, hi, nbins).alias("bin"))
        .agg(F.sum(w).alias("sumw"), F.count(F.lit(1)).alias("n"))
    )


def windowed_cutflow(
    stream: DataFrame,
    cuts: dict[str, Column],
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Cutflow counts per event-time window: PackedSelection.cutflow_aggs
    (``initial, onecut_<cut>, cutflow_<cut>, ...``) grouped by window."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(*PackedSelection().add_multiple(cuts).cutflow_aggs())
    )


def sessionized(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows (inactivity gap) — the streaming equivalent of the
    batch lag-based sessionization in queries.q_sessionize."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def start_sessionized(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    output: str = "append",
    query_name: str = "sessions",
    sink_format: str = "memory",
    trigger_available_now: bool = False,
    checkpoint: str | None = None,
):
    """Start the session aggregation with an explicit output mode.

    ``output="append"`` is the PRODUCTION shape: a session row is emitted
    exactly once, when the watermark passes its end (no event can extend
    it anymore), and its state is evicted — per-trigger output is
    O(sessions closed this trigger) and state is O(open sessions), both
    independent of stream history. ``output="complete"`` re-emits the
    ENTIRE result table every trigger and (with a memory sink) collects
    it on the driver — at 100x scale that is a per-trigger full-result
    broadcast, so it is reserved for bounded gate runs where the final
    table must include sessions the watermark never closed.

    Returns the started StreamingQuery.
    """
    agg = sessionized(stream, key=key, ts_col=ts_col, gap=gap, watermark=watermark)
    writer = (
        agg.writeStream.format(sink_format)
        .queryName(query_name)
        .outputMode(output)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    lower: str = "10 minutes",
    upper: str = "10 minutes",
    watermark: str = "30 minutes",
    right_suffix: str = "_r",
) -> DataFrame:
    """Stream-stream INNER join on ``key`` within an event-time interval
    (right.ts in [left.ts - lower, left.ts + upper]) — the streaming
    form of the batch as-of/interval join family. Both sides carry the
    watermark plus the time-range condition, which is what lets Spark
    bound the join STATE on each side (a side's row is dropped once the
    other side's watermark passes its interval); without the range
    condition state grows without bound. Inner matches emit as they
    arrive (append mode), so output latency is not gated on the
    watermark — only state eviction is. Right-side columns are suffixed
    with ``right_suffix``."""
    l = left.withWatermark(ts_col, watermark)
    r = right.withWatermark(ts_col, watermark)
    for c in r.columns:
        r = r.withColumnRenamed(c, c + right_suffix)
    rts = ts_col + right_suffix
    cond = (
        (F.col(key) == F.col(key + right_suffix))
        & (F.col(rts) >= F.expr(f"{ts_col} - interval {lower}"))
        & (F.col(rts) <= F.expr(f"{ts_col} + interval {upper}"))
    )
    return l.join(r, cond, "inner")


def run_foreach_batch(
    stream: DataFrame,
    pipeline: Callable[[DataFrame], dict],
    merge: Callable[[dict, dict], dict],
    trigger: str | None = None,
) -> tuple:
    """Accumulate arbitrary batch-pipeline outputs over micro-batches with
    a user monoid — the reference's executor accumulation pattern
    (processor/accumulator.py) on Spark's exactly-once batches.

    Returns (query, results_holder); ``results_holder["value"]`` carries
    the running merge. Call ``query.processAllAvailable()`` for a bounded
    source, then ``query.stop()``."""
    holder: dict = {"value": None}

    def on_batch(bdf: DataFrame, epoch_id: int) -> None:
        out = pipeline(bdf)
        holder["value"] = out if holder["value"] is None else merge(holder["value"], out)

    writer = stream.writeStream.foreachBatch(on_batch).outputMode("update")
    if trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start(), holder


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming deduplication: emit the FIRST arrival per ``keys``,
    drop replays — the streaming form of the exact-dedup operator
    (llmdata/dedup.drop_exact_duplicates) for ingest pipelines where the
    corpus arrives continuously.

    State is the seen-key set; the watermark bounds it:
    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark`` —
    duplicates arriving within the watermark delay of each other are
    dropped and a key's state is evicted once the watermark passes it,
    so state is O(keys per watermark window), the only shape that
    survives an unbounded stream. ``False`` keeps exact all-time dedup
    (state grows with distinct keys — bounded corpora only).
    """
    wm = stream.withWatermark(ts_col, watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def stateful_ewma(
    stream: DataFrame,
    key: str,
    value_col: str = "value",
    ts_col: str = "ts",
    alpha: float = 0.3,
    watermark: str = "1 hour",
    state_ttl: str = "2 hours",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-key
    exponentially-weighted moving average maintained across micro-batches
    — the kind of sequential-fold statistic no built-in windowed
    aggregation expresses (each update depends on the previous state).

    Event-time correctness across micro-batches: rows are NOT folded in
    arrival order. The state keeps (a) the COMMITTED fold — only rows
    whose event time the watermark has passed, which Spark guarantees no
    future arrival can precede — and (b) a BUFFER of not-yet-expired
    (ts, tiebreak, value) triples. Each batch merges its rows into the
    buffer, commits the newly watermark-expired prefix in event-time
    order, and EMITS the provisional fold of committed-state + remaining
    buffer (again event-time-ordered). A row arriving in a later
    micro-batch but with an earlier event time (within the watermark)
    therefore slots into its correct position before anything after it
    is committed — the emitted value always equals the closed-form
    event-time-ordered EWMA over all rows seen, matching an ORDER BY
    event-time oracle regardless of how the source splits batches.

    State per key is three scalars + the watermark-bounded buffer
    (O(events per watermark window), never O(events)); an event-time
    timeout folds any remainder, emits the final row, and evicts keys
    idle past ``state_ttl``.

    ``tiebreak_cols``: optional single integer-typed column that breaks
    equal-timestamp ordering deterministically (stored in state as
    int64).

    Emits one row per key per micro-batch (update semantics):
    (key, n_events, ewma, last_ts).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if tiebreak_cols is not None and len(tiebreak_cols) > 1:
        raise ValueError("at most one tiebreak column is supported")
    tb_col = tiebreak_cols[0] if tiebreak_cols else None
    ttl_ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)
    key_type = {f.name: f.dataType.simpleString() for f in stream.schema.fields}[key]
    out_schema = f"{key} {key_type}, n_events long, ewma double, last_ts timestamp"
    state_schema = (
        "n long, ewma double, last_us long,"
        " buf_ts array<long>, buf_tb array<long>, buf_v array<double>"
    )

    def _fold(n, ew, triples):
        for _ts, _tb, v in triples:
            ew = float(v) if ew is None else alpha * float(v) + (1.0 - alpha) * ew
            n += 1
        return n, ew

    def _emit(key_tuple, n, ew, last_us):
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_events": [n],
                "ewma": [ew],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    def fn(key_tuple, pdfs, state):
        if state.hasTimedOut:
            n, ew, last_us, bts, btb, bv = state.get
            n, ew = _fold(n, ew, sorted(zip(bts or [], btb or [], bv or [])))
            state.remove()
            yield from _emit(key_tuple, n, ew, last_us)
            return
        if state.exists:
            n, ew, last_us, bts, btb, bv = state.get
            buf = list(zip(bts or [], btb or [], bv or []))
        else:
            n, ew, last_us, buf = 0, None, 0, []
        rows = pd.concat(list(pdfs))
        buf.extend(
            zip(
                (t.value // 1000 for t in rows[ts_col]),
                (int(x) for x in rows[tb_col]) if tb_col else (0,) * len(rows),
                (float(v) for v in rows[value_col]),
            )
        )
        buf.sort()
        last_us = max(last_us, buf[-1][0]) if buf else last_us
        # commit the prefix the watermark has sealed: Spark drops any
        # future row with ts < watermark, so no arrival can ever precede
        # these — their fold is final
        wm_us = state.getCurrentWatermarkMs() * 1000
        cut = 0
        while cut < len(buf) and buf[cut][0] < wm_us:
            cut += 1
        n, ew = _fold(n, ew, buf[:cut])
        buf = buf[cut:]
        state.update((n, ew, last_us,
                      [b[0] for b in buf], [b[1] for b in buf], [b[2] for b in buf]))
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(wm_ms + ttl_ms, last_us // 1000 + ttl_ms))
        # provisional fold over the still-buffered suffix — reflects ALL
        # rows seen, in event-time order, without committing them
        pn, pew = _fold(n, ew, buf)
        yield from _emit(key_tuple, pn, pew, last_us)

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_countmin(
    stream_df: DataFrame,
    term_col: str = "term",
    count_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
):
    """Incremental count-min sketch over a stream (foreachBatch): every
    micro-batch builds its own DISTRIBUTED sketch (llmdata.sketch.
    countmin_build — one bounded-key shuffle per batch), and the
    <= depth*width resulting rows merge by addition into a driver-side
    accumulator. The sketch is LINEAR, so the merged result is exactly
    the batch sketch over the full input — unboundedly long streams
    carry bounded state (d*w counters) with no watermark needed, the
    property windowed aggregation cannot give for an all-time frequency
    query. Returns the merged {(d, bucket): count} dict after the
    stream drains (availableNow trigger).

    ``foreachBatch`` has AT-LEAST-ONCE semantics: a failed/retried
    micro-batch is redelivered with the SAME ``epoch_id``, so the merge
    tracks processed epochs and skips re-deliveries (the standard
    foreachBatch idempotency pattern) — otherwise a retried batch would
    be added twice and estimates could exceed the CMS upper bound the
    linearity contract promises.
    """
    from coffea_spark.llmdata.sketch import countmin_build

    acc: dict[tuple[int, int], int] = {}
    seen_epochs: set[int] = set()

    def on_batch(bdf: DataFrame, epoch_id: int) -> None:
        if epoch_id in seen_epochs:
            return
        if count_col is None:
            # Occurrence stream: reduce the batch to (term, n) before the
            # sketch build so the depth rolling-hash folds run once per
            # DISTINCT term, not once per occurrence. CMS is linear, so
            # the weighted sketch equals the per-occurrence one exactly;
            # the added term-keyed shuffle is map-side combined.
            src = bdf.groupBy(term_col).agg(F.count(F.lit(1)).alias("_cms_n"))
            rows = countmin_build(
                src, term_col, "_cms_n", depth=depth, width=width
            ).collect()
        else:
            rows = countmin_build(
                bdf, term_col, count_col, depth=depth, width=width
            ).collect()
        seen_epochs.add(epoch_id)  # only after the batch fully collected
        for r in rows:
            key = (r.d, r.bucket)
            acc[key] = acc.get(key, 0) + r.c

    q = (
        stream_df.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return acc
