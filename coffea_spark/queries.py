"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 through the
driver's correctness gate (sf0.01, order-insensitive value-hash compare).
Canonicalization rules used on BOTH sides so hashes can match:

- prefer integer outputs (counts, bucket ids, epoch seconds)
- round floating aggregates: big sums -> 2 decimals, unit-scale values
  (avgs, ratios, cosines) -> 6 decimals
- any top-k is ordered by (rounded value, unique key) so ties are
  deterministic
- within-event pair metrics are symmetric (|a-b|), so collect_list
  order cannot change results

Scale notes are attached per query: the jagged queries build per-order
arrays with ONE groupBy shuffle and then stay in per-row HOFs; the joins
broadcast the dimension side; histograms/cutflows shuffle only bucket
ids / single rows.
"""

from __future__ import annotations

import os
from contextlib import contextmanager as _contextmanager
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from coffea_spark.hist import bucket, hist1d, hist1d_edges, hist2d
from coffea_spark.joins import combinations
from coffea_spark.schema import pad_none
from coffea_spark.selection import PackedSelection
from coffea_spark.testing import sample
from coffea_spark.weights import Weights


# Fact tables whose per-row work dominates queries; dimensions stay
# un-repartitioned (they broadcast).
_FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}

#: natural (unique or near-unique) key per fact table: the parallelism
#: floor hash-repartitions on it instead of round-robin, because a
#: keyless repartition(n) first SORTS each input partition
#: (spark.sql.execution.sortBeforeRepartition, required for retry
#: determinism) — on a one-row-group local file that is a full
#: single-task sort of the table before any spreading happens. Hash
#: partitioning is deterministic under retries by construction (no
#: sort), and a downstream groupBy/join on the same key reuses the
#: exchange outright (measured: the _order_items gates drop one
#: Exchange). Keys are unique per row, so the hash spreads evenly.
_FACT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


#: path -> estimated scan split count; file sizes are immutable for a
#: given testdata generation, so one os.stat per (path, process) suffices
_SPLIT_EST_CACHE: dict[str, int] = {}


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    digits = "".join(ch for ch in raw if ch.isdigit())
    mult = 1
    low = raw.lower()
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if suffix in low.replace("b", ""):
            mult = m
    return (int(digits) if digits else 134217728) * mult


def _estimated_splits(spark: SparkSession, path: str) -> int:
    """Scan-partition count Spark will produce for ``path``, from file
    footprint alone: FileSourceScan splits files into byte ranges of
    ``spark.sql.files.maxPartitionBytes``, so ceil(size/mpb) per file.
    Computed from os.stat and cached per path — replaces the old
    ``df.rdd.getNumPartitions()`` probe, which forced a full
    DataFrame->RDD conversion (fresh plan + Python serializer setup)
    on EVERY query and cost ~0.3-0.7 s of driver time each."""
    est = _SPLIT_EST_CACHE.get(path)
    if est is None:
        mpb = _max_partition_bytes(spark)
        if os.path.isfile(path):
            files = [path]
        else:
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        est = sum(max(1, -(-os.path.getsize(f) // mpb)) for f in files) or 1
        _SPLIT_EST_CACHE[path] = est
    return est


def _parallelism_floor(
    spark: SparkSession, df: DataFrame, path: str, key: str | None = None
) -> DataFrame:
    """Guard against unsplittable inputs: the test parquet is written as
    ONE row group per small file, so a scan is a single task no matter
    how many cores the session has — every downstream narrow op (shingle
    extraction, collect_list partial agg, HOF math) runs on one core.
    A one-time repartition (a few MB of shuffle here) buys full-width
    execution. At production scale inputs carry thousands of row
    groups, the split estimate exceeds the floor, and this is a no-op —
    the guard exists precisely because local one-row-group files are
    the degenerate case.

    When ``key`` is given (every _FACT_TABLES read), the spread is a
    HASH repartition on that unique-ish key rather than round-robin:
    round-robin pays spark.sql.execution.sortBeforeRepartition — a full
    sort of each input partition, i.e. a single-task sort of the whole
    table in exactly the one-split case this guard exists for — while
    hash partitioning is retry-deterministic with no sort, and a
    downstream groupBy/join on the same key reuses the exchange. A/B:
    OPTIMIZATION_r13.md §3."""
    cores = spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, path) < max(2, cores // 4):
        if key is not None:
            return df.repartition(cores, F.col(key))
        return df.repartition(cores)
    return df


def _prepare(spark: SparkSession) -> None:
    """The driver runs the gates in ITS session: pin the confs results
    depend on (all runtime-settable) and ship the package to Python
    workers. Idempotent."""
    from coffea_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(
    spark: SparkSession, sf_dir: str, name: str, floor: bool = True
) -> DataFrame:
    # ``floor=False`` is the per-query opt-out from the parallelism
    # floor: a query whose FIRST operation over the fact table is itself
    # an exchange (groupBy/join/window) with only cheap scalar column
    # math on the map side gains nothing from pre-spreading the scan —
    # its own shuffle provides the width for everything downstream, and
    # the floor's repartition is exactly the "repartition(n) someone
    # added for parallelism" accidental Exchange of guide §2.4. This is
    # scale-independent: the floor only ever fires in the few-splits
    # regime, and in that regime a map side this cheap never needs
    # width first. Heavy-map gates (shingle extraction, HOF physics
    # math, Arrow matmuls) keep the floor. A/B: OPTIMIZATION_r13.md §4.
    _prepare(spark)
    if name == "events":
        return _read_events(spark, sf_dir, floor=floor)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if floor and name in _FACT_TABLES:
        df = _parallelism_floor(spark, df, path, key=_FACT_KEYS.get(name))
    return df


@_contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Cap shuffle partitions around a stateful streaming gate: each
    micro-batch pays per-partition state-store create/commit/snapshot
    overhead (stores == shuffle partitions, fixed at query start), and
    the gates' keyspaces (150 users / a few dozen windows) nowhere near
    justify 32 stores — the session-window gate spent most of its wall
    in store churn, not work. Production sizing guidance lives in
    SCALE.md: stores should track key cardinality x executor count, not
    default to the batch shuffle width. Restores the session value so
    batch queries keep their width."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-zoned TIMESTAMP regardless of how the
    generator wrote it. Seen on-disk forms: TIMESTAMP(NANOS) (read as long
    via the legacy conf, truncated to micros with integral ``div`` —
    bit-identical to DuckDB's ns->us conversion; dividing through double
    would lose precision at 1.7e18 ns), TIMESTAMP_NTZ (micros, cast is a
    no-op under the pinned UTC session zone), or plain TIMESTAMP."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of events.parquet as stored. ``ts`` may be
    TIMESTAMP(NANOS), which Spark reads only as long (nanosAsLong, a
    no-op for other files); ``_normalize_event_ts`` converts it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _read_events(
    spark: SparkSession, sf_dir: str, floor: bool = True
) -> DataFrame:
    df = _normalize_event_ts(_raw_events(spark, sf_dir))
    if not floor:
        return df
    path = os.path.join(sf_dir, "events.parquet")
    return _parallelism_floor(spark, df, path, key=_FACT_KEYS["events"])


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file stream with normalized ``ts``. readStream needs
    its schema up front (the batch read's), and FileStreamSource wants
    a glob, not a bare file path."""
    _prepare(spark)
    sch = _raw_events(spark, sf_dir).schema
    raw = spark.readStream.schema(sch).parquet(os.path.join(sf_dir, "events.*"))
    return _normalize_event_ts(raw)


def _drain(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run streaming ``df`` over every file present at start
    (availableNow) into the memory sink ``name``, under the
    state-partition cap, and return the sink's table."""
    spark = df.sparkSession
    with _stream_state_partitions(spark):
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode(mode).trigger(availableNow=True).start()
        )
        q.awaitTermination()
    return spark.table(name)


def _order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem reshaped to the engine's jagged data model: one row per
    order, items = array<struct> sorted by linenumber (deterministic
    array order). One shuffle; everything downstream is per-row HOFs."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_suppkey"
                )
            )
        ).alias("items")
    )


# ---------------------------------------------------------------------------
# relational core
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-side filter + 2-key hash agg (partial+final)."""
    li = _t(spark, sf_dir, "lineitem", floor=False).filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_blamed_suppliers(spark, sf_dir):
    """TPC-H Q21 shape — the relational semi + anti self-join combo:
    suppliers with a LATE line item (shipped in the last TPC-H year;
    the synthetic tables carry no receipt/commit dates) on a
    multi-supplier order where NO other supplier was late. Spark:
    left_semi (another supplier exists on the order) then left_anti
    (no OTHER late supplier) against the same fact table — both
    hash-joins keyed on l_orderkey; at scale they sort-merge co-
    partitioned on the same key so the two passes reuse one exchange.
    Top-10 by (count desc, suppkey) keeps the output deterministic."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    is_late = F.col("l_shipdate") >= F.lit("1997-06-01")
    late = li.filter(is_late).select("l_orderkey", "l_suppkey", "l_linenumber")
    others = li.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    has_other = late.join(
        others,
        (F.col("l_orderkey") == F.col("o_ok"))
        & (F.col("l_suppkey") != F.col("o_sk")),
        "left_semi",
    )
    other_late = li.filter(is_late).select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    blamed = has_other.join(
        other_late,
        (F.col("l_orderkey") == F.col("o_ok"))
        & (F.col("l_suppkey") != F.col("o_sk")),
        "left_anti",
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "l_suppkey")
        .limit(10)
    )


SQL_BLAMED_SUPPLIERS = """
SELECT l_suppkey, count(*) AS numwait
FROM lineitem l1
WHERE l1.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00')
GROUP BY l_suppkey
ORDER BY numwait DESC, l_suppkey
LIMIT 10
"""


def q_top_revenue_orders(spark, sf_dir):
    """Join + agg + deterministic top-10 (ties broken by key)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderkey", "o_orderpriority", "revenue")
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


SQL_TOP_REVENUE = """
SELECT o_orderkey, o_orderpriority, revenue
FROM (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_orderkey
) r JOIN orders ON l_orderkey = o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join — every dimension side broadcast, fact
    table streams; one final 1-key agg."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    orders = _t(spark, sf_dir, "orders", floor=False)
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_REGION_REVENUE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def q_topk_per_group(spark, sf_dir):
    """Window ranking: top-3 line items by price per returnflag."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("l_returnflag", "rank", "l_orderkey", "l_linenumber",
                F.round("l_extendedprice", 2).alias("price"))
    )


SQL_TOPK_PER_GROUP = """
SELECT l_returnflag, rank, l_orderkey, l_linenumber, price
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         round(l_extendedprice, 2) AS price,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# engine operator families: weights / histograms / selections
# ---------------------------------------------------------------------------

def q_weight_stats(spark, sf_dir):
    """Weights.statistics pattern (analysis_tools.py:138-193): one agg
    pass computing sumw/sumw2/min/max/n per group."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    w = 1 + F.col("l_discount")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(w), 4).alias("sumw"),
        F.round(F.sum(w * w), 4).alias("sumw2"),
        F.round(F.min(w), 6).alias("minw"),
        F.round(F.max(w), 6).alias("maxw"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_WEIGHT_STATS = """
SELECT l_returnflag,
       round(sum(1 + l_discount), 4) AS sumw,
       round(sum((1 + l_discount) * (1 + l_discount)), 4) AS sumw2,
       round(min(1 + l_discount), 6) AS minw,
       round(max(1 + l_discount), 6) AS maxw,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_hist_price(spark, sf_dir):
    """1-D histogram operator: 40 uniform bins over [0, 80000), integer
    counts (+ under/overflow bins)."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    return hist1d(li, "l_extendedprice", 40, 0.0, 80000.0).select("bin", "n")


SQL_HIST_PRICE = """
SELECT CASE WHEN l_extendedprice < 0 THEN -1
            WHEN l_extendedprice >= 80000 THEN 40
            ELSE CAST(floor((l_extendedprice - 0.0) / 2000.0) AS BIGINT) END AS bin,
       count(*) AS n
FROM lineitem GROUP BY 1
"""


def q_hist2d_qty_disc(spark, sf_dir):
    """2-D histogram: quantity x discount (scaled to integer-width bins
    so bucket edges are exact in binary)."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    return hist2d(
        li, F.col("l_quantity"), F.col("l_discount") * 100, 10, 0.0, 50.0, 11, 0.0, 11.0
    ).select("xbin", "ybin", "n")


SQL_HIST2D = """
SELECT CASE WHEN l_quantity < 0 THEN -1
            WHEN l_quantity >= 50 THEN 10
            ELSE CAST(floor((l_quantity - 0.0) / 5.0) AS BIGINT) END AS xbin,
       CASE WHEN l_discount * 100 < 0 THEN -1
            WHEN l_discount * 100 >= 11 THEN 11
            ELSE CAST(floor((l_discount * 100 - 0.0) / 1.0) AS BIGINT) END AS ybin,
       count(*) AS n
FROM lineitem GROUP BY 1, 2
"""


def _lineitem_selection(li) -> PackedSelection:
    sel = PackedSelection()
    sel.add("big_qty", F.col("l_quantity") > 25)
    sel.add("low_disc", F.col("l_discount") < 0.05)
    sel.add("returned", F.col("l_returnflag") == "N")
    return sel


def q_cutflow(spark, sf_dir):
    """PackedSelection.cutflow as a single conditional-aggregation pass
    (reference analysis_tools.py:2483-2608): one row out."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    sel = _lineitem_selection(li)
    return li.agg(*sel.cutflow_aggs())


SQL_CUTFLOW = """
SELECT count(*) AS initial,
       CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS onecut_big_qty,
       CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS cutflow_big_qty,
       CAST(sum(CASE WHEN l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS onecut_low_disc,
       CAST(sum(CASE WHEN l_quantity > 25 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS cutflow_low_disc,
       CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS onecut_returned,
       CAST(sum(CASE WHEN l_quantity > 25 AND l_discount < 0.05 AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cutflow_returned
FROM lineitem
"""


def q_nminusone(spark, sf_dir):
    """N-1 counts, one pass (reference analysis_tools.py:2386-2481)."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    sel = _lineitem_selection(li)
    c1, c2, c3 = (F.col("l_quantity") > 25), (F.col("l_discount") < 0.05), (F.col("l_returnflag") == "N")
    return li.agg(
        F.count(F.lit(1)).alias("initial"),
        F.sum(F.when(c2 & c3, 1).otherwise(0)).alias("nminusone_big_qty"),
        F.sum(F.when(c1 & c3, 1).otherwise(0)).alias("nminusone_low_disc"),
        F.sum(F.when(c1 & c2, 1).otherwise(0)).alias("nminusone_returned"),
        F.sum(F.when(sel.all(), 1).otherwise(0)).alias("all_cuts"),
    )


SQL_NMINUSONE = """
SELECT count(*) AS initial,
       CAST(sum(CASE WHEN l_discount < 0.05 AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nminusone_big_qty,
       CAST(sum(CASE WHEN l_quantity > 25 AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nminusone_low_disc,
       CAST(sum(CASE WHEN l_quantity > 25 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS nminusone_returned,
       CAST(sum(CASE WHEN l_quantity > 25 AND l_discount < 0.05 AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS all_cuts
FROM lineitem
"""


def q_hist_varwidth(spark, sf_dir):
    """Variable-width-bin histogram (reference hist.axis.Variable;
    SURVEY.md §2.5): weighted fill over explicit price edges — the
    log-ish binning every falling spectrum uses. Same one-small-shuffle
    plan as the uniform gate; the bucket id is a codegen'd literal-array
    scan, no UDF. sumw is a sum of integer-valued quantities, exact in
    double, so round(2) is order-insensitive."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    edges = [0.0, 1000.0, 5000.0, 20000.0, 50000.0, 100000.0]
    return hist1d_edges(li, "l_extendedprice", edges, weight="l_quantity").select(
        "bin", F.round("sumw", 2).alias("sumw"), "n"
    )


SQL_HIST_VARWIDTH = """
SELECT bin, round(sum(l_quantity), 2) AS sumw, count(*) AS n
FROM (
  SELECT CASE WHEN l_extendedprice < 0 THEN -1
              WHEN l_extendedprice >= 100000 THEN 5
              WHEN l_extendedprice >= 50000 THEN 4
              WHEN l_extendedprice >= 20000 THEN 3
              WHEN l_extendedprice >= 5000 THEN 2
              WHEN l_extendedprice >= 1000 THEN 1
              ELSE 0 END AS bin,
         l_quantity
  FROM lineitem
) GROUP BY bin
"""


def q_padded_leading(spark, sf_dir):
    """pad_none + leading-object access (ak.pad_none -> ak.firsts, the
    reference's leading/subleading idiom; SURVEY.md §2.2): positional
    access past a jagged array's end must be TOTAL (null), not an ANSI
    ARRAY_INDEX_OUT_OF_BOUNDS error — exactly what pad_none exists for.
    Leading/subleading item of each order (items sorted by linenumber),
    aggregated so single-item orders exercise the null padding."""
    orders = _order_items(spark, sf_dir)
    padded = pad_none(F.col("items"), 2)
    q1 = F.element_at(padded, 1)["l_quantity"]
    q2 = F.element_at(padded, 2)["l_quantity"]
    return orders.select(q1.alias("q1"), q2.alias("q2")).agg(
        F.count("q1").alias("n_lead"),
        F.count("q2").alias("n_sub"),
        F.round(F.sum("q1"), 2).alias("sum_q1"),
        F.round(F.sum("q2"), 2).alias("sum_q2"),
    )


SQL_PADDED_LEADING = """
-- positional, not "linenumber = 1": the synthetic lineitem's
-- l_linenumber is neither dense nor unique per order, so 'leading'
-- means first by the SAME lexicographic struct order the Spark side's
-- array_sort uses (linenumber, then the remaining item fields)
SELECT count(q1) AS n_lead, count(q2) AS n_sub,
       round(sum(q1), 2) AS sum_q1, round(sum(q2), 2) AS sum_q2
FROM (
  SELECT l_orderkey,
         max(CASE WHEN rn = 1 THEN l_quantity END) AS q1,
         max(CASE WHEN rn = 2 THEN l_quantity END) AS q2
  FROM (
    SELECT l_orderkey, l_quantity,
           row_number() OVER (
             PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_quantity, l_extendedprice,
                      l_discount, l_suppkey
           ) AS rn
    FROM lineitem
  ) GROUP BY l_orderkey
)
"""


def q_accumulator_merge(spark, sf_dir):
    """Driver-side accumulator reduce (reference processor/accumulator
    add/iadd semantics; SURVEY.md §2.5): three per-"dataset" partial
    result dicts (numbers add, sets union) folded with accumulate().
    The distributed part stays in Spark (one bounded one-row agg per
    dataset); the monoid fold is over 3 SMALL dicts on the driver —
    the reference's multi-dataset result merge, never a row loop."""
    from coffea_spark.accumulator import accumulate

    li = _t(spark, sf_dir, "lineitem", floor=False)
    partials = []
    for flag in ("A", "N", "R"):
        row = (
            li.filter(F.col("l_returnflag") == flag)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("qty"),
                F.collect_set("l_linestatus").alias("ls"),
            )
            .collect()[0]
        )
        partials.append(
            {"n": row["n"], "qty": float(row["qty"] or 0.0), "ls": set(row["ls"])}
        )
    tot = accumulate(partials)
    return spark.createDataFrame(
        [(tot["n"], round(tot["qty"], 2), "|".join(sorted(tot["ls"])))],
        "n bigint, qty double, ls string",
    )


SQL_ACCUMULATOR_MERGE = """
SELECT count(*) AS n,
       round(sum(l_quantity), 2) AS qty,
       array_to_string(list_sort(list(DISTINCT l_linestatus)), '|') AS ls
FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R')
"""


def q_cutflow_npz(spark, sf_dir):
    """npz sink round trip (reference CutflowToNpz,
    analysis_tools.py:768-919; SURVEY.md §2.1 "npz sink"): run the
    cutflow, export its counts to a .npz file, read the FILE back and
    return its arrays as rows — the gate passes only if what landed on
    disk is what the cutflow computed."""
    import tempfile

    import numpy as np

    li = _t(spark, sf_dir, "lineitem", floor=False)
    sel = _lineitem_selection(li)
    cf = sel.cutflow(li)
    fd, path = tempfile.mkstemp(suffix=".npz")
    os.close(fd)
    try:
        cf.to_npz(path)
        data = np.load(path, allow_pickle=False)
        rows = [
            (str(lab), int(one), int(cum))
            for lab, one, cum in zip(
                data["labels"], data["nevonecut"], data["nevcutflow"]
            )
        ]
    finally:
        os.unlink(path)
    return spark.createDataFrame(
        rows, "label string, onecut bigint, cumulative bigint"
    )


SQL_CUTFLOW_NPZ = """
SELECT 'initial' AS label, count(*) AS onecut, count(*) AS cumulative FROM lineitem
UNION ALL
SELECT 'big_qty',
       CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'low_disc',
       CAST(sum(CASE WHEN l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity > 25 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'returned',
       CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity > 25 AND l_discount < 0.05 AND l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
"""


def q_preloaded_agg(spark, sf_dir):
    """Preloaded (in-memory) source feeding a broadcast join
    (reference PreloadedSourceMapping; SURVEY.md §2.1 "Preloaded
    scan"): the nation dimension is loaded OUTSIDE Spark (pyarrow into
    driver memory, 25 rows) and handed to the engine as a preloaded
    source — the legitimate 100-TB shape for side data: driver arrays
    -> broadcast -> join against the scanned fact table, no shuffle of
    customer."""
    import pyarrow.parquet as pq

    from coffea_spark.testing import preloaded_df

    nat = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    pre = preloaded_df(
        spark, {c: nat.column(c).to_pylist() for c in nat.column_names}
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(pre), cust.c_nationkey == pre.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


SQL_PRELOADED_AGG = """
SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_bitmask_counts(spark, sf_dir):
    """PackedSelection.bitmask: distribution of the packed cut mask
    (reference pack semantics analysis_tools.py:2219-2251)."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    sel = _lineitem_selection(li)
    return li.select(sel.bitmask().alias("mask")).groupBy("mask").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_BITMASK = """
SELECT (CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END
      + CASE WHEN l_discount < 0.05 THEN 2 ELSE 0 END
      + CASE WHEN l_returnflag = 'N' THEN 4 ELSE 0 END) AS mask,
       count(*) AS n
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# jagged data model: per-order arrays + HOFs (the coffea core re-expressed)
# ---------------------------------------------------------------------------

def q_jagged_filter(spark, sf_dir):
    """Object-level filter inside collections (jets[jets.pt>30] analog):
    distribution of per-order counts of high-quantity items."""
    orders = _order_items(spark, sf_dir)
    nbig = F.size(F.filter(F.col("items"), lambda x: x["l_quantity"] > 25))
    return orders.select(nbig.alias("n_big")).groupBy("n_big").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


SQL_JAGGED_FILTER = """
SELECT n_big, count(*) AS n_orders
FROM (
  SELECT l_orderkey, CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
  FROM lineitem GROUP BY l_orderkey
) GROUP BY n_big
"""


def q_jagged_reduce(spark, sf_dir):
    """Inner-axis reductions (ak.sum/max axis=1 analog) via aggregate/
    array_max HOFs, then event-level aggregation."""
    orders = _order_items(spark, sf_dir)
    total_price = F.aggregate(
        F.col("items"), F.lit(0.0), lambda a, x: a + x["l_extendedprice"] * (1 - x["l_discount"])
    )
    max_qty = F.array_max(F.col("items.l_quantity"))
    return orders.select(
        F.size("items").alias("n_items"), total_price.alias("tp"), max_qty.alias("mq")
    ).groupBy("n_items").agg(
        F.round(F.sum("tp"), 2).alias("sum_order_revenue"),
        F.round(F.avg("mq"), 6).alias("avg_max_qty"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_JAGGED_REDUCE = """
SELECT n_items,
       round(sum(tp), 2) AS sum_order_revenue,
       round(avg(mq), 6) AS avg_max_qty,
       count(*) AS n_orders
FROM (
  SELECT l_orderkey, count(*) AS n_items,
         sum(l_extendedprice * (1 - l_discount)) AS tp,
         max(l_quantity) AS mq
  FROM lineitem GROUP BY l_orderkey
) GROUP BY n_items
"""


def q_combinations(spark, sf_dir):
    """n-choose-2 combinations within events (ak.combinations analog):
    pair counts and a symmetric pair metric, all shuffle-free HOFs."""
    orders = _order_items(spark, sf_dir)
    pairs = combinations(F.col("items"), 2)
    # ONE aggregate pass over the pair array: putting size/filter/aggregate
    # in three sibling expressions re-evaluates the whole combinations
    # construction per consumer (Catalyst does not CSE across projections)
    acc0 = F.struct(
        F.lit(0).alias("np"), F.lit(0).alias("nd"), F.lit(0.0).alias("pg")
    )

    def step(a, p):
        return F.struct(
            (a["np"] + 1).alias("np"),
            (a["nd"] + (p["f0"]["l_suppkey"] != p["f1"]["l_suppkey"]).cast("int")).alias("nd"),
            (a["pg"] + F.abs(p["f0"]["l_extendedprice"] - p["f1"]["l_extendedprice"])).alias("pg"),
        )

    return orders.select(F.aggregate(pairs, acc0, step).alias("s")).agg(
        F.sum("s.np").alias("n_pairs"),
        F.sum("s.nd").alias("n_diff_supp_pairs"),
        F.round(F.sum("s.pg"), 2).alias("sum_price_gap"),
    )


def q_pairs_routed(spark, sf_dir):
    """Cardinality-adaptive pair enumeration (joins.pairs_adaptive — the
    SURVEY §4 rewrite rule as a live gate): orders with <= 3 items route
    through the HOF combinations+explode branch, larger orders through
    the posexplode self-join, and the union must reproduce EXACTLY the
    all-HOF gate's numbers (the oracle is the same relational self-join
    as combinations_pairs, so a routing bug — double-count, dropped
    boundary event, branch skew — goes hash-red). Threshold 3 splits the
    TPC-H order-size distribution (1-7 items) so BOTH physical branches
    execute on real rows."""
    from coffea_spark.joins import pairs_adaptive

    # the jagged view feeds THREE scans (small branch + both self-join
    # aliases): cache it so the collect_list shuffle runs once — at
    # scale the input is a materialized table, not a live shuffle
    orders = _order_items(spark, sf_dir).cache()
    pr = pairs_adaptive(orders, "items", event_id="l_orderkey", threshold=3)
    gap = F.abs(F.col("f0.l_extendedprice") - F.col("f1.l_extendedprice"))
    return pr.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.col("f0.l_suppkey") != F.col("f1.l_suppkey")).cast("long")
        ).alias("n_diff_supp_pairs"),
        F.round(F.sum(gap), 2).alias("sum_price_gap"),
    )


SQL_COMBINATIONS = """
-- MATERIALIZED: row_number over tied sort keys must be assigned ONCE and
-- reused on both sides of the self-join, else self-pairs appear
WITH li AS MATERIALIZED (
  SELECT l_orderkey, l_suppkey, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_suppkey, l_extendedprice) AS rn
  FROM lineitem
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN a.l_suppkey <> b.l_suppkey THEN 1 ELSE 0 END) AS BIGINT) AS n_diff_supp_pairs,
       round(sum(abs(a.l_extendedprice - b.l_extendedprice)), 2) AS sum_price_gap
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.rn < b.rn
"""


def q_nearest(spark, sf_dir):
    """nearest-neighbour within event (methods/vector.py:519-561 analog):
    per item, the minimum |price difference| to any other item of the
    same order; event-level mean. Pure HOFs — no self-join, no shuffle."""
    orders = _order_items(spark, sf_dir)
    # 1-D nearest-neighbour: the closest other price is ADJACENT in the
    # sorted price array, so sort once and take min(left gap, right gap)
    # per position — O(n log n) per event instead of the naive O(n^2)
    # all-pairs scan (which also re-evaluates the index-struct array per
    # outer element). The aggregated multiset of min-gaps is identical.
    ps = F.array_sort(F.transform("items", lambda x: x["l_extendedprice"]))
    sz = F.size(ps)
    inf = F.lit(float("inf"))
    best = F.transform(
        ps,
        lambda x, i: F.when(sz < 2, F.lit(None).cast("double")).otherwise(
            F.least(
                F.when(i > 0, x - F.element_at(ps, i)).otherwise(inf),
                F.when(i < sz - 1, F.element_at(ps, i + F.lit(2)) - x).otherwise(inf),
            )
        ),
    )
    flat = orders.select(F.explode(best).alias("d")).filter(F.col("d").isNotNull())
    return flat.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.round(F.avg("d"), 6).alias("avg_min_gap"),
        F.round(F.max("d"), 6).alias("max_min_gap"),
    )


SQL_NEAREST = """
WITH li AS MATERIALIZED (
  SELECT l_orderkey, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_extendedprice) AS rn
  FROM lineitem
)
SELECT count(*) AS n_matched,
       round(avg(d), 6) AS avg_min_gap,
       round(max(d), 6) AS max_min_gap
FROM (
  SELECT a.l_orderkey, a.rn,
         min(abs(a.l_extendedprice - b.l_extendedprice)) AS d
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.rn <> b.rn
  GROUP BY a.l_orderkey, a.rn
)
"""


# ---------------------------------------------------------------------------
# events table: time windows, sessions, JSON
# ---------------------------------------------------------------------------

def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming op)."""
    ev = _t(spark, sf_dir, "events", floor=False)
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour")
    return ev.groupBy(hour, "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )


SQL_EVENTS_HOURLY = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap per user (lag + running
    sum of session starts)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events", floor=False)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("ns", new_session)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SQL_SESSIONIZE = """
SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (
  SELECT user_id,
         -- floor(epoch(..)) mirrors Spark's timestamp.cast(long) truncation
         CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS ns
  FROM events
) GROUP BY user_id
"""


def q_events_json(spark, sf_dir):
    """Semi-structured extraction from the JSON props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_EVENTS_JSON = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_filtered_agg(spark, sf_dir):
    """TPC-H Q6 shape: tight scan-side filters (all pushed to parquet) +
    scalar aggregation — the pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_FILTERED_AGG = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_asof_join(spark, sf_dir):
    """As-of join (Spark lacks a native one): for each event, the most
    recent order of the same customer at-or-before the event time.
    Implemented as the scalable union + running-max window (one shuffle
    on the key; no range-join explosion)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events", floor=False)
    orders = _t(spark, sf_dir, "orders", floor=False)
    u = orders.select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"), F.lit(None).cast("string").alias("event_type"),
    ).unionByName(
        ev.select(
            F.col("user_id").alias("k"), F.col("ts").alias("t"),
            F.lit(0).alias("is_order"), F.col("event_type"),
        )
    )
    w = (
        W.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_order").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    u = u.withColumn("last_order", F.max(F.when(F.col("is_order") == 1, F.col("t"))).over(w))
    return (
        u.filter(F.col("is_order") == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("last_order").isNotNull(), 1).otherwise(0)).alias("n_matched"),
            F.round(
                F.avg(F.col("t").cast("long") - F.col("last_order").cast("long")), 4
            ).alias("avg_gap_s"),
        )
    )


SQL_ASOF_JOIN = """
WITH u AS (
  SELECT o_custkey AS k, o_orderdate AS t, 1 AS is_order, NULL AS event_type FROM orders
  UNION ALL
  SELECT user_id, ts, 0, event_type FROM events
), w AS (
  SELECT k, t, is_order, event_type,
         max(CASE WHEN is_order = 1 THEN t END)
           OVER (PARTITION BY k ORDER BY t, is_order DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_order
  FROM u
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN last_order IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       -- floor, not CAST: duckdb CAST(double->bigint) ROUNDS, while Spark's
       -- timestamp.cast(long) truncates sub-second parts
       round(avg(CAST(floor(epoch(t)) AS BIGINT) - CAST(floor(epoch(last_order)) AS BIGINT)), 4) AS avg_gap_s
FROM w WHERE is_order = 0 GROUP BY event_type
"""


def q_cube_counts(spark, sf_dir):
    """CUBE grouping sets (free in Spark; absent in the reference —
    SURVEY.md §2.5 'grouping sets')."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


SQL_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT over derived key sets."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice")).alias("rev"))
        .filter(F.col("rev") > 100000)
        .select(F.col("l_orderkey").alias("okey"))
    )
    prio = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("okey")
    )
    inter = big_orders.intersect(prio).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("intersect").alias("op"), "cnt"
    )
    exc = big_orders.exceptAll(prio).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("except").alias("op"), "cnt"
    )
    return inter.unionByName(exc)


SQL_SET_OPS = """
WITH big AS (
  SELECT l_orderkey AS okey FROM lineitem GROUP BY 1 HAVING sum(l_extendedprice) > 100000
), prio AS (
  SELECT o_orderkey AS okey FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT 'intersect' AS op, count(*) AS cnt FROM (SELECT okey FROM big INTERSECT SELECT okey FROM prio)
UNION ALL
SELECT 'except' AS op, count(*) AS cnt FROM (SELECT okey FROM big EXCEPT ALL SELECT okey FROM prio)
"""


def q_running_window(spark, sf_dir):
    """Running-sum window frame per supplier (total order over all
    columns so duplicate rows tie safely)."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem", floor=False)
    order_cols = [
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice",
        "l_quantity", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_partkey",
    ]
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = F.sum("l_quantity").over(w)
    tot = F.sum("l_quantity").over(W.partitionBy("l_suppkey"))
    return (
        li.withColumn("_run", run)
        .withColumn("_tot", tot)
        .groupBy("l_suppkey")
        .agg(
            F.round(F.max("_tot"), 2).alias("total_qty"),
            F.sum(F.when(F.col("_run") * 2 <= F.col("_tot"), 1).otherwise(0)).alias("n_first_half"),
        )
    )


SQL_RUNNING_WINDOW = """
SELECT l_suppkey, round(max(tot), 2) AS total_qty,
       CAST(sum(CASE WHEN run * 2 <= tot THEN 1 ELSE 0 END) AS BIGINT) AS n_first_half
FROM (
  SELECT l_suppkey,
         sum(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice,
                    l_quantity, l_discount, l_tax, l_returnflag, l_linestatus, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
         sum(l_quantity) OVER (PARTITION BY l_suppkey) AS tot
  FROM lineitem
) GROUP BY l_suppkey
"""


def q_dimuon_mass(spark, sf_dir):
    """The flagship HEP pipeline (BASELINE.md Q1) oracle-checked over
    pseudo-muons derived from lineitem: per-order collections ->
    opposite-charge pair combinations -> invariant mass -> histogram.
    Exercises zip/collect, combinations HOF, the kinematics DSL shape,
    and the histogram operator in one query.

    Hyperbolics are spelled via exp() on BOTH sides (DuckDB has no
    cosh/sinh) so the float expressions are structurally identical."""
    li = _t(spark, sf_dir, "lineitem")
    mu = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("ln"),
            (F.col("l_quantity") + 1.0).alias("pt"),
            ((F.col("l_discount") - 0.05) * 40.0).alias("eta"),
            (F.col("l_tax") * 78.0 - 3.12).alias("phi"),
            F.lit(0.105658).alias("mass"),
            F.when(F.col("l_linenumber") % 2 == 0, 1).otherwise(-1).alias("charge"),
            F.col("l_quantity").alias("q"),
            F.col("l_extendedprice").alias("ep"),
            F.col("l_discount").alias("dc"),
            F.col("l_tax").alias("tx"),
        ).alias("m"),
    )
    events = mu.groupBy("l_orderkey").agg(F.array_sort(F.collect_list("m")).alias("Muon"))
    pairs = combinations(F.col("Muon"), 2)
    os_pairs = F.filter(pairs, lambda p: (p["f0"]["charge"] + p["f1"]["charge"]) == 0)

    def e_of(v):
        ch = (F.exp(v["eta"]) + F.exp(-v["eta"])) / 2.0
        return F.sqrt(v["mass"] * v["mass"] + v["pt"] * v["pt"] * ch * ch)

    def pz_of(v):
        sh = (F.exp(v["eta"]) - F.exp(-v["eta"])) / 2.0
        return v["pt"] * sh

    def mass_of(p):
        a, b = p["f0"], p["f1"]
        se = e_of(a) + e_of(b)
        sx = a["pt"] * F.cos(a["phi"]) + b["pt"] * F.cos(b["phi"])
        sy = a["pt"] * F.sin(a["phi"]) + b["pt"] * F.sin(b["phi"])
        sz = pz_of(a) + pz_of(b)
        return F.sqrt(F.greatest(se * se - sx * sx - sy * sy - sz * sz, F.lit(0.0)))

    masses = events.select(F.explode(F.transform(os_pairs, mass_of)).alias("mass"))
    return hist1d(masses, "mass", 50, 0.0, 120.0).select("bin", "n")


SQL_DIMUON = """
WITH mu AS MATERIALIZED (
  SELECT l_orderkey,
         l_quantity + 1.0 AS pt,
         (l_discount - 0.05) * 40.0 AS eta,
         l_tax * 78.0 - 3.12 AS phi,
         0.105658 AS mass,
         CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END AS charge,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity + 1.0, (l_discount - 0.05) * 40.0,
                    l_tax * 78.0 - 3.12, CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END,
                    l_quantity, l_extendedprice, l_discount, l_tax) AS rn
  FROM lineitem
), pairs AS (
  SELECT a.pt AS pt1, a.eta AS eta1, a.phi AS phi1, a.mass AS m1,
         b.pt AS pt2, b.eta AS eta2, b.phi AS phi2, b.mass AS m2
  FROM mu a JOIN mu b
    ON a.l_orderkey = b.l_orderkey AND a.rn < b.rn
   AND a.charge + b.charge = 0
), masses AS (
  SELECT sqrt(greatest(
    (sqrt(m1*m1 + pt1*pt1 * ((exp(eta1)+exp(-eta1))/2.0) * ((exp(eta1)+exp(-eta1))/2.0))
     + sqrt(m2*m2 + pt2*pt2 * ((exp(eta2)+exp(-eta2))/2.0) * ((exp(eta2)+exp(-eta2))/2.0))) ^ 2
    - (pt1*cos(phi1) + pt2*cos(phi2)) ^ 2
    - (pt1*sin(phi1) + pt2*sin(phi2)) ^ 2
    - (pt1*((exp(eta1)-exp(-eta1))/2.0) + pt2*((exp(eta2)-exp(-eta2))/2.0)) ^ 2, 0.0)) AS mass
  FROM pairs
)
SELECT CASE WHEN mass < 0 THEN -1
            WHEN mass >= 120 THEN 50
            ELSE CAST(floor((mass - 0.0) / 2.4) AS BIGINT) END AS bin,
       count(*) AS n
FROM masses GROUP BY 1
"""


def q_boost_cosstar(spark, sf_dir):
    """Rest-frame decay angle through the Lorentz-boost surface
    (vector.boostvec/negative3/boost_cartesian; reference
    methods/vector.py:461-478 pvec/boostvec delegating to the vector
    package's boost_beta3): opposite-charge pseudo-muon pairs -> boost the
    pair's leading member into the pair rest frame -> cos(theta*) against
    the lab-frame pair momentum -> 20-bin histogram. Binned output keeps
    the hash robust to last-ulp float noise (Spark cosh vs exp-spelling).

    Scale: same shape as dimuon_mass — one groupBy shuffle to build
    events, then per-row HOFs; histogram shuffles bucket ids only."""
    from coffea_spark import vector as vec
    from coffea_spark.plans import barrier

    li = _t(spark, sf_dir, "lineitem")
    mu = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("ln"),
            (F.col("l_quantity") + 1.0).alias("pt"),
            ((F.col("l_discount") - 0.05) * 40.0).alias("eta"),
            (F.col("l_tax") * 78.0 - 3.12).alias("phi"),
            F.lit(0.105658).alias("mass"),
            F.when(F.col("l_linenumber") % 2 == 0, 1).otherwise(-1).alias("charge"),
            F.col("l_quantity").alias("q"),
            F.col("l_extendedprice").alias("ep"),
            F.col("l_discount").alias("dc"),
            F.col("l_tax").alias("tx"),
        ).alias("m"),
    )
    events = mu.groupBy("l_orderkey").agg(F.array_sort(F.collect_list("m")).alias("Muon"))
    # slim the structs AFTER the total-order sort (the extra fields are
    # tiebreakers only) so the exploded pair rows carry 5 doubles per leg,
    # not 10 — halves the explode width at sf0.1
    slim = F.transform(
        F.col("Muon"),
        lambda x: F.struct(
            x["pt"].alias("pt"), x["eta"].alias("eta"), x["phi"].alias("phi"),
            x["mass"].alias("mass"), x["charge"].alias("charge"),
        ),
    )
    pairs = combinations(slim, 2)
    # identical-kinematics pairs (same pt,eta,phi — possible on the
    # synthetic grid) have zero relative momentum: cos(theta*) is 0/0,
    # noise-dominated and engine-dependent. The exact-equality filter is
    # deterministic (both engines derive the doubles identically).
    os_pairs = F.filter(
        pairs,
        lambda p: ((p["f0"]["charge"] + p["f1"]["charge"]) == 0)
        & (
            (p["f0"]["pt"] != p["f1"]["pt"])
            | (p["f0"]["eta"] != p["f1"]["eta"])
            | (p["f0"]["phi"] != p["f1"]["phi"])
        ),
    )

    # stage the boost algebra through barriers: fully inlined, the
    # boost_cartesian tree references beta/energy dozens of times and
    # CollapseProject re-expands it per consumer (measured 115 s vs 3 s
    # staged at sf0.1 — the plans.barrier lesson at expression scale)
    a = F.col("p")["f0"]
    b = F.col("p")["f1"]
    st1 = barrier(
        events.select(F.explode(os_pairs).alias("p")),
        vec.to_cartesian(a).alias("ca"),
        F.struct(
            (vec.px(a) + vec.px(b)).alias("x"),
            (vec.py(a) + vec.py(b)).alias("y"),
            (vec.pz(a) + vec.pz(b)).alias("z"),
            (vec.energy(a) + vec.energy(b)).alias("t"),
        ).alias("plab"),
    )
    beta = F.struct(
        (-F.col("plab")["x"] / F.col("plab")["t"]).alias("x"),
        (-F.col("plab")["y"] / F.col("plab")["t"]).alias("y"),
        (-F.col("plab")["z"] / F.col("plab")["t"]).alias("z"),
    )
    st2 = barrier(
        st1,
        F.col("plab").alias("plab"),
        vec.boost_xyzt(F.col("ca"), beta).alias("arf"),
    )
    arf, plab = F.col("arf"), F.col("plab")
    num = arf["x"] * plab["x"] + arf["y"] * plab["y"] + arf["z"] * plab["z"]
    den = F.sqrt(
        arf["x"] * arf["x"] + arf["y"] * arf["y"] + arf["z"] * arf["z"]
    ) * F.sqrt(plab["x"] * plab["x"] + plab["y"] * plab["y"] + plab["z"] * plab["z"])
    cos = st2.select((num / den).alias("cos"))
    # 21 bins over [-1.05, 1.05]: the symmetry-forced exact values (0, +-1
    # from collinear / mirror pairs in the synthetic grid) sit at bin
    # CENTERS, so cross-engine ulp noise cannot move them across an edge.
    return hist1d(cos, "cos", 21, -1.05, 1.05).select("bin", "n")


# mirrors the boost algebra with exp-spelled hyperbolics (memory: DuckDB
# has no cosh/sinh); binning makes the hash ulp-tolerant
SQL_BOOST_COSSTAR = """
WITH mu AS MATERIALIZED (
  SELECT l_orderkey,
         l_quantity + 1.0 AS pt,
         (l_discount - 0.05) * 40.0 AS eta,
         l_tax * 78.0 - 3.12 AS phi,
         0.105658 AS mass,
         CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END AS charge,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity + 1.0, (l_discount - 0.05) * 40.0,
                    l_tax * 78.0 - 3.12, CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END,
                    l_quantity, l_extendedprice, l_discount, l_tax) AS rn
  FROM lineitem
), cart AS (
  SELECT l_orderkey, rn, charge, pt, eta, phi,
         pt * cos(phi) AS x, pt * sin(phi) AS y,
         pt * ((exp(eta) - exp(-eta)) / 2.0) AS z,
         sqrt(mass*mass + pt*pt * ((exp(eta)+exp(-eta))/2.0) * ((exp(eta)+exp(-eta))/2.0)) AS e
  FROM mu
), pairs AS (
  SELECT a.x AS x1, a.y AS y1, a.z AS z1, a.e AS e1,
         a.x + b.x AS px, a.y + b.y AS py, a.z + b.z AS pz, a.e + b.e AS ee
  FROM cart a JOIN cart b
    ON a.l_orderkey = b.l_orderkey AND a.rn < b.rn
   AND a.charge + b.charge = 0
   AND NOT (a.pt = b.pt AND a.eta = b.eta AND a.phi = b.phi)
), boosted AS (
  SELECT px, py, pz,
         x1 + k * bx AS rx, y1 + k * by AS ry, z1 + k * bz AS rz
  FROM (
    SELECT *,
           g * g / (g + 1.0) * (bx*x1 + by*y1 + bz*z1) + g * e1 AS k
    FROM (
      SELECT *, 1.0 / sqrt(1.0 - (bx*bx + by*by + bz*bz)) AS g
      FROM (
        SELECT *, -px/ee AS bx, -py/ee AS by, -pz/ee AS bz FROM pairs
      )
    )
  )
), cosv AS (
  SELECT (rx*px + ry*py + rz*pz)
         / (sqrt(rx*rx + ry*ry + rz*rz) * sqrt(px*px + py*py + pz*pz)) AS c
  FROM boosted
)
SELECT CASE WHEN c < -1.05 THEN -1
            WHEN c >= 1.05 THEN 21
            ELSE CAST(floor((c - (-1.05)) / 0.1) AS BIGINT) END AS bin,
       count(*) AS n
FROM cosv GROUP BY 1
"""


# ---------------------------------------------------------------------------
# LLM-data pipeline: dedup / similarity / text analysis / multimodal
# ---------------------------------------------------------------------------

def q_substring_dupes(spark, sf_dir):
    """Exact substring-level dedup gate (llmdata/dedup.duplicate_windows
    — the fixed-window variant of Lee et al. 2022's exact substring
    dedup): every 6-token window shared by >= 2 documents marks a
    duplicated span; spans merge per document (sum of min(k, gap) over
    sorted positions + k). Linear in corpus tokens; one groupBy shuffle
    of (window, doc, pos) plus the join back."""
    from coffea_spark.llmdata.dedup import duplicate_windows

    docs = _t(spark, sf_dir, "documents")
    per_doc = duplicate_windows(docs, text="text", id_col="doc_id", k=6)
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs_with_dupes"),
        F.sum("n_dup_windows").cast("long").alias("n_dup_windows"),
        F.sum("dup_tokens").cast("long").alias("dup_tokens"),
    )


SQL_SUBSTRING_DUPES = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS tk
  FROM documents
),
wins AS (
  SELECT doc_id, i, array_to_string(tk[i:i+5], ' ') AS win
  FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 5, 0) + 1)) AS i FROM toks)
),
dups AS (
  SELECT win FROM wins GROUP BY win HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT w.doc_id, w.i,
         lead(w.i) OVER (PARTITION BY w.doc_id ORDER BY w.i) AS nxt
  FROM wins w JOIN dups USING (win)
),
per_doc AS (
  SELECT doc_id, count(*) AS nw,
         sum(least(6, coalesce(nxt - i, 6))) AS toks
  FROM hits GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs_with_dupes,
       CAST(sum(nw) AS BIGINT) AS n_dup_windows,
       CAST(sum(toks) AS BIGINT) AS dup_tokens
FROM per_doc
"""


def q_dup_clusters(spark, sf_dir):
    """Duplicate-cluster construction: near-dup EDGES (consecutive docs in
    (lang, source) with |delta n_chars| < 200 — chains up to ~8 hops at
    sf0.01) -> connected components (large-star/small-star, llmdata/
    cluster.py) -> cluster-size histogram. The oracle computes the same
    components with window-run logic, which is only equivalent because the
    edge set is chain-shaped — so a hash match certifies the iterative CC
    converged to the true transitive closure.

    Scale: CC rounds are groupBy-min + distinct on (long, long) edges,
    O(log n) rounds (SoCC 2014); the edge generator is one window shuffle."""
    from pyspark.sql import Window

    from coffea_spark.llmdata.cluster import duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    edges = (
        docs.select(
            "doc_id",
            "n_chars",
            F.lag("n_chars").over(w).alias("pn"),
            F.lag("doc_id").over(w).alias("pid"),
        )
        .where(F.col("pid").isNotNull() & (F.abs(F.col("n_chars") - F.col("pn")) < 200))
        .select(F.col("pid").alias("src"), F.col("doc_id").alias("dst"))
    )
    clustered = duplicate_clusters(docs, edges, id_col="doc_id")
    sizes = clustered.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select("size", "n_clusters")
    )


# window-run equivalent of the chain-shaped component structure
SQL_DUP_CLUSTERS = """
WITH d AS (
  SELECT doc_id, lang, source, n_chars,
         lag(n_chars) OVER (PARTITION BY lang, source ORDER BY doc_id) AS pn
  FROM documents
), r AS (
  SELECT doc_id, lang, source,
         sum(CASE WHEN pn IS NULL OR abs(n_chars - pn) >= 200 THEN 1 ELSE 0 END)
           OVER (PARTITION BY lang, source ORDER BY doc_id) AS run
  FROM d
), c AS (
  SELECT count(*) AS size FROM r GROUP BY lang, source, run
)
SELECT CAST(size AS BIGINT) AS size, count(*) AS n_clusters
FROM c GROUP BY 1
"""


def q_categorical_counts(spark, sf_dir):
    """Ragged categorical counting (reference: growable StrCategory axis,
    hist.axis.StrCategory(growth=True) fills in analysis_tools /
    processor outputs): each document carries a VARIABLE-LENGTH list of
    quality labels; every label receives the document's weight
    (hist.hist_categorical). Explode -> partial agg: the shuffle carries
    one row per distinct label per partition."""
    from coffea_spark.hist import hist_categorical

    docs = _t(spark, sf_dir, "documents", floor=False)
    labels = F.filter(
        F.array(
            F.when(F.col("n_chars") < 200, F.lit("short")),
            F.when(F.col("n_chars") > 400, F.lit("long")),
            F.when(F.col("lang") == "en", F.lit("english")),
            F.when(F.col("text").contains("the"), F.lit("has_the")),
        ),
        lambda x: x.isNotNull(),
    )
    out = hist_categorical(
        docs, labels, weight=F.col("n_chars") / 100.0, by=["source"]
    )
    return out.select(
        "source",
        "category",
        F.round(F.col("sumw"), 6).alias("sumw"),
        F.round(F.col("sumw2"), 6).alias("sumw2"),
        F.col("n"),
    )


SQL_CATEGORICAL_COUNTS = """
WITH lab AS (
  SELECT source, n_chars / 100.0 AS w, unnest(list_filter(list_value(
           CASE WHEN n_chars < 200 THEN 'short' END,
           CASE WHEN n_chars > 400 THEN 'long' END,
           CASE WHEN lang = 'en' THEN 'english' END,
           CASE WHEN contains(text, 'the') THEN 'has_the' END
         ), x -> x IS NOT NULL)) AS category
  FROM documents
)
SELECT source, category,
       round(sum(w), 6) AS sumw,
       round(sum(w * w), 6) AS sumw2,
       count(*) AS n
FROM lab GROUP BY 1, 2
"""


def q_schema_variants(spark, sf_dir):
    """NanoAODSchemaSpec synthesis gate (reference schemas/nanoaod.py:
    169-200): flat branches built from lineitem get (a) a CONSTANT-FILL
    Photon_mass synthesized with the collection's jagged shape, (b) the
    Electron_regrEnergy -> Electron_energy RENAME, then zip into
    collections. The aggregate proves both: the filled mass sums to
    n_photons * 7.5 and the renamed energy matches the raw source sum."""
    from coffea_spark.schema import NanoAODSchemaSpec

    class DemoSchema(NanoAODSchemaSpec):
        full_like_items = {"Photon_mass": 7.5, "Muon_charge": 1.0}
        rename_items = {"Electron_regrEnergy": "Electron_energy"}
        alias_items = {}

    li = _t(spark, sf_dir, "lineitem")
    flat = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.struct("l_linenumber", "l_quantity"))).alias("_mu"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("l_discount") > 0.05, F.struct("l_linenumber", "l_extendedprice"))
            )
        ).alias("_ph"),
        F.array_sort(F.collect_list(F.struct("l_linenumber", (F.col("l_tax") * 100.0).alias("e")))).alias("_el"),
    ).select(
        "l_orderkey",
        F.transform("_mu", lambda x: x["l_quantity"] + 0.0).alias("Muon_pt"),
        F.transform("_ph", lambda x: x["l_extendedprice"] + 0.0).alias("Photon_pt"),
        F.transform("_el", lambda x: x["e"]).alias("Electron_regrEnergy"),
        F.transform("_el", lambda x: x["l_linenumber"] + 0.0).alias("Electron_pt"),
    )
    events = DemoSchema.apply(flat)
    return events.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size("Photon")).alias("n_photons"),
        F.round(F.sum(F.aggregate("Photon", F.lit(0.0), lambda s, x: s + x["mass"])), 2).alias("sum_photon_mass"),
        F.round(F.sum(F.aggregate("Electron", F.lit(0.0), lambda s, x: s + x["energy"])), 2).alias("sum_electron_energy"),
        F.round(F.sum(F.aggregate("Muon", F.lit(0.0), lambda s, x: s + x["pt"])), 2).alias("sum_muon_pt"),
    )


SQL_SCHEMA_VARIANTS = """
SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_photons,
       round(sum(CASE WHEN l_discount > 0.05 THEN CAST(7.5 AS DOUBLE) ELSE 0.0 END), 2) AS sum_photon_mass,
       round(sum(l_tax * 100.0), 2) AS sum_electron_energy,
       round(sum(l_quantity), 2) AS sum_muon_pt
FROM lineitem
"""


def q_correctionlib_sf(spark, sf_dir):
    """correctionlib gate (correctionlib_io): the reference's JSON-POG
    SF2d payload (multibinning, flow=clamp) evaluated over lineitem-derived
    (eta, pt) coordinates. The oracle embeds the payload's edges and
    values as literals and replays the same clamped 2-D gather in SQL —
    a true value oracle, not a golden constant."""
    from coffea_spark.correctionlib_io import CorrectionSet

    sf = CorrectionSet.from_file(sample("testSF2d.corr.json.gz"))["scalefactors_Tight_Electron"]
    li = _t(spark, sf_dir, "lineitem")
    eta = (F.col("l_tax") * 75.0) - 3.0        # spans past both eta edges
    pt = F.col("l_extendedprice") / 100.0      # spans past the top pt edge
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(sf(eta, pt)), 6).alias("sum_sf"),
        F.round(F.min(sf(eta, pt)), 6).alias("min_sf"),
        F.round(F.max(sf(eta, pt)), 6).alias("max_sf"),
    )


def _sql_correctionlib_sf() -> str:
    import gzip as _gzip
    import json as _json

    doc = _json.load(_gzip.open(sample("testSF2d.corr.json.gz"), "rt"))
    node = doc["corrections"][0]["data"]
    e0 = ", ".join(repr(float(v)) for v in node["edges"][0])
    e1 = ", ".join(repr(float(v)) for v in node["edges"][1])
    vals = ", ".join(repr(float(v)) for v in node["content"])
    n1 = len(node["edges"][1]) - 1
    return f"""
WITH p AS (
  SELECT l_returnflag,
         (l_tax * 75.0) - 3.0 AS eta,
         l_extendedprice / 100.0 AS pt
  FROM lineitem
), idx AS (
  SELECT l_returnflag,
         greatest(least(len(list_filter([{e0}], e -> e <= eta)) - 1,
                        {len(node["edges"][0]) - 2}), 0) AS i0,
         greatest(least(len(list_filter([{e1}], e -> e <= pt)) - 1,
                        {n1 - 1}), 0) AS i1
  FROM p
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(([{vals}])[i0 * {n1} + i1 + 1]) AS DOUBLE), 6) AS sum_sf,
       round(CAST(min(([{vals}])[i0 * {n1} + i1 + 1]) AS DOUBLE), 6) AS min_sf,
       round(CAST(max(([{vals}])[i0 * {n1} + i1 + 1]) AS DOUBLE), 6) AS max_sf
FROM idx GROUP BY 1
"""


def q_root_scan(spark, sf_dir):
    """Native ROOT ingestion gate (root_reader + rntuple): scan the
    reference's OWN binary fixtures — nano_dimuon.root (TTree, zlib) and
    its RNTuple twin — through ``read_root``, run
    the dimuon pipeline, and emit per-format aggregates. The oracle is a
    golden-value table: every number is a property of the fixed public
    fixture (40 events, 84 muons, 6 Z-window opposite-sign pairs —
    invariants the reference's own test suite also relies on), and the
    TTree/RNTuple twins must agree exactly. ``sf_dir`` is unused: the
    inputs are the binary fixtures themselves."""
    from coffea_spark.root_reader import read_root
    from coffea_spark.schema import zip_collections
    from coffea_spark.vector import invariant_mass

    cols = ["run", "nMuon", "Muon_pt", "Muon_eta", "Muon_phi", "Muon_mass", "Muon_charge"]
    rows = []
    for fmt, path, use_cols in (
        ("ttree", sample("nano_dimuon.root"), cols),
        ("rntuple", sample("nano_dimuon_rntuple.root"), cols[2:]),
    ):
        ev = zip_collections(read_root(spark, [path], columns=use_cols))
        pairs = combinations(F.col("Muon"), 2)
        masses = F.filter(
            F.transform(pairs, lambda p: F.when(
                p["f0"]["charge"] != p["f1"]["charge"],
                invariant_mass(p["f0"], p["f1"]),
            )),
            lambda m: m.isNotNull() & (m >= 60) & (m <= 120),
        )
        agg = ev.agg(
            F.lit(fmt).alias("format"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.size("Muon")).alias("n_muons"),
            F.sum(F.size(masses)).alias("z_pairs"),
        )
        rows.append(agg)
    return rows[0].unionByName(rows[1])


SQL_ROOT_SCAN = """
SELECT * FROM (VALUES
  ('ttree',   CAST(40 AS BIGINT), CAST(84 AS BIGINT), CAST(6 AS BIGINT)),
  ('rntuple', CAST(40 AS BIGINT), CAST(84 AS BIGINT), CAST(6 AS BIGINT))
) AS t(format, n_events, n_muons, z_pairs)
"""


def q_root_source_scan(spark, sf_dir):
    """The SAME dimuon pipeline as root_scan, but ingested through the
    ``spark.read.format("root")`` Python Data Source (datasource.py) —
    the DataFrameReader-native surface SURVEY §2.1 originally declared
    out-of-scope. Shares root_scan's golden oracle row; ``read_root`` is
    this source with options, so this gate pins the string-option
    spelling (comma-separated ``columns``, a single ``.load`` path).
    ``sf_dir`` unused (binary fixture input)."""
    from coffea_spark.datasource import register_root_source
    from coffea_spark.schema import zip_collections
    from coffea_spark.vector import invariant_mass

    register_root_source(spark)
    cols = "run,nMuon,Muon_pt,Muon_eta,Muon_phi,Muon_mass,Muon_charge"
    ev = zip_collections(
        spark.read.format("root")
        .option("columns", cols)
        .load(sample("nano_dimuon.root"))
    )
    pairs = combinations(F.col("Muon"), 2)
    masses = F.filter(
        F.transform(pairs, lambda p: F.when(
            p["f0"]["charge"] != p["f1"]["charge"],
            invariant_mass(p["f0"], p["f1"]),
        )),
        lambda m: m.isNotNull() & (m >= 60) & (m <= 120),
    )
    return ev.agg(
        F.lit("ttree").alias("format"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size("Muon")).alias("n_muons"),
        F.sum(F.size(masses)).alias("z_pairs"),
    )


SQL_ROOT_SOURCE_SCAN = """
SELECT * FROM (VALUES
  ('ttree', CAST(40 AS BIGINT), CAST(84 AS BIGINT), CAST(6 AS BIGINT))
) AS t(format, n_events, n_muons, z_pairs)
"""


# ---------------------------------------------------------------------------
# experiment schema variants (reference nanoevents/schemas/{physlite,
# delphes,treemaker,fcc,edm4hep,pdune}.py) — each gate builds flat branches
# with that experiment's naming convention from lineitem, runs the Spark
# rewriter, and proves a position-dependent invariant the DuckDB oracle
# reproduces from the base table.
# ---------------------------------------------------------------------------

def _sorted_items(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
            )
        ).alias("it")
    )


def q_physlite_links(spark, sf_dir):
    """PHYSLITE gate (reference schemas/physlite.py:77-188 + the
    test_nanoevents_physlite.py link-resolution invariant): AuxDyn branch
    grouping, TrackParticle p/pt/tau derivations from qOverP/theta, muon
    mass fill, and ElementLink resolution with a REVERSED per-event link
    (electron rank i -> track n-i), so the pt-weighted linked sum is
    position-dependent — a wrong gather cannot hash-match."""
    from coffea_spark.schemas_variants import PHYSLITESchemaSpec, resolve_element_links

    flat = _sorted_items(spark, sf_dir).select(
        "l_orderkey",
        F.transform("it", lambda x: x["l_quantity"] + 0.0).alias("AnalysisElectronsAuxDyn.pt"),
        F.transform("it", lambda x: x["l_quantity"] * 2.0).alias("AnalysisMuonsAuxDyn.pt"),
        F.transform("it", lambda x: x["l_discount"] + 0.01).alias("GSFTrackParticlesAuxDyn.qOverP"),
        F.transform("it", lambda x: x["l_tax"] + 0.5).alias("GSFTrackParticlesAuxDyn.theta"),
        F.transform(F.sequence(F.lit(1), F.size("it")), lambda i: F.array(F.lit(7))).alias(
            "AnalysisElectronsAuxDyn.trackParticleLinks.m_persKey"
        ),
        F.transform(F.sequence(F.lit(1), F.size("it")), lambda i: F.array(F.size("it") - i)).alias(
            "AnalysisElectronsAuxDyn.trackParticleLinks.m_persIndex"
        ),
    )
    events = PHYSLITESchemaSpec.apply(flat)
    linked = resolve_element_links(
        F.col("Electrons"), "trackParticleLinks", F.col("GSFTrackParticles")
    )
    weighted = F.zip_with(
        F.col("Electrons"),
        linked,
        lambda e, ts: e["pt"] * F.aggregate(ts, F.lit(0.0), lambda a, t: a + t["qOverP"]),
    )
    return events.agg(
        F.sum(F.size("Electrons")).alias("n_ele"),
        F.round(F.sum(F.aggregate("GSFTrackParticles", F.lit(0.0), lambda s, t: s + t["p"])), 2).alias("sum_track_p"),
        F.round(
            F.sum(F.aggregate("GSFTrackParticles", F.lit(0.0), lambda s, t: s + t["pt"])), 2
        ).alias("sum_track_pt"),
        F.round(F.sum(F.aggregate(weighted, F.lit(0.0), lambda s, x: s + x)), 2).alias("sum_linked"),
        F.round(F.sum(F.aggregate("Muons", F.lit(0.0), lambda s, m: s + m["m"])), 2).alias("sum_muon_m"),
    )


SQL_PHYSLITE_LINKS = """
WITH ranked AS (
  SELECT l_orderkey, l_quantity, l_discount, l_tax,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax) AS r,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n_ele,
       round(sum(1.0 / abs(a.l_discount + 0.01)), 2) AS sum_track_p,
       round(sum(sin(a.l_tax + 0.5) / abs(a.l_discount + 0.01)), 2) AS sum_track_pt,
       round(sum(a.l_quantity * (b.l_discount + 0.01)), 2) AS sum_linked,
       round(CAST(sum(105.658) AS DOUBLE), 2) AS sum_muon_m
FROM ranked a JOIN ranked b
  ON a.l_orderkey = b.l_orderkey AND b.r = a.n + 1 - a.r
"""


def q_delphes_met(spark, sf_dir):
    """Delphes gate (reference schemas/delphes.py:235-356 +
    test_nanoevents_delphes.py): size-branch counts dropped, massless-mixin
    aliasing PT/Eta/Phi -> pt/eta/phi with mass=0 fill, and the MissingET
    length-1 singleton flattened to a struct with rho = MET/cosh(eta)."""
    from coffea_spark.schemas_variants import DelphesSchemaSpec

    flat = _sorted_items(spark, sf_dir).select(
        "l_orderkey",
        F.transform("it", lambda x: x["l_quantity"] + 0.0).alias("Muon/Muon.PT"),
        F.transform("it", lambda x: x["l_tax"]).alias("Muon/Muon.Eta"),
        F.transform("it", lambda x: x["l_discount"]).alias("Muon/Muon.Phi"),
        F.size("it").alias("Muon_size"),
        F.array(F.aggregate("it", F.lit(0.0), lambda s, x: s + x["l_extendedprice"])).alias(
            "MissingET/MissingET.MET"
        ),
        F.array(F.lit(0.5)).alias("MissingET/MissingET.Eta"),
        F.array(F.lit(0.1)).alias("MissingET/MissingET.Phi"),
        F.lit(1).alias("MissingET_size"),
    )
    events = DelphesSchemaSpec.apply(flat)
    return events.agg(
        F.sum(F.size("Muon")).alias("n_mu"),
        F.round(F.sum(F.aggregate("Muon", F.lit(0.0), lambda s, m: s + m["pt"])), 2).alias("sum_pt"),
        F.round(F.sum(F.aggregate("Muon", F.lit(0.0), lambda s, m: s + m["mass"])), 2).alias("sum_mass"),
        F.round(F.sum("MissingET.rho"), 2).alias("sum_rho"),
        F.round(F.sum("MissingET.eta"), 2).alias("sum_eta"),
    )


SQL_DELPHES_MET = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS n, sum(l_quantity) AS sq, sum(l_extendedprice) AS sp
  FROM lineitem GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_mu,
       round(sum(sq), 2) AS sum_pt,
       CAST(0.0 AS DOUBLE) AS sum_mass,
       round(sum(sp / ((exp(0.5) + exp(-0.5)) / 2)), 2) AS sum_rho,
       round(CAST(sum(0.5) AS DOUBLE), 2) AS sum_eta
FROM per_order
"""


def q_treemaker_subjets(spark, sf_dir):
    """TreeMaker gate (reference schemas/treemaker.py:50-167 +
    test_nanoevents_treemaker.py): split PtEtaPhiE vector components zip
    into jets, ``Jets_jecFactor`` merges as an attribute, and the
    ``Jets_subjetsCounts`` branch regroups a flattened subjet collection
    into a doubly-jagged ``Jets.subjets``. The checked sum couples each
    jet's jec to ITS OWN subjet pts (prefix-offset dependent), so a
    mis-nesting cannot hash-match."""
    from coffea_spark.schemas_variants import TreeMakerSchemaSpec

    counts = F.transform("it", lambda x: (x["l_linenumber"] % 2 + 1).cast("int"))
    total = F.aggregate(counts, F.lit(0), lambda s, c: s + c)
    flat = _sorted_items(spark, sf_dir).select(
        F.col("l_orderkey").alias("event"),
        F.transform("it", lambda x: x["l_quantity"] + 0.0).alias("Jets/Jets.fCoordinates.fPt"),
        F.transform("it", lambda x: x["l_tax"]).alias("Jets/Jets.fCoordinates.fEta"),
        F.transform("it", lambda x: x["l_discount"]).alias("Jets/Jets.fCoordinates.fPhi"),
        F.transform("it", lambda x: x["l_quantity"] * 1.1).alias("Jets/Jets.fCoordinates.fE"),
        F.transform("it", lambda x: x["l_discount"] + 1.0).alias("Jets_jecFactor"),
        counts.alias("Jets_subjetsCounts"),
        F.transform(F.sequence(F.lit(1), total), lambda p: p * 10.0).alias(
            "Jets_subjets/Jets_subjets.fCoordinates.fPt"
        ),
        F.transform(F.sequence(F.lit(1), total), lambda p: p * 0.1).alias(
            "Jets_subjets/Jets_subjets.fCoordinates.fEta"
        ),
        F.transform(F.sequence(F.lit(1), total), lambda p: p * 0.2).alias(
            "Jets_subjets/Jets_subjets.fCoordinates.fPhi"
        ),
        F.transform(F.sequence(F.lit(1), total), lambda p: p * 11.0).alias(
            "Jets_subjets/Jets_subjets.fCoordinates.fE"
        ),
    )
    events = TreeMakerSchemaSpec.apply(flat)
    jet_term = F.transform(
        "Jets",
        lambda j: j["jecFactor"]
        * F.aggregate(j["subjets"], F.lit(0.0), lambda s, sj: s + sj["pt"]),
    )
    return events.agg(
        F.sum(F.size("Jets")).alias("n_jets"),
        F.sum(F.aggregate("Jets", F.lit(0), lambda s, j: s + F.size(j["subjets"]))).alias("n_subjets"),
        F.round(F.sum(F.aggregate("Jets", F.lit(0.0), lambda s, j: s + j["energy"])), 2).alias("sum_energy"),
        F.round(F.sum(F.aggregate(jet_term, F.lit(0.0), lambda s, x: s + x)), 2).alias("sum_jec_subpt"),
    )


SQL_TREEMAKER_SUBJETS = """
WITH jets AS (
  SELECT l_orderkey, l_quantity, l_discount,
         l_linenumber % 2 + 1 AS c,
         coalesce(sum(l_linenumber % 2 + 1) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n_jets,
       CAST(sum(c) AS BIGINT) AS n_subjets,
       round(sum(l_quantity * 1.1), 2) AS sum_energy,
       round(sum((l_discount + 1.0) * 10.0 * (c * start + c * (c + 1) / 2.0)), 2) AS sum_jec_subpt
FROM jets
"""


def q_fcc_constituents(spark, sf_dir):
    """FCC/EDM4HEP gate (reference schemas/fcc.py:171-528,
    edm4hep.py:401-901 + test_nanoevents_edm4hep.py): slash-named podio
    members with momentum-component aliasing, an ObjectID index collection
    resolved with collectionID dispatch over TWO target collections, and a
    begin/end range gather of jet constituents that skips the first
    particle — all position-dependent."""
    from coffea_spark.schemas_variants import FCCSchemaSpec, gather_range, resolve_objectid

    n = F.size("it")
    flat = _sorted_items(spark, sf_dir).select(
        "l_orderkey",
        F.transform("it", lambda x: x["l_extendedprice"]).alias(
            "ReconstructedParticles/ReconstructedParticles.energy"
        ),
        F.transform("it", lambda x: x["l_quantity"] + 0.0).alias(
            "ReconstructedParticles/ReconstructedParticles.momentum.x"
        ),
        F.transform("it", lambda x: x["l_quantity"] * 2.0).alias("Tracks/Tracks.energy"),
        F.transform(F.sequence(F.lit(1), n), lambda i: (n - i).cast("long")).alias(
            "Muon#0/Muon#0.index"
        ),
        F.transform(F.sequence(F.lit(1), n), lambda i: (F.lit(13) + i % 2).cast("int")).alias(
            "Muon#0/Muon#0.collectionID"
        ),
        F.array(F.aggregate("it", F.lit(0.0), lambda s, x: s + x["l_extendedprice"])).alias(
            "Jet/Jet.energy"
        ),
        F.array(F.lit(1).cast("long")).alias("Jet/Jet.particles_begin"),
        F.array(n.cast("long")).alias("Jet/Jet.particles_end"),
    )
    events = FCCSchemaSpec.apply(flat)
    resolved = resolve_objectid(
        F.col("Muon_idx0"),
        {13: F.col("ReconstructedParticles.E"), 14: F.col("Tracks.E")},
    )
    constituents = gather_range(
        F.col("ReconstructedParticles.E"),
        F.col("Jet.particles.begin"),
        F.col("Jet.particles.end"),
    )
    return events.agg(
        F.sum(F.size("Muon_idx0")).alias("n_muons"),
        F.round(F.sum(F.aggregate(resolved, F.lit(0.0), lambda s, e: s + e)), 2).alias("sum_resolved"),
        F.round(
            F.sum(
                F.aggregate(
                    constituents,
                    F.lit(0.0),
                    lambda s, c: s + F.aggregate(c, F.lit(0.0), lambda a, e: a + e),
                )
            ),
            2,
        ).alias("sum_range"),
        F.round(F.sum(F.aggregate("ReconstructedParticles", F.lit(0.0), lambda s, p: s + p["px"])), 2).alias("sum_px"),
    )


SQL_FCC_CONSTITUENTS = """
WITH ranked AS (
  SELECT l_orderkey, l_quantity, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax) AS r,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n_muons,
       round(sum(CASE WHEN a.r % 2 = 1 THEN b.l_quantity * 2.0 ELSE b.l_extendedprice END), 2) AS sum_resolved,
       round(sum(CASE WHEN a.r > 1 THEN a.l_extendedprice ELSE 0.0 END), 2) AS sum_range,
       round(sum(a.l_quantity), 2) AS sum_px
FROM ranked a JOIN ranked b
  ON a.l_orderkey = b.l_orderkey AND b.r = a.n + 1 - a.r
"""


def q_pdune_beam(spark, sf_dir):
    """ProtoDUNE gate (reference schemas/pdune.py:90-214): hierarchical
    underscore branches folded into RecoBeam (scalar record with a 3-vector
    leaf) and Tracks (jagged record with per-track 3-vector leaves); the
    checked sums are the 3-vector norms, which require the x/y/z
    components to land in the SAME leaf struct."""
    from coffea_spark.schemas_variants import PDUNESchemaSpec

    flat = _sorted_items(spark, sf_dir).select(
        "l_orderkey",
        F.aggregate("it", F.lit(0.0), lambda s, x: s + x["l_quantity"]).alias("reco_beam_startX"),
        F.aggregate("it", F.lit(0.0), lambda s, x: s + x["l_tax"]).alias("reco_beam_startY"),
        F.aggregate("it", F.lit(0.0), lambda s, x: s + x["l_discount"]).alias("reco_beam_startZ"),
        F.size("it").cast("double").alias("reco_beam_len"),
        F.transform("it", lambda x: x["l_quantity"] + 0.0).alias("reco_daughter_allTrack_startX"),
        F.transform("it", lambda x: x["l_tax"] * 10.0).alias("reco_daughter_allTrack_startY"),
        F.transform("it", lambda x: x["l_discount"] * 10.0).alias("reco_daughter_allTrack_startZ"),
        F.transform("it", lambda x: x["l_extendedprice"] / 100.0).alias("reco_daughter_allTrack_len"),
    )
    events = PDUNESchemaSpec.apply(flat)
    b = F.col("RecoBeam")
    beam_norm = F.sqrt(
        b["start3D"]["x"] * b["start3D"]["x"]
        + b["start3D"]["y"] * b["start3D"]["y"]
        + b["start3D"]["z"] * b["start3D"]["z"]
    )
    trk_norm = F.aggregate(
        "Tracks",
        F.lit(0.0),
        lambda s, t: s
        + F.sqrt(
            t["start3D"]["x"] * t["start3D"]["x"]
            + t["start3D"]["y"] * t["start3D"]["y"]
            + t["start3D"]["z"] * t["start3D"]["z"]
        ),
    )
    return events.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(beam_norm), 2).alias("sum_beam_norm"),
        F.round(F.sum(b["len"]), 2).alias("sum_beam_len"),
        F.round(F.sum(trk_norm), 2).alias("sum_track_norm"),
        F.round(F.sum(F.aggregate("Tracks", F.lit(0.0), lambda s, t: s + t["len"])), 2).alias("sum_track_len"),
    )


SQL_PDUNE_BEAM = """
WITH per_order AS (
  SELECT l_orderkey,
         sum(l_quantity) AS bx, sum(l_tax) AS by, sum(l_discount) AS bz,
         count(*) AS blen,
         sum(sqrt(l_quantity * l_quantity + 100.0 * l_tax * l_tax
                  + 100.0 * l_discount * l_discount)) AS tnorm,
         sum(l_extendedprice / 100.0) AS tlen
  FROM lineitem GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       round(sum(sqrt(bx * bx + by * by + bz * bz)), 2) AS sum_beam_norm,
       round(sum(blen), 2) AS sum_beam_len,
       round(sum(tnorm), 2) AS sum_track_norm,
       round(sum(tlen), 2) AS sum_track_len
FROM per_order
"""


def q_token_stats(spark, sf_dir):
    """Token accounting for LLM-data budgeting: whitespace tokens vs
    BPE-style pre-tokens (llmdata/text.py bpe_pretokens — GPT-2 classes
    minus lookahead so Spark's Java regex and DuckDB's RE2 agree) per
    source. Pure scan-stage expressions: one shuffle of 4 aggregate rows."""
    from coffea_spark.llmdata.text import bpe_pretoken_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("ws_tokens"),
        F.sum(bpe_pretoken_count(F.col("text"))).alias("bpe_tokens"),
        F.round(
            F.sum(bpe_pretoken_count(F.col("text")))
            / F.sum(F.length("text")),
            6,
        ).alias("tokens_per_char"),
    )


SQL_TOKEN_STATS = r"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))) AS BIGINT) AS bpe_tokens,
       round(sum(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')))
             / sum(length(text)), 6) AS tokens_per_char
FROM documents GROUP BY 1
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup stats by normalized-text md5 (one shuffle on the
    fingerprint)."""
    from coffea_spark.llmdata.dedup import exact_dup_stats

    return exact_dup_stats(_t(spark, sf_dir, "documents", floor=False), "text", by=["lang"])


SQL_DEDUP_EXACT = r"""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique
FROM documents GROUP BY lang
"""


def q_c4_gopher_filters(spark, sf_dir):
    """The two canonical public corpus filters in one pass: C4 line
    cleaning (Raffel et al. 2020 §2.2 — terminal-punctuation lines,
    >= 3 words, no 'javascript' lines, lorem-ipsum/brace page
    tripwires) and the Gopher document rule card (Rae et al. 2021
    A1.1 — word count, mean word length, symbol/bullet/ellipsis
    ratios, alphabetic-word fraction, stop-word hits). Both are pure
    scan-stage HOF column math (text.c4_line_clean /
    text.gopher_quality_signals); the oracle replays every rule with
    SQL list functions, so a regex or threshold drift goes hash-red."""
    from coffea_spark.llmdata.text import c4_line_clean, gopher_quality_signals

    docs = _t(spark, sf_dir, "documents")
    x = docs.select(
        "lang",
        c4_line_clean(F.col("text")).alias("c4"),
        gopher_quality_signals(F.col("text")).alias("g"),
    )
    return x.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c4.n_lines").alias("sum_lines"),
        F.sum("c4.n_kept").alias("sum_kept"),
        F.sum("c4.n_sentences").alias("sum_sentences"),
        F.sum(F.col("c4.has_lorem").cast("long")).alias("n_lorem"),
        F.sum(F.col("c4.has_brace").cast("long")).alias("n_brace"),
        F.round(F.avg("g.mean_word_len"), 6).alias("avg_word_len"),
        F.round(F.avg("g.symbol_word_ratio"), 6).alias("avg_sym_ratio"),
        F.round(F.avg("g.alpha_word_frac"), 6).alias("avg_alpha_frac"),
        F.sum("g.stop_hits").alias("sum_stop_hits"),
        F.sum(F.col("g.passes").cast("long")).alias("n_pass"),
    )


SQL_C4_GOPHER = r"""
WITH base AS (
  SELECT lang, text,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words
  FROM documents
), c4 AS (
  SELECT lang, text, words,
         len(lines) AS n_lines,
         list_filter(lines, l ->
           regexp_matches(trim(l), '[.!?]["'']?\s*$')
           AND len(list_filter(string_split_regex(trim(l), '\s+'), w -> w <> '')) >= 3
           AND NOT contains(lower(l), 'javascript')
         ) AS kept,
         list_filter(lines, l -> trim(l) <> '') AS nelines
  FROM base
), c42 AS (
  SELECT lang, text, words, n_lines, len(kept) AS n_kept, nelines,
         array_to_string(list_transform(kept, l -> trim(l)), chr(10)) AS clean
  FROM c4
), m AS (
  SELECT lang,
         n_lines, n_kept,
         CASE WHEN length(clean) > 0
              THEN len(string_split_regex(clean, '[.!?]')) - 1 ELSE 0 END AS n_sent,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(text, '{') AS has_brace,
         len(words) AS nw,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words)
              ELSE 0.0 END AS mean_len,
         CASE WHEN len(words) > 0
              THEN (len(string_split(text, '#')) - 1
                    + len(string_split(text, '...')) - 1
                    + len(string_split(text, '…')) - 1) * 1.0 / len(words)
              ELSE 0.0 END AS sym_ratio,
         CASE WHEN len(nelines) > 0
              THEN len(list_filter(nelines, l -> regexp_matches(trim(l), '^[•‣▪*-]\s'))) * 1.0
                   / len(nelines) ELSE 0.0 END AS bullet_frac,
         CASE WHEN len(nelines) > 0
              THEN len(list_filter(nelines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) * 1.0
                   / len(nelines) ELSE 0.0 END AS ell_frac,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                   / len(words) ELSE 0.0 END AS alpha_frac,
         (SELECT sum(CASE WHEN list_contains(list_transform(words, w -> lower(w)), s)
                          THEN 1 ELSE 0 END)
          FROM unnest(['the','be','to','of','and','that','have','with']) AS t(s)
         ) AS stop_hits
  FROM c42
), f AS (
  SELECT *,
         (nw >= 50 AND nw <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
          AND sym_ratio <= 0.1 AND bullet_frac <= 0.9 AND ell_frac <= 0.3
          AND alpha_frac >= 0.8 AND stop_hits >= 2) AS passes
  FROM m
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS sum_lines,
       CAST(sum(n_kept) AS BIGINT) AS sum_kept,
       CAST(sum(n_sent) AS BIGINT) AS sum_sentences,
       CAST(sum(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
       CAST(sum(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
       round(avg(mean_len), 6) AS avg_word_len,
       round(avg(sym_ratio), 6) AS avg_sym_ratio,
       round(avg(alpha_frac), 6) AS avg_alpha_frac,
       CAST(sum(stop_hits) AS BIGINT) AS sum_stop_hits,
       CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM f GROUP BY lang
"""


def q_text_quality(spark, sf_dir):
    """Token stats + composite quality score, all JVM-side expressions."""
    from coffea_spark.llmdata import text as tx

    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.groupBy("lang").agg(
        F.round(F.avg(tx.token_count(c)), 6).alias("avg_tokens"),
        F.round(F.avg(tx.distinct_token_count(c)), 6).alias("avg_distinct"),
        F.round(F.avg(tx.avg_token_length(c)), 6).alias("avg_tok_len"),
        F.round(F.avg(tx.quality_score(c)), 6).alias("avg_quality"),
    )


def _sql_text_quality() -> str:
    from coffea_spark.llmdata.text import STOPWORDS

    sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    return rf"""
WITH t AS (
  SELECT lang,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), m AS (
  SELECT lang,
         len(toks) AS n,
         len(list_distinct(toks)) AS nd,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS atl,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> list_contains([{sw}], x))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS sw
  FROM t
)
SELECT lang,
       round(avg(n), 6) AS avg_tokens,
       round(avg(nd), 6) AS avg_distinct,
       round(avg(atl), 6) AS avg_tok_len,
       round(avg(round(
         0.4 * least(n / 50.0, 1.0)
         + 0.4 * (CASE WHEN n > 0 THEN CAST(nd AS DOUBLE) / n ELSE 0.0 END)
         + 0.2 * (1.0 - abs(sw - 0.1)), 6)), 6) AS avg_quality
FROM m GROUP BY lang
"""


def q_lang_id(spark, sf_dir):
    """Marker-scoring language id: predicted-language distribution
    (deterministic argmax, ties -> alphabetically-last language)."""
    from coffea_spark.llmdata.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(lang_id(F.col("text")).alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _sql_lang_id() -> str:
    from coffea_spark.llmdata.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_defs = []
    for lang in langs:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_defs.append(
            f"len(list_filter(toks, x -> list_contains([{markers}], x))) AS s_{lang}"
        )
    # argmax preferring alphabetically-last on ties (mirrors array_max over
    # struct<score,lang>)
    cases = []
    for i in range(len(langs) - 1, 0, -1):
        lang = langs[i]
        others = ", ".join(f"s_{l}" for l in langs[:i])
        greatest = f"greatest({others})" if "," in others else others
        cases.append(f"WHEN s_{lang} >= {greatest} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    return rf"""
WITH t AS (
  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT {', '.join(score_defs)} FROM t
)
SELECT {case_sql} AS pred_lang, count(*) AS n
FROM s GROUP BY 1
"""


def q_jaccard_dupes(spark, sf_dir):
    """Threshold char-5-gram Jaccard similarity join (jaccard >= 0.5),
    blocked by (lang, source), via PPJoin-style prefix filtering with
    exact array_intersect verification (llmdata/dedup.py jaccard_join).
    The oracle computes the naive all-pairs join and filters — the
    prefix filter provably returns the identical qualifying set, so the
    results hash-match while the Spark plan never goes quadratic in
    hot-shingle document frequency."""
    from coffea_spark.llmdata.dedup import jaccard_join

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_join(docs, 0.5, "doc_id", "text", 5, block_cols=["lang", "source"])
    return pairs.agg(
        F.count(F.lit(1)).alias("n_dupes"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        F.count_distinct(F.col("id_a")).alias("n_src_docs"),
    )


SQL_JACCARD_DUPES = r"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, lang, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(text) - 3, 1)), i -> substr(text, i, 5)))) AS shingle
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
  FROM tok a JOIN tok b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, ninter / (sa.sz + sb.sz - ninter) AS j
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
)
SELECT count(*) AS n_dupes,
       round(avg(j), 6) AS avg_jaccard,
       round(max(j), 6) AS max_jaccard,
       count(DISTINCT id_a) AS n_src_docs
FROM pairs WHERE j >= 0.5
"""


def q_jaccard_collapsed(spark, sf_dir):
    """Boilerplate-hardened near-dup pipeline (dedup.collapse_jaccard_join):
    exact-duplicate collapse, then HOT-MinHash-BUCKET collapse of
    templated near-identical boilerplate (portable universal-hash
    signatures so the whole composition stays engine-replayable), then
    PPJoin threshold Jaccard on the surviving representatives — the
    production posture BENCH_SKEW.md attributed q_jaccard_dupes' 7.4x
    skewed wall to not composing (a B-doc boilerplate cluster is
    ~B(B-1)/2 genuine pairs in the uncollapsed join; a handful of
    representative rows here). The oracle replays every stage:
    group-by-(block, text) election, portable MinHash banding + hot
    buckets + min-bucket grouping, then the naive all-pairs join on
    representatives — the prefix filter provably returns the identical
    qualifying set."""
    from coffea_spark.llmdata.dedup import collapse_jaccard_join

    docs = _t(spark, sf_dir, "documents")
    reps, pairs = collapse_jaccard_join(
        docs, 0.5, "doc_id", "text", 5, block_cols=["lang", "source"]
    )
    r = reps.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.sum("n_members").alias("n_docs"),
        (F.sum("n_members") - F.count(F.lit(1))).alias("n_collapsed"),
    )
    p = pairs.agg(
        F.count(F.lit(1)).alias("n_near_pairs"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )
    return r.crossJoin(p)


def _sql_jaccard_collapsed() -> str:
    """Replay the full composed pipeline: exact collapse, portable
    MinHash signatures (Rabin-Karp fingerprints + universal hashing mod
    2^31-1 — the `minhash_portable` math), 4-row band keys as canonical
    strings, smallest-hot-bucket (>8) nomination, member-vs-rep exact
    jaccard verification, then all-pairs jaccard over the surviving
    representatives."""
    from coffea_spark.llmdata.dedup import minhash_params

    rows = ",\n    ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(16))
    )
    return f"""
WITH exact AS MATERIALIZED (
  SELECT lang, source, text, min(doc_id) AS doc_id,
         count(*) AS n_members
  FROM documents GROUP BY lang, source, text
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(text) - 3, 1)), i -> substr(text, i, 5)))) AS s
  FROM exact
), fp AS (
  SELECT doc_id, list_reduce(
           list_transform(string_split_regex(s, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647) AS f
  FROM sh
), params(hash_idx, a, b) AS (VALUES
    {rows}),
sig AS (
  SELECT fp.doc_id, p.hash_idx,
         CAST(min((p.a * fp.f + p.b) % 2147483647) AS BIGINT) AS h
  FROM fp CROSS JOIN params p
  GROUP BY fp.doc_id, p.hash_idx
), bk AS MATERIALIZED (
  SELECT doc_id,
         CAST(hash_idx // 4 AS VARCHAR) || '_' ||
           string_agg(CAST(h AS VARCHAR), '_' ORDER BY hash_idx) AS _bk
  FROM sig GROUP BY doc_id, hash_idx // 4
), hot AS (
  SELECT _bk, lpad(CAST(count(*) AS VARCHAR), 12, '0') || '|' || _bk AS _gk
  FROM bk GROUP BY _bk HAVING count(*) > 8
), grp AS (
  SELECT b.doc_id, min(h._gk) AS _grp
  FROM bk b JOIN hot h USING (_bk) GROUP BY b.doc_id
), tagged AS MATERIALIZED (
  SELECT e.doc_id, e.lang, e.source, e.text, e.n_members, g._grp
  FROM exact e LEFT JOIN grp g USING (doc_id)
), cand AS MATERIALIZED (
  SELECT * FROM tagged WHERE _grp IS NOT NULL
), rid AS (
  SELECT _grp, min(doc_id) AS rid FROM cand GROUP BY _grp
), ctok AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(text) - 3, 1)), i -> substr(text, i, 5)))) AS s
  FROM cand
), csz AS (
  SELECT doc_id, count(*) AS sz FROM ctok GROUP BY doc_id
), vint AS (
  SELECT m.doc_id, count(*) AS ninter
  FROM cand m JOIN rid r USING (_grp)
  JOIN ctok a ON a.doc_id = m.doc_id
  JOIN ctok b ON b.doc_id = r.rid AND b.s = a.s
  WHERE m.doc_id <> r.rid
  GROUP BY m.doc_id
), ver AS (
  SELECT m.doc_id, m.lang, m.source, m.text, m.n_members, r.rid AS _rid,
         coalesce(coalesce(v.ninter, 0) * 1.0
           / nullif(coalesce(sa.sz, 0) + coalesce(sb.sz, 0)
                    - coalesce(v.ninter, 0), 0), 0) AS j
  FROM cand m
  JOIN rid r USING (_grp)
  LEFT JOIN vint v ON v.doc_id = m.doc_id
  LEFT JOIN csz sa ON sa.doc_id = m.doc_id
  LEFT JOIN csz sb ON sb.doc_id = r.rid
  WHERE m.doc_id <> r.rid
), passed AS (
  SELECT _rid, CAST(sum(n_members) AS BIGINT) AS nm_add
  FROM ver WHERE j >= 0.5 GROUP BY _rid
), rep AS MATERIALIZED (
  SELECT doc_id, lang, source, text, CAST(n_members AS BIGINT) AS n_members
  FROM tagged WHERE _grp IS NULL
  UNION ALL
  SELECT doc_id, lang, source, text, CAST(n_members AS BIGINT) AS n_members
  FROM ver WHERE j < 0.5
  UNION ALL
  SELECT c.doc_id, c.lang, c.source, c.text,
         CAST(c.n_members + coalesce(p.nm_add, 0) AS BIGINT) AS n_members
  FROM cand c JOIN rid r ON c.doc_id = r.rid
  LEFT JOIN passed p ON p._rid = c.doc_id
), tok AS MATERIALIZED (
  SELECT doc_id, lang, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(text) - 3, 1)), i -> substr(text, i, 5)))) AS shingle
  FROM rep
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
  FROM tok a JOIN tok b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT ninter / (sa.sz + sb.sz - ninter) AS j
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
)
SELECT (SELECT count(*) FROM rep) AS n_reps,
       (SELECT CAST(sum(n_members) AS BIGINT) FROM rep) AS n_docs,
       (SELECT CAST(sum(n_members) - count(*) AS BIGINT) FROM rep) AS n_collapsed,
       (SELECT count(*) FROM pairs WHERE j >= 0.5) AS n_near_pairs,
       (SELECT round(avg(j), 6) FROM pairs WHERE j >= 0.5) AS avg_jaccard,
       (SELECT round(max(j), 6) FROM pairs WHERE j >= 0.5) AS max_jaccard
"""


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pipeline: LSH candidates then exact-Jaccard
    verification. Not SQL-expressible (xxhash64 family) -> rows-only
    check; output is a single deterministic summary row."""
    from coffea_spark.llmdata.dedup import (
        minhash_dedup,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text", 5, 64).cache()
    # eagerly materialize the cached stages: three consumers (candidate
    # join sides + dedup verify) otherwise race a cold cache and re-run
    # the 64-hash signature aggregation per branch (the dominant cost —
    # same lesson as jaccard_join's eager counts)
    sig.count()
    cands = minhash_lsh_candidates(
        docs, "doc_id", "text", 5, 64, 16, signatures=sig
    ).cache()
    cands.count()
    dupes = minhash_dedup(
        docs, "doc_id", "text", threshold=0.5, n=5, n_hashes=64, bands=16,
        candidates=cands, signatures=sig,
    )
    c = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    d = dupes.agg(
        F.count(F.lit(1)).alias("n_dupes"),
        F.round(F.avg("jaccard"), 6).alias("avg_dup_jaccard"),
    )
    return c.crossJoin(d)


def q_simhash(spark, sf_dir):
    """SimHash fingerprint clustering (pure column math, no UDF) —
    rows-only (xxhash64 not reproducible in the oracle)."""
    from coffea_spark.llmdata.dedup import simhash_buckets

    docs = _t(spark, sf_dir, "documents")
    b = simhash_buckets(docs, "doc_id", "text")
    return b.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n_docs").alias("max_bucket"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0)).alias("n_docs_clustered"),
    )


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding (the
    exact-similarity baseline; plan is scan -> project -> TakeOrdered)."""
    from coffea_spark.llmdata.similarity import topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return topk_cosine(emb, [float(x) for x in query], k=10)


SQL_EMBEDDING_TOPK = """
SELECT b.vec_id,
       round(list_cosine_similarity(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cosine DESC, b.vec_id
LIMIT 10
"""


def q_embedding_label_pairs(spark, sf_dir):
    """Blocked pairwise cosine stats (embedding near-dup shape): all
    within-label pairs. Block key bounds the join fan-out."""
    from coffea_spark.llmdata.dedup import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, "vec_id", "embedding", block_col="label", threshold=-1.01)
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("cosine"), 6).alias("avg_cosine"),
        F.round(F.max("cosine"), 6).alias("max_cosine"),
    )


SQL_EMBEDDING_LABEL_PAIRS = """
SELECT a.label, count(*) AS n_pairs,
       round(avg(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS avg_cosine,
       round(max(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 6) AS max_cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
GROUP BY a.label
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, flag
    within-cluster cosine near-duplicates against lower-id keepers.
    Gate variant uses the DETERMINISTIC bucket-mean quantizer (id % 8
    component means, float32-snapped) so the DuckDB oracle reproduces
    the assignment exactly; production uses k-means (ivf_train). The
    0.42 threshold sits >= 1e-3 from every pair cosine at sf0.001/0.01
    (engine float divergence is ~1e-15) and flags a nonzero dup set."""
    from coffea_spark.llmdata.dedup import bucket_mean_centroids, semdedup

    emb = _t(spark, sf_dir, "embeddings")
    cents = bucket_mean_centroids(emb, 8)
    out = semdedup(emb, n_clusters=8, threshold=0.42, centroids=cents)
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.col("is_dup").cast("int").alias("is_dup"),
    )


SQL_SEMDEDUP = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
comp AS (
  SELECT vec_id % 8 AS bucket, t.pos AS pos, ev[t.pos] AS val
  FROM v, generate_series(1, 64) t(pos)
),
cm AS (
  SELECT bucket, pos, CAST(CAST(avg(val) AS FLOAT) AS DOUBLE) AS cv
  FROM comp GROUP BY bucket, pos
),
cent AS (SELECT bucket, list(cv ORDER BY pos) AS c FROM cm GROUP BY bucket),
asg AS (
  SELECT v.vec_id, c.bucket,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_inner_product(c.c, c.c) - 2 * list_inner_product(v.ev, c.c),
                    c.bucket) AS rk
  FROM v, cent c
),
cl AS (SELECT vec_id, bucket AS cluster FROM asg WHERE rk = 1),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  WHERE list_inner_product(va.ev, vb.ev)
        / (sqrt(list_inner_product(va.ev, va.ev))
           * sqrt(list_inner_product(vb.ev, vb.ev))) >= 0.42
)
SELECT cl.vec_id, CAST(cl.cluster AS INT) AS cluster,
       CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
FROM cl LEFT JOIN dup d ON d.vec_id = cl.vec_id
"""


def _planted_queries(emb: DataFrame) -> DataFrame:
    """Query table for the ANN/IVF recall gates: every 25th corpus
    vector, elementwise-perturbed (factor 1 + 0.001*((i + vec_id) % 7),
    NON-uniform so cosine < 1). Each query's exact nearest neighbor is
    its source vector at cosine ~0.99998 against a ~0.4 background —
    the planted-near-duplicate retrieval task that IS the production use
    of ANN in a dedup pipeline. Pure deterministic column math both
    engines reproduce bit-for-bit at 6 decimals."""
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        * (F.lit(1.0) + F.lit(0.001) * ((i + F.col("vec_id")) % 7).cast("double")),
    )
    return emb.filter(F.col("vec_id") % 25 == 3).select(
        F.col("vec_id").alias("qid"), pert.alias("qvec")
    )


def _exact_top1(queries: DataFrame, emb: DataFrame) -> DataFrame:
    """Brute-force exact nearest neighbor per planted query (the gold
    standard the approximate paths are graded against): broadcast the
    tiny query table across the corpus scan, rank by (rounded cosine
    desc, id)."""
    from coffea_spark.llmdata.similarity import dot as _dot
    from coffea_spark.llmdata.similarity import norm as _norm
    from pyspark.sql import Window as W

    # norms factored out of the cross join: per-ROW facts, recomputed
    # per PAIR if left inside cosine() (measured ~3x of the truth cost
    # at sf1). Identical expressions on identical inputs in the same
    # order -> bit-identical to cosine(embedding, qvec).
    sim = F.round(
        _dot(F.col("embedding"), F.col("qvec")) / (F.col("_vn") * F.col("_qn")), 6
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        emb.withColumn("_vn", _norm(F.col("embedding")))
        .join(F.broadcast(queries.withColumn("_qn", _norm(F.col("qvec")))))
        .select("qid", "vec_id", sim.alias("cosine"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("qid", F.col("vec_id").alias("top1_id"), F.col("cosine").alias("top1_cos"))
    )


def _recall_summary(exact1: DataFrame, approx: DataFrame, min_recall: float) -> DataFrame:
    """One-row summary both engines can check: exact-side aggregates
    (count / id checksum / mean top-1 cosine — fully oracle-computable)
    plus ``recall_ok``: did the approximate path retrieve the exact
    top-1 within its top-k for >= ``min_recall`` of queries? The oracle
    emits TRUE as a constant — if the approximate algorithm degrades,
    the Spark side emits FALSE and the value-hash goes red. Approximate
    operator, exact gate.

    ONE pass over ``exact1``: hit flags come from a single left join
    against the tiny (queries x k) approx result, and every summary
    column folds into the same aggregation — the brute-force oracle
    join (the expensive corpus x queries cosine scan) is evaluated
    exactly once, not once per output branch."""
    hitmark = (
        approx.select("qid", F.col("vec_id").alias("top1_id"))
        .distinct()  # defensive: duplicate approx rows must not double-count
        .withColumn("_hit", F.lit(1))
    )
    agg = exact1.join(F.broadcast(hitmark), ["qid", "top1_id"], "left").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("top1_id").alias("sum_top1_id"),
        F.round(F.avg("top1_cos"), 6).alias("avg_top1_cos"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"),
    )
    return agg.select(
        "n_queries",
        "sum_top1_id",
        "avg_top1_cos",
        (F.col("n_hit") >= F.lit(min_recall) * F.col("n_queries")).alias("recall_ok"),
    )


def q_ann_recall(spark, sf_dir):
    """Batched multi-probe hyperplane-LSH ANN (similarity.ann_join) with
    a CHECKED recall gate: planted near-duplicate queries, exact top-1
    oracle, recall@5 >= 0.9 as a hash-compared boolean. The corpus is
    bucketed once; each query probes its bucket + all Hamming-1
    neighbors (13 probes of 4096 buckets ~ 0.3% of the corpus per
    query)."""
    from coffea_spark.llmdata.similarity import ann_join

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    queries = _planted_queries(emb)
    approx = ann_join(
        queries, emb, k=5, n_planes=12, max_hamming=1, dim=dim
    )
    return _recall_summary(_exact_top1(queries, emb), approx, min_recall=0.9)


def q_ivf_recall(spark, sf_dir):
    """IVF with a CHECKED recall gate: train the coarse quantizer once
    (driver-side sample k-means), guard it against dominant cells
    (similarity.ivf_refine_oversized at 2x the mean list size — inert
    on the near-uniform gate corpus, measured splitting the 20%-hot-
    ball list on the skewed sf1 rehearsal, BENCH_SKEW.md), assign the
    corpus once (cached Arrow matmul), then serve the whole
    planted-query table through similarity.ivf_probe_join (n_probe=4 of
    16 lists ~ 25% of brute force). recall@5 >= 0.9 hash-compared like
    ann_recall."""
    import math

    from coffea_spark.llmdata.similarity import (
        ivf_assign_table,
        ivf_probe_join,
        ivf_refine_oversized,
        ivf_train,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_train(emb.sample(0.25, seed=1), n_lists=16, seed=42)
    assigned = ivf_assign_table(emb, cents).persist()
    n = assigned.count()  # materialize the one-time assignment
    cap = math.ceil(2 * n / 16)  # 2x mean: uniform lists untouched
    refined = ivf_refine_oversized(emb, cents, cap, assigned=assigned)
    # VALUE compare, not count compare: a point-mass oversized list makes
    # _median_bisect return exactly one replacement mean, so the guard
    # can fire with value-changed but equal-count centroids — a count
    # check would silently discard that refinement
    import numpy as np

    if not np.array_equal(refined, cents):  # guard fired: re-assign
        assigned.unpersist()
        cents = refined
        assigned = ivf_assign_table(emb, cents).persist()
        assigned.count()
    queries = _planted_queries(emb)
    approx = ivf_probe_join(queries, assigned, cents, k=5, n_probe=4)
    return _recall_summary(_exact_top1(queries, emb), approx, min_recall=0.9)


def q_pq_recall(spark, sf_dir):
    """Product quantization with a CHECKED recall gate (beyond reference;
    Jégou et al. 2011 PQ/ADC): codebooks trained on a bounded sample,
    the corpus PQ-ENCODED once to m small codes per vector (the
    compressed store a 100 TB embedding table actually keeps), queries
    scored by asymmetric distance — m table lookups per vector, each
    Arrow batch emitting only its per-query local top-k. recall@5 >= 0.9
    hash-compared exactly like ann_recall/ivf_recall."""
    from coffea_spark.llmdata.similarity import pq_adc_topk, pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, n_codes=16, seed=42)
    encoded = pq_encode(emb, books).persist()
    encoded.count()  # materialize the one-time encoding
    queries = _planted_queries(emb)
    approx = pq_adc_topk(queries, encoded, books, k=5)
    return _recall_summary(_exact_top1(queries, emb), approx, min_recall=0.9)


def q_exact_knn_blocked(spark, sf_dir):
    """EXACT nearest-neighbor retrieval at scan speed: the planted query
    table against the full corpus through similarity.exact_topk_join —
    one numpy matmul per Arrow batch, per-batch winners reduced by a
    tiny keyed window; the corpus is never shuffled and no pair set is
    ever materialized. This is the scalable spelling of the brute-force
    gold standard (the HOF cross-join `_exact_top1` is the bit-stable
    reference implementation; tests/test_similarity_exact.py pins the
    two to identical rows). Output: one row per query with its exact
    top-1 id and rounded cosine — directly hash-comparable."""
    from coffea_spark.llmdata.similarity import exact_topk_join

    emb = _t(spark, sf_dir, "embeddings")
    top1 = exact_topk_join(_planted_queries(emb), emb, k=1)
    return top1.select(
        "qid",
        F.col("vec_id").alias("top1_id"),
        F.col("cosine").alias("top1_cos"),
    )


def q_pq_rerank(spark, sf_dir):
    """Two-stage PQ search — the production PQ posture (BENCH_ANN_DECADE:
    raw ADC recall collapses 0.40 -> 0.15 as corpus density grows;
    re-ranking a shortlist with exact cosine restores 0.89 at sf10):
    the corpus is PQ-encoded WITH the raw vectors riding along
    (pq_encode keep_cols), each Arrow batch's ADC scan keeps a
    ``rerank``-deep shortlist per query, exact cosine re-scores the
    shortlist only, and the global top-1 ranks by (rounded cosine desc,
    id). Gate setting: ``rerank=1_000_000`` >= every possible Arrow
    batch, where the shortlist is the whole batch and the operator
    PROVABLY degenerates to the exact top-k — layout-invariant and
    hash-comparable against the same brute-force oracle that grades
    exact_knn_blocked, now exercised through the rerank plumbing
    (shortlist selection, exact re-score, cosine-ranked global
    window)."""
    from coffea_spark.llmdata.similarity import pq_adc_topk, pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, n_codes=16, seed=42)
    encoded = pq_encode(emb, books, keep_cols=("embedding",)).persist()
    encoded.count()  # materialize the one-time encoding
    queries = _planted_queries(emb)
    top1 = pq_adc_topk(queries, encoded, books, k=1, rerank=1_000_000)
    return top1.select(
        "qid",
        F.col("vec_id").alias("top1_id"),
        F.col("cosine").alias("top1_cos"),
    )


SQL_EXACT_KNN = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::DOUBLE * (1 + 0.001 * ((i - 1 + vec_id) % 7))) AS qvec
  FROM embeddings WHERE vec_id % 25 = 3
), ranked AS (
  SELECT q.qid, b.vec_id,
         round(list_cosine_similarity(b.embedding::DOUBLE[], q.qvec), 6) AS c,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY round(list_cosine_similarity(b.embedding::DOUBLE[], q.qvec), 6) DESC,
                    b.vec_id) AS rn
  FROM embeddings b, q
)
SELECT qid, vec_id AS top1_id, c AS top1_cos
FROM ranked WHERE rn = 1
"""


SQL_RECALL_GATE = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::DOUBLE * (1 + 0.001 * ((i - 1 + vec_id) % 7))) AS qvec
  FROM embeddings WHERE vec_id % 25 = 3
), ranked AS (
  SELECT q.qid, b.vec_id,
         round(list_cosine_similarity(b.embedding::DOUBLE[], q.qvec), 6) AS c,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY round(list_cosine_similarity(b.embedding::DOUBLE[], q.qvec), 6) DESC,
                    b.vec_id) AS rn
  FROM embeddings b, q
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(vec_id) AS BIGINT) AS sum_top1_id,
       round(avg(c), 6) AS avg_top1_cos,
       TRUE AS recall_ok
FROM ranked WHERE rn = 1
"""


def _fixture(sf_dir, name: str, write: Callable[[str], object]) -> str:
    """The cached fixture dir ``name`` of the corpus at ``sf_dir``,
    built by ``write(tmp)`` on first use. Fixtures hold already-encoded
    media, so a gate's measured path pays only the decode.

    The key is ``<basename>_<sha1(abspath, stamp)[:8]>_<name>`` under
    the system temp dir, where the stamp is the path, size and
    ``mtime_ns`` of each file of the corpus's ``documents.parquet`` (as
    :func:`~coffea_spark.root_reader.open_tree` keys its readers): two
    corpora with one basename (``/a/sf0.01`` and ``/b/sf0.01``) never
    share a fixture, and a corpus rewritten in place gets a new one. A
    dir without ``_SUCCESS`` (a
    stale partial from an interrupted run) is rebuilt, not read. The
    build fills ``<key>.tmp`` and renames it into place; a concurrent
    writer winning the rename is fine (the contents are deterministic),
    any other rename failure raises."""
    import hashlib
    import shutil
    import tempfile

    ap = os.path.abspath(sf_dir)
    docs = os.path.join(ap, "documents.parquet")
    files = [docs] if os.path.isfile(docs) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(docs) for f in fs
    )
    stamp = [(p, st.st_size, st.st_mtime_ns) for p in files for st in [os.stat(p)]]
    digest = hashlib.sha1(repr((ap, stamp)).encode()).hexdigest()[:8]
    tag = (os.path.basename(ap) or "sf") + "_" + digest
    out = os.path.join(tempfile.gettempdir(), "coffea_spark_fixtures", f"{tag}_{name}")
    done = os.path.join(out, "_SUCCESS")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "a").close()
        if not os.path.exists(done):  # a stale partial dir blocks the rename
            shutil.rmtree(out, ignore_errors=True)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.exists(done):
                raise
    return out


def _docs_fixture(spark, sf_dir, name: str, *cols) -> str:
    """Parquet :func:`_fixture` of the corpus's documents projected to
    ``cols``."""
    return _fixture(
        sf_dir,
        name,
        lambda tmp: _t(spark, sf_dir, "documents").select(*cols).write.parquet(tmp),
    )


def _image_fixture(spark, sf_dir, name: str, payloads, fmt, width, height) -> str:
    """One encoded image per document: ``doc_id``, ``lang`` and the
    ``image`` struct of the ``payloads(doc_id)`` bytes (a pandas-UDF
    body), its ``fmt`` label and its ``width``/``height``."""
    return _docs_fixture(
        spark,
        sf_dir,
        name,
        "doc_id",
        "lang",
        F.struct(
            F.pandas_udf(payloads, "binary")("doc_id").alias("data"),
            fmt.alias("format"),
            width.cast("int").alias("width"),
            height.cast("int").alias("height"),
        ).alias("image"),
    )


def _multimodal_fixture(spark, sf_dir) -> str:
    """The deterministic per-document grayscale images
    (synthetic_gray_payloads): PNG for doc_id %3==0, paletted BMP for
    other odd ids, binary PGM otherwise."""
    from coffea_spark.llmdata.multimodal import synthetic_gray_payloads

    return _image_fixture(
        spark,
        sf_dir,
        "multimodal_v3",
        synthetic_gray_payloads,
        F.when(F.col("doc_id") % 3 == 0, F.lit("png"))
        .when(F.col("doc_id") % 2 == 1, F.lit("bmp"))
        .otherwise(F.lit("pgm")),
        F.lit(8) + F.col("doc_id") % 9,
        F.lit(8) + F.col("doc_id") % 7,
    )


def _pcm_fixture(
    spark, sf_dir, name: str, codec: str, encode, n0: int, n_mod: int, stereo: bool
) -> str:
    """One deterministic PCM clip per document in the ``audio`` struct:
    sample i of doc d = ((d*13 + 5i) % 4001) - 2000, n = n0 + d%n_mod,
    8 kHz, stereo (L=R) for d%5==0 when ``stereo``; ``encode(pcm,
    8000)`` makes the container bytes."""
    import numpy as np
    import pandas as pd

    def clips(ids):
        out = []
        for d in ids:
            d = int(d)
            pcm = (((d * 13 + 5 * np.arange(n0 + d % n_mod)) % 4001) - 2000).astype(np.int16)
            if stereo and d % 5 == 0:
                pcm = np.stack([pcm, pcm], axis=1)
            out.append(encode(pcm, 8000))
        return pd.Series(out)

    return _docs_fixture(
        spark,
        sf_dir,
        name,
        "doc_id",
        "lang",
        F.struct(
            F.pandas_udf(clips, "binary")("doc_id").alias("data"),
            F.lit(codec).alias("codec"),
            F.lit(8000).alias("sample_rate"),
            (F.lit(n0) + F.col("doc_id") % n_mod).cast("long").alias("n_samples"),
        ).alias("audio"),
    )


def _audio_fixture(spark, sf_dir) -> str:
    """The PCM clips (n = 400 + d%300, stereo for d%5==0) in REAL
    RIFF/WAVE 16-bit containers."""
    from coffea_spark.llmdata.multimodal import encode_wav

    return _pcm_fixture(spark, sf_dir, "audio", "wav", encode_wav, 400, 300, stereo=True)


def _clip_stats(feats):
    """Per-language clip count, total duration, mean RMS, peak sum and
    mean zero-crossing rate of ``audio_features`` rows: the aggregate
    the WAV, FLAC and ADPCM gates compare with their oracles."""
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.sum("duration_s"), 6).alias("sum_dur"),
        F.round(F.avg("rms"), 6).alias("avg_rms"),
        F.sum("peak").alias("sum_peak"),
        F.round(F.avg("zcr"), 6).alias("avg_zcr"),
    )


def q_audio_features(spark, sf_dir):
    """REAL audio decode through the gate (llmdata/multimodal.py
    real_audio_decoder): formula-derived PCM clips are encoded once into
    a parquet fixture of actual RIFF/WAVE containers (16-bit mono and
    stereo), then the measured query scans the fixture, parses the WAV
    chunks with the numpy-only decoder (stereo downmixed L=R), and
    aggregates (duration, RMS, peak, zero-crossing rate) per language.
    The oracle recomputes every statistic from the PCM formula — any
    chunk-walk, byte-order, bit-depth, or channel bug goes hash-red."""
    from coffea_spark.llmdata.multimodal import audio_features, real_audio_decoder

    docs = spark.read.parquet(_audio_fixture(spark, sf_dir))
    feats = audio_features(docs, "audio", decoder=real_audio_decoder)
    return _clip_stats(feats)


SQL_AUDIO_FEATURES = """
WITH d AS (
  SELECT doc_id, lang, 400 + doc_id % 300 AS n FROM documents
), pcm AS (
  SELECT lang, n,
         list_transform(range(0, n),
           i -> CAST((doc_id * 13 + 5 * i) % 4001 - 2000 AS DOUBLE)) AS s
  FROM d
), st AS (
  SELECT lang,
         n / 8000.0 AS dur,
         sqrt(list_avg(list_transform(s, x -> x * x))) AS rms,
         list_max(list_transform(s, x -> abs(x))) AS peak,
         CAST(len(list_filter(range(1, n),
              i -> (s[i] < 0) <> (s[i + 1] < 0))) AS DOUBLE) / (n - 1) AS zcr
  FROM pcm
)
SELECT lang, count(*) AS n_clips,
       round(sum(dur), 6) AS sum_dur,
       round(avg(rms), 6) AS avg_rms,
       CAST(sum(peak) AS BIGINT) AS sum_peak,
       round(avg(zcr), 6) AS avg_zcr
FROM st GROUP BY lang
"""


def _flac_fixture(spark, sf_dir) -> str:
    """The SAME PCM clips as :func:`_audio_fixture` in REAL FLAC streams
    (llmdata/flac.py: STREAMINFO + CONSTANT/FIXED-order-2 frames with
    rice residuals). FLAC is lossless, so the decoded stats must equal
    the WAV gate's — the oracle is shared verbatim."""
    from coffea_spark.llmdata.flac import encode_flac

    return _pcm_fixture(spark, sf_dir, "flac", "flac", encode_flac, 400, 300, stereo=True)


def q_flac_features(spark, sf_dir):
    """REAL FLAC decode through the gate (llmdata/flac.py: frame sync,
    CRC-8/16 verification, CONSTANT/FIXED subframes, rice residuals;
    real_audio_decoder sniffs the fLaC magic): the fixture carries the
    SAME deterministic PCM as the WAV gate inside actual FLAC streams,
    and FLAC is LOSSLESS — so this gate shares SQL_AUDIO_FEATURES
    verbatim. Any prediction, rice, framing, or stereo bug shifts the
    decoded statistics and goes hash-red."""
    from coffea_spark.llmdata.multimodal import audio_features, real_audio_decoder

    docs = spark.read.parquet(_flac_fixture(spark, sf_dir))
    feats = audio_features(docs, "audio", decoder=real_audio_decoder)
    return _clip_stats(feats)


def q_audio_resample(spark, sf_dir):
    """Linear-interpolation resampling to an awkward target rate
    (8 kHz -> 5513 Hz, so the fractional position varies across the
    whole grid) through the real WAV decode path
    (multimodal.resample_features / resample_linear). Position math is
    INTEGER-exact (i0 = i*src // dst, frac = (i*src mod dst)/dst), so
    the oracle replays every output sample bit-for-bit from the PCM
    formula — any off-by-one in grid length, bin selection, or
    endpoint clamping goes hash-red."""
    from coffea_spark.llmdata.multimodal import real_audio_decoder, resample_features

    docs = spark.read.parquet(_audio_fixture(spark, sf_dir))
    feats = resample_features(docs, "audio", 5513, decoder=real_audio_decoder)
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_out").alias("sum_n_out"),
        F.round(F.avg("mean_out"), 6).alias("avg_mean"),
        F.round(F.avg("rms_out"), 6).alias("avg_rms"),
    )


# integer-exact grid replay: i0 = (i*8000)//5513, frac = rem/5513;
# DuckDB lists are 1-based, hence the +1/+2 indexing
SQL_AUDIO_RESAMPLE = """
WITH d AS (
  SELECT doc_id, lang, 400 + doc_id % 300 AS n FROM documents
), pcm AS (
  SELECT lang, n,
         list_transform(range(0, n),
           i -> CAST((doc_id * 13 + 5 * i) % 4001 - 2000 AS DOUBLE)) AS s
  FROM d
), rs AS (
  SELECT lang, (n - 1) * 5513 // 8000 + 1 AS n_out,
         list_transform(range(0, (n - 1) * 5513 // 8000 + 1),
           i -> s[(i * 8000) // 5513 + 1]
                + (s[least((i * 8000) // 5513 + 2, n)]
                   - s[(i * 8000) // 5513 + 1])
                  * CAST((i * 8000) % 5513 AS DOUBLE) / 5513
         ) AS y
  FROM pcm
), st AS (
  SELECT lang, n_out, list_avg(y) AS m,
         sqrt(list_avg(list_transform(y, v -> v * v))) AS r
  FROM rs
)
SELECT lang, count(*) AS n_clips,
       CAST(sum(n_out) AS BIGINT) AS sum_n_out,
       round(avg(m), 6) AS avg_mean,
       round(avg(r), 6) AS avg_rms
FROM st GROUP BY lang
"""


def q_audio_tones(spark, sf_dir):
    """Goertzel tone detection (multimodal.tone_features) over the real
    WAV fixture: single-bin DFT power at 625 and 1000 Hz per clip. The
    oracle uses the Goertzel<->DFT identity — the recurrence's power
    s1^2 + s2^2 - c*s1*s2 equals |sum_k x[k] e^{-iwk}|^2 exactly — so
    DuckDB replays each bin as two trig sums over the PCM formula; a
    recurrence bug (wrong c, state swap, off-by-one) lands far outside
    the rounding quantum."""
    from coffea_spark.llmdata.multimodal import real_audio_decoder, tone_features

    docs = spark.read.parquet(_audio_fixture(spark, sf_dir))
    feats = tone_features(
        docs, "audio", freqs=(625.0, 1000.0), decoder=real_audio_decoder
    )
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.round(F.avg(F.col("tone_power")[0]), 2).alias("avg_p625"),
        F.round(F.avg(F.col("tone_power")[1]), 2).alias("avg_p1000"),
    )


SQL_AUDIO_TONES = """
WITH d AS (
  SELECT doc_id, lang, 400 + doc_id % 300 AS n FROM documents
), pcm AS (
  SELECT lang, n,
         list_transform(range(0, n),
           i -> CAST((doc_id * 13 + 5 * i) % 4001 - 2000 AS DOUBLE)) AS s
  FROM d
), g AS (
  SELECT lang,
         (pow(list_sum(list_transform(range(0, n), k -> s[k + 1] * cos(2 * pi() * 625.0 / 8000 * k))), 2)
          + pow(list_sum(list_transform(range(0, n), k -> s[k + 1] * sin(2 * pi() * 625.0 / 8000 * k))), 2))
         / pow(n / 2.0, 2) AS p625,
         (pow(list_sum(list_transform(range(0, n), k -> s[k + 1] * cos(2 * pi() * 1000.0 / 8000 * k))), 2)
          + pow(list_sum(list_transform(range(0, n), k -> s[k + 1] * sin(2 * pi() * 1000.0 / 8000 * k))), 2))
         / pow(n / 2.0, 2) AS p1000
  FROM pcm
)
SELECT lang, count(*) AS n_clips,
       round(avg(p625), 2) AS avg_p625,
       round(avg(p1000), 2) AS avg_p1000
FROM g GROUP BY lang
"""


def _adpcm_fixture(spark, sf_dir) -> str:
    """The PCM formula with n = 600 + d%500, mono, in REAL IMA ADPCM
    RIFF/WAVE containers (format tag 0x11, 4:1 compression, 256-byte
    blocks -> 505 samples/block, so every clip spans 2-3 blocks and
    exercises header re-sync)."""
    from coffea_spark.llmdata.multimodal import encode_wav_adpcm

    return _pcm_fixture(
        spark, sf_dir, "adpcm", "ima_adpcm", encode_wav_adpcm, 600, 500, stereo=False
    )


def q_adpcm_features(spark, sf_dir):
    """COMPRESSED audio decode through the gate: clips are IMA ADPCM
    (WAV tag 0x11 — 4-bit adaptive-delta blocks, 4:1 compression;
    llmdata/multimodal.py `encode_wav_adpcm`/`_adpcm_decode_chunk`),
    decoded by the numpy-only block decoder and aggregated (duration,
    RMS, peak, zero-crossing rate) per language. The oracle REPLAYS
    THE ENTIRE CODEC STATE MACHINE in SQL: a recursive CTE steps the
    adaptive predictor (89-entry step table, index adjust, int16
    clamp, per-block header reset) sample by sample from the same PCM
    formula, so the features must match BIT-EXACTLY — any nibble
    quantization, step-table, clamp, block-boundary, or `fact`-trim
    bug in either codec half goes hash-red. Lossy codec, exact gate:
    the replayed reconstruction is deterministic.

    Reference analogue: coffea has no audio path; this extends the
    multimodal decode surface the LLM-data brief requires."""
    from coffea_spark.llmdata.multimodal import (
        audio_features,
        real_audio_batch_decoder,
        real_audio_decoder,
    )

    docs = spark.read.parquet(_adpcm_fixture(spark, sf_dir))
    feats = audio_features(
        docs, "audio", decoder=real_audio_decoder,
        batch_decoder=real_audio_batch_decoder,
    )
    return _clip_stats(feats)


def _sql_adpcm_features() -> str:
    """DuckDB replay of the IMA ADPCM encoder+decoder (they share one
    state machine: the encoder tracks exactly the decoder's
    reconstruction). Recursive CTE, one iteration per sample; nested
    derived tables bind the quantizer intermediates (step, delta,
    nibble bits, diff) so every value is computed once. NOTE: DuckDB
    1.0's `list_reduce` mis-evaluates stateful lambdas on long lists
    (verified: positional CASE branches fire at wrong elements past
    ~500 entries), so the recursive-CTE spelling is load-bearing."""
    from coffea_spark.llmdata.multimodal import IMA_STEPS

    steps = "[" + ",".join(str(v) for v in IMA_STEPS.tolist()) + "]"
    s0 = "(doc_id * 13) % 4001 - 2000"
    return f"""
WITH RECURSIVE d AS (
  SELECT doc_id, lang, 600 + doc_id % 500 AS n FROM documents
),
r AS (
  SELECT doc_id, lang, n, 0 AS pos,
         CAST({s0} AS INTEGER) AS pred, 0 AS idx,
         CAST({s0} AS BIGINT) * ({s0}) AS ssq,
         abs(CAST({s0} AS INTEGER)) AS peak, 0 AS zc,
         CAST({s0} AS INTEGER) AS prev
  FROM d
  UNION ALL
  SELECT doc_id, lang, n, i AS pos,
         rec AS pred, idx2 AS idx,
         ssq + CAST(rec AS BIGINT) * rec AS ssq,
         GREATEST(peak, abs(rec)) AS peak,
         zc + CASE WHEN (rec < 0) <> (prev < 0) THEN 1 ELSE 0 END AS zc,
         rec AS prev
  FROM (
    SELECT t8.*, CASE WHEN hdr THEN s ELSE recn END AS rec,
           CASE WHEN hdr THEN 0 ELSE GREATEST(0, LEAST(88, idx
             + ([-1,-1,-1,-1,2,4,6,8])[(CASE WHEN n4 THEN 4 ELSE 0 END
               + CASE WHEN n2 THEN 2 ELSE 0 END
               + CASE WHEN n1 THEN 1 ELSE 0 END) + 1])) END AS idx2
    FROM (
      SELECT t7.*, GREATEST(-32768, LEAST(32767,
               CASE WHEN delta < 0 THEN pred - dif ELSE pred + dif END)) AS recn
      FROM (
        SELECT t6.*, step // 8 + CASE WHEN n4 THEN step ELSE 0 END
               + CASE WHEN n2 THEN step // 2 ELSE 0 END
               + CASE WHEN n1 THEN step // 4 ELSE 0 END AS dif
        FROM (
          SELECT t5.*, (m2 - CASE WHEN n2 THEN step // 2 ELSE 0 END)
                 >= step // 4 AS n1
          FROM (
            SELECT t4.*, (m2 >= step // 2) AS n2
            FROM (
              SELECT t3.*, (mag - CASE WHEN n4 THEN step ELSE 0 END) AS m2
              FROM (
                SELECT t2.*, (mag >= step) AS n4
                FROM (
                  SELECT t1.*, abs(delta) AS mag
                  FROM (
                    SELECT t0.*, ({steps})[idx + 1] AS step,
                           s - pred AS delta
                    FROM (
                      SELECT r.*, pos + 1 AS i,
                             CAST((doc_id * 13 + 5 * (pos + 1)) % 4001 - 2000
                                  AS INTEGER) AS s,
                             ((pos + 1) % 505 = 0) AS hdr
                      FROM r WHERE pos + 1 < n
                    ) t0
                  ) t1
                ) t2
              ) t3
            ) t4
          ) t5
        ) t6
      ) t7
    ) t8
  ) t9
),
fin AS (
  SELECT lang, n / 8000.0 AS dur,
         sqrt(CAST(ssq AS DOUBLE) / n) AS rms,
         peak, CAST(zc AS DOUBLE) / (n - 1) AS zcr
  FROM r WHERE pos = n - 1
)
SELECT lang, count(*) AS n_clips,
       round(sum(dur), 6) AS sum_dur,
       round(avg(rms), 6) AS avg_rms,
       CAST(sum(peak) AS BIGINT) AS sum_peak,
       round(avg(zcr), 6) AS avg_zcr
FROM fin GROUP BY lang
"""


def _video_fixture(spark, sf_dir) -> str:
    """Deterministic video clips in REAL YUV4MPEG2 containers: doc d
    gets n = 4 + d%5 frames of (6 + 2*(d%4)) x (8 + 2*(d%5)) luma with
    pixel i of frame f = (d*17 + f*29 + 3i) % 256 (chroma neutral)."""
    import numpy as np
    import pandas as pd

    from coffea_spark.llmdata.multimodal import encode_y4m

    def clips(ids):
        out = []
        for d in ids:
            d = int(d)
            nf, h, w = 4 + d % 5, 6 + 2 * (d % 4), 8 + 2 * (d % 5)
            frames = np.stack(
                [
                    ((d * 17 + f * 29 + 3 * np.arange(h * w)) % 256)
                    .astype(np.uint8)
                    .reshape(h, w)
                    for f in range(nf)
                ]
            )
            out.append(encode_y4m(frames))
        return pd.Series(out)

    return _docs_fixture(
        spark, sf_dir, "video", "doc_id", "lang",
        F.pandas_udf(clips, "binary")("doc_id").alias("video"),
    )


def q_video_frames(spark, sf_dir):
    """REAL video container decode through the gate
    (llmdata/multimodal.py decode_y4m + sample_frames): formula-derived
    luma frames are encoded once into a parquet fixture of actual
    YUV4MPEG2 streams, then the measured query scans the fixture,
    parses the Y4M header/FRAME markers, samples every 2nd frame
    (the UDTF one-row-in-many-out shape), and aggregates per-frame luma
    means per language. The oracle recomputes every mean from the pixel
    formula — any header, marker, plane-size, or sampling bug goes
    hash-red."""
    import numpy as np
    import pandas as pd

    from coffea_spark.llmdata.multimodal import real_video_frames, sample_frames

    docs = spark.read.parquet(_video_fixture(spark, sf_dir))
    frames = sample_frames(docs, every_n=2, decoder=real_video_frames)

    @F.pandas_udf("double")
    def frame_mean(fr):
        return fr.map(lambda b: float(np.frombuffer(b, np.uint8).mean()))

    return frames.select("lang", "frame_no", frame_mean("frame").alias("m")).groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_no").cast("bigint").alias("sum_frame_no"),
        F.round(F.avg("m"), 6).alias("avg_luma"),
        F.round(F.sum("m"), 2).alias("sum_luma"),
    )


SQL_VIDEO_FRAMES = """
WITH d AS (
  SELECT doc_id, lang, 4 + doc_id % 5 AS nf,
         (6 + 2 * (doc_id % 4)) * (8 + 2 * (doc_id % 5)) AS npx
  FROM documents
), fr AS (
  SELECT lang, npx, unnest(list_filter(range(0, nf), f -> f % 2 = 0)) AS f,
         doc_id
  FROM d
), m AS (
  SELECT lang, f,
         list_avg(list_transform(range(0, npx),
           i -> CAST((doc_id * 17 + f * 29 + 3 * i) % 256 AS DOUBLE))) AS m
  FROM fr
)
SELECT lang, count(*) AS n_frames,
       CAST(sum(f) AS BIGINT) AS sum_frame_no,
       round(avg(m), 6) AS avg_luma,
       round(sum(m), 2) AS sum_luma
FROM m GROUP BY lang
"""


def q_multimodal_features(spark, sf_dir):
    """REAL image decode through the gate: per document a deterministic
    grayscale image (pixel i = (doc_id*31 + 7i) % 256, size tied to
    doc_id) is encoded ONCE into a parquet fixture of actual containers
    (PNG for ids %3==0, paletted BMP for other odd ids, binary PGM else —
    _multimodal_fixture), then the measured query SCANS the fixture and
    DECODES with the numpy-only parsers in llmdata/multimodal.py
    (real_image_decoder, the default) via the mapInPandas Arrow-batch
    path, aggregating decoded (width, height, mean, std) per language.
    The oracle recomputes the pixel statistics directly from the
    formula — any header, padding, palette, row-order, or byte-order
    bug in either codec shifts the decoded stats and goes hash-red."""
    from coffea_spark.llmdata.multimodal import image_features

    docs = spark.read.parquet(_multimodal_fixture(spark, sf_dir))
    feats = image_features(docs, "image")
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("img_width").alias("sum_w"),
        F.sum("img_height").alias("sum_h"),
        F.round(F.avg("img_mean"), 6).alias("avg_mean"),
        F.round(F.avg("img_std"), 6).alias("avg_std"),
    )


def q_image_patches(spark, sf_dir):
    """ViT-style patch statistics (multimodal.patch_features): decode
    the real PNG/BMP/PGM fixture, tile each image into 4x4 patch means
    (crop-to-multiple, the standard ViT grid) and aggregate the
    patch-contrast texture signal per language. The oracle replays the
    patch grid arithmetic — crop, row-major indexing, block means, the
    E[m^2]-E[m]^2 contrast shape — directly from the pixel formula."""
    from coffea_spark.llmdata.multimodal import patch_features

    docs = spark.read.parquet(_multimodal_fixture(spark, sf_dir))
    feats = patch_features(docs, "image", patch=4)
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_patches").alias("sum_patches"),
        F.round(F.avg("patch_mean_avg"), 6).alias("avg_pmean"),
        F.round(F.avg("patch_mean_max"), 6).alias("avg_pmax"),
        F.round(F.avg("patch_contrast"), 6).alias("avg_contrast"),
    )


SQL_IMAGE_PATCHES = """
WITH d AS (
  SELECT doc_id, lang,
         8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
         ((8 + doc_id % 7) - (8 + doc_id % 7) % 4) // 4 AS nr,
         ((8 + doc_id % 9) - (8 + doc_id % 9) % 4) // 4 AS nc
  FROM documents
), pm AS (
  SELECT lang, nr * nc AS np,
         list_transform(range(0, nr * nc), j ->
           list_sum(list_transform(range(0, 16), q ->
             CAST((doc_id * 31
                   + 7 * (((j // nc) * 4 + q // 4) * w
                          + ((j % nc) * 4 + q % 4))) % 256 AS DOUBLE)
           )) / 16.0
         ) AS m
  FROM d
), st AS (
  SELECT lang, np, list_avg(m) AS mu, list_max(m) AS mx,
         sqrt(greatest(list_avg(list_transform(m, v -> v * v))
                       - list_avg(m) * list_avg(m), 0.0)) AS ct
  FROM pm
)
SELECT lang, count(*) AS n,
       CAST(sum(np) AS BIGINT) AS sum_patches,
       round(avg(mu), 6) AS avg_pmean,
       round(avg(mx), 6) AS avg_pmax,
       round(avg(ct), 6) AS avg_contrast
FROM st GROUP BY lang
"""


def _jpeg_fixture(spark, sf_dir) -> str:
    """The deterministic block-constant grayscale images (8x8 block
    (i,j) of doc d = (d*37 + i*16 + j*5) % 256) through the REAL
    baseline JPEG encoder (llmdata/jpeg.py)."""
    from coffea_spark.llmdata.multimodal import synthetic_jpeg_payloads

    return _image_fixture(
        spark,
        sf_dir,
        "jpeg",
        synthetic_jpeg_payloads,
        F.lit("jpeg"),
        F.lit(8) * (1 + F.col("doc_id") % 4),
        F.lit(8) * (1 + F.col("doc_id") % 3),
    )


def q_jpeg_features(spark, sf_dir):
    """REAL JPEG decode through the gate: block-constant grayscale
    images encoded once by the numpy-only baseline JPEG encoder
    (_jpeg_fixture), then the measured query SCANS the fixture and runs
    the full baseline-sequential DECODE chain — marker parse, canonical
    Huffman, dezigzag, dequantize, IDCT — in real_image_decoder via the
    mapInPandas Arrow-batch path (llmdata/jpeg.py). Block-constant
    images survive the lossy codec exactly (DC-only blocks, all-ones
    quant), so the oracle recomputes every statistic from the generator
    formula: any Huffman, bit-stuffing, DCT, or marker bug shifts the
    decoded stats and goes hash-red. sum_pixels doubles as an exact
    integer checksum of the full pixel content."""
    from coffea_spark.llmdata.multimodal import image_features

    docs = spark.read.parquet(_jpeg_fixture(spark, sf_dir))
    feats = image_features(docs, "image")
    pixel_sum = F.round(
        F.col("img_mean") * F.col("img_width") * F.col("img_height")
    ).cast("long")
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("img_width").alias("sum_w"),
        F.sum("img_height").alias("sum_h"),
        F.round(F.avg("img_mean"), 6).alias("avg_mean"),
        F.round(F.avg("img_std"), 6).alias("avg_std"),
        F.sum(pixel_sum).alias("sum_pixels"),
    )


SQL_JPEG_FEATURES = """
WITH d AS (
  SELECT doc_id, lang, 1 + doc_id % 3 AS bh, 1 + doc_id % 4 AS bw
  FROM documents
), blk AS (
  SELECT lang, bh, bw,
         flatten(list_transform(range(0, bh), i ->
           list_transform(range(0, bw), j ->
             CAST((doc_id * 37 + i * 16 + j * 5) % 256 AS DOUBLE)))) AS b
  FROM d
), stats AS (
  SELECT lang, 8 * bw AS w, 8 * bh AS h, list_avg(b) AS m,
         sqrt(list_avg(list_transform(b, x -> x * x)) - list_avg(b) ^ 2) AS s,
         CAST(64 * list_sum(b) AS BIGINT) AS ps
  FROM blk
)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(w) AS BIGINT) AS sum_w,
       CAST(sum(h) AS BIGINT) AS sum_h,
       round(avg(m), 6) AS avg_mean,
       round(avg(s), 6) AS avg_std,
       CAST(sum(ps) AS BIGINT) AS sum_pixels
FROM stats GROUP BY lang
"""


def _tile_jpeg_fixture(spark, sf_dir, progressive: bool) -> str:
    """The deterministic tile-constant RGB images through the REAL 4:2:0
    color JPEG encoder (llmdata/jpeg.py): baseline sequential, or
    PROGRESSIVE (SOF2) with ``progressive``."""
    from coffea_spark.llmdata import multimodal as mm

    return _image_fixture(
        spark,
        sf_dir,
        "jpeg_prog" if progressive else "jpeg_color",
        mm.synthetic_progressive_jpeg_payloads
        if progressive
        else mm.synthetic_color_jpeg_payloads,
        F.lit("jpeg"),
        F.lit(16) * (1 + F.col("doc_id") % 3),
        F.lit(16) * (1 + F.col("doc_id") % 2),
    )


def _tile_jpeg_stats(spark, sf_dir, progressive: bool):
    """Decode :func:`_tile_jpeg_fixture` in YCbCr and aggregate per
    language: image count, size sums, plane means and the pixel sum —
    the one aggregate SQL_JPEG_COLOR_FEATURES checks for both the
    sequential and the progressive stream."""
    from coffea_spark.llmdata.multimodal import color_image_features

    docs = spark.read.parquet(_tile_jpeg_fixture(spark, sf_dir, progressive))
    return color_image_features(docs, "image").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("img_width").alias("sum_w"),
        F.sum("img_height").alias("sum_h"),
        F.round(F.avg("mean_c0"), 6).alias("avg_y"),
        F.round(F.avg("mean_c1"), 6).alias("avg_cb"),
        F.round(F.avg("mean_c2"), 6).alias("avg_cr"),
        F.sum("sum_pixels").alias("sum_pixels"),
    )


def q_jpeg_color_features(spark, sf_dir):
    """REAL COLOR JPEG decode through the gate (llmdata/jpeg.py
    encode_color_jpeg/decode_jpeg — baseline-sequential YCbCr 4:2:0,
    the storage form of essentially every web photo): tile-constant RGB
    images encoded once into a fixture, then the measured query runs
    the full 3-component MCU-interleaved decode — per-component
    predictors/tables, chroma subsample framing, replication upsample —
    via the mapInPandas Arrow-batch path. Features compare in YCbCr
    space, where tile-constant images survive the codec EXACTLY (the
    RGB transform rounds); the generator's multiples-of-4 channels keep
    every YCbCr value >= 1e-3 from a .5 boundary so numpy half-even and
    SQL half-away rounding agree (domain-scanned). sum_pixels is an
    exact integer checksum of all three coded planes."""
    return _tile_jpeg_stats(spark, sf_dir, progressive=False)


def q_jpeg_progressive_features(spark, sf_dir):
    """REAL PROGRESSIVE JPEG decode through the gate (llmdata/jpeg.py
    SOF2: multi-scan spectral selection + successive approximation with
    EOB-run accumulation and the T.81 G.1.2.3 AC refinement algorithm —
    the storage form of most large web photos): the SAME tile-constant
    images as jpeg_color_features, encoded progressive. Progressive
    coefficient coding is LOSSLESS, so the decoded YCbCr planes must be
    bit-identical to the sequential stream's and the gate shares
    SQL_JPEG_COLOR_FEATURES verbatim — any divergence in any scan type
    flips the hash."""
    return _tile_jpeg_stats(spark, sf_dir, progressive=True)


SQL_JPEG_COLOR_FEATURES = """
WITH d AS (
  SELECT doc_id, lang, 1 + doc_id % 2 AS bh, 1 + doc_id % 3 AS bw
  FROM documents
), tiles AS (
  SELECT doc_id, lang, bh, bw,
         4 * ((doc_id * 37 + i * 16 + j * 5) % 64) AS r,
         4 * ((doc_id * 53 + i * 8 + j * 3) % 64) AS g,
         4 * ((doc_id * 29 + i * 4 + j * 7) % 64) AS b
  FROM d, UNNEST(range(0, bh)) AS ui(i), UNNEST(range(0, bw)) AS uj(j)
), ycc AS (
  SELECT doc_id, lang, bh, bw,
         round(0.299 * r + 0.587 * g + 0.114 * b) AS y,
         round(128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b) AS cb,
         round(128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b) AS cr
  FROM tiles
), stats AS (
  SELECT doc_id, lang, 16 * bw AS w, 16 * bh AS h,
         avg(y) AS my, avg(cb) AS mcb, avg(cr) AS mcr,
         CAST(256 * sum(y + cb + cr) AS BIGINT) AS ps
  FROM ycc GROUP BY doc_id, lang, bh, bw
)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
       round(avg(my), 6) AS avg_y, round(avg(mcb), 6) AS avg_cb,
       round(avg(mcr), 6) AS avg_cr,
       CAST(sum(ps) AS BIGINT) AS sum_pixels
FROM stats GROUP BY lang
"""


SQL_MULTIMODAL = """
WITH d AS (
  SELECT doc_id, lang, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT lang, w, h,
         list_transform(range(0, w * h),
                        i -> CAST((doc_id * 31 + 7 * i) % 256 AS DOUBLE)) AS p
  FROM d
), stats AS (
  SELECT lang, w, h, list_avg(p) AS m,
         sqrt(list_avg(list_transform(p, x -> x * x)) - list_avg(p) ^ 2) AS s
  FROM px
)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(w) AS BIGINT) AS sum_w,
       CAST(sum(h) AS BIGINT) AS sum_h,
       round(avg(m), 6) AS avg_mean,
       round(avg(s), 6) AS avg_std
FROM stats GROUP BY lang
"""


# ---------------------------------------------------------------------------
# lookup / corrections / lumi / genealogy / weights / ML / streaming
# ---------------------------------------------------------------------------

def q_histo_sf(spark, sf_dir):
    """Histogram-fed scale factor through the EXTRACTOR REGISTRY
    (reference lookup_tools/extractor.py:41-218 + the .histo.json
    converter, json_converters.py:13-45): two weight sets (value +
    error tables) registered from one EGM-style histogram file,
    finalized into an evaluator, and applied as literal-array column
    math. The oracle replays both 2-D lookups as CASE chains over the
    same bin edges with clamp-to-edge semantics."""
    from coffea_spark.lookup import Extractor

    data = os.path.join(os.path.dirname(__file__), "data", "demo.histo.json")
    ex = Extractor()
    ex.add_weight_sets([
        f"sf DEMO/abseta_pt_ratio {data}",
        f"sferr DEMO/abseta_pt_ratio_error {data}",
    ])
    ex.finalize()
    ev = ex.make_evaluator()
    li = _t(spark, sf_dir, "lineitem")
    abseta = F.col("l_discount") * 14.4
    pt = F.col("l_quantity")
    return (
        li.withColumn("_sf", ev["sf"](abseta, pt))
        .withColumn("_err", ev["sferr"](abseta, pt))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_sf"), 2).alias("sum_sf"),
            F.round(F.avg("_err"), 6).alias("avg_err"),
        )
    )


# clamp-to-edge 2-D lookup over the demo.histo.json tables: abseta bins
# [0, 0.8, 1.44] (values > 1.44 clamp into the top bin), pt bins
# [25, 27, 30, 40] (values outside clamp into the edge bins)
SQL_HISTO_SF = """
WITH j AS (
  SELECT l_linestatus, l_discount * 14.4 AS abseta, l_quantity AS pt
  FROM lineitem
), v AS (
  SELECT l_linestatus,
    CASE WHEN abseta < 0.8 THEN
      CASE WHEN pt < 27 THEN 0.903 WHEN pt < 30 THEN 0.921 ELSE 0.940 END
    ELSE
      CASE WHEN pt < 27 THEN 0.867 WHEN pt < 30 THEN 0.886 ELSE 0.910 END
    END AS sf,
    CASE WHEN abseta < 0.8 THEN
      CASE WHEN pt < 27 THEN 0.051 WHEN pt < 30 THEN 0.042 ELSE 0.030 END
    ELSE
      CASE WHEN pt < 27 THEN 0.078 WHEN pt < 30 THEN 0.040 ELSE 0.035 END
    END AS err
  FROM j
)
SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(sf) AS DOUBLE), 2) AS sum_sf,
       round(CAST(avg(err) AS DOUBLE), 6) AS avg_err
FROM v GROUP BY l_linestatus
"""


def q_dense_lookup(spark, sf_dir):
    """2-D binned correction lookup (reference dense_lookup,
    lookup_tools/dense_lookup.py:8-60): per-lineitem scale factor from a
    (quantity, discount) table, applied and re-aggregated. The table is a
    literal array gather — fully codegen'd, zero shuffle beyond the final
    agg. Oracle replicates searchsorted-right bin edges as CASE chains
    with THE SAME literals (no floor-division, which can disagree with
    edge comparisons in float)."""
    import numpy as np

    from coffea_spark.lookup import DenseLookup

    qedges = np.array([1.0, 11.0, 21.0, 31.0, 41.0, 51.0])
    dedges = np.array([0.0, 0.02, 0.04, 0.06, 0.08, 0.11])
    iq, idx = np.meshgrid(np.arange(5), np.arange(5), indexing="ij")
    values = (0.9 + 0.02 * iq) + 0.01 * idx
    lut = DenseLookup(values, [qedges, dedges])

    li = _t(spark, sf_dir, "lineitem")
    sf = lut(F.col("l_quantity"), F.col("l_discount"))
    return (
        li.withColumn("_sf", sf)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("_sf")), 2).alias("sum_corrected"),
            F.round(F.avg("_sf"), 6).alias("avg_sf"),
        )
    )


SQL_DENSE_LOOKUP = """
WITH b AS (
  SELECT l_returnflag, l_extendedprice,
         (0.9 + 0.02 * (CASE WHEN l_quantity >= 41 THEN 4
                             WHEN l_quantity >= 31 THEN 3
                             WHEN l_quantity >= 21 THEN 2
                             WHEN l_quantity >= 11 THEN 1
                             ELSE 0 END))
         + 0.01 * (CASE WHEN l_discount >= 0.08 THEN 4
                        WHEN l_discount >= 0.06 THEN 3
                        WHEN l_discount >= 0.04 THEN 2
                        WHEN l_discount >= 0.02 THEN 1
                        ELSE 0 END) AS sf
  FROM lineitem
)
SELECT l_returnflag, count(*) AS n,
       round(sum(l_extendedprice * sf), 2) AS sum_corrected,
       round(avg(sf), 6) AS avg_sf
FROM b GROUP BY 1
"""


def q_formula_jec(spark, sf_dir):
    """Chained multiplicative correction levels (reference
    FactorizedJetCorrector, jetmet_tools/FactorizedJetCorrector.py:51-240):
    level 2 sees the pt corrected by level 1. Formulas use only
    IEEE-correctly-rounded ops (sqrt, /, *, +) so the oracle is
    bit-identical."""
    from coffea_spark.corrections import FactorizedJetCorrector
    from coffea_spark.lookup import FormulaLookup

    import numpy as np

    l1 = FormulaLookup(
        ["1.0 + 100.0/sqrt(x)", "1.0 + 50.0/sqrt(x)"], np.array([0.0, 0.05, 0.11])
    )
    l2 = FormulaLookup(
        ["0.95 + 1.0/sqrt(x)", "1.05 - 1.0/sqrt(x)"], np.array([0.0, 0.05, 0.11])
    )
    corr = FactorizedJetCorrector([l1, l2])

    li = _t(spark, sf_dir, "lineitem")
    eta, pt = F.col("l_discount"), F.col("l_extendedprice")
    subs = corr.get_sub_corrections(eta, pt)
    return (
        li.select(
            (pt * corr.get_correction(eta, pt)).alias("_cp"),
            subs[0].alias("_c1"),
            subs[1].alias("_c2"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_cp"), 2).alias("sum_corrected_pt"),
            F.round(F.avg("_c1"), 6).alias("avg_c1"),
            F.round(F.avg("_c2"), 6).alias("avg_c2"),
        )
    )


SQL_FORMULA_JEC = """
WITH c AS (
  SELECT l_extendedprice AS pt, l_discount AS d,
         CASE WHEN l_discount >= 0.05 THEN 1.0 + 50.0/sqrt(l_extendedprice)
              ELSE 1.0 + 100.0/sqrt(l_extendedprice) END AS c1
  FROM lineitem
), c2t AS (
  SELECT pt, c1,
         CASE WHEN d >= 0.05 THEN 1.05 - 1.0/sqrt(pt * c1)
              ELSE 0.95 + 1.0/sqrt(pt * c1) END AS c2
  FROM c
)
SELECT count(*) AS n,
       round(sum(pt * (c1 * c2)), 2) AS sum_corrected_pt,
       round(avg(c1), 6) AS avg_c1,
       round(avg(c2), 6) AS avg_c2
FROM c2t
"""


GOLDEN_RANGES = {3: [[10, 40]], 5: [[0, 25], [60, 90]], 11: [[5, 95]], 16: [[100, 149]]}


def q_lumi_mask(spark, sf_dir):
    """Golden-JSON interval semi-join (reference LumiMask,
    lumi_tools/lumi_tools.py:188-270): events kept when (run, lumi) falls
    in an accepted range. Exercises BOTH spellings — the literal-array
    exists() mask and the broadcast range semi-join — and proves they
    agree in one output row."""
    from coffea_spark.lumi import LumiMask

    mask = LumiMask(GOLDEN_RANGES)
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("run", F.col("event_id") % 17)
        .withColumn("lumi", F.col("user_id"))
    )
    kept = ev.filter(mask.mask(F.col("run"), F.col("lumi")))
    kept_join = mask.apply_join(ev, run="run", lumi="lumi")
    a = kept.agg(
        F.count(F.lit(1)).alias("n_pass"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    b = kept_join.agg(F.count(F.lit(1)).alias("n_pass_join"))
    return a.crossJoin(b)


SQL_LUMI_MASK = """
WITH kept AS (
  SELECT value FROM (
    SELECT value, event_id % 17 AS run, user_id AS lumi FROM events
  ) WHERE (run = 3 AND lumi BETWEEN 10 AND 40)
     OR (run = 5 AND (lumi BETWEEN 0 AND 25 OR lumi BETWEEN 60 AND 90))
     OR (run = 11 AND lumi BETWEEN 5 AND 95)
     OR (run = 16 AND lumi BETWEEN 100 AND 149)
)
SELECT count(*) AS n_pass, round(sum(value), 2) AS sum_value,
       count(*) AS n_pass_join
FROM kept
"""


def q_lumi_sum(spark, sf_dir):
    """Luminosity accounting (reference LumiData.get_lumi,
    lumi_tools/lumi_tools.py:100-186): sum intlumi over the DISTINCT
    (run, lumi) pairs present in the events. The lumi table is generated
    distributed (spark.range — no driver-side rows) and broadcast into
    the join; the distinct is the only data shuffle."""
    from coffea_spark.lumi import LumiData

    table = (
        spark.range(17 * 150)
        .select(
            (F.col("id") / 150).cast("long").alias("run"),
            (F.col("id") % 150).alias("lumi"),
            (F.col("id").cast("double") * 0.001).alias("intlumi"),
        )
    )
    ev = (
        _t(spark, sf_dir, "events", floor=False)
        .withColumn("run", F.col("event_id") % 17)
        .withColumn("lumi", F.col("user_id"))
    )
    return LumiData(table).get_lumi_df(ev, run="run", lumi="lumi").select(
        "n_pairs", F.round(F.col("total_lumi"), 6).alias("total_lumi")
    )


SQL_LUMI_SUM = """
SELECT count(*) AS n_pairs,
       round(sum(CAST(run * 150 + lumi AS DOUBLE) * 0.001), 6) AS total_lumi
FROM (SELECT DISTINCT event_id % 17 AS run, user_id AS lumi FROM events)
"""


def q_genealogy_walk(spark, sf_dir):
    """Parent/children pointer-chase within events (reference GenParticle
    genealogy: transforms.py:182-299, methods/nanoaod.py:113-202).
    Particles = items of an order in a synthetic binary tree
    (mother(i) = floor((i-1)/2)), pdg = suppkey % 7. children is a pure
    HOF inversion; distinctParent is the Arrow-batched pandas-UDF walk.
    The oracle replays the walk with a recursive CTE."""
    from coffea_spark.genealogy import MOTHER, children, distinct_parent

    orders = _order_items(spark, sf_dir)
    parts = F.transform(
        "items",
        lambda x, i: F.struct(
            (x["l_suppkey"] % 7).cast("int").alias("pdgId"),
            F.when(i == 0, F.lit(-1))
            .otherwise(F.floor((i - 1) / 2))
            .cast("int")
            .alias(MOTHER),
        ),
    )
    gp = orders.select(parts.alias("gp"))
    kids = children(F.col("gp"))
    sum_child_pdg = F.aggregate(
        F.flatten(kids), F.lit(0).cast("long"), lambda a, c: a + c["pdgId"]
    )
    n_children = F.aggregate(kids, F.lit(0), lambda a, k: a + F.size(k))
    dp = distinct_parent(F.col("gp"))
    n_dp = F.size(F.filter(dp, lambda p: p.isNotNull()))
    sum_dp_pdg = F.aggregate(
        F.filter(dp, lambda p: p.isNotNull()),
        F.lit(0).cast("long"),
        lambda a, p: a + p["pdgId"],
    )
    n_roots = F.size(F.filter(F.col("gp"), lambda p: p[MOTHER] < 0))
    return gp.select(
        F.size("gp").alias("np"),
        n_roots.alias("nr"),
        n_children.alias("nc"),
        sum_child_pdg.alias("scp"),
        n_dp.alias("ndp"),
        sum_dp_pdg.alias("sdp"),
    ).agg(
        F.sum("np").alias("n_particles"),
        F.sum("nr").alias("n_roots"),
        F.sum("nc").alias("n_children"),
        F.sum("scp").alias("sum_child_pdg"),
        F.sum("ndp").alias("n_distinct_parent"),
        F.sum("sdp").alias("sum_dp_pdg"),
    )


SQL_GENEALOGY = """
WITH RECURSIVE p AS MATERIALIZED (
  SELECT l_orderkey AS ok, rn, CAST(l_suppkey % 7 AS INT) AS pdg,
         CASE WHEN rn = 0 THEN -1 ELSE CAST(floor((rn - 1) / 2) AS INT) END AS mom
  FROM (
    SELECT l_orderkey, l_suppkey,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_quantity,
                                       l_extendedprice, l_discount, l_suppkey) - 1 AS rn
    FROM lineitem
  )
),
walk AS (
  SELECT a.ok, a.rn AS start_rn, a.pdg AS pdg0, a.mom AS cur FROM p a
  UNION ALL
  SELECT w.ok, w.start_rn, w.pdg0, b.mom
  FROM walk w JOIN p b ON b.ok = w.ok AND b.rn = w.cur
  WHERE w.cur >= 0 AND b.pdg = w.pdg0
),
dp AS (
  SELECT w.ok, w.start_rn, w.cur,
         (SELECT b.pdg FROM p b WHERE b.ok = w.ok AND b.rn = w.cur) AS dp_pdg
  FROM walk w
  WHERE w.cur < 0
     OR EXISTS (SELECT 1 FROM p b
                WHERE b.ok = w.ok AND b.rn = w.cur AND b.pdg <> w.pdg0)
)
SELECT
  (SELECT count(*) FROM p) AS n_particles,
  (SELECT count(*) FROM p WHERE mom < 0) AS n_roots,
  (SELECT count(*) FROM p WHERE mom >= 0) AS n_children,
  (SELECT CAST(sum(a.pdg) AS BIGINT) FROM p a JOIN p b ON a.ok = b.ok AND a.mom = b.rn) AS sum_child_pdg,
  (SELECT count(*) FROM dp WHERE cur >= 0) AS n_distinct_parent,
  (SELECT CAST(sum(dp_pdg) AS BIGINT) FROM dp WHERE cur >= 0) AS sum_dp_pdg
"""


def q_weights_variations(spark, sf_dir):
    """Weights with up/down modifiers and partial products (reference
    Weights, analysis_tools.py:195-441): one conditional-agg pass yields
    nominal, varied, and partial sums."""
    w = Weights()
    d, q = F.col("l_discount"), F.col("l_quantity")
    w.add("disc", 1.0 + d, weightUp=1.0 + 1.5 * d, weightDown=1.0 + 0.5 * d)
    w.add("qty", q / 25.0)
    li = _t(spark, sf_dir, "lineitem", floor=False)
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(w.weight()), 2).alias("sumw"),
        F.round(F.sum(w.weight("discUp")), 2).alias("sumw_up"),
        F.round(F.sum(w.weight("discDown")), 2).alias("sumw_down"),
        F.round(F.sum(w.partial_weight(include=["qty"])), 2).alias("sumw_qty"),
    )


SQL_WEIGHTS_VARIATIONS = """
SELECT count(*) AS n,
       round(sum((1.0 + l_discount) * (l_quantity / 25.0)), 2) AS sumw,
       round(sum(((1.0 + l_discount) * (l_quantity / 25.0))
                 * ((1.0 + 1.5 * l_discount) / (1.0 + l_discount))), 2) AS sumw_up,
       round(sum(((1.0 + l_discount) * (l_quantity / 25.0))
                 * ((1.0 + 0.5 * l_discount) / (1.0 + l_discount))), 2) AS sumw_down,
       round(sum(l_quantity / 25.0), 2) AS sumw_qty
FROM lineitem
"""


_MLP_PATH = os.path.join(os.path.dirname(__file__), "data", "mlp_demo.npz")


def q_ml_score(spark, sf_dir):
    """Batch ML inference with a REAL loaded model artifact (reference
    ml_tools/helper.py:10-386 + tests/test_ml_tools.py): a pure-numpy
    MLP whose weights ship as an .npz file, loaded once per executor by
    mltools.numpy_mlp_wrapper and applied as an Arrow-batched pandas
    UDF over the stacked embedding batch. The oracle replays the same
    weights (read from the same artifact at SQL-generation time) as
    literal arrays in DuckDB."""
    from coffea_spark.mltools import numpy_mlp_wrapper

    scorer = numpy_mlp_wrapper(_MLP_PATH, name="mlp-demo")
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        "label", scorer(F.col("embedding").cast("array<double>")).alias("score")
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


def _sql_ml_score() -> str:
    """Replay the .npz MLP weights as DuckDB literal-array math."""
    import numpy as np

    z = np.load(_MLP_PATH)
    W1, b1, W2, b2 = z["W1"], z["b1"], z["W2"], float(z["b2"])
    d, h = W1.shape

    def lst(a):
        return "[" + ", ".join(repr(float(v)) for v in a) + "]"

    hidden = []
    for j in range(h):
        wj = lst(W1[:, j])
        hidden.append(
            f"greatest(list_sum(list_transform(range(1, {d + 1}), "
            f"i -> e[i] * ({wj}::DOUBLE[])[i])) + ({float(b1[j])!r}), 0.0) AS h{j}"
        )
    head = " + ".join(f"h{j} * ({float(W2[j])!r})" for j in range(h))
    return f"""
WITH x AS (
  SELECT label, embedding::DOUBLE[] AS e FROM embeddings
), hid AS (
  SELECT label, {', '.join(hidden)} FROM x
), s AS (
  SELECT label, 1.0 / (1.0 + exp(-({head} + ({b2!r})))) AS score FROM hid
)
SELECT label, count(*) AS n,
       round(avg(score), 6) AS avg_score,
       round(max(score), 6) AS max_score
FROM s GROUP BY 1
"""


_GBDT_PATH = os.path.join(os.path.dirname(__file__), "data", "gbdt_demo.json")


def q_gbdt_score(spark, sf_dir):
    """GBDT (XGBoost-JSON) batch inference — the fasttext/GBDT
    quality-classifier inference stage of LLM data pipelines (reference
    front-end: ml_tools/xgboost_wrapper.py:14-60): a 4-tree ensemble in
    the official save_model JSON layout is loaded once per executor
    (mltools.gbdt_load_json) and evaluated as level-synchronous numpy
    over Arrow batches (mltools.gbdt_wrapper) — no xgboost runtime.
    Features are cheap text statistics (token count, mean token length,
    distinct-token ratio) computed as scan-stage column math. The
    oracle replays every tree as a nested SQL CASE chain generated from
    the SAME artifact (mltools.gbdt_sql_expr), so a split/leaf/routing
    drift goes hash-red. Scale: scan -> project -> one pandas_udf ->
    groupBy(lang); the model is KB-sized data, broadcast implicitly via
    task closure."""
    from coffea_spark.llmdata import text as tx
    from coffea_spark.mltools import gbdt_wrapper

    scorer = gbdt_wrapper(_GBDT_PATH, name="gbdt-demo")
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    feats = docs.select(
        "lang",
        tx.token_count(c).cast("double").alias("nw"),
        tx.avg_token_length(c).alias("ml"),
        (
            tx.distinct_token_count(c).cast("double") / tx.token_count(c)
        ).alias("dr"),
    ).filter(F.col("nw") > 0)
    scored = feats.select(
        "lang", scorer(F.col("nw"), F.col("ml"), F.col("dr")).alias("score")
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


def _sql_gbdt_score() -> str:
    """Replay the committed XGBoost-JSON ensemble as CASE chains."""
    from coffea_spark.mltools import gbdt_load_json, gbdt_sql_expr

    expr = gbdt_sql_expr(gbdt_load_json(_GBDT_PATH), ["nw", "ml", "dr"])
    return rf"""
WITH t AS (
  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT lang,
         CAST(len(toks) AS DOUBLE) AS nw,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS ml,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr
  FROM t WHERE len(toks) > 0
), s AS (
  SELECT lang, {expr} AS score FROM f
)
SELECT lang, count(*) AS n,
       round(avg(score), 6) AS avg_score,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM s GROUP BY lang
"""


def q_tree_train(spark, sf_dir):
    """DISTRIBUTED decision-tree TRAINING (mltools.tree_train — the
    histogram recipe Spark MLlib's DecisionTree uses: one aggregation
    pass per level builds (node, feature, bin) class histograms, the
    driver argmaxes gini gain over that tiny table, split literals feed
    the next level): a depth-2 CART on three text statistics with an
    XOR-style label ((nw > 55) != (dr > 0.5)) that NO single split can
    separate — so the gate only passes if both levels grow correctly.
    Inference over the trained tree is a pure column expression
    (mltools.gbdt_predict_column, whole-stage codegen, no UDF). The
    oracle replays the ENTIRE training — uniform binning, cumulative
    histograms, gini gains with identical IEEE op order, (gain DESC,
    feature, bin) tie-breaks, leaf means — plus the scoring pass in
    SQL, so a drift anywhere in the recipe goes hash-red (the logreg
    quality_classifier precedent, extended to trees)."""
    from coffea_spark.llmdata import text as tx
    from coffea_spark.mltools import gbdt_predict_column, tree_train

    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    labeled = (
        docs.select(
            "lang",
            tx.token_count(c).cast("double").alias("nw"),
            tx.avg_token_length(c).alias("ml"),
            (
                tx.distinct_token_count(c).cast("double") / tx.token_count(c)
            ).alias("dr"),
        )
        .filter(F.col("nw") > 0)
        .withColumn(
            "y", ((F.col("nw") > 55.0) != (F.col("dr") > 0.5)).cast("double")
        )
        .cache()  # scanned once per level + once for scoring
    )
    model = tree_train(labeled, ["nw", "ml", "dr"], "y", max_depth=2, n_bins=8)
    t = model["trees"][0]
    scored = labeled.select(
        "lang", "y", gbdt_predict_column(model, ["nw", "ml", "dr"]).alias("s")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("s"), 6).alias("avg_score"),
            F.round(F.avg(F.abs(F.col("s") - F.col("y"))), 6).alias("avg_abs_err"),
        )
        .withColumn("root_feat", F.lit(int(t["feat"][0])))
        .withColumn("root_thr", F.round(F.lit(float(t["cond"][0])), 6))
    )


def q_gbdt_train(spark, sf_dir):
    """DISTRIBUTED GRADIENT BOOSTING (mltools.gbdt_train — squared
    error, depth-1 stumps, the GBDT training loop on Spark): each round
    is ONE (feature, bin) histogram aggregation over residuals
    QUANTIZED to 6 decimals and accumulated as exact DECIMAL (the
    NUMERICS.md rule applied to training itself), so the oracle replays
    every round — residual update, decimal cumulative histogram,
    variance-reduction gains in identical IEEE order, (gain DESC,
    feature, bin) tie-breaks, leaf means — and the final scoring pass
    in SQL. Regression target: token count from (mean token length,
    distinct-token ratio). Inference over the boosted ensemble is the
    UDF-free column expression (gbdt_predict_column)."""
    from coffea_spark.llmdata import text as tx
    from coffea_spark.mltools import gbdt_predict_column, gbdt_train

    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    labeled = (
        docs.select(
            "lang",
            tx.token_count(c).cast("double").alias("y"),
            tx.avg_token_length(c).alias("ml"),
            (
                tx.distinct_token_count(c).cast("double") / tx.token_count(c)
            ).alias("dr"),
        )
        .filter(F.col("y") > 0)
        .cache()  # scanned once per boosting round + once for scoring
    )
    model = gbdt_train(
        labeled, ["ml", "dr"], "y", n_rounds=3, lr=0.5, n_bins=8
    )
    t1 = model["trees"][0]
    scored = labeled.select(
        "lang", "y", gbdt_predict_column(model, ["ml", "dr"]).alias("p")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p"), 6).alias("avg_pred"),
            F.round(F.avg(F.abs(F.col("y") - F.col("p"))), 6).alias("avg_abs_err"),
        )
        .withColumn("stump1_feat", F.lit(int(t1["feat"][0])))
        .withColumn("stump1_thr", F.round(F.lit(float(t1["cond"][0])), 6))
        .withColumn("n_stumps", F.lit(len(model["trees"])))
    )


def _sql_gbdt_train() -> str:
    """Programmatically generated replay of the 3-round boosting loop:
    one CTE block per round (residual -> unpivot -> decimal histogram ->
    cumulative -> gain argmax with leaf values/threshold), then the
    x < thr scoring pass."""
    n_rounds, lr, nb = 3, 0.5, 8
    head = r"""
WITH tok AS (
  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), l AS (
  SELECT lang,
         CAST(len(toks) AS DOUBLE) AS y,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS ml,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr
  FROM tok WHERE len(toks) > 0
), lim AS (
  SELECT min(ml) lo0, max(ml) hi0, min(dr) lo1, max(dr) hi1 FROM l
), b AS (
  SELECT l.*,
    CAST(least(greatest(floor((ml - lo0) * 8.0 / (hi0 - lo0)), 0), 7) AS INT) AS b0,
    CAST(least(greatest(floor((dr - lo1) * 8.0 / (hi1 - lo1)), 0), 7) AS INT) AS b1
  FROM l, lim
)"""
    blocks = []
    for k in range(1, n_rounds + 1):
        # Rounds that find no positive-gain split leave s_k EMPTY; the
        # Spark side breaks its loop there. LEFT JOIN + COALESCE makes
        # an empty s_k a no-op (contributes 0 to the prediction), and
        # because residuals are then unchanged, every later round's
        # argmax is also empty — the SQL replay degrades to exactly the
        # stump count Spark trained (n_stumps counts non-empty s_k).
        prior = " + ".join(
            f"COALESCE((CASE WHEN (CASE s{j}.f WHEN 0 THEN b.b0 ELSE b.b1 END) <= s{j}.bin "
            f"THEN s{j}.vl ELSE s{j}.vr END), 0.0)"
            for j in range(1, k)
        )
        pred = f"(0.0 + {prior})" if prior else "(0.0)"
        froms = "b" + "".join(f" LEFT JOIN s{j} ON TRUE" for j in range(1, k))
        blocks.append(f"""
r{k} AS (
  SELECT b.lang, b.y, b.ml, b.dr, b.b0, b.b1,
         CAST(round(b.y - {pred}, 6) AS DECIMAL(18,6)) AS r
  FROM {froms}
), u{k} AS (
  SELECT 0 AS f, b0 AS bin, r FROM r{k}
  UNION ALL SELECT 1, b1, r FROM r{k}
), h{k} AS (
  SELECT f, bin, count(*) AS n, sum(r) AS s FROM u{k} GROUP BY f, bin
), t{k} AS ( SELECT count(*) AS n, sum(r) AS s FROM r{k} ),
c{k} AS (
  SELECT f, bin,
         sum(n) OVER (PARTITION BY f ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(s) OVER (PARTITION BY f ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS sl
  FROM h{k}
), g{k} AS (
  SELECT f, bin, nl, sl, t.n AS n_all, t.s AS s_all,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
           + CAST(t.s - sl AS DOUBLE) * CAST(t.s - sl AS DOUBLE) / (t.n - nl)
           - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / t.n AS gain
  FROM c{k}, t{k} t WHERE bin < {nb - 1} AND nl > 0 AND nl < t.n
), s{k} AS (
  SELECT f, bin,
         {lr!r} * (CAST(sl AS DOUBLE) / nl) AS vl,
         {lr!r} * (CAST(s_all - sl AS DOUBLE) / (n_all - nl)) AS vr,
         (SELECT CASE f WHEN 0 THEN lo0 + (bin + 1) * (hi0 - lo0) / {nb}
                        ELSE lo1 + (bin + 1) * (hi1 - lo1) / {nb} END
          FROM lim) AS thr
  FROM g{k} WHERE gain > 0 ORDER BY gain DESC, f, bin LIMIT 1
)""")
    score = " + ".join(
        f"COALESCE((CASE WHEN (CASE s{j}.f WHEN 0 THEN b.ml ELSE b.dr END) < s{j}.thr "
        f"THEN s{j}.vl ELSE s{j}.vr END), 0.0)"
        for j in range(1, n_rounds + 1)
    )
    froms = "b" + "".join(f" LEFT JOIN s{j} ON TRUE" for j in range(1, n_rounds + 1))
    n_stumps = " + ".join(
        f"(SELECT count(*) FROM s{j})" for j in range(1, n_rounds + 1)
    )
    tail = f"""
, scored AS (
  SELECT b.lang, b.y, (0.0 + {score}) AS p FROM {froms}
)
SELECT lang, count(*) AS n,
       round(avg(p), 6) AS avg_pred,
       round(avg(abs(y - p)), 6) AS avg_abs_err,
       (SELECT f FROM s1) AS stump1_feat,
       (SELECT round(thr, 6) FROM s1) AS stump1_thr,
       CAST({n_stumps} AS INT) AS n_stumps
FROM scored GROUP BY lang
"""
    return head + "," + ",".join(blocks) + tail


SQL_TREE_TRAIN = r"""
WITH tok AS (
  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), l AS (
  SELECT lang,
         CAST(len(toks) AS DOUBLE) AS nw,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS ml,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dr,
         CASE WHEN (len(toks) > 55.0) <> ((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) > 0.5)
              THEN 1.0 ELSE 0.0 END AS y
  FROM tok WHERE len(toks) > 0
), lim AS (
  SELECT min(nw) lo0, max(nw) hi0, min(ml) lo1, max(ml) hi1,
         min(dr) lo2, max(dr) hi2 FROM l
), b AS (
  SELECT l.*,
    CAST(least(greatest(floor((nw - lo0) * 8.0 / (hi0 - lo0)), 0), 7) AS INT) AS b0,
    CAST(least(greatest(floor((ml - lo1) * 8.0 / (hi1 - lo1)), 0), 7) AS INT) AS b1,
    CAST(least(greatest(floor((dr - lo2) * 8.0 / (hi2 - lo2)), 0), 7) AS INT) AS b2
  FROM l, lim
), u0 AS (
  SELECT 0 AS f, b0 AS bin, y FROM b
  UNION ALL SELECT 1, b1, y FROM b
  UNION ALL SELECT 2, b2, y FROM b
), h0 AS (
  SELECT f, bin, count(*) AS n, sum(y) AS pos FROM u0 GROUP BY f, bin
), tot0 AS ( SELECT count(*) AS n, sum(y) AS pos FROM b ),
c0 AS (
  SELECT f, bin,
         sum(n) OVER (PARTITION BY f ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(pos) OVER (PARTITION BY f ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS posl
  FROM h0
), g0 AS (
  SELECT f, bin,
         (1 - (t.pos / t.n) * (t.pos / t.n)
            - ((t.n - t.pos) / t.n) * ((t.n - t.pos) / t.n))
         - (nl / t.n) * (1 - (posl / nl) * (posl / nl)
                           - ((nl - posl) / nl) * ((nl - posl) / nl))
         - ((t.n - nl) / t.n) * (1 - ((t.pos - posl) / (t.n - nl)) * ((t.pos - posl) / (t.n - nl))
                                   - (((t.n - nl) - (t.pos - posl)) / (t.n - nl)) * (((t.n - nl) - (t.pos - posl)) / (t.n - nl))) AS gain
  FROM c0, tot0 t WHERE bin < 7 AND nl > 0 AND nl < t.n
), best0 AS (
  SELECT f, bin FROM g0 WHERE gain > 0 ORDER BY gain DESC, f, bin LIMIT 1
), a1 AS (
  SELECT b.*, CASE WHEN (CASE s.f WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END) <= s.bin
                   THEN 'L' ELSE 'R' END AS side
  FROM b, best0 s
), u1 AS (
  SELECT side, 0 AS f, b0 AS bin, y FROM a1
  UNION ALL SELECT side, 1, b1, y FROM a1
  UNION ALL SELECT side, 2, b2, y FROM a1
), h1 AS (
  SELECT side, f, bin, count(*) AS n, sum(y) AS pos FROM u1 GROUP BY side, f, bin
), tot1 AS ( SELECT side, count(*) AS n, sum(y) AS pos FROM a1 GROUP BY side ),
c1 AS (
  SELECT side, f, bin,
         sum(n) OVER (PARTITION BY side, f ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(pos) OVER (PARTITION BY side, f ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS posl
  FROM h1
), g1 AS (
  SELECT c1.side, f, bin,
         (1 - (t.pos / t.n) * (t.pos / t.n)
            - ((t.n - t.pos) / t.n) * ((t.n - t.pos) / t.n))
         - (nl / t.n) * (1 - (posl / nl) * (posl / nl)
                           - ((nl - posl) / nl) * ((nl - posl) / nl))
         - ((t.n - nl) / t.n) * (1 - ((t.pos - posl) / (t.n - nl)) * ((t.pos - posl) / (t.n - nl))
                                   - (((t.n - nl) - (t.pos - posl)) / (t.n - nl)) * (((t.n - nl) - (t.pos - posl)) / (t.n - nl))) AS gain
  FROM c1 JOIN tot1 t ON t.side = c1.side
  WHERE bin < 7 AND nl > 0 AND nl < t.n
    AND t.pos > 0 AND t.pos < t.n   -- pure nodes never split (operator early-leafs them)
), best1 AS (
  SELECT side, f, bin FROM g1 WHERE gain > 0
  QUALIFY row_number() OVER (PARTITION BY side ORDER BY gain DESC, f, bin) = 1
), a2 AS (
  SELECT a1.*,
         CASE WHEN s.f IS NULL THEN a1.side
              WHEN (CASE s.f WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END) <= s.bin
              THEN a1.side || 'l' ELSE a1.side || 'r' END AS node
  FROM a1 LEFT JOIN best1 s ON s.side = a1.side
), leaves AS (
  SELECT node, avg(y) AS v FROM a2 GROUP BY node
), thr AS (
  SELECT
    (SELECT f FROM best0) AS f0,
    (SELECT CASE f WHEN 0 THEN lo0 + (bin + 1) * (hi0 - lo0) / 8
                   WHEN 1 THEN lo1 + (bin + 1) * (hi1 - lo1) / 8
                   ELSE lo2 + (bin + 1) * (hi2 - lo2) / 8 END
     FROM best0, lim) AS t0,
    (SELECT f FROM best1 WHERE side = 'L') AS fL,
    (SELECT CASE f WHEN 0 THEN lo0 + (bin + 1) * (hi0 - lo0) / 8
                   WHEN 1 THEN lo1 + (bin + 1) * (hi1 - lo1) / 8
                   ELSE lo2 + (bin + 1) * (hi2 - lo2) / 8 END
     FROM best1, lim WHERE side = 'L') AS tL,
    (SELECT f FROM best1 WHERE side = 'R') AS fR,
    (SELECT CASE f WHEN 0 THEN lo0 + (bin + 1) * (hi0 - lo0) / 8
                   WHEN 1 THEN lo1 + (bin + 1) * (hi1 - lo1) / 8
                   ELSE lo2 + (bin + 1) * (hi2 - lo2) / 8 END
     FROM best1, lim WHERE side = 'R') AS tR
), scored AS (
  SELECT lang, y,
    CASE WHEN (CASE thr.f0 WHEN 0 THEN nw WHEN 1 THEN ml ELSE dr END) < thr.t0
    THEN CASE WHEN thr.fL IS NULL THEN (SELECT v FROM leaves WHERE node = 'L')
              WHEN (CASE thr.fL WHEN 0 THEN nw WHEN 1 THEN ml ELSE dr END) < thr.tL
              THEN (SELECT v FROM leaves WHERE node = 'Ll')
              ELSE (SELECT v FROM leaves WHERE node = 'Lr') END
    ELSE CASE WHEN thr.fR IS NULL THEN (SELECT v FROM leaves WHERE node = 'R')
              WHEN (CASE thr.fR WHEN 0 THEN nw WHEN 1 THEN ml ELSE dr END) < thr.tR
              THEN (SELECT v FROM leaves WHERE node = 'Rl')
              ELSE (SELECT v FROM leaves WHERE node = 'Rr') END
    END AS s
  FROM b, thr
)
SELECT lang, count(*) AS n,
       round(avg(s), 6) AS avg_score,
       round(avg(abs(s - y)), 6) AS avg_abs_err,
       (SELECT f FROM best0) AS root_feat,
       (SELECT round(t0, 6) FROM thr) AS root_thr
FROM scored GROUP BY lang
"""


def q_stream_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment (engine extension, §2.10 —
    Structured Streaming's stream-static join): the event stream joins a
    small static dimension (customer segment keyed by user) BROADCAST to
    every micro-batch task — no stream-side shuffle for the join — then
    aggregates event-time hourly windows per segment with a watermark.
    The oracle is the identical batch join+window in DuckDB."""
    stream = _event_stream(spark, sf_dir)
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 150)
        .select((F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment")
    )
    joined = stream.join(F.broadcast(dim), "user_id", "inner")
    agg = (
        joined.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return _drain(agg, "stream_enrich_gate", "complete").select(
        F.col("window.start").cast("long").alias("wstart"),
        "c_mktsegment", "n", "sum_value",
    )


SQL_STREAM_ENRICH = """
SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS wstart,
       c.c_mktsegment, count(*) AS n, round(sum(e.value), 2) AS sum_value
FROM events e
JOIN customer c ON c.c_custkey - 1 = e.user_id AND c.c_custkey <= 150
GROUP BY 1, 2
"""


def q_stream_windowed_hist(spark, sf_dir):
    """Structured Streaming spelling of the histogram aggregation
    (engine extension; the reference is batch-only, SURVEY.md §2.10):
    file micro-batches -> event-time 1-hour windows -> bucketed weighted
    hist, complete-mode memory sink. Same bucket/window semantics as the
    batch oracle, so the driver can hash-compare a STREAMING result."""
    from coffea_spark.streaming import windowed_hist

    agg = windowed_hist(
        _event_stream(spark, sf_dir), F.col("value"),
        nbins=25, lo=0.0, hi=500.0,
        ts_col="ts", window="1 hour", watermark="2 hours",
        weight=F.col("value"),
    )
    return _drain(agg, "stream_hist_gate", "complete").select(
        F.col("window.start").cast("long").alias("wstart"),
        "bin",
        "n",
        F.round(F.col("sumw"), 2).alias("sumw"),
    )


SQL_STREAM_HIST = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart,
       CASE WHEN value < 0 THEN -1
            WHEN value >= 500 THEN 25
            ELSE CAST(floor((value - 0.0) / 20.0) AS BIGINT) END AS bin,
       count(*) AS n, round(sum(value), 2) AS sumw
FROM events GROUP BY 1, 2
"""


def q_xref_roundtrip(spark, sf_dir):
    """Cross-reference FK joins + nearest (reference 'Q3' invariant,
    tests/test_nanoevents.py:54-63: Jet.matched_muons.matched_jet.pt ==
    Jet.pt). Items split into two within-event collections with
    deterministic FK indices; gathers are array HOFs — no join, no
    shuffle beyond the one collect_list. The oracle replays the FKs
    relationally (explode + equi-join on (order, idx))."""
    from coffea_spark.joins import matched, nearest

    orders = _order_items(spark, sf_dir)
    items = F.col("items")
    jets_raw = F.filter(items, lambda x: x["l_quantity"] > 25)
    muons_raw = F.filter(items, lambda x: x["l_quantity"] <= 25)
    nmu, njet = F.size(muons_raw), F.size(jets_raw)
    jets = F.transform(
        jets_raw,
        lambda x, i: F.struct(
            x["l_extendedprice"].alias("price"),
            F.when(nmu > 0, i % nmu).otherwise(-1).alias("muonIdx"),
        ),
    )
    muons = F.transform(
        muons_raw,
        lambda y, j: F.struct(
            y["l_extendedprice"].alias("price"),
            F.when(njet > 0, j % njet).otherwise(-1).alias("jetIdx"),
        ),
    )
    # Barrier: materialize the derived collections ONCE per row —
    # CollapseProject would otherwise inline the jets/muons construction
    # into every one of the six consumers below (6x the HOF work);
    # measured 4x faster at sf0.1.
    from coffea_spark.plans import barrier

    base = barrier(orders, jets.alias("jets"), muons.alias("muons"))
    jets, muons = F.col("jets"), F.col("muons")
    m1 = matched(jets, "muonIdx", muons)          # jet -> muon
    m2 = matched(m1, "jetIdx", jets)              # jet -> muon -> jet
    rt_ok = F.size(
        F.filter(
            F.zip_with(jets, m2, lambda a, b: b.isNotNull() & (b["price"] == a["price"])),
            lambda ok: ok,
        )
    )
    near = nearest(
        jets, muons,
        metric=lambda a, b: F.abs(a["price"] - b["price"]),
        threshold=5000.0, return_metric=True,
    )
    near_hits = F.filter(near, lambda p: p.isNotNull())
    return base.select(
        F.size(jets).alias("nj"),
        F.size(F.filter(m1, lambda m: m.isNotNull())).alias("nm"),
        F.aggregate(
            F.filter(m1, lambda m: m.isNotNull()),
            F.lit(0.0), lambda a, m: a + m["price"],
        ).alias("smp"),
        rt_ok.alias("nrt"),
        F.size(near_hits).alias("nn"),
        F.aggregate(near_hits, F.lit(0.0), lambda a, p: a + p["metric"]).alias("sng"),
    ).agg(
        F.sum("nj").alias("n_jets"),
        F.sum("nm").alias("n_matched"),
        F.round(F.sum("smp"), 2).alias("sum_matched_price"),
        F.sum("nrt").alias("n_roundtrip_ok"),
        F.sum("nn").alias("n_near"),
        F.round(F.sum("sng"), 2).alias("sum_near_gap"),
    )


SQL_XREF = """
WITH s AS MATERIALIZED (
  SELECT l_orderkey AS ok, l_quantity AS qty, l_extendedprice AS price,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity,
                                     l_extendedprice, l_discount, l_suppkey) AS rn
  FROM lineitem
),
jets AS MATERIALIZED (
  SELECT ok, price, row_number() OVER (PARTITION BY ok ORDER BY rn) - 1 AS ji
  FROM s WHERE qty > 25
),
muons AS MATERIALIZED (
  SELECT ok, price, row_number() OVER (PARTITION BY ok ORDER BY rn) - 1 AS mi
  FROM s WHERE qty <= 25
),
nj AS (SELECT ok, count(*) AS cj FROM jets GROUP BY ok),
nm AS (SELECT ok, count(*) AS cm FROM muons GROUP BY ok),
m1 AS (
  SELECT j.ok, j.ji, j.price AS jprice, m.price AS mprice,
         CASE WHEN COALESCE(t.cj, 0) > 0 THEN m.mi % t.cj ELSE -1 END AS mjidx
  FROM jets j
  LEFT JOIN nm ON nm.ok = j.ok
  LEFT JOIN muons m
    ON m.ok = j.ok AND COALESCE(nm.cm, 0) > 0 AND m.mi = j.ji % nm.cm
  LEFT JOIN nj t ON t.ok = j.ok
),
m2 AS (
  SELECT m1.*, r.price AS rtprice
  FROM m1 LEFT JOIN jets r ON r.ok = m1.ok AND r.ji = m1.mjidx AND m1.mprice IS NOT NULL
),
near AS (
  SELECT j.ok, j.ji, min(abs(j.price - m.price)) AS g
  FROM jets j JOIN muons m ON m.ok = j.ok
  GROUP BY j.ok, j.ji
)
SELECT
  (SELECT count(*) FROM jets) AS n_jets,
  (SELECT count(*) FROM m1 WHERE mprice IS NOT NULL) AS n_matched,
  (SELECT round(sum(mprice), 2) FROM m1 WHERE mprice IS NOT NULL) AS sum_matched_price,
  (SELECT count(*) FROM m2 WHERE rtprice = jprice) AS n_roundtrip_ok,
  (SELECT count(*) FROM near WHERE g < 5000.0) AS n_near,
  (SELECT round(sum(g), 2) FROM near WHERE g < 5000.0) AS sum_near_gap
"""


def q_corrected_met(spark, sf_dir):
    """MET propagation (reference corrected_polar_met,
    jetmet_tools/CorrectedMETFactory.py:7-20): subtract every jet's
    correction delta from the event MET 2-vector — one aggregate HOF per
    event, zero extra shuffle."""
    from coffea_spark.corrections import corrected_polar_met

    orders = _order_items(spark, sf_dir)
    jets = F.transform(
        "items",
        lambda x: F.struct(
            (x["l_extendedprice"] / 1000.0).alias("pt_old"),
            ((x["l_extendedprice"] / 1000.0) * (1.0 + x["l_discount"])).alias("pt_new"),
            (((x["l_suppkey"] % 628) / 100.0) - 3.14).alias("phi"),
        ),
    )
    met_pt = 10.0 + (F.col("l_orderkey") % 50).cast("double")
    met_phi = ((F.col("l_orderkey") % 628) / 100.0) - 3.14
    met = corrected_polar_met(met_pt, met_phi, jets, "pt_old", "pt_new")
    return orders.select(met.alias("met")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("met.pt"), 2).alias("sum_met_pt"),
        F.round(F.avg("met.phi"), 6).alias("avg_met_phi"),
    )


SQL_CORRECTED_MET = """
WITH d AS (
  SELECT l_orderkey AS ok,
         sum(((l_extendedprice / 1000.0) * (1.0 + l_discount)
              - (l_extendedprice / 1000.0))
             * cos(((l_suppkey % 628) / 100.0) - 3.14)) AS dx,
         sum(((l_extendedprice / 1000.0) * (1.0 + l_discount)
              - (l_extendedprice / 1000.0))
             * sin(((l_suppkey % 628) / 100.0) - 3.14)) AS dy
  FROM lineitem GROUP BY 1
),
m AS (
  SELECT (10.0 + CAST(ok % 50 AS DOUBLE)) * cos(((ok % 628) / 100.0) - 3.14) - dx AS mx,
         (10.0 + CAST(ok % 50 AS DOUBLE)) * sin(((ok % 628) / 100.0) - 3.14) - dy AS my
  FROM d
)
SELECT count(*) AS n_orders,
       round(sum(sqrt(mx * mx + my * my)), 2) AS sum_met_pt,
       round(avg(atan2(my, mx)), 6) AS avg_met_phi
FROM m
"""


BTAG_ROWS = [
    {"flavor": 0, "eta_min": 0.0, "eta_max": 1.5, "pt_min": 0.0, "pt_max": 50.0,
     "formula": "0.9 + 0.01*sqrt(x)"},
    {"flavor": 0, "eta_min": 1.5, "eta_max": 3.5, "pt_min": 0.0, "pt_max": 50.0,
     "formula": "0.85 + 0.02*sqrt(x)"},
    {"flavor": 0, "eta_min": 0.0, "eta_max": 3.5, "pt_min": 50.0, "pt_max": 1000000.0,
     "formula": "0.97"},
    {"flavor": 1, "eta_min": 0.0, "eta_max": 3.5, "pt_min": 0.0, "pt_max": 1000000.0,
     "formula": "1.1 - 0.001*x"},
    {"flavor": 2, "eta_min": 0.0, "eta_max": 3.5, "pt_min": 0.0, "pt_max": 1000000.0,
     "formula": "1.0 + 2.0/sqrt(x)"},
]


def _sql_btag() -> str:
    cases = []
    for r in BTAG_ROWS:
        f = r["formula"].replace("x", "pt")
        cases.append(
            f"WHEN flavor = {r['flavor']} AND abseta >= {r['eta_min']} "
            f"AND abseta < {r['eta_max']} AND pt >= {r['pt_min']} "
            f"AND pt < {r['pt_max']} THEN ({f})"
        )
    chain = "\n              ".join(cases)
    return f"""
WITH b AS (
  SELECT l_returnflag,
         CASE {chain} END AS sf
  FROM (
    SELECT l_returnflag, CAST(l_linenumber % 3 AS INT) AS flavor,
           l_discount * 30.0 AS abseta, l_extendedprice / 1000.0 AS pt
    FROM lineitem
  )
)
SELECT l_returnflag, count(*) AS n, round(sum(sf), 2) AS sum_sf,
       round(avg(sf), 6) AS avg_sf
FROM b GROUP BY 1
"""


def q_btag_sf(spark, sf_dir):
    """Piecewise per-(flavor, |eta|, pt) scale-factor formulas (reference
    BTagScaleFactor, btag_tools/btagscalefactor.py:7-243): a WHEN chain
    of native expressions — formulas use only correctly-rounded ops so
    the oracle is bit-identical."""
    from coffea_spark.corrections import BTagScaleFactor

    sf = BTagScaleFactor(BTAG_ROWS)
    li = _t(spark, sf_dir, "lineitem", floor=False)
    val = sf.eval(
        (F.col("l_linenumber") % 3).cast("int"),
        F.col("l_discount") * 30.0,
        F.col("l_extendedprice") / 1000.0,
    )
    return li.select("l_returnflag", val.alias("_sf")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("_sf"), 2).alias("sum_sf"),
        F.round(F.avg("_sf"), 6).alias("avg_sf"),
    )


def q_jer_smear(spark, sf_dir):
    """Full corrected-jets build with JES uncertainty + JER stochastic
    smearing (reference CorrectedJetsFactory.build,
    jetmet_tools/CorrectedJetsFactory.py:205-500). The smear draws a
    content-seeded deterministic gaussian (xxhash64 Box-Muller — the
    reference seeds from data bits too), which no SQL oracle reproduces
    -> rows-only; the output row is still deterministic."""
    from coffea_spark.corrections import CorrectedJetsFactory, FactorizedJetCorrector

    corr = FactorizedJetCorrector([lambda eta, pt: F.lit(1.05)])
    factory = CorrectedJetsFactory(
        corr, junc=0.02, jer=True,
        resolution=lambda eta, pt: F.lit(0.05) + F.abs(eta) * 0.01,
        resolution_sf=lambda eta: (F.lit(1.1), F.lit(1.2), F.lit(1.0)),
    )
    orders = _order_items(spark, sf_dir)
    jets = F.transform(
        "items",
        lambda x: F.struct(
            (x["l_extendedprice"] / 1000.0).alias("pt"),
            (x["l_quantity"] / 10.0).alias("mass"),
            ((x["l_discount"] * 60.0) - 3.0).alias("eta"),
            (((x["l_suppkey"] % 628) / 100.0) - 3.14).alias("phi"),
            F.lit(0.1).alias("rawFactor"),
        ),
    )
    built = factory.build(jets)
    return orders.select(built.alias("j")).select(
        F.explode("j").alias("jet")
    ).agg(
        F.count(F.lit(1)).alias("n_jets"),
        F.round(F.sum("jet.pt_jec"), 2).alias("sum_pt_jec"),
        F.round(F.sum("jet.pt"), 2).alias("sum_pt_smeared"),
        F.round(F.sum("jet.JES_up_pt"), 2).alias("sum_jes_up"),
        F.round(F.sum("jet.JER_up_pt"), 2).alias("sum_jer_up"),
        F.round(
            F.sum(F.col("jet.pt") / F.col("jet.pt_jec")) / F.count(F.lit(1)), 6
        ).alias("avg_smear"),
    )


def q_physlite_real_links(spark, sf_dir):
    """REAL ElementLink resolution over the reference's own PHYSLITE
    binary fixture (schemas/physlite.py _element_link + mapping/uproot.py
    object-class branches): the native reader decodes
    vector<vector<ElementLink>> vertex->track links (TStreamerInfo-typed)
    into struct columns, and the Spark pipeline gathers each linked
    track's qOverP by persIndex — the reference's link-resolution
    semantics as row-local array gathers, no shuffle. The oracle is a
    golden-value table: every number is a fixed property of the public
    fixture, independently derived by a byte-level numpy decode.
    ``sf_dir`` is unused (the input is the binary fixture)."""
    from coffea_spark.root_reader import read_root

    path = sample("PHYSLITE_example.root")
    links_col = "PrimaryVerticesAuxDyn.trackParticleLinks"
    qop_col = "InDetTrackParticlesAuxDyn.qOverP"
    ev = read_root(spark, [path], columns=[qop_col, links_col])
    q = F.col(f"`{qop_col}`")
    resolved = F.flatten(
        F.transform(
            F.col(f"`{links_col}`"),
            lambda vtx: F.transform(
                vtx,
                lambda l: F.when(
                    (l["persKey"] != 0) & (l["persIndex"] < F.size(q)),
                    F.abs(q[l["persIndex"].cast("int")]),
                ),
            ),
        )
    )
    flat = F.flatten(F.col(f"`{links_col}`"))
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size(f"`{links_col}`")).alias("n_vertices"),
        F.sum(F.size(flat)).alias("n_links"),
        F.sum(F.size(F.filter(flat, lambda l: l["persKey"] != 0))).alias("n_nonnull"),
        F.sum(
            F.aggregate(
                F.filter(flat, lambda l: l["persKey"] != 0),
                F.lit(0).cast("long"),
                lambda a, l: a + l["persIndex"],
            )
        ).alias("sum_persindex"),
        F.round(
            F.sum(
                F.aggregate(
                    F.filter(resolved, lambda x: x.isNotNull()),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ) * 1e6,
            2,
        ).alias("sum_abs_qop_x1e6"),
    )


# golden values: byte-level numpy decode of the fixture (independent of
# the Spark pipeline under test)
SQL_PHYSLITE_REAL_LINKS = """
SELECT * FROM (VALUES
  (CAST(100 AS BIGINT), CAST(2361 AS BIGINT), CAST(48393 AS BIGINT),
   CAST(1193 AS BIGINT), CAST(11982 AS BIGINT), CAST(238501.86 AS DOUBLE))
) AS t(n_events, n_vertices, n_links, n_nonnull, sum_persindex,
       sum_abs_qop_x1e6)
"""


def q_physlite_triple_nested(spark, sf_dir):
    """REAL triply-nested STL decode over the reference's own PHYSLITE
    binary fixture: the native reader types and decodes the
    ``vector<vector<vector<T>>>`` MET-association members
    (``METAssoc_AnalysisMETAux.overlapIndices`` u8 /
    ``overlapTypes`` u1) into ``array<array<array<...>>>`` columns
    (reference reads the same shape via uproot AsObjects; 3-deep index
    semantics: nanoevents/transforms.py:881-922). The Spark pipeline
    reduces all three nesting levels with row-local HOFs — no shuffle
    until the final 1-row agg. Golden values independently derived by a
    sequential byte-level decode of the same baskets (outer count from
    the 10-byte STL header, i4 per middle vector, i4+elements per inner
    vector). ``sf_dir`` is unused (the input is the binary fixture)."""
    from coffea_spark.root_reader import read_root

    path = sample("PHYSLITE_example.root")
    idx_col = "METAssoc_AnalysisMETAux.overlapIndices"
    typ_col = "METAssoc_AnalysisMETAux.overlapTypes"
    ev = read_root(spark, [path], columns=[idx_col, typ_col])
    idx = F.col(f"`{idx_col}`")
    typ = F.col(f"`{typ_col}`")
    flat_mid = F.flatten(idx)        # array<array<long>> per event
    flat_idx = F.flatten(flat_mid)   # array<long> per event
    flat_typ = F.flatten(F.flatten(typ))
    lsum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size(idx)).alias("n_assocs"),
        F.sum(F.size(flat_mid)).alias("n_overlap_lists"),
        F.sum(F.size(flat_idx)).alias("n_indices"),
        F.sum(lsum(flat_idx)).alias("sum_indices"),
        F.sum(lsum(flat_typ)).alias("sum_types"),
    )


# golden values: sequential byte-level decode of the fixture's baskets
# (independent of the reader/pipeline under test)
SQL_PHYSLITE_TRIPLE_NESTED = """
SELECT * FROM (VALUES
  (CAST(100 AS BIGINT), CAST(981 AS BIGINT), CAST(338 AS BIGINT),
   CAST(224 AS BIGINT), CAST(128 AS BIGINT), CAST(1792 AS BIGINT))
) AS t(n_events, n_assocs, n_overlap_lists, n_indices, sum_indices,
       sum_types)
"""


def q_physlite_map_strings(spark, sf_dir):
    """map<string,string> members over the REAL PHYSLITE fixture
    (EventInfoAuxDyn.detDescrTags): ROOT splits the map into
    member-wise .first/.second string sub-branches (bytecount+version
    entry headers) which the native reader decodes as paired
    array<string> columns; Spark zips them back into a MapType column.
    Golden oracle: the fixture's 100 maps are all EMPTY (the split
    parent's counts are 0 — verified by byte-level decode), so the
    invariants are n_events=100, zero keys/values, and key/value
    cardinalities equal on every entry. The NON-empty decode path is
    exercised by test_map_string_sub_branches on synthetic baskets with
    the same framing. ``sf_dir`` unused (binary fixture input)."""
    from coffea_spark.root_reader import read_root

    path = sample("PHYSLITE_example.root")
    kcol, vcol = (
        "EventInfoAuxDyn.detDescrTags.first",
        "EventInfoAuxDyn.detDescrTags.second",
    )
    ev = read_root(spark, [path], columns=[kcol, vcol])
    m = F.map_from_arrays(F.col(f"`{kcol}`"), F.col(f"`{vcol}`"))
    return ev.select(
        F.size(f"`{kcol}`").alias("nk"),
        F.size(f"`{vcol}`").alias("nv"),
        F.size(m).alias("nm"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("nk").alias("n_keys"),
        F.sum("nv").alias("n_values"),
        F.sum((F.col("nk") == F.col("nv")).cast("long")).alias("n_balanced"),
        F.sum("nm").alias("n_map_entries"),
    )


SQL_PHYSLITE_MAP_STRINGS = """
SELECT * FROM (VALUES
  (CAST(100 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
   CAST(100 AS BIGINT), CAST(0 AS BIGINT))
) AS t(n_events, n_keys, n_values, n_balanced, n_map_entries)
"""


def q_edm4hep_real_links(spark, sf_dir):
    """REAL podio begin/end relation resolution over the reference's own
    EDM4HEP binary fixture (reference transforms.py:647-998
    begin_end_mapping; mapping/uproot.py member-wise branches): the
    native reader decodes Particle.parents_begin/end and the
    _Particle_parents.index ObjectID member, and the Spark pipeline
    gathers each particle's PARENT PDG codes through the two-level
    index — sequence(begin, end-1) into the link array, link index into
    the particle collection — all row-local HOFs, no shuffle. Golden
    values independently derived by a numpy decode of the same file.
    ``sf_dir`` is unused (the input is the binary fixture)."""
    from coffea_spark.root_reader import read_root

    path = sample("p8_ee_WW_ecm240_edm4hep.root")
    cols = [
        "Particle.parents_begin", "Particle.parents_end",
        "_Particle_parents.index", "Particle.PDG",
    ]
    ev = read_root(spark, [path], columns=cols)
    begin = F.col("`Particle.parents_begin`")
    end = F.col("`Particle.parents_end`")
    links = F.col("`_Particle_parents.index`")
    pdg = F.col("`Particle.PDG`")
    # per particle: its parents' link-array slice -> particle indexes
    parent_idx = F.zip_with(
        begin, end,
        lambda b, e: F.transform(
            F.when(e > b, F.sequence(b, e - 1)).otherwise(F.array().cast("array<int>")),
            lambda i: links[i.cast("int")],
        ),
    )
    parent_pdg = F.transform(
        parent_idx,
        lambda arr: F.transform(arr, lambda j: pdg[j.cast("int")]),
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size(pdg)).alias("n_particles"),
        F.sum(F.size(links)).alias("n_links"),
        F.sum(
            F.aggregate(
                F.flatten(parent_idx), F.lit(0).cast("long"),
                lambda a, x: a + F.lit(1),
            )
        ).alias("n_parent_refs"),
        F.sum(
            F.aggregate(
                F.flatten(parent_pdg), F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
        ).alias("parent_pdg_sum"),
    )


# golden values: independent numpy decode of the fixture
SQL_EDM4HEP_REAL_LINKS = """
SELECT * FROM (VALUES
  (CAST(10 AS BIGINT), CAST(1813 AS BIGINT), CAST(4275 AS BIGINT),
   CAST(4275 AS BIGINT), CAST(180595 AS BIGINT))
) AS t(n_events, n_particles, n_links, n_parent_refs, parent_pdg_sum)
"""


def q_treemaker_real_nesting(spark, sf_dir):
    """REAL TreeMaker Counts-regrouping over the reference's own binary
    fixture (reference schemas/treemaker.py subjet nesting +
    nest_jagged_forms): the native reader decodes the member-wise split
    TLorentzVector component branch and the per-jet subjetsCounts
    vector, and nest_by_counts regroups the flat subjets into
    array<array> under their jets — row-local prefix-sum + slice, no
    shuffle. The position-weighted sum ((1-based jet index) x that
    jet's subjet-pt sum) flips on ANY regrouping error. Golden values
    independently derived by a numpy decode. ``sf_dir`` unused."""
    from coffea_spark.root_reader import read_root
    from coffea_spark.schemas_variants import nest_by_counts

    path = sample("treemaker.root")
    ev = read_root(
        spark, [path],
        columns=["JetsAK8_subjetsCounts", "JetsAK8_subjets.fCoordinates.fPt"],
    )
    cnt = F.col("`JetsAK8_subjetsCounts`")
    pt = F.col("`JetsAK8_subjets.fCoordinates.fPt`")
    nested = nest_by_counts(pt, cnt)
    weighted = F.transform(
        nested,
        lambda sub, j: (j + 1).cast("double")
        * F.aggregate(sub, F.lit(0.0), lambda a, x: a + x),
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size(cnt)).alias("n_jets"),
        F.sum(F.size(pt)).alias("n_subjets"),
        F.round(F.sum(F.aggregate(pt, F.lit(0.0), lambda a, x: a + x)), 2).alias("sum_pt"),
        F.round(
            F.sum(F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x)), 2
        ).alias("pos_weighted"),
    )


# golden values: independent numpy decode of the fixture
SQL_TREEMAKER_REAL_NESTING = """
SELECT * FROM (VALUES
  (CAST(10 AS BIGINT), CAST(20 AS BIGINT), CAST(38 AS BIGINT),
   CAST(6167.04 AS DOUBLE), CAST(8880.24 AS DOUBLE))
) AS t(n_events, n_jets, n_subjets, sum_pt, pos_weighted)
"""


def q_scouting_real_scan(spark, sf_dir):
    """REAL ScoutingNanoAOD ingestion over the reference's own binary
    fixture (reference tests/test_nanoevents_scoutingnano.py +
    schemas/scouting.py): scouting_nano.root stores EVERY basket
    embedded inside the TTree record (the one-flush storage form —
    no loose TBasket file keys), exercising the reader's fBaskets
    TObjArray path end-to-end: 268 branches, u4/u8 scalars, count
    branches, and jagged f4 vectors whose entry-offset tables are
    streamed separately from the data buffer. The gate checks scalar
    sums, jagged totals, a per-event (1-based index x jet-pt-sum)
    position weighting that flips on ANY regrouping error, and the
    njet_match invariant size(ScoutingJet_pt) == nScoutingJet on every
    event. Golden values independently derived by a from-scratch numpy
    decode (tests/test_root_reader.py embedded-basket parity test
    keeps re-deriving them). ``sf_dir`` unused."""
    from pyspark.sql import Window as W

    from coffea_spark.root_reader import read_root

    path = sample("scouting_nano.root")
    ev = read_root(
        spark, [path],
        columns=["event", "nScoutingJet", "ScoutingJet_pt",
                 "nScoutingFatJet", "ScoutingFatJet_pt"],
    )
    pt = F.col("ScoutingJet_pt")
    fpt = F.col("ScoutingFatJet_pt")
    idx = F.row_number().over(W.orderBy(F.col("event").asc()))
    per_event = ev.select(
        "event", "nScoutingJet", "nScoutingFatJet", pt.alias("_pt"),
        fpt.alias("_fpt"),
        (F.size(pt) == F.col("nScoutingJet")).alias("_match"),
        F.aggregate(pt, F.lit(0.0), lambda a, x: a + x.cast("double")).alias("_sumpt"),
        F.aggregate(fpt, F.lit(0.0), lambda a, x: a + x.cast("double")).alias("_sumfpt"),
    ).withColumn("_idx", idx)
    return per_event.agg(
        F.count(F.lit(1)).alias("n_events"),
        # u8 sums widen to decimal(20,0) in Spark: pin to long
        F.sum("event").cast("long").alias("sum_event"),
        F.sum("nScoutingJet").alias("n_jets"),
        F.sum("nScoutingFatJet").alias("n_fatjets"),
        F.round(F.sum("_sumpt"), 2).alias("sum_jet_pt"),
        F.round(F.sum("_sumfpt"), 2).alias("sum_fatjet_pt"),
        F.round(F.sum(F.col("_idx").cast("double") * F.col("_sumpt")), 2).alias("pos_weighted"),
        F.min(F.col("_match").cast("int")).cast("boolean").alias("njet_match"),
    )


def q_pfnano_real_xref(spark, sf_dir):
    """REAL PFNano cross-reference resolution over the reference's own
    LZMA-compressed binary fixture (reference schemas/pfnano.py: the
    JetPFCands link table carries (jetIdx, pFCandsIdx) pairs tying jets
    to their particle-flow candidates): the native reader decodes the
    link branches, and ``joins.gather_local`` resolves every
    pFCandsIdx into the same-event PFCands_pt list — the engine's FK
    gather, row-local, no shuffle. The (jetIdx+1)-weighted sum flips on
    ANY misresolution or event misalignment; a no-null invariant
    certifies every link resolved in range. Goldens independently
    derived by a numpy decode. ``sf_dir`` unused."""
    from coffea_spark.joins import gather_local
    from coffea_spark.root_reader import read_root

    path = sample("pfnano.root")
    ev = read_root(
        spark, [path], tree="Events",
        columns=["JetPFCands_jetIdx", "JetPFCands_pFCandsIdx",
                 "PFCands_pt", "Jet_pt"],
    )
    pf = F.col("PFCands_pt")
    linked = F.zip_with(
        F.col("JetPFCands_pFCandsIdx"),
        F.col("JetPFCands_jetIdx"),
        lambda pi, ji: F.struct(
            gather_local(pf, pi).cast("double").alias("pt"),
            ji.alias("jet"),
        ),
    )
    per_event = ev.select(
        F.size("JetPFCands_pFCandsIdx").alias("_nl"),
        F.size("Jet_pt").alias("_nj"),
        F.aggregate(
            linked, F.lit(0.0), lambda a, x: a + F.coalesce(x["pt"], F.lit(0.0))
        ).alias("_sum_linked"),
        F.aggregate(
            linked, F.lit(0.0),
            lambda a, x: a
            + (x["jet"].cast("double") + 1.0) * F.coalesce(x["pt"], F.lit(0.0)),
        ).alias("_sum_weighted"),
        F.exists(linked, lambda x: x["pt"].isNull()).alias("_any_null"),
        F.aggregate(
            F.col("Jet_pt"), F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("_sum_jet"),
    )
    return per_event.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_nl").alias("n_links"),
        F.sum("_nj").alias("n_jets"),
        F.round(F.sum("_sum_linked"), 2).alias("sum_linked_pt"),
        F.round(F.sum("_sum_weighted"), 2).alias("sum_weighted"),
        F.round(F.sum("_sum_jet"), 2).alias("sum_jet_pt"),
        (~F.max("_any_null")).alias("all_resolved"),
    )


# golden values: independent numpy decode of the fixture's link tables
SQL_PFNANO_REAL_XREF = """
SELECT * FROM (VALUES
  (CAST(10 AS BIGINT), CAST(1801 AS BIGINT), CAST(64 AS BIGINT),
   CAST(30012.77 AS DOUBLE), CAST(50935.16 AS DOUBLE),
   CAST(31819.21 AS DOUBLE), TRUE)
) AS t(n_events, n_links, n_jets, sum_linked_pt, sum_weighted, sum_jet_pt,
       all_resolved)
"""


def q_pfnano_objects(spark, sf_dir):
    """REAL PFNano through the OBJECT schema (reference
    schemas/nanoaod.py:467-508 PFNanoAODSchema + the nanoevents zip):
    read_nanoevents builds JetPFCands / PFCands / Jet as array<struct>
    collections from the LZMA binary fixture, and ``joins.matched``
    resolves the link collection's pFCandsIdx / jetIdx cross-references
    object-to-object — the schema-level spelling of pfnano_real_xref's
    raw-column gather (same independent numpy goldens; the two gates
    must agree, proving the zip preserves alignment). ``sf_dir``
    unused."""
    from coffea_spark.joins import matched
    from coffea_spark.root_reader import read_nanoevents
    from coffea_spark.schema import PFNanoAODSchema

    path = sample("pfnano.root")
    ev = read_nanoevents(
        spark, [path], tree="Events",
        columns=["JetPFCands_jetIdx", "JetPFCands_pFCandsIdx",
                 "PFCands_pt", "PFCands_eta", "Jet_pt",
                 "nJetPFCands", "nPFCands", "nJet"],
        spec=PFNanoAODSchema,
    )
    links = F.col("JetPFCands")
    pf = matched(links, "pFCandsIdx", F.col("PFCands"))
    weighted = F.zip_with(
        links, pf,
        lambda lk, c: (lk["jetIdx"].cast("double") + 1.0)
        * F.coalesce(c["pt"].cast("double"), F.lit(0.0)),
    )
    per_event = ev.select(
        F.size(links).alias("_nl"),
        F.size("Jet").alias("_nj"),
        F.aggregate(
            pf, F.lit(0.0),
            lambda a, c: a + F.coalesce(c["pt"].cast("double"), F.lit(0.0)),
        ).alias("_sum_linked"),
        F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x).alias("_sum_weighted"),
        F.exists(pf, lambda c: c.isNull()).alias("_any_null"),
    )
    return per_event.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_nl").alias("n_links"),
        F.sum("_nj").alias("n_jets"),
        F.round(F.sum("_sum_linked"), 2).alias("sum_linked_pt"),
        F.round(F.sum("_sum_weighted"), 2).alias("sum_weighted"),
        (~F.max("_any_null")).alias("all_resolved"),
    )


# same independent numpy goldens as pfnano_real_xref (minus sum_jet_pt)
SQL_PFNANO_OBJECTS = """
SELECT * FROM (VALUES
  (CAST(10 AS BIGINT), CAST(1801 AS BIGINT), CAST(64 AS BIGINT),
   CAST(30012.77 AS DOUBLE), CAST(50935.16 AS DOUBLE), TRUE)
) AS t(n_events, n_links, n_jets, sum_linked_pt, sum_weighted, all_resolved)
"""


def q_scouting_objects(spark, sf_dir):
    """REAL ScoutingNanoAOD through the OBJECT schema (reference
    schemas/nanoaod.py:511-557 ScoutingNanoAODSchema + the nanoevents
    zip): read_nanoevents over the embedded-basket fixture builds
    ScoutingJet as array<struct> with the schema's constant-fill
    ``charge`` column and the MET_pt -> MET_fiducialGenPt alias. Gate:
    leading-jet pt sum (intra-event order preserved by the zip),
    |eta| sum over the struct field, the charge fill identically 0,
    and the aliased MET sum. Goldens from the same independent numpy
    decode as scouting_real_scan. ``sf_dir`` unused."""
    from coffea_spark.root_reader import read_nanoevents
    from coffea_spark.schema import ScoutingNanoAODSchema

    path = sample("scouting_nano.root")
    ev = read_nanoevents(spark, [path], spec=ScoutingNanoAODSchema)
    jets = F.col("ScoutingJet")
    lead_pt = F.element_at(jets, 1)["pt"].cast("double")
    abs_eta = F.aggregate(
        jets, F.lit(0.0), lambda a, j: a + F.abs(j["eta"].cast("double"))
    )
    charge = F.aggregate(
        jets, F.lit(0.0), lambda a, j: a + F.abs(j["charge"].cast("double"))
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.size(jets) > 0, F.lit(1)).otherwise(F.lit(0))).alias("n_with_jet"),
        F.round(F.sum(lead_pt), 2).alias("sum_leading_pt"),
        F.round(F.sum(abs_eta), 2).alias("sum_abs_eta"),
        (F.sum(charge) == 0.0).alias("charge_all_zero"),
        F.round(F.sum(F.col("MET")["pt"].cast("double")), 2).alias("sum_met"),
    )


SQL_SCOUTING_OBJECTS = """
SELECT * FROM (VALUES
  (CAST(40 AS BIGINT), CAST(40 AS BIGINT), CAST(33124.57 AS DOUBLE),
   CAST(563.42 AS DOUBLE), TRUE, CAST(281.0 AS DOUBLE))
) AS t(n_events, n_with_jet, sum_leading_pt, sum_abs_eta, charge_all_zero,
       sum_met)
"""


# golden values: independent from-scratch numpy decode of the embedded
# baskets (probe documented in tests/test_root_reader.py); event ids are
# descending in file order, so the position weighting uses the
# event-ASCENDING rank both here and in the Spark query
SQL_SCOUTING_REAL_SCAN = """
SELECT * FROM (VALUES
  (CAST(40 AS BIGINT), CAST(170327230 AS BIGINT), CAST(337 AS BIGINT),
   CAST(89 AS BIGINT), CAST(72984.19 AS DOUBLE), CAST(67369.28 AS DOUBLE),
   CAST(1499211.33 AS DOUBLE), TRUE)
) AS t(n_events, sum_event, n_jets, n_fatjets, sum_jet_pt, sum_fatjet_pt,
       pos_weighted, njet_match)
"""


def q_fileset_preprocess(spark, sf_dir):
    """Fileset preprocessing gate (reference dataset_tools/preprocess.py
    :1148 + get_steps :33-216): discover the sf_dir tables as a fileset,
    probe every file's metadata distributedly (one Spark task per file),
    and emit per-dataset num_entries and step counts for a fixed
    step_size. The oracle recomputes both from DuckDB row counts —
    num_entries must equal count(*), and steps must tile [0, n) in
    step_size pieces."""
    from coffea_spark.dataset_tools import discover_fileset, preprocess

    step = 7000
    tables = ["lineitem", "orders", "customer", "part"]
    fs = discover_fileset(
        {t: os.path.join(sf_dir, f"{t}.parquet") for t in tables}
    )
    avail, _updated = preprocess(fs, step_size=step, spark=spark)
    rows = []
    for ds in tables:
        for meta in avail[ds]["files"].values():
            covered = sum(b - a for a, b in meta["steps"])
            rows.append(
                (ds, meta["num_entries"], len(meta["steps"]), covered)
            )
    return spark.createDataFrame(
        rows, "dataset string, num_entries long, n_steps long, covered long"
    )


SQL_FILESET_PREPROCESS = """
WITH c AS (
  SELECT 'lineitem' AS dataset, count(*) AS n FROM lineitem
  UNION ALL SELECT 'orders', count(*) FROM orders
  UNION ALL SELECT 'customer', count(*) FROM customer
  UNION ALL SELECT 'part', count(*) FROM part
)
SELECT dataset, CAST(n AS BIGINT) AS num_entries,
       CAST(ceil(n / 7000.0) AS BIGINT) AS n_steps,
       CAST(n AS BIGINT) AS covered
FROM c
"""


def q_root_sink_scan(spark, sf_dir):
    """ROOT-format SINK round-trip gate (root_writer.py; reference
    surface uproot_writeable, schemas/base.py:136-178): a lineitem
    subset — scalars plus a jagged array column — is written
    executor-side to a directory of .root part files by write_root_dir
    (TKey/TBasket/zlib framing, NanoAOD-style counts leaf), then scanned
    BACK through the distributed read_root path and aggregated. The
    oracle recomputes the same aggregates straight from lineitem, so
    any serialization bug (byte order, basket framing, counts leaf,
    compression) surfaces as a hash mismatch."""
    import tempfile

    from coffea_spark.root_reader import read_root
    from coffea_spark.root_writer import write_root_dir

    src = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("evt"),
            F.col("l_quantity").alias("qty"),
            F.col("l_extendedprice").alias("price"),
            F.sequence(F.lit(1), F.col("l_linenumber").cast("int")).alias("hits"),
        )
    )
    out = tempfile.mkdtemp(prefix="coffea_root_sink_")
    write_root_dir(src.repartition(4), out, tree="Events", basket_rows=4096)
    back = read_root(spark, os.path.join(out, "part-*.root"), tree="Events")
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("evt").alias("sum_evt"),
        F.round(F.sum("qty"), 2).alias("sum_qty"),
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.sum(F.size("hits")).alias("n_hits"),
        F.sum(F.aggregate("hits", F.lit(0).cast("long"), lambda a, x: a + x)).alias("sum_hits"),
    )


SQL_ROOT_SINK_SCAN = """
SELECT count(*) AS n,
       CAST(sum(l_orderkey * 10 + l_linenumber) AS BIGINT) AS sum_evt,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       CAST(sum(l_linenumber) AS BIGINT) AS n_hits,
       CAST(sum(l_linenumber * (l_linenumber + 1) / 2) AS BIGINT) AS sum_hits
FROM lineitem WHERE l_orderkey % 97 = 0
"""


def q_jer_smear_portable(spark, sf_dir):
    """The FULL det+stochastic JER smear chain with an exact cross-engine
    oracle (reference jer_smear semantics, CorrectedJetsFactory.py:65-122):
    matched jets (qty>25, deterministic pt_gen) take the scaling branch,
    unmatched jets take the stochastic branch driven by
    content_randn_portable — an Irwin-Hall gaussian built from a
    multiplicative hash mod 2^31-1 using only IEEE-exact operations, so
    DuckDB reproduces every draw bit-for-bit (corrections.py
    portable_randn_sql generates the mirrored SQL). Per-jet results are
    rounded then summed as DECIMAL so the aggregation is
    order-independent. Complements q_jer_smear, whose production xxhash64
    Box-Muller draw stays rows-only."""
    from coffea_spark.corrections import content_randn_portable, jer_smear_factor

    li = _t(spark, sf_dir, "lineitem")
    pt = F.col("l_extendedprice") / 1000.0
    eta = F.col("l_discount") * 60.0 - 3.0
    reso = F.lit(0.05) + F.abs(eta) * 0.01
    randn = content_randn_portable(
        F.col("l_orderkey"), F.col("l_linenumber"), salt=7
    )
    pt_gen = F.when(
        F.col("l_quantity") > 25, pt * (1.0 - F.col("l_tax") / 2.0)
    ).otherwise(F.lit(None).cast("double"))
    smear = jer_smear_factor(pt, pt_gen, reso, F.lit(1.1), randn=randn)
    smear_up = jer_smear_factor(pt, pt_gen, reso, F.lit(1.2), randn=randn)

    def dsum(c):
        return F.round(
            F.sum(F.round(c, 6).cast("decimal(28,6)")), 2
        ).cast("double")

    out = li.select(
        (pt * smear).alias("pts"),
        (pt * smear_up).alias("ptu"),
        randn.alias("r"),
        F.col("l_quantity").alias("qty"),
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_jets"),
        F.sum(F.when(F.col("qty") <= 25, 1).otherwise(0)).cast("bigint").alias("n_stoch"),
        dsum(F.col("pts")).alias("sum_pt_smeared"),
        dsum(F.col("ptu")).alias("sum_jer_up"),
        dsum(F.col("r")).alias("sum_randn"),
    )


def _sql_jer_smear_portable() -> str:
    from coffea_spark.corrections import portable_randn_sql

    rn = portable_randn_sql(["l_orderkey", "l_linenumber"], salt=7)
    return f"""
WITH j AS (
  SELECT l_extendedprice / 1000.0 AS pt,
         l_discount * 60.0 - 3.0 AS eta,
         l_quantity AS qty,
         l_tax,
         {rn} AS r
  FROM lineitem
), s AS (
  SELECT pt, qty, r,
         0.05 + abs(eta) * 0.01 AS reso,
         CASE WHEN qty > 25 THEN pt * (1.0 - l_tax / 2.0) END AS pt_gen
  FROM j
), f AS (
  SELECT pt, qty, r,
         greatest(CASE WHEN pt_gen IS NOT NULL AND pt_gen > 0
                       THEN 1.0 + (1.1 - 1.0) * (pt - pt_gen) / pt
                       ELSE 1.0 + r * sqrt(greatest(1.1 * 1.1 - 1.0, 0.0)) * reso END,
                  0.0) AS sm,
         greatest(CASE WHEN pt_gen IS NOT NULL AND pt_gen > 0
                       THEN 1.0 + (1.2 - 1.0) * (pt - pt_gen) / pt
                       ELSE 1.0 + r * sqrt(greatest(1.2 * 1.2 - 1.0, 0.0)) * reso END,
                  0.0) AS smu
  FROM s
)
SELECT count(*) AS n_jets,
       CAST(sum(CASE WHEN qty <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_stoch,
       CAST(round(sum(CAST(round(pt * sm, 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_pt_smeared,
       CAST(round(sum(CAST(round(pt * smu, 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_jer_up,
       CAST(round(sum(CAST(round(r, 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_randn
FROM f
"""


def q_corrected_jets_det(spark, sf_dir):
    """The deterministic half of the corrected-jets build, hash-matched:
    JEC chain + eta/pt-binned JES uncertainty from the junc-txt table,
    NO stochastic smear — so every output column is oracle-portable.
    Complements q_jer_smear (rows-only because of the content-seeded
    gaussian): together they give the reference CorrectedJetsFactory
    surface (jetmet_tools/CorrectedJetsFactory.py:205-500) a full gate."""
    from coffea_spark.correction_files import read_junc_txt
    from coffea_spark.corrections import CorrectedJetsFactory, FactorizedJetCorrector

    (junc,) = read_junc_txt(
        os.path.join(os.path.dirname(__file__), "data", "demo.junc.txt")
    ).values()
    factory = CorrectedJetsFactory(
        FactorizedJetCorrector([lambda eta, pt: F.lit(1.05)]), junc=junc
    )
    orders = _order_items(spark, sf_dir)
    jets = F.transform(
        "items",
        lambda x: F.struct(
            (x["l_extendedprice"] / 1000.0).alias("pt"),
            (x["l_quantity"] / 10.0).alias("mass"),
            ((x["l_discount"] * 60.0) - 3.0).alias("eta"),
            F.lit(0.0).alias("phi"),
            F.lit(0.1).alias("rawFactor"),
        ),
    )
    built = factory.build(jets)
    return orders.select(built.alias("j")).select(F.explode("j").alias("jet")).agg(
        F.count(F.lit(1)).alias("n_jets"),
        F.round(F.sum("jet.pt_raw"), 2).alias("sum_pt_raw"),
        F.round(F.sum("jet.pt_jec"), 2).alias("sum_pt_jec"),
        F.round(F.sum("jet.JES_up_pt"), 2).alias("sum_jes_up"),
        F.round(F.sum("jet.JES_down_pt"), 2).alias("sum_jes_down"),
    )


# mirrors the factory arithmetic + JuncTable interpolation at pt_jec
SQL_CORRECTED_JETS_DET = """
WITH j AS (
  SELECT l_extendedprice / 1000.0 AS pt,
         l_discount * 60.0 - 3.0 AS eta
  FROM lineitem
), c AS (
  SELECT eta, pt,
         (pt * (1.0 - 0.1)) AS pt_raw,
         (pt * (1.0 - 0.1)) * 1.05 AS pt_jec
  FROM j
), b AS (
  SELECT pt_raw, pt_jec,
         CASE WHEN eta < 0.0 THEN 0 ELSE 1 END AS eb,
         least(greatest(pt_jec, 10.0), 1000.0) AS ptc
  FROM c
), k AS (
  SELECT pt_raw, pt_jec, eb, ptc,
         CASE WHEN ptc < 100.0 THEN 0 ELSE 1 END AS ki,
         CASE WHEN ptc < 100.0 THEN 10.0 ELSE 100.0 END AS k0,
         CASE WHEN ptc < 100.0 THEN 100.0 ELSE 1000.0 END AS k1
  FROM b
), v AS (
  SELECT pt_raw, pt_jec,
         (ptc - k0) / (k1 - k0) AS t,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.04 WHEN eb = 0 AND ki = 1 THEN 0.02
              WHEN eb = 1 AND ki = 0 THEN 0.05 ELSE 0.03 END AS u0,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.02 WHEN eb = 0 AND ki = 1 THEN 0.01
              WHEN eb = 1 AND ki = 0 THEN 0.03 ELSE 0.02 END AS u1,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.05 WHEN eb = 0 AND ki = 1 THEN 0.03
              WHEN eb = 1 AND ki = 0 THEN 0.06 ELSE 0.02 END AS d0,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.03 WHEN eb = 0 AND ki = 1 THEN 0.02
              WHEN eb = 1 AND ki = 0 THEN 0.02 ELSE 0.01 END AS d1
  FROM k
)
SELECT count(*) AS n_jets,
       round(sum(pt_raw), 2) AS sum_pt_raw,
       round(sum(pt_jec), 2) AS sum_pt_jec,
       round(sum(pt_jec * (1.0 + (u0 + t * (u1 - u0)))), 2) AS sum_jes_up,
       round(sum(pt_jec * (1.0 - (d0 + t * (d1 - d0)))), 2) AS sum_jes_down
FROM v
"""


def q_systematics(spark, sf_dir):
    """Systematic-variation namespace (reference Systematic /
    UpDownSystematic, methods/base.py:54-259): a variation is just extra
    columns under the ``systematics`` struct, flowing through downstream
    expressions (here: re-binned histogram counts) in the SAME single
    agg pass as the nominal."""
    from coffea_spark.systematics import add_systematic, variation

    li = _t(spark, sf_dir, "lineitem", floor=False)
    li = add_systematic(
        li, "price_scale", "UpDownSystematic", "l_extendedprice",
        lambda c, d: c * (1.0 + 0.02 * d),
    )
    nom = F.col("l_extendedprice")
    up = variation(li, "price_scale", "up")
    dn = variation(li, "price_scale", "down")
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(nom), 2).alias("sum_nom"),
        F.round(F.sum(up), 2).alias("sum_up"),
        F.round(F.sum(dn), 2).alias("sum_down"),
        F.sum(
            (bucket(up, 0.0, 80000.0, 40) != bucket(nom, 0.0, 80000.0, 40)).cast("int")
        ).alias("n_migrated"),
    )


SQL_SYSTEMATICS = """
SELECT count(*) AS n,
       round(sum(l_extendedprice), 2) AS sum_nom,
       round(sum(l_extendedprice * 1.02), 2) AS sum_up,
       round(sum(l_extendedprice * 0.98), 2) AS sum_down,
       CAST(sum(CASE WHEN
             (CASE WHEN l_extendedprice * 1.02 < 0 THEN -1
                   WHEN l_extendedprice * 1.02 >= 80000 THEN 40
                   ELSE CAST(floor(l_extendedprice * 1.02 / 2000.0) AS BIGINT) END)
             <>
             (CASE WHEN l_extendedprice < 0 THEN -1
                   WHEN l_extendedprice >= 80000 THEN 40
                   ELSE CAST(floor(l_extendedprice / 2000.0) AS BIGINT) END)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_migrated
FROM lineitem
"""


def q_systematics_multi(spark, sf_dir):
    """Coherent MULTI-column systematic (reference
    UpDownMultiSystematic.py:10-50): one source shifts price and
    quantity together (anti-correlated, as a jet-energy shift moves pt
    and mass coherently); both varied columns live under a single
    ``systematics.<name>.<dir>`` struct so a variation can never mix
    directions. The derived revenue recomputes from the varied pair in
    the same single agg pass as the nominal."""
    from coffea_spark.systematics import add_systematic

    li = _t(spark, sf_dir, "lineitem")
    li = add_systematic(
        li, "pq_shift", "UpDownMultiSystematic",
        ["l_extendedprice", "l_quantity"],
        lambda cols, d: {
            "l_extendedprice": cols["l_extendedprice"] * (1.0 + 0.03 * d),
            "l_quantity": cols["l_quantity"] * (1.0 - 0.01 * d),
        },
    )
    up = F.col("systematics.pq_shift.up")
    dn = F.col("systematics.pq_shift.down")

    # sum_rev_* reaches ~8e10 at sf0.01 — the hist3d float-flake class:
    # round per ROW (absorbs last-ULP association differences between
    # engines) then accumulate in DECIMAL so the sum is exact and
    # order-independent on both sides.
    def dsum(c):
        return F.round(
            F.sum(F.round(c, 4).cast("decimal(28,4)")), 2
        ).cast("double")

    return li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(up["l_extendedprice"]).alias("sum_price_up"),
        dsum(dn["l_quantity"]).alias("sum_qty_down"),
        dsum(up["l_extendedprice"] * up["l_quantity"]).alias("sum_rev_up"),
        dsum(dn["l_extendedprice"] * dn["l_quantity"]).alias("sum_rev_down"),
    )


SQL_SYSTEMATICS_MULTI = """
SELECT count(*) AS n,
       CAST(round(sum(CAST(round(l_extendedprice * 1.03, 4) AS DECIMAL(28,4))), 2) AS DOUBLE) AS sum_price_up,
       CAST(round(sum(CAST(round(l_quantity * 1.01, 4) AS DECIMAL(28,4))), 2) AS DOUBLE) AS sum_qty_down,
       CAST(round(sum(CAST(round((l_extendedprice * 1.03) * (l_quantity * 0.99), 4) AS DECIMAL(28,4))), 2) AS DOUBLE) AS sum_rev_up,
       CAST(round(sum(CAST(round((l_extendedprice * 0.97) * (l_quantity * 1.01), 4) AS DECIMAL(28,4))), 2) AS DOUBLE) AS sum_rev_down
FROM lineitem
"""


def q_doc_fingerprint(spark, sf_dir):
    """Rabin-Karp rolling-hash document fingerprinting (pure column
    math): per source, distinct fingerprints vs distinct normalized md5
    — the cheap first-pass dedup key a 100 TB pipeline computes inline
    with the scan (one shuffle on the group key only)."""
    from coffea_spark.llmdata.text import fingerprint_md5, rolling_hash

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(rolling_hash(F.col("text"))).alias("n_fp"),
        F.countDistinct(fingerprint_md5(F.col("text"))).alias("n_md5"),
        F.max(rolling_hash(F.col("text"))).alias("max_fp"),
    )


SQL_DOC_FINGERPRINT = r"""
WITH f AS (
  SELECT source,
         CASE WHEN length(text) > 0 THEN
           list_reduce(
             list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT)),
             (a, x) -> (a * 257 + x) % 2147483647)
         ELSE 0 END AS fp,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m
  FROM documents
)
SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_fp,
       count(DISTINCT m) AS n_md5, max(fp) AS max_fp
FROM f GROUP BY 1
"""


def q_asof_operator(spark, sf_dir):
    """The engine's public as-of join operator (joins.asof_join: union +
    running-extreme window — one shuffle, O(1) state, no range-join
    explosion) checked against DuckDB's NATIVE ASOF JOIN. The right side
    is pre-deduped per (key, time) so tie-breaking is deterministic in
    both engines."""
    from coffea_spark.joins import asof_join

    ev = _t(spark, sf_dir, "events", floor=False).select(
        F.col("user_id"), F.col("ts"), F.col("event_type")
    )
    orders = (
        _t(spark, sf_dir, "orders", floor=False)
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )
    j = asof_join(
        ev, orders, on="ts", by="user_id",
        right_on="o_orderdate", right_by="o_custkey",
        values=["o_totalprice"], direction="backward",
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("_asof_on").isNotNull().cast("int")).alias("n_matched"),
        F.round(F.sum(F.coalesce(F.col("_asof_o_totalprice"), F.lit(0.0))), 2).alias("sum_tp"),
        F.round(
            F.avg(F.col("ts").cast("long") - F.col("_asof_on").cast("long")), 4
        ).alias("avg_gap_s"),
    )


SQL_ASOF_OPERATOR = """
WITH o AS MATERIALIZED (
  SELECT o_custkey, o_orderdate, max(o_totalprice) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT event_type, count(*) AS n_events,
       count(o.o_orderdate) AS n_matched,
       round(sum(COALESCE(o.o_totalprice, 0.0)), 2) AS sum_tp,
       round(avg(CAST(floor(epoch(e.ts)) AS BIGINT)
                 - CAST(floor(epoch(o.o_orderdate)) AS BIGINT)), 4) AS avg_gap_s
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
GROUP BY 1
"""


def q_quantiles(spark, sf_dir):
    """Exact percentiles per group (linear interpolation — identical
    definition to DuckDB quantile_cont). The reference has no quantile
    op; listed free in SURVEY §2.5 'approx aggregates' — we gate the
    EXACT form so it hash-matches. The exact form sorts each group's
    full data: it is the ORACLE/SAMPLE path. The 100 TB path is
    q_quantiles_approx below (sketch-based, mergeable, bounded
    memory)."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE percentile aggregate evaluating all four fractions from a
    # single per-group buffer: four separate F.percentile() aggregates
    # each built (and sorted) their own copy of the group's full value
    # list — 4x the agg-buffer memory and sort work for byte-identical
    # values (same interpolation definition, same sorted array).
    pct = F.percentile(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.99)),
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.element_at(pct, 1), 6).alias("p25"),
        F.round(F.element_at(pct, 2), 6).alias("p50"),
        F.round(F.element_at(pct, 3), 6).alias("p75"),
        F.round(F.element_at(pct, 4), 6).alias("p99"),
    )


SQL_QUANTILES = """
SELECT l_returnflag, count(*) AS n,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem GROUP BY 1
"""


def q_quantiles_approx(spark, sf_dir):
    """Sketch-based percentiles per group (percentile_approx — the
    Greenwald-Khanna sketch Spark merges map-side): bounded memory per
    group regardless of group size, the quantile path that survives
    100 TB where the exact sort-per-group does not. Values are
    approximate by construction (accuracy 10000 -> ~0.01% rank error)
    so the driver records rows+schema only; determinism within Spark is
    exercised by the self-consistency bounds in the test suite."""
    li = _t(spark, sf_dir, "lineitem")
    acc = F.lit(10000)
    # one GK sketch per group serving all four fractions (was four
    # independent sketches over the same column — 4x the sketch build;
    # same estimator, so each fraction's value is unchanged)
    pct = F.percentile_approx(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.99)),
        acc,
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.element_at(pct, 1), 6).alias("p25"),
        F.round(F.element_at(pct, 2), 6).alias("p50"),
        F.round(F.element_at(pct, 3), 6).alias("p75"),
        F.round(F.element_at(pct, 4), 6).alias("p99"),
    )


def q_quads_metric(spark, sf_dir):
    """4-combinations within events through the GENERIC recursive
    combinations builder (reference ak.combinations with arbitrary n;
    rounds 1-5 only hand-wrote n=2,3) — per order, all C(len,4) item
    quadruples reduced row-locally: count, sum of the max price in each
    quadruple, and how many quadruples use four distinct suppliers.
    Oracle: 4-way self-join on linenumber order. Scale: per-row HOF
    work, C(7,4)=35 max on TPC-H orders; the relational fallback
    (pairs_exploded family) covers pathological inner lists."""
    orders = _order_items(spark, sf_dir)
    quad = combinations(F.col("items"), 4)
    # smax accumulates in DECIMAL(22,2): prices have 2 decimals, so the
    # per-order and grand sums are EXACT and order-independent — at
    # sum ~1.3e10 the rounded-double form sits only ~3.5e3 ULP from
    # flipping the 2nd decimal on partial-agg order (NUMERICS.md class)
    acc = F.aggregate(
        quad,
        F.struct(
            F.lit(0).alias("n"),
            F.lit(0).cast("decimal(22,2)").alias("smax"),
            F.lit(0).alias("nd"),
        ),
        lambda a, t: F.struct(
            (a["n"] + 1).alias("n"),
            (
                a["smax"]
                + F.greatest(
                    t["f0"]["l_extendedprice"], t["f1"]["l_extendedprice"],
                    t["f2"]["l_extendedprice"], t["f3"]["l_extendedprice"],
                ).cast("decimal(12,2)")
            ).cast("decimal(22,2)").alias("smax"),
            (a["nd"] + (
                F.size(F.array_distinct(F.array(
                    t["f0"]["l_suppkey"], t["f1"]["l_suppkey"],
                    t["f2"]["l_suppkey"], t["f3"]["l_suppkey"],
                ))) == 4
            ).cast("int")).alias("nd"),
        ),
    )
    return orders.select(acc.alias("q")).agg(
        F.sum("q.n").alias("n_quads"),
        F.sum("q.smax").cast("double").alias("sum_max_price"),
        F.sum("q.nd").alias("n_distinct_supp_quads"),
    )


SQL_QUADS_METRIC = """
WITH s AS MATERIALIZED (
  SELECT l_orderkey AS ok, l_extendedprice AS price, l_suppkey AS supp,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity,
                                     l_extendedprice, l_discount, l_suppkey) AS rn
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n_quads,
       CAST(sum(CAST(greatest(a.price, b.price, c.price, d.price)
                AS DECIMAL(12,2))) AS DOUBLE) AS sum_max_price,
       CAST(sum(CASE WHEN a.supp <> b.supp AND a.supp <> c.supp
                      AND a.supp <> d.supp AND b.supp <> c.supp
                      AND b.supp <> d.supp AND c.supp <> d.supp
                THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_supp_quads
FROM s a
JOIN s b ON b.ok = a.ok AND b.rn > a.rn
JOIN s c ON c.ok = a.ok AND c.ok = b.ok AND c.rn > b.rn
JOIN s d ON d.ok = a.ok AND d.ok = b.ok AND d.ok = c.ok AND d.rn > c.rn
"""
# Two oracle-shape constraints learned the hard way: (1) l_linenumber is NOT
# unique within an order in the synthetic data, so ordering must use the same
# full tie-break as array_sort's lexicographic struct order (row_number over
# all collected fields) or strict `>` undercounts; (2) the redundant pairwise
# ok equalities keep every DuckDB join order hash-joinable — without them the
# 1.0.0 planner picks a nested-loop order that never terminates at sf0.001.


def q_triples_metric(spark, sf_dir):
    """3-combinations within events + the all-pairs metric_table
    (reference ak.combinations(n=3) and methods/vector.py metric_table):
    one aggregate pass per construction (no sibling re-inlining)."""
    from coffea_spark.joins import combinations, metric_table
    from coffea_spark.plans import barrier

    orders = _order_items(spark, sf_dir)
    items = F.col("items")
    jets_raw = F.filter(items, lambda x: x["l_quantity"] > 25)
    muons_raw = F.filter(items, lambda x: x["l_quantity"] <= 25)
    base = barrier(orders, jets_raw.alias("jets"), muons_raw.alias("muons"))
    trip = combinations(F.col("jets"), 3)
    tacc = F.aggregate(
        trip,
        F.struct(F.lit(0).alias("n"), F.lit(0.0).alias("smax"), F.lit(0).alias("nd")),
        lambda a, t: F.struct(
            (a["n"] + 1).alias("n"),
            (a["smax"] + F.greatest(
                t["f0"]["l_extendedprice"], t["f1"]["l_extendedprice"], t["f2"]["l_extendedprice"]
            )).alias("smax"),
            (a["nd"] + (
                (t["f0"]["l_suppkey"] != t["f1"]["l_suppkey"])
                & (t["f0"]["l_suppkey"] != t["f2"]["l_suppkey"])
                & (t["f1"]["l_suppkey"] != t["f2"]["l_suppkey"])
            ).cast("int")).alias("nd"),
        ),
    )
    mt = metric_table(
        F.col("jets"), F.col("muons"),
        metric=lambda a, b: F.abs(a["l_extendedprice"] - b["l_extendedprice"]),
    )
    macc = F.aggregate(
        F.flatten(mt),
        F.struct(F.lit(0).alias("n"), F.lit(0.0).alias("s")),
        lambda a, m: F.struct((a["n"] + 1).alias("n"), (a["s"] + m).alias("s")),
    )
    return base.select(tacc.alias("t"), macc.alias("m")).agg(
        F.sum("t.n").alias("n_triples"),
        F.round(F.sum("t.smax"), 2).alias("sum_max_price"),
        F.sum("t.nd").alias("n_distinct_supp_triples"),
        F.sum("m.n").alias("n_cells"),
        F.round(F.sum("m.s"), 2).alias("sum_metric"),
    )


SQL_TRIPLES_METRIC = """
WITH s AS MATERIALIZED (
  SELECT l_orderkey AS ok, l_quantity AS qty, l_extendedprice AS price,
         l_suppkey AS supp,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity,
                                     l_extendedprice, l_discount, l_suppkey) AS rn
  FROM lineitem
),
jets AS MATERIALIZED (SELECT ok, price, supp, rn FROM s WHERE qty > 25),
muons AS MATERIALIZED (SELECT ok, price FROM s WHERE qty <= 25),
t AS (
  SELECT count(*) AS n_triples,
         round(sum(greatest(a.price, b.price, c.price)), 2) AS sum_max_price,
         CAST(sum(CASE WHEN a.supp <> b.supp AND a.supp <> c.supp AND b.supp <> c.supp
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_supp_triples
  FROM jets a
  JOIN jets b ON a.ok = b.ok AND a.rn < b.rn
  JOIN jets c ON b.ok = c.ok AND b.rn < c.rn
),
m AS (
  SELECT count(*) AS n_cells, round(sum(abs(j.price - u.price)), 2) AS sum_metric
  FROM jets j JOIN muons u ON j.ok = u.ok
)
SELECT t.n_triples, t.sum_max_price, t.n_distinct_supp_triples,
       m.n_cells, m.sum_metric
FROM t, m
"""


def q_hist3d(spark, sf_dir):
    """N-dimensional histogram fill (hist.histnd — the general hist.Hist
    analog): 3 regular axes, sparse by construction (only occupied
    bucket tuples exist; the shuffle carries bucket ids, not data).

    Gate numerics: the weight is fed as DECIMAL(12,4) so sumw/sumw2
    accumulate EXACTLY and order-independently on both engines —
    sum(price^2) reaches ~3e12 at sf0.01, where double ULP (~5e-4) can
    flip the 2nd rounded decimal depending on partial-agg order (the
    round-4 driver flake). Prices have 2 decimal places, squares 4, so
    decimal accumulation is lossless; results cast back to double after
    rounding so the compared schema stays DOUBLE."""
    from coffea_spark.hist import histnd

    li = _t(spark, sf_dir, "lineitem", floor=False)
    h = histnd(
        li,
        axes=[
            ("l_quantity", 10, 0.0, 50.0),
            ("l_discount", 5, 0.0, 0.1),
            ("l_extendedprice", 20, 0.0, 80000.0),
        ],
        weight=F.col("l_extendedprice").cast("decimal(12,4)"),
    )
    return h.select(
        "bin0", "bin1", "bin2", "n",
        F.round("sumw", 2).cast("double").alias("sumw"),
        F.round("sumw2", 2).cast("double").alias("sumw2"),
    )


SQL_HIST3D = """
WITH w AS (
  SELECT l_quantity, l_discount, l_extendedprice,
         CAST(l_extendedprice AS DECIMAL(12,4)) AS wd
  FROM lineitem
)
SELECT
  CASE WHEN l_quantity < 0 THEN -1 WHEN l_quantity >= 50 THEN 10
       ELSE CAST(floor((l_quantity - 0.0) / 5.0) AS BIGINT) END AS bin0,
  CASE WHEN l_discount < 0 THEN -1 WHEN l_discount >= 0.1 THEN 5
       ELSE CAST(floor((l_discount - 0.0) / 0.02) AS BIGINT) END AS bin1,
  CASE WHEN l_extendedprice < 0 THEN -1 WHEN l_extendedprice >= 80000 THEN 20
       ELSE CAST(floor((l_extendedprice - 0.0) / 4000.0) AS BIGINT) END AS bin2,
  count(*) AS n,
  CAST(round(sum(wd), 2) AS DOUBLE) AS sumw,
  CAST(round(sum(CAST(wd AS DECIMAL(28,4)) * wd), 2) AS DOUBLE) AS sumw2
FROM w GROUP BY 1, 2, 3
"""


def q_salted_join(spark, sf_dir):
    """Skew-salted equi-join (joins.salted_join): identical results to
    the plain join, hot keys scattered across salt replicas. The oracle
    is the UNSALTED join — proving salting is result-invariant.

    The right side carries a SHUFFLE_HASH hint: without it Spark
    broadcasts the replicated dimension and no reducer skew exists to
    mitigate — the salted exchange must actually appear in the audited
    plan for this gate to exercise the operator (the salt column joins
    the shuffle key, scattering any hot o_orderkey across 8 reducers)."""
    from coffea_spark.joins import salted_join

    li = _t(spark, sf_dir, "lineitem", floor=False).select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_quantity"
    )
    orders = _t(spark, sf_dir, "orders", floor=False).select(
        "o_orderkey", "o_orderpriority"
    ).hint("shuffle_hash")
    j = salted_join(li, orders, "o_orderkey", salt=8, how="inner")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
    )


SQL_SALTED_JOIN = """
SELECT o_orderpriority, count(*) AS n,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_quantity), 6) AS avg_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_deep_children(spark, sf_dir):
    """distinctChildrenDeep (reference kernel transforms.py:302-431):
    transitive children reached through same-pdg chains, emitted at the
    first pdg change — the irregular recursion runs as an Arrow-batched
    pandas UDF per event; the oracle replays it with a recursive CTE."""
    from coffea_spark.genealogy import MOTHER, distinct_children_deep_idx

    orders = _order_items(spark, sf_dir)
    parts = F.transform(
        "items",
        lambda x, i: F.struct(
            (x["l_suppkey"] % 7).cast("int").alias("pdgId"),
            F.when(i == 0, F.lit(-1))
            .otherwise(F.floor((i - 1) / 2))
            .cast("int")
            .alias(MOTHER),
        ),
    )
    gp = orders.select(parts.alias("gp"))
    deep = distinct_children_deep_idx(F.col("gp"))
    n_pairs = F.aggregate(deep, F.lit(0), lambda a, ks: a + F.size(ks))
    sum_pdg = F.aggregate(
        F.flatten(deep),
        F.lit(0).cast("long"),
        lambda a, j: a + F.element_at(F.col("gp"), j + 1)["pdgId"],
    )
    n_nonempty = F.size(F.filter(deep, lambda ks: F.size(ks) > 0))
    return gp.select(
        n_pairs.alias("np"), sum_pdg.alias("sp"), n_nonempty.alias("ne")
    ).agg(
        F.sum("np").alias("n_deep_pairs"),
        F.sum("sp").alias("sum_deep_pdg"),
        F.sum("ne").alias("n_parents_with_deep"),
    )


SQL_DEEP_CHILDREN = """
WITH RECURSIVE p AS MATERIALIZED (
  SELECT l_orderkey AS ok, rn, CAST(l_suppkey % 7 AS INT) AS pdg,
         CASE WHEN rn = 0 THEN -1 ELSE CAST(floor((rn - 1) / 2) AS INT) END AS mom
  FROM (
    SELECT l_orderkey, l_suppkey,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_quantity,
                                       l_extendedprice, l_discount, l_suppkey) - 1 AS rn
    FROM lineitem
  )
),
starts AS (
  -- reference gating (transforms.py:319-322): only chain TOPS — a
  -- valid mother with a DIFFERENT pdg — get a deep lookup
  SELECT a.ok, a.rn, a.pdg
  FROM p a JOIN p m ON m.ok = a.ok AND m.rn = a.mom AND m.pdg <> a.pdg
),
walk AS (
  SELECT a.ok, a.rn AS start_rn, a.pdg AS pdg0, a.rn AS cur FROM starts a
  UNION ALL
  SELECT w.ok, w.start_rn, w.pdg0, c.rn
  FROM walk w JOIN p c ON c.ok = w.ok AND c.mom = w.cur AND c.pdg = w.pdg0
),
emitted AS (
  -- descendants emitted at their first pdg change...
  SELECT w.ok, w.start_rn, c.rn AS child_rn, c.pdg
  FROM walk w JOIN p c ON c.ok = w.ok AND c.mom = w.cur AND c.pdg <> w.pdg0
  UNION ALL
  -- ...plus childless same-pdg chain members ("last ones in the chain")
  SELECT w.ok, w.start_rn, w.cur, w.pdg0
  FROM walk w
  WHERE w.cur <> w.start_rn
    AND NOT EXISTS (SELECT 1 FROM p k WHERE k.ok = w.ok AND k.mom = w.cur)
)
SELECT
  (SELECT count(*) FROM emitted) AS n_deep_pairs,
  (SELECT CAST(sum(pdg) AS BIGINT) FROM emitted) AS sum_deep_pdg,
  (SELECT count(DISTINCT (ok, start_rn)) FROM emitted) AS n_parents_with_deep
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming ingest deduplication (streaming.stream_dedup — the
    continuous form of exact dedup for pipelines where the corpus
    arrives as a stream): events keyed on a duplicate-heavy synthetic
    fingerprint (event_id % 211), first arrival emitted, replays
    dropped. The gate checks key-level facts that do not depend on
    WHICH duplicate wins (kept-key count, key checksum) plus the
    exactly-once invariant max-emissions-per-key == 1, computed on the
    Spark side and a constant TRUE-shape in the oracle — arrival order
    is engine-specific, key-set identity is not. Exact all-time mode
    (no watermark eviction) so the kept set equals batch DISTINCT."""
    from coffea_spark.streaming import stream_dedup

    stream = _event_stream(spark, sf_dir).withColumn(
        "dup_key", F.col("event_id") % 211
    )
    out = stream_dedup(
        stream, ["dup_key"], ts_col="ts", within_watermark=False
    )
    kept = _drain(out.select("dup_key"), "stream_dedup_gate", "append")
    per_key = kept.groupBy("dup_key").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("dup_key").alias("sum_key"),
        F.max("_c").alias("max_per_key"),
    )


SQL_STREAM_DEDUP = """
WITH k AS (SELECT DISTINCT event_id % 211 AS dup_key FROM events)
SELECT count(*) AS n_keys, CAST(sum(dup_key) AS BIGINT) AS sum_key,
       CAST(1 AS BIGINT) AS max_per_key
FROM k
"""


def q_stream_cutflow(spark, sf_dir):
    """Streaming cutflow (streaming.windowed_cutflow): the
    PackedSelection conditional-agg pass over event-time windows,
    complete-mode memory sink — oracle-checked like the batch form."""
    from coffea_spark.streaming import windowed_cutflow

    agg = windowed_cutflow(
        _event_stream(spark, sf_dir),
        {"mid": F.col("value") > 50.0, "high": F.col("value") > 200.0},
        ts_col="ts", window="6 hours", watermark="12 hours",
    )
    return _drain(agg, "stream_cutflow_gate", "complete").select(
        F.col("window.start").cast("long").alias("wstart"),
        "initial", "onecut_mid", "cutflow_mid", "onecut_high", "cutflow_high",
    )


SQL_STREAM_CUTFLOW = """
SELECT CAST(epoch(to_timestamp(floor(epoch(ts) / 21600) * 21600)) AS BIGINT) AS wstart,
       count(*) AS initial,
       CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS onecut_mid,
       CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS cutflow_mid,
       CAST(sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS onecut_high,
       CAST(sum(CASE WHEN value > 50.0 AND value > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS cutflow_high
FROM events GROUP BY 1
"""


def q_stream_sessions(spark, sf_dir):
    """Streaming session windows (streaming.sessionized,
    F.session_window 30-min gap) — checked against the relational
    lag-based island oracle with EXACT (fractional-second) gap
    comparison; Spark's session merge is INCLUSIVE — an event exactly
    gap after the last still extends the session (verified empirically
    on a 300s-grid fixture in test_streaming_ml_runner) — so a session
    closes only when the next event is > gap after the last."""
    from coffea_spark.streaming import sessionized

    agg = sessionized(_event_stream(spark, sf_dir), key="user_id", ts_col="ts",
                      gap="30 minutes", watermark="1 hour")
    return _drain(agg, "stream_sessions_gate", "complete").select(
        "user_id",
        F.col("session_window.start").cast("long").alias("sstart"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


SQL_STREAM_SESSIONS = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 1800.0
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS ns
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sstart,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM sessions GROUP BY user_id, sid
"""


def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (streaming.stream_interval_join,
    §2.10): rare high-value events join ALL events of the same user
    within ±10 minutes of event time, both sides watermarked so join
    state stays bounded; inner matches emit append-mode as they arrive.
    The oracle is the identical batch self-join with the same range
    predicate (the left row matches itself — included on both sides)."""
    from coffea_spark.streaming import stream_interval_join

    left = _event_stream(spark, sf_dir).filter(F.col("value") > 300.0)
    joined = stream_interval_join(
        left, _event_stream(spark, sf_dir), key="user_id", ts_col="ts",
        lower="10 minutes", upper="10 minutes", watermark="30 minutes",
    )
    return _drain(joined, "stream_ij_gate", "append").groupBy(
        (F.col("user_id") % 7).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.round(F.sum(F.col("value") * F.col("value_r")), 2).alias("sum_vv"),
        F.sum(
            F.abs(F.col("ts").cast("double") - F.col("ts_r").cast("double"))
        ).cast("long").alias("sum_absdt"),
    )


SQL_STREAM_INTERVAL_JOIN = """
SELECT l.user_id % 7 AS grp, count(*) AS n_matches,
       round(sum(l.value * r.value), 2) AS sum_vv,
       CAST(sum(abs(epoch(l.ts) - epoch(r.ts))) AS BIGINT) AS sum_absdt
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 10 MINUTE
 AND r.ts <= l.ts + INTERVAL 10 MINUTE
WHERE l.value > 300.0
GROUP BY 1
"""


def q_masked_filter(spark, sf_dir):
    """Null-preserving object mask (reference ak.mask: keep the array
    shape, null out failures — SURVEY §2.3): prove shape preservation
    and that downstream reductions skip nulls exactly like the oracle's
    CASE WHEN."""
    orders = _order_items(spark, sf_dir)
    masked = F.transform(
        "items", lambda x: F.when(x["l_quantity"] > 25.0, x)
    )
    return orders.select(
        F.size("items").alias("sz"),
        F.size(masked).alias("msz"),
        F.size(F.filter(masked, lambda x: x.isNotNull())).alias("kept"),
        F.aggregate(
            F.filter(masked, lambda x: x.isNotNull()),
            F.lit(0.0),
            lambda a, x: a + x["l_extendedprice"],
        ).alias("sump"),
    ).agg(
        F.sum((F.col("sz") == F.col("msz")).cast("int")).alias("n_shape_kept"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("kept").alias("n_passing"),
        F.round(F.sum("sump"), 2).alias("sum_passing_price"),
    )


SQL_MASKED_FILTER = """
SELECT count(DISTINCT l_orderkey) AS n_shape_kept,
       count(DISTINCT l_orderkey) AS n_orders,
       CAST(sum(CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_passing,
       round(sum(CASE WHEN l_quantity > 25.0 THEN l_extendedprice END), 2)
         AS sum_passing_price
FROM lineitem
"""


def q_range_gather(spark, sf_dir):
    """Begin/end range-based relation resolution (reference EDM4HEP
    begin_end_mapping, transforms.py:647-998): each object carries a
    [begin, end) index range into a flat per-event collection;
    F.sequence + element_at gather — native HOFs, no UDF, no shuffle."""
    orders = _order_items(spark, sf_dir)
    items = F.col("items")
    n = F.size(items)
    # synthetic ranges: object k covers items [k, min(k+2, n))
    ranged = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda k: F.struct(
            k.alias("begin"), F.least(k + 2, n).alias("end")
        ),
    )
    gathered = F.transform(
        ranged,
        lambda r: F.transform(
            F.sequence(r["begin"], r["end"] - 1),
            lambda i: F.element_at(items, i + 1)["l_extendedprice"],
        ),
    )
    return orders.select(
        F.aggregate(
            F.flatten(gathered), F.lit(0.0), lambda a, p: a + p
        ).alias("sp"),
        F.aggregate(
            gathered, F.lit(0), lambda a, g: a + F.size(g)
        ).alias("ng"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("ng").alias("n_gathered"),
        # ~5.6e9 at sf0.01: round the PER-EVENT partial (within-event
        # magnitude is small, so 4dp absorbs association differences)
        # and accumulate in DECIMAL — exact, order-independent
        F.round(
            F.sum(F.round(F.col("sp"), 4).cast("decimal(28,4)")), 2
        ).cast("double").alias("sum_gathered_price"),
    )


SQL_RANGE_GATHER = """
-- object k of an order covers item positions [k, min(k+2, n)):
-- every item is gathered once for itself and once by the previous
-- object (if any) => multiplicity 2 except position 0 (once).
WITH s AS MATERIALIZED (
  SELECT l_orderkey AS ok, l_extendedprice AS price,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity,
                                     l_extendedprice, l_discount, l_suppkey) - 1 AS rn
  FROM lineitem
), ev AS (
  SELECT ok,
         CAST(round(sum(price * (CASE WHEN rn = 0 THEN 1 ELSE 2 END)), 4)
              AS DECIMAL(28,4)) AS sp,
         sum(CASE WHEN rn = 0 THEN 1 ELSE 2 END) AS ng
  FROM s GROUP BY ok
)
SELECT count(*) AS n_events,
       CAST(sum(ng) AS BIGINT) AS n_gathered,
       CAST(round(sum(sp), 2) AS DOUBLE) AS sum_gathered_price
FROM ev
"""


def q_plot_vars(spark, sf_dir):
    """plot_vars report builder (reference Cutflow/NminusOne.plot_vars,
    analysis_tools.py:1267-1459): per-variable histograms at every
    cumulative selection stage, in ONE scan + one bucket-id shuffle
    (the reference refills per stage). Weighted and unweighted fills."""
    li = _t(spark, sf_dir, "lineitem", floor=False)
    sel = _lineitem_selection(li)
    out = sel.plot_vars(
        li,
        vars={
            "qty": (F.col("l_quantity"), 20, 0.0, 50.0),
            "price": (F.col("l_extendedprice"), 20, 0.0, 80000.0),
        },
        weight=F.lit(1.0) + F.col("l_discount"),
    )
    rounded = [
        F.round(c, 4).alias(c) for c in ("initial_w", "w_big_qty", "w_low_disc", "w_returned")
    ]
    return out.select(
        "var", "bin", "initial", "n_big_qty", "n_low_disc", "n_returned", *rounded
    )


SQL_PLOT_VARS = """
WITH b AS (
  SELECT l_quantity, l_extendedprice, 1.0 + l_discount AS w,
         l_quantity > 25 AS c1, l_discount < 0.05 AS c2, l_returnflag = 'N' AS c3
  FROM lineitem
), e AS (
  SELECT 'qty' AS var,
         CASE WHEN l_quantity < 0.0 THEN -1 WHEN l_quantity >= 50.0 THEN 20
              ELSE CAST(floor((l_quantity - 0.0) / 2.5) AS BIGINT) END AS bin,
         w, c1, c2, c3
  FROM b
  UNION ALL
  SELECT 'price',
         CASE WHEN l_extendedprice < 0.0 THEN -1 WHEN l_extendedprice >= 80000.0 THEN 20
              ELSE CAST(floor((l_extendedprice - 0.0) / 4000.0) AS BIGINT) END,
         w, c1, c2, c3
  FROM b
)
SELECT var, bin,
       count(*) AS initial,
       CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_qty,
       CAST(sum(CASE WHEN c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_disc,
       CAST(sum(CASE WHEN c1 AND c2 AND c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
       round(sum(w), 4) AS initial_w,
       round(sum(CASE WHEN c1 THEN w ELSE 0.0 END), 4) AS w_big_qty,
       round(sum(CASE WHEN c1 AND c2 THEN w ELSE 0.0 END), 4) AS w_low_disc,
       round(sum(CASE WHEN c1 AND c2 AND c3 THEN w ELSE 0.0 END), 4) AS w_returned
FROM e GROUP BY var, bin
"""


def q_rochester_pileup(spark, sf_dir):
    """Rochester muon momentum scale (kScaleDT / kSpreadMC) and pileup
    reweighting as named ops (reference rochester_lookup.py:88-171,
    json_converters.py:105-121): binned ratio/scale lookups applied to
    muon-shaped lineitem columns — literal-table column math in the scan
    stage, one aggregate shuffle total."""
    from coffea_spark.muon_corrections import PileupWeight, RochesterCorrection

    roc = RochesterCorrection.from_tables(
        eta_edges=[-3.0, 0.0, 3.0],
        phi_edges=[-3.2, 0.0, 3.2],
        M_mc=[[0.99, 1.01], [1.02, 0.98]],
        M_data=[[1.01, 1.02], [1.03, 1.04]],
        A_mc=[[0.0005, -0.0005], [0.0015, -0.0015]],
        A_data=[[0.001, -0.001], [0.002, -0.002]],
        res_eta_edges=[0.0, 1.5, 3.0],
        k_res_mc=[1.0, 1.1],
        k_res_data=[1.05, 1.2],
    )
    # exact binary ratios: data/mc sums are powers of two
    pu = PileupWeight([2, 4, 8, 2], [4, 4, 4, 4], [0.0, 5.0, 10.0, 15.0, 20.0])

    li = _t(spark, sf_dir, "lineitem")
    charge = F.when(F.col("l_linenumber") % 2 == 0, 1).otherwise(-1)
    pt = F.col("l_extendedprice") / 2000.0
    eta = F.col("l_discount") * 60.0 - 3.0
    phi = F.col("l_tax") * 80.0 - 3.2
    genpt = (F.col("l_extendedprice") / 2000.0) * (1.0 + F.col("l_discount"))
    kdt = roc.k_scale_dt(charge, pt, eta, phi)
    kspread = roc.k_spread_mc(charge, pt, eta, phi, genpt)
    w = pu(F.col("l_suppkey") % 20)
    return li.select(
        kdt.alias("kdt"), kspread.alias("ks"), w.alias("w"), pt.alias("pt")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("kdt"), 6).alias("avg_kdt"),
        F.round(F.sum(F.col("pt") * F.col("kdt")), 2).alias("sum_pt_dt"),
        F.round(F.avg("ks"), 6).alias("avg_kspread"),
        F.round(F.sum("w"), 4).alias("sum_pu_w"),
    )


# mirrors DenseLookup bin selection (clamped edges) + the reference's
# kScaleDT / kSpreadMC arithmetic in identical float op order
SQL_ROCHESTER_PILEUP = """
WITH m AS (
  SELECT CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE -1 END AS q,
         l_extendedprice / 2000.0 AS pt,
         l_discount * 60.0 - 3.0 AS eta,
         l_tax * 80.0 - 3.2 AS phi,
         (l_extendedprice / 2000.0) * (1.0 + l_discount) AS genpt,
         l_suppkey % 20 AS nti
  FROM lineitem
), t AS (
  SELECT q, pt, genpt, nti,
    CASE WHEN eta < 0.0 THEN CASE WHEN phi < 0.0 THEN 1.01 ELSE 1.02 END
         ELSE CASE WHEN phi < 0.0 THEN 1.03 ELSE 1.04 END END AS m_dt,
    CASE WHEN eta < 0.0 THEN CASE WHEN phi < 0.0 THEN 0.001 ELSE -0.001 END
         ELSE CASE WHEN phi < 0.0 THEN 0.002 ELSE -0.002 END END AS a_dt,
    CASE WHEN eta < 0.0 THEN CASE WHEN phi < 0.0 THEN 0.99 ELSE 1.01 END
         ELSE CASE WHEN phi < 0.0 THEN 1.02 ELSE 0.98 END END AS m_mc,
    CASE WHEN eta < 0.0 THEN CASE WHEN phi < 0.0 THEN 0.0005 ELSE -0.0005 END
         ELSE CASE WHEN phi < 0.0 THEN 0.0015 ELSE -0.0015 END END AS a_mc,
    CASE WHEN abs(eta) < 1.5 THEN 1.05 ELSE 1.2 END AS kres_dt,
    CASE WHEN abs(eta) < 1.5 THEN 1.0 ELSE 1.1 END AS kres_mc
  FROM m
), k AS (
  SELECT pt, nti,
         1.0 / (m_dt + q * a_dt * pt) AS kdt,
         1.0 / (m_mc + q * a_mc * pt) AS kmc,
         genpt, kres_dt, kres_mc
  FROM t
), s AS (
  SELECT pt, nti, kdt,
         kmc * ((genpt / (kmc * pt)) /
                (1.0 + (genpt / (kmc * pt) - 1.0) * kres_dt / kres_mc)) AS ks
  FROM k
)
SELECT count(*) AS n,
       round(avg(kdt), 6) AS avg_kdt,
       round(sum(pt * kdt), 2) AS sum_pt_dt,
       round(avg(ks), 6) AS avg_kspread,
       round(CAST(sum(CASE WHEN nti < 5 THEN 0.5 WHEN nti < 10 THEN 1.0
                           WHEN nti < 15 THEN 2.0 ELSE 0.5 END) AS DOUBLE), 4)
         AS sum_pu_w
FROM s
"""


def q_btag_csv(spark, sf_dir):
    """BTag scale factors parsed from the CSV correction-file format
    (reference btag_tools/btagscalefactor.py:52-86 readcsv + extractor
    dispatch): the packaged demo table compiles into a WHEN chain over
    (flavor, eta, pt) with per-row formulas at clamped pt — pure scan-
    stage column math, no UDF, no shuffle beyond the final aggregate."""
    from coffea_spark.correction_files import read_btag_csv

    table = read_btag_csv(os.path.join(os.path.dirname(__file__), "data", "demo.btag.csv"))
    li = _t(spark, sf_dir, "lineitem", floor=False)
    flav = (
        F.when(F.col("l_linenumber") % 3 == 0, 5)
        .when(F.col("l_linenumber") % 3 == 1, 4)
        .otherwise(0)
    )
    abseta = F.abs(F.col("l_discount") * 60.0 - 3.0)
    pt = F.col("l_extendedprice") / 1000.0
    sf = table.sf(flav, abseta, pt, working_point="medium")
    sf_up = table.sf(flav, abseta, pt, working_point="medium", systematic="up")
    return (
        li.select(flav.alias("flav"), sf.alias("sf"), sf_up.alias("sf_up"))
        .groupBy("flav")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("sf").alias("n_matched"),
            F.round(F.sum("sf"), 4).alias("sum_sf"),
            F.round(F.sum("sf_up"), 4).alias("sum_sf_up"),
        )
    )


SQL_BTAG_CSV = """
WITH j AS (
  SELECT CASE WHEN l_linenumber % 3 = 0 THEN 5
              WHEN l_linenumber % 3 = 1 THEN 4 ELSE 0 END AS flav,
         abs(l_discount * 60.0 - 3.0) AS abseta,
         l_extendedprice / 1000.0 AS pt
  FROM lineitem
), s AS (
  SELECT flav,
    CASE WHEN abseta >= -2.4 AND abseta < 2.4 AND pt >= 20 AND pt < 1000 THEN
      CASE WHEN flav = 5 THEN 0.9*((1.0+(0.03*least(greatest(pt,20.0),1000.0)))/(1.0+(0.04*least(greatest(pt,20.0),1000.0))))
           WHEN flav = 4 THEN 0.85+0.001*least(greatest(pt,20.0),1000.0)
           ELSE 1.05-0.0002*least(greatest(pt,20.0),1000.0) END
    END AS sf,
    CASE WHEN flav = 5 AND abseta >= -2.4 AND abseta < 2.4 AND pt >= 20 AND pt < 1000
         THEN 0.95*((1.0+(0.03*least(greatest(pt,20.0),1000.0)))/(1.0+(0.04*least(greatest(pt,20.0),1000.0))))
    END AS sf_up
  FROM j
)
SELECT flav, count(*) AS n, count(sf) AS n_matched,
       round(sum(sf), 4) AS sum_sf, round(sum(sf_up), 4) AS sum_sf_up
FROM s GROUP BY flav
"""


def q_jec_3d(spark, sf_dir):
    """3-D binned JEC (eta x rho x jagged-pt nested grid — the
    L1FastJet layout, reference txt_converters.py:137-235 at depth 3):
    chained jagged bin searches select the flat parameter row, the
    TFormula evaluates at pt clamped to the row's validity range. All
    literal-array column math in the scan stage; the oracle re-derives
    every cell as an explicit nested CASE."""
    from coffea_spark.correction_files import read_jec_txt

    table = read_jec_txt(
        os.path.join(os.path.dirname(__file__), "data", "demo3d.jec.txt")
    )
    li = _t(spark, sf_dir, "lineitem")
    eta = F.col("l_discount") * 60.0 - 3.0
    rho = F.col("l_tax") * 500.0
    pt = F.col("l_extendedprice") / 100.0
    return (
        li.select("l_returnflag", table(eta, rho, pt).alias("jec"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("jec"), 2).alias("sum_jec"),
            F.round(F.avg("jec"), 6).alias("avg_jec"),
        )
    )


# explicit nested-CASE re-derivation of coffea_spark/data/demo3d.jec.txt:
# eta bins [-3,0,3]; per-eta rho edges ([0,20,40] / [0,15,30,45]); per-cell
# jagged pt rows; out-of-range values clamp into the edge bins at every
# level; x clamps to the row's [xmin, xmax]; val = max(0.8, p0+p1*log10(x))
SQL_JEC_3D = """
WITH j AS (
  SELECT l_returnflag,
         l_discount * 60.0 - 3.0 AS eta,
         l_tax * 500.0 AS rho,
         l_extendedprice / 100.0 AS pt
  FROM lineitem
), sel AS (
  SELECT l_returnflag, pt,
    CASE WHEN eta < 0 THEN
      CASE WHEN rho < 20 THEN
        CASE WHEN pt < 100 THEN struct_pack(p0 := 1.05, p1 := 0.02, xmin := 10.0, xmax := 100.0)
             ELSE struct_pack(p0 := 1.10, p1 := -0.01, xmin := 100.0, xmax := 5000.0) END
      ELSE
        CASE WHEN pt < 50 THEN struct_pack(p0 := 0.98, p1 := 0.05, xmin := 10.0, xmax := 50.0)
             WHEN pt < 200 THEN struct_pack(p0 := 1.02, p1 := 0.01, xmin := 50.0, xmax := 200.0)
             ELSE struct_pack(p0 := 1.08, p1 := -0.02, xmin := 200.0, xmax := 5000.0) END
      END
    ELSE
      CASE WHEN rho < 15 THEN
        CASE WHEN pt < 100 THEN struct_pack(p0 := 0.95, p1 := 0.04, xmin := 10.0, xmax := 100.0)
             ELSE struct_pack(p0 := 1.00, p1 := 0.02, xmin := 100.0, xmax := 5000.0) END
      WHEN rho < 30 THEN
        CASE WHEN pt < 100 THEN struct_pack(p0 := 0.97, p1 := 0.03, xmin := 10.0, xmax := 100.0)
             ELSE struct_pack(p0 := 1.03, p1 := 0.00, xmin := 100.0, xmax := 5000.0) END
      ELSE
        CASE WHEN pt < 100 THEN struct_pack(p0 := 0.99, p1 := 0.01, xmin := 10.0, xmax := 100.0)
             ELSE struct_pack(p0 := 1.06, p1 := -0.03, xmin := 100.0, xmax := 5000.0) END
      END
    END AS r
  FROM j
), v AS (
  SELECT l_returnflag,
         greatest(0.8, r.p0 + r.p1 * log10(greatest(r.xmin, least(r.xmax, pt)))) AS jec
  FROM sel
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(jec), 2) AS sum_jec,
       round(avg(jec), 6) AS avg_jec
FROM v GROUP BY l_returnflag
"""


def q_effarea_l5flavor(spark, sf_dir):
    """EGM effective areas (.ea.txt -> one 1-D dense lookup per value
    column; reference txt_converters.py:442-534 + the extractor 'ea'
    dispatch) and sectioned L5Flavor JEC tables ([flavor] headers ->
    independent standard JEC tables named stem_flavor; reference
    convert_l5flavor_jes_txt_file, txt_converters.py:307-347), both
    parsed from the reference's REAL sample files and applied as
    literal-array scan-stage column math — at 100 TB the tables travel
    inside the plan, no join, no UDF. The oracle replays the dense
    lookups as clamp-to-edge CASE chains and the per-eta-bin flavor
    TFormula, generated from the SAME parsed tables."""
    from coffea_spark.lookup import extractor

    ea = extractor(sample("photon_id.ea.txt"))
    l5 = extractor(sample("Winter14_V8_MC_L5Flavor_AK5Calo.txt"))
    gj = l5["Winter14_V8_MC_L5Flavor_AK5Calo_gJ"]
    bj = l5["Winter14_V8_MC_L5Flavor_AK5Calo_bJ"]
    li = _t(spark, sf_dir, "lineitem")
    abseta = F.col("l_discount") * 30.0  # [0, 3] — exercises top-bin clamp
    eta = F.col("l_discount") * 100.0 - 5.0  # [-5, 5] — full bin range
    pt = F.col("l_extendedprice") / 500.0  # ~[1.8, 200] — clamps below ptmin
    return (
        li.select(
            "l_returnflag",
            ea["photon_id_EA_CHad"](abseta).alias("_ch"),
            ea["photon_id_EA_NHad"](abseta).alias("_nh"),
            ea["photon_id_EA_Pho"](abseta).alias("_ph"),
            gj(eta, pt).alias("_gj"),
            bj(eta, pt).alias("_bj"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("_ch") + F.col("_nh") + F.col("_ph")), 4).alias("sum_ea"),
            F.round(F.sum("_gj"), 2).alias("sum_gj"),
            F.round(F.avg("_bj"), 6).alias("avg_bj"),
        )
    )


def _sql_effarea_l5flavor() -> str:
    """Oracle generated from the SAME parsed tables: dense lookups as
    clamp-to-edge CASE chains, flavor corrections as the TFormula per
    eta bin with pt clamped to the row's validity range."""
    from coffea_spark.correction_files import read_ea_txt, read_jec_txt_sections

    ea = read_ea_txt(sample("photon_id.ea.txt"))

    def ea_case(name: str, var: str) -> str:
        lk = ea[name]
        edges, vals = lk.bins[0], lk.values
        whens = [
            f"WHEN {var} < {float(edges[i + 1])!r} THEN {float(vals[i])!r}"
            for i in range(len(vals) - 1)
        ]
        return (
            "CAST(CASE " + " ".join(whens)
            + f" ELSE {float(vals[-1])!r} END AS DOUBLE)"
        )

    secs = read_jec_txt_sections(sample("Winter14_V8_MC_L5Flavor_AK5Calo.txt"))

    def l5_case(comp: str) -> str:
        t = secs[f"Winter14_V8_MC_L5Flavor_AK5Calo_{comp}"]
        edges = t.edges
        rows = []
        for i in range(len(edges) - 1):
            lo, hi = float(t.clamp_lo[0][i]), float(t.clamp_hi[0][i])
            p = [float(t.params[k][i]) for k in range(len(t.params))]
            x = f"least(greatest(pt, {lo!r}), {hi!r})"
            expr = (
                f"(({p[0]!r}+({p[1]!r}/((pow(log10({x}),2))+({p[2]!r}))))"
                f"+(({p[3]!r})*exp(-(({p[4]!r})*((log10({x})-({p[5]!r}))"
                f"*(log10({x})-({p[5]!r})))))))"
            )
            rows.append((float(edges[i + 1]), expr))
        whens = [
            f"WHEN eta < {e!r} THEN {expr}" for e, expr in rows[:-1]
        ]
        return "CASE " + " ".join(whens) + f" ELSE {rows[-1][1]} END"

    return f"""
WITH j AS (
  SELECT l_returnflag,
         l_discount * 30.0 AS abseta,
         l_discount * 100.0 - 5.0 AS eta,
         l_extendedprice / 500.0 AS pt
  FROM lineitem
), v AS (
  SELECT l_returnflag,
         {ea_case("photon_id_EA_CHad", "abseta")} AS ch,
         {ea_case("photon_id_EA_NHad", "abseta")} AS nh,
         {ea_case("photon_id_EA_Pho", "abseta")} AS ph,
         {l5_case("gJ")} AS gj,
         {l5_case("bJ")} AS bj
  FROM j
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(ch + nh + ph), 4) AS sum_ea,
       round(sum(gj), 2) AS sum_gj,
       round(avg(bj), 6) AS avg_bj
FROM v GROUP BY l_returnflag
"""


def q_jes_uncertainty(spark, sf_dir):
    """Eta/pt-binned JES uncertainty from the junc txt format (reference
    jetmet_tools/JetCorrectionUncertainty.py:54 + txt converter
    txt_converters.py:350-441): eta-bin select + pt knot linear
    interpolation, all literal-array column math in the scan stage."""
    from coffea_spark.correction_files import read_junc_txt

    (table,) = read_junc_txt(
        os.path.join(os.path.dirname(__file__), "data", "demo.junc.txt")
    ).values()
    li = _t(spark, sf_dir, "lineitem")
    eta = F.col("l_discount") * 40.0 - 2.0
    pt = F.col("l_extendedprice") / 1000.0
    u = table(eta, pt)
    return li.select(
        u["up"].alias("up"), u["down"].alias("down"), pt.alias("pt")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("up"), 6).alias("avg_up"),
        F.round(F.avg("down"), 6).alias("avg_down"),
        F.round(F.sum(F.col("pt") * F.col("up")), 2).alias("sum_pt_up"),
        F.round(F.sum(F.col("pt") * F.col("down")), 2).alias("sum_pt_down"),
    )


# the oracle mirrors JuncTable exactly: eta-bin select (edges -2,0,2),
# pt clamp to the knot range [10, 1000], knot-interval select, linear
# interpolation v0 + t*(v1-v0) — same float op order as the Spark side
SQL_JES_UNCERTAINTY = """
WITH j AS (
  SELECT l_discount * 40.0 - 2.0 AS eta,
         l_extendedprice / 1000.0 AS pt
  FROM lineitem
), b AS (
  SELECT CASE WHEN eta < 0.0 THEN 0 ELSE 1 END AS eb,
         least(greatest(pt, 10.0), 1000.0) AS ptc, pt
  FROM j
), k AS (
  SELECT eb, pt, ptc,
         CASE WHEN ptc < 100.0 THEN 0 ELSE 1 END AS ki,
         CASE WHEN ptc < 100.0 THEN 10.0 ELSE 100.0 END AS k0,
         CASE WHEN ptc < 100.0 THEN 100.0 ELSE 1000.0 END AS k1
  FROM b
), v AS (
  SELECT pt,
         (ptc - k0) / (k1 - k0) AS t,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.04 WHEN eb = 0 AND ki = 1 THEN 0.02
              WHEN eb = 1 AND ki = 0 THEN 0.05 ELSE 0.03 END AS u0,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.02 WHEN eb = 0 AND ki = 1 THEN 0.01
              WHEN eb = 1 AND ki = 0 THEN 0.03 ELSE 0.02 END AS u1,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.05 WHEN eb = 0 AND ki = 1 THEN 0.03
              WHEN eb = 1 AND ki = 0 THEN 0.06 ELSE 0.02 END AS d0,
         CASE WHEN eb = 0 AND ki = 0 THEN 0.03 WHEN eb = 0 AND ki = 1 THEN 0.02
              WHEN eb = 1 AND ki = 0 THEN 0.02 ELSE 0.01 END AS d1
  FROM k
)
SELECT count(*) AS n,
       round(avg(1.0 + (u0 + t * (u1 - u0))), 6) AS avg_up,
       round(avg(1.0 - (d0 + t * (d1 - d0))), 6) AS avg_down,
       round(sum(pt * (1.0 + (u0 + t * (u1 - u0)))), 2) AS sum_pt_up,
       round(sum(pt * (1.0 - (d0 + t * (d1 - d0)))), 2) AS sum_pt_down
FROM v
"""


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (llmdata/splits.py hash_split):
    membership is a pure function of doc_id through a portable
    multiplicative hash, so any engine reproduces the exact assignment.
    Scan-stage projection — zero shuffles beyond the final tiny agg."""
    from coffea_spark.llmdata.splits import hash_split

    docs = _t(spark, sf_dir, "documents")
    s = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=7)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_ids"),
    )


def _sql_hash_split() -> str:
    # The CASE cutpoints come from the SAME integer-threshold helper the
    # Spark side uses (splits.split_thresholds) — boundary hashes cannot
    # be assigned different splits by float-literal drift.
    from coffea_spark.llmdata.splits import split_thresholds

    t_train, t_val = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
WITH h AS (
  SELECT doc_id, ((doc_id + 7) * 2654435761) % 4294967296 AS hh
  FROM documents
)
SELECT CASE WHEN hh < {t_train} THEN 'train'
            WHEN hh < {t_val} THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM h GROUP BY 1
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (llmdata/dsir.py; Xie et al. 2023):
    score every document against the English-subset target domain with
    hashed-bigram unigram models (portable char-fold hash, 1009
    buckets, add-one smoothing), then report per-language weight
    aggregates plus an exact top-5 integer checksum. Scale shape: two
    explode->groupBy bucket tables, one broadcast join of the exploded
    corpus grams against the bucket-sized log-ratio table, one per-doc
    sum. The oracle replays hash, smoothing, and summation exactly."""
    from coffea_spark.llmdata.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = docs.filter(F.col("lang") == "en")
    # cached: consumed by the top-5 checksum collect AND the final
    # per-language aggregate — the first (sequential) action fills it,
    # so the score chain runs once instead of once per consumer
    w = dsir_weights(docs, target, buckets=1009, gram_sizes=(1, 2)).cache()
    top5 = (
        w.orderBy(F.col("dsir_weight").desc(), "doc_id")
        .limit(5)
        .agg(F.sum("doc_id").alias("s"))
        .collect()[0]["s"]
    )
    return w.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dsir_weight"), 6).alias("avg_w"),
        F.round(F.max("dsir_weight"), 6).alias("max_w"),
        F.round(F.min("dsir_weight"), 6).alias("min_w"),
    ).withColumn("top5_id_sum", F.lit(int(top5)).cast("long"))


SQL_DSIR_WEIGHTS = r"""
WITH grams AS (
  SELECT doc_id, lang, gram FROM (
    SELECT doc_id, lang,
           unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS gram
    FROM documents
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(
             range(1, greatest(len(w) - 1, 0) + 1),
             i -> w[i] || ' ' || w[i + 1])) AS gram
    FROM (SELECT doc_id, lang,
                 list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
          FROM documents)
  )
),
bucketed AS (
  SELECT doc_id, lang,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(list_filter(string_split(gram, ''), c -> c <> ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 1000003) % 1009 AS bucket
  FROM grams
),
src AS (SELECT bucket, count(*) AS sc FROM bucketed GROUP BY 1),
tgt AS (SELECT bucket, count(*) AS tc FROM bucketed WHERE lang = 'en' GROUP BY 1),
ratios AS (
  SELECT b.bucket,
         ln((coalesce(t.tc, 0) + 1.0)
            / ((SELECT count(*) FROM bucketed WHERE lang = 'en') + 1009))
         - ln((coalesce(s.sc, 0) + 1.0)
              / ((SELECT count(*) FROM bucketed) + 1009)) AS log_ratio
  FROM (SELECT unnest(range(0, 1009)) AS bucket) b
  LEFT JOIN src s ON s.bucket = b.bucket
  LEFT JOIN tgt t ON t.bucket = b.bucket
),
weights AS (
  SELECT d.doc_id, d.lang, coalesce(w.wt, 0.0) AS dsir_weight
  FROM documents d LEFT JOIN (
    SELECT bk.doc_id, sum(r.log_ratio) AS wt
    FROM bucketed bk JOIN ratios r ON r.bucket = bk.bucket
    GROUP BY 1
  ) w ON w.doc_id = d.doc_id
),
top5 AS (
  SELECT CAST(sum(doc_id) AS BIGINT) AS s FROM (
    SELECT doc_id FROM weights ORDER BY dsir_weight DESC, doc_id LIMIT 5
  )
)
SELECT lang, count(*) AS n_docs,
       round(avg(dsir_weight), 6) AS avg_w,
       round(max(dsir_weight), 6) AS max_w,
       round(min(dsir_weight), 6) AS min_w,
       (SELECT s FROM top5) AS top5_id_sum
FROM weights GROUP BY lang
"""


def q_repetition_signals(spark, sf_dir):
    """Gopher repetition quality filters (llmdata/text.py
    repetition_signals; Rae et al. 2021 App. A1.1): per-document
    duplicate-line fractions plus top/duplicate n-gram character
    fractions for n=2,3, aggregated per language. The n-gram side is
    ONE explode -> groupBy((doc, n, gram)) -> per-doc reduce over token
    rows (corpus-token-linear, map-side combined) joined back onto the
    document table; the oracle replays the same definitions with
    unnest/group-by CTEs, tie-breaking the top gram on (count desc,
    gram asc) on both sides."""
    from coffea_spark.llmdata.text import repetition_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sig = repetition_signals(docs)
    return sig.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("top_2gram_char_frac"), 6).alias("avg_top2"),
        F.round(F.avg("dup_2gram_char_frac"), 6).alias("avg_dup2"),
        F.round(F.avg("top_3gram_char_frac"), 6).alias("avg_top3"),
        F.round(F.avg("dup_3gram_char_frac"), 6).alias("avg_dup3"),
        F.round(F.avg("dup_line_frac"), 6).alias("avg_dup_line"),
    )


SQL_REPETITION_SIGNALS = r"""
WITH w AS (
  SELECT doc_id, lang, length(text) AS tlen,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
  FROM documents
),
grams AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
                i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM w
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS gram
  FROM w
),
c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3),
ranked AS (
  SELECT doc_id, n, cnt * length(gram) AS topch,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY cnt DESC, gram) AS rn
  FROM c
),
dup AS (
  SELECT doc_id, n,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dupch
  FROM c GROUP BY 1, 2
),
per_doc AS (
  SELECT w.doc_id, w.lang,
         CASE WHEN w.tlen > 0
              THEN coalesce(t2.topch, 0) / w.tlen ELSE 0.0 END AS top2,
         CASE WHEN w.tlen > 0
              THEN coalesce(d2.dupch, 0) / w.tlen ELSE 0.0 END AS dup2,
         CASE WHEN w.tlen > 0
              THEN coalesce(t3.topch, 0) / w.tlen ELSE 0.0 END AS top3,
         CASE WHEN w.tlen > 0
              THEN coalesce(d3.dupch, 0) / w.tlen ELSE 0.0 END AS dup3,
         CASE WHEN len(w.lines) > 0 THEN (
           SELECT coalesce(sum(c2.c), 0) FROM (
             SELECT count(*) AS c FROM unnest(w.lines) AS u(l) GROUP BY l
             HAVING count(*) > 1
           ) c2
         ) * 1.0 / len(w.lines) ELSE 0.0 END AS dup_line
  FROM w
  LEFT JOIN ranked t2 ON t2.doc_id = w.doc_id AND t2.n = 2 AND t2.rn = 1
  LEFT JOIN dup d2 ON d2.doc_id = w.doc_id AND d2.n = 2
  LEFT JOIN ranked t3 ON t3.doc_id = w.doc_id AND t3.n = 3 AND t3.rn = 1
  LEFT JOIN dup d3 ON d3.doc_id = w.doc_id AND d3.n = 3
)
SELECT lang, count(*) AS n_docs,
       round(avg(top2), 6) AS avg_top2,
       round(avg(dup2), 6) AS avg_dup2,
       round(avg(top3), 6) AS avg_top3,
       round(avg(dup3), 6) AS avg_dup3,
       round(avg(dup_line), 6) AS avg_dup_line
FROM per_doc GROUP BY lang
"""


def q_bpe_train(spark, sf_dir):
    """Distributed BPE vocabulary training (llmdata/bpe.py): learn the
    first 6 merges over the documents corpus using the scale-correct
    word-frequency formulation — ONE corpus shuffle builds the distinct
    (word, freq) table, then every merge iteration runs over that
    vocabulary-sized table only (pair-count aggregation + 1-row argmax
    + row-local F.aggregate greedy fold, all JVM-side). The oracle
    replays the identical algorithm as 6 staged CTEs in DuckDB
    (list_reduce fold with a unit-separator accumulator), so the merge
    SEQUENCE — including merges of already-merged symbols — must match
    exactly, tie-broken on (count desc, p1, p2)."""
    from coffea_spark.llmdata.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents").select("text")
    merges = train_bpe(docs, "text", num_merges=6)
    rows = [
        (i + 1, p1, p2, cnt) for i, (p1, p2, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank int, p1 string, p2 string, pair_count long"
    )


def _sql_bpe_chain(k: int = 6) -> str:
    """The shared staged-CTE chain replaying train_bpe: stage n
    computes pair counts over words_n, takes the (count desc, p1, p2)
    argmax, and applies the merge with a list_reduce fold — the
    accumulator is a chr(31)-joined symbol string, and
    ``ends_with(acc, sep || p1)`` tests that the LAST full symbol
    equals p1 (greedy left-to-right, no re-merge through a just-merged
    symbol — byte-identical semantics to the Spark F.aggregate fold).
    Ends with ``words_k`` = every distinct word's final symbol state,
    which is ALSO the result of rank-order retokenization
    (``bpe.apply_merges``) — training replay and application are the
    same fold."""
    sql = r"""
WITH words_0 AS (
  SELECT word, count(*)::BIGINT AS freq,
         list_filter(string_split(word, ''), s -> s <> '') AS syms
  FROM (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS word
    FROM documents
  ) GROUP BY word
)"""
    for n in range(k):
        sql += f""",
pc_{n} AS (
  SELECT p[1] AS p1, p[2] AS p2, CAST(sum(freq) AS BIGINT) AS c
  FROM (
    SELECT freq, unnest(list_zip(syms, syms[2:])) AS p FROM words_{n}
  ) WHERE p[2] IS NOT NULL GROUP BY 1, 2
),
best_{n} AS (SELECT p1, p2, c FROM pc_{n} ORDER BY c DESC, p1, p2 LIMIT 1),
words_{n + 1} AS (
  SELECT freq,
         string_split(ltrim(
           list_reduce(list_prepend('', w.syms), (acc, x) ->
             CASE WHEN ends_with(acc, chr(31) || b.p1) AND x = b.p2
                  THEN acc || b.p2
                  ELSE acc || chr(31) || x END),
           chr(31)), chr(31)) AS syms
  FROM words_{n} w CROSS JOIN best_{n} b
)"""
    return sql


def _sql_bpe_train(k: int = 6) -> str:
    """Merge-sequence gate over the shared chain (see _sql_bpe_chain)."""
    return _sql_bpe_chain(k) + "\nSELECT * FROM (\n" + "\nUNION ALL\n".join(
        f"SELECT CAST({n + 1} AS INTEGER) AS merge_rank, p1, p2,"
        f" c AS pair_count FROM best_{n}"
        for n in range(k)
    ) + "\n) ORDER BY merge_rank"


def q_bpe_encode(spark, sf_dir):
    """Whole-corpus BPE APPLICATION (llmdata/bpe.py apply_merges /
    encode_corpus_counts): train 6 merges, then retokenize the corpus
    by folding them in rank order over the distinct (word, freq) table
    — symbol-disjoint runs collapse into one fold, the 32k-merge scale
    path — and return the top-20 freq-weighted token counts. The
    oracle reuses the train gate's staged-CTE chain verbatim: its
    final words_6 state IS rank-order application, so training replay
    and corpus encoding are pinned to the same fold semantics; any
    divergence in merge order, fold greediness, or weighting goes
    hash-red. The lowest-rank-first per-word encoder (encode_bpe) is
    parity-tested against this fold in pytest."""
    from coffea_spark.llmdata.bpe import (
        encode_corpus_counts,
        train_bpe,
        word_syms_table,
    )

    docs = _t(spark, sf_dir, "documents").select("text")
    # the (freq, syms) initial state feeds BOTH training and the corpus
    # encode — build its corpus shuffle once (train_bpe alone used to
    # checkpoint it internally, then encode_corpus_counts re-ran the
    # whole word_freq_table aggregation from the parquet scan)
    words = word_syms_table(docs, "text").localCheckpoint(eager=True)
    merges = train_bpe(docs, "text", num_merges=6, words=words)
    counts = encode_corpus_counts(docs, merges, "text", words=words)
    return counts.orderBy(F.col("cnt").desc(), "token").limit(20)


def _sql_bpe_encode(k: int = 6) -> str:
    """Top-20 token counts from the shared chain's words_k state."""
    return _sql_bpe_chain(k) + f"""
SELECT token, cnt FROM (
  SELECT token, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, unnest(syms) AS token FROM words_{k})
  GROUP BY token
) ORDER BY cnt DESC, token LIMIT 20
"""


def q_quality_classifier(spark, sf_dir):
    """Distributed quality-classifier TRAINING (the fasttext-style
    quality-filter stage of GPT-3/CCNet-style LLM data pipelines, here
    as full-batch logistic regression — mltools.logreg_train): each of
    3 gradient steps is ONE narrow aggregation (per-row gradient
    components map-side-summed, a 4-value row to the driver, weights
    fed back as literals), the MLlib treeAggregate recipe. Features are
    deterministic column math over documents (clipped length, digit
    fraction, whitespace fraction); label = (lang = 'en'). Inference
    with the trained weights is a pure column expression (logreg_predict,
    scan-stage). Oracle: the identical 3 steps as staged CTEs — weight
    recurrences match to ~1e-13 (engine partial-sum order), rounded to
    6 decimals. The feature projection is cached once; at 100 TB the
    k-pass cost is k cached-columnar scans, shuffle-free."""
    from coffea_spark.mltools import logreg_predict, logreg_train

    docs = _t(spark, sf_dir, "documents")
    L = F.length("text")
    feats = docs.select(
        (F.col("lang") == "en").cast("double").alias("y"),
        (F.least(L, F.lit(2000)) / F.lit(2000.0)).alias("x1"),
        (
            (L - F.length(F.regexp_replace("text", "[0-9]", "")))
            / F.greatest(L, F.lit(1)).cast("double")
        ).alias("x2"),
        (
            (L - F.length(F.regexp_replace("text", " ", "")))
            / F.greatest(L, F.lit(1)).cast("double")
        ).alias("x3"),
    ).cache()
    w = logreg_train(feats, ["x1", "x2", "x3"], "y", lr=1.0, iters=3)
    p = logreg_predict(w, ["x1", "x2", "x3"])
    return feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.lit(w[0]), 6).alias("w_bias"),
        F.round(F.lit(w[1]), 6).alias("w_len"),
        F.round(F.lit(w[2]), 6).alias("w_digit"),
        F.round(F.lit(w[3]), 6).alias("w_space"),
        F.round(F.avg(p), 6).alias("avg_p"),
    )


def _sql_quality_classifier(iters: int = 3) -> str:
    """Staged-CTE mirror of logreg_train: w_{t+1} selects from w_t and
    the gradient CTE over the shared feature projection; the sigmoid
    expression keeps the same left-to-right association as the Spark
    column fold."""
    sql = """
WITH f AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         least(length(text), 2000) / 2000.0 AS x1,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
           / greatest(length(text), 1)::DOUBLE AS x2,
         (length(text) - length(regexp_replace(text, ' ', '', 'g')))
           / greatest(length(text), 1)::DOUBLE AS x3
  FROM documents
),
nn AS (SELECT count(*)::DOUBLE AS n FROM f),
w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    for t in range(iters):
        sql += f""",
g{t} AS (
  SELECT sum(p - y) AS g0, sum((p - y) * x1) AS g1,
         sum((p - y) * x2) AS g2, sum((p - y) * x3) AS g3
  FROM (
    SELECT y, x1, x2, x3,
           1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3))) AS p
    FROM f, w{t} w
  )
),
w{t + 1} AS (
  SELECT w.b - g.g0 / nn.n AS b, w.w1 - g.g1 / nn.n AS w1,
         w.w2 - g.g2 / nn.n AS w2, w.w3 - g.g3 / nn.n AS w3
  FROM w{t} w, g{t} g, nn
)"""
    sql += f"""
SELECT CAST(nn.n AS BIGINT) AS n,
       round(w.b, 6) AS w_bias, round(w.w1, 6) AS w_len,
       round(w.w2, 6) AS w_digit, round(w.w3, 6) AS w_space,
       round((SELECT avg(1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                                            + w.w3 * x3)))) FROM f), 6) AS avg_p
FROM w{iters} w, nn
"""
    return sql


def q_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (llmdata/sketch.py): the sketch
    build is ONE shuffle keyed on (depth, bucket) — at most 4*256
    distinct keys, so map-side combine collapses each partition before
    the wire regardless of term-domain size; estimation broadcasts the
    ~1k-row sketch and probes row-locally. The gate estimates the top-10
    exact terms and asserts the CMS one-sided guarantee column-wise:
    est >= exact on every row (never_under all true). Hashes are the
    engine-portable Rabin-Karp bases, so the DuckDB oracle replays the
    sketch bit-for-bit."""
    from coffea_spark.llmdata.sketch import countmin_build, countmin_estimate
    from coffea_spark.llmdata.text import term_table

    docs = _t(spark, sf_dir, "documents")
    terms = term_table(docs, "text").select("term", "count")
    sketch = countmin_build(terms, "term", "count", depth=4, width=256)
    top = (
        terms.orderBy(F.col("count").desc(), "term")
        .limit(10)
        .select("term", F.col("count").alias("exact"))
    )
    est = countmin_estimate(top, sketch, "term", depth=4, width=256)
    return est.select(
        "term",
        F.col("exact").cast("long").alias("exact"),
        F.col("est").cast("long").alias("est"),
        (F.col("est") >= F.col("exact")).alias("never_under"),
    )


def _sql_heavy_hitters(depth: int = 4, width: int = 256) -> str:
    from coffea_spark.llmdata.sketch import CMS_BASES

    def bucket(expr: str, base: int) -> str:
        return (
            "list_reduce(list_transform(string_split_regex("
            f"{expr}, ''), c -> CAST(ord(c) AS BIGINT)), "
            f"(a, x) -> (a * {base} + x) % 2147483647) % {width}"
        )

    sql = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
), per_doc AS (
  SELECT doc_id, term, count(*) AS n FROM tok GROUP BY doc_id, term
), terms AS (
  SELECT term, CAST(sum(n) AS BIGINT) AS exact FROM per_doc GROUP BY term
)"""
    for d in range(depth):
        sql += f""",
cells_{d} AS (
  SELECT {bucket('term', CMS_BASES[d])} AS bucket,
         CAST(sum(exact) AS BIGINT) AS c
  FROM terms GROUP BY 1
)"""
    sql += """,
top AS (SELECT term, exact FROM terms ORDER BY exact DESC, term LIMIT 10)
SELECT t.term, t.exact,
       least(""" + ", ".join(
        f"coalesce(c{d}.c, 0)" for d in range(depth)
    ) + """) AS est,
       least(""" + ", ".join(
        f"coalesce(c{d}.c, 0)" for d in range(depth)
    ) + """) >= t.exact AS never_under
FROM top t
""" + "\n".join(
        f"LEFT JOIN cells_{d} c{d} ON c{d}.bucket = "
        + bucket("t.term", CMS_BASES[d])
        for d in range(depth)
    )
    return sql


def _docs_split_fixture(spark, sf_dir, n_files: int = 4) -> str:
    """documents.parquet repartitioned into n_files, so file-source
    streaming gates get REAL multi-batch behavior
    (maxFilesPerTrigger=1 -> n_files micro-batches)."""
    return _fixture(
        sf_dir,
        "docs_split",
        lambda tmp: _t(spark, sf_dir, "documents")
        .repartition(n_files, "doc_id")
        .write.parquet(tmp),
    )


def q_stream_heavy_hitters(spark, sf_dir):
    """STREAMING count-min heavy hitters (streaming.stream_countmin):
    documents arrive as 4 file micro-batches (maxFilesPerTrigger=1);
    each batch builds its distributed sketch and the bounded
    (<= depth*width) per-batch results merge by addition — CMS is
    linear, so the merged sketch must equal the batch sketch over the
    full corpus, which is why a STREAMING query can share the exact
    heavy_hitters oracle (same estimates, same one-sided invariant).
    Bounded state forever, no watermark: the all-time frequency query
    windowed aggregation cannot express."""
    from coffea_spark.llmdata.sketch import countmin_estimate
    from coffea_spark.llmdata.text import term_table, tokens

    depth, width = 4, 256
    path = _docs_split_fixture(spark, sf_dir)
    sch = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    # one row per token occurrence, weight 1 — the sketch sums
    # occurrences, so this equals the per-doc (term, n) weighted form
    # while staying LINEAR in doc length (a per-distinct-term count
    # would rescan the token list per term: quadratic in long docs)
    per_doc = raw.select(F.explode(tokens(F.col("text"))).alias("term"))
    with _stream_state_partitions(spark):
        from coffea_spark.streaming import stream_countmin

        acc = stream_countmin(per_doc, "term", None, depth=depth, width=width)
    sketch = spark.createDataFrame(
        [(d, b, int(c)) for (d, b), c in sorted(acc.items())],
        "d int, bucket long, c long",
    )
    docs = _t(spark, sf_dir, "documents")
    top = (
        term_table(docs, "text")
        .orderBy(F.col("count").desc(), "term")
        .limit(10)
        .select("term", F.col("count").alias("exact"))
    )
    est = countmin_estimate(top, sketch, "term", depth=depth, width=width)
    return est.select(
        "term",
        F.col("exact").cast("long").alias("exact"),
        F.col("est").cast("long").alias("est"),
        (F.col("est") >= F.col("exact")).alias("never_under"),
    )


def q_cardinality_hll(spark, sf_dir):
    """Portable HyperLogLog cardinality (llmdata/sketch.py hll_add /
    hll_estimate): distinct-orderkey count of lineitem estimated from a
    512-counter sketch — ONE bucket-keyed shuffle with map-side
    max-combine, state independent of key-domain size (the
    approx_count_distinct shape, but engine-portable: lowbias32-mixed
    hash + integer CASE-chain rho, so DuckDB replays the sketch
    bit-for-bit and the ESTIMATOR
    arithmetic float-matches)."""
    from coffea_spark.llmdata.sketch import hll_add, hll_estimate
    from coffea_spark.llmdata.splits import portable_mix32

    # cached: the sketch estimate (broadcast side of the crossJoin,
    # built first) and the exact distinct count both scan lineitem —
    # one fill, one cache read; projected to the single key column so
    # the cache does not defeat parquet column pruning
    li = _t(spark, sf_dir, "lineitem", floor=False).select("l_orderkey").cache()
    sk = hll_add(li, portable_mix32(F.col("l_orderkey")), p=9)
    est = hll_estimate(sk, p=9)
    exact = li.agg(F.countDistinct("l_orderkey").alias("n_exact"))
    return exact.crossJoin(est).select(
        "n_exact",
        F.round(F.col("est"), 2).alias("est_hll"),
        F.round(F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


def _sql_cardinality_hll(p: int = 9) -> str:
    m = 1 << p
    nbits = 32 - p
    case = "CASE " + " ".join(
        f"WHEN suffix >= {1 << (b - 1)} THEN {b}"
        for b in range(nbits, 0, -1)
    ) + " ELSE 0 END"
    return f"""
WITH m0 AS (
  SELECT CAST(l_orderkey % 4294967296 AS BIGINT) AS h FROM lineitem
), m1 AS (
  SELECT (xor(h, h >> 16) * 2146121005) % 4294967296 AS h FROM m0
), m2 AS (
  SELECT (xor(h, h >> 15) * 1935289751) % 4294967296 AS h FROM m1
), h AS (
  SELECT xor(h, h >> 16) AS hv FROM m2
), rho AS (
  SELECT hv % {m} AS bucket, {nbits + 1} - ({case}) AS r
  FROM (SELECT hv, CAST(floor(hv / {m}) AS BIGINT) AS suffix FROM h)
), sk AS (
  SELECT bucket, max(r) AS mj FROM rho GROUP BY bucket
), agg AS (
  SELECT sum(pow(2.0, -mj)) AS z_used, count(*) AS nonempty FROM sk
), est AS (
  SELECT CASE
    WHEN (0.7213 / (1.0 + 1.079 / {float(m)})) * {float(m)} * {float(m)}
         / (z_used + ({m} - nonempty)) <= {2.5 * m}
         AND ({m} - nonempty) > 0
    THEN {float(m)} * ln({float(m)} / ({m} - nonempty))
    ELSE (0.7213 / (1.0 + 1.079 / {float(m)})) * {float(m)} * {float(m)}
         / (z_used + ({m} - nonempty))
  END AS e FROM agg
)
SELECT (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
       round(e, 2) AS est_hll,
       round(abs(e - (SELECT count(DISTINCT l_orderkey) FROM lineitem))
             / (SELECT count(DISTINCT l_orderkey) FROM lineitem), 4) AS rel_err
FROM est
"""


def q_bloom_decontam(spark, sf_dir):
    """Bloom-filter decontamination (llmdata/sketch.py bloom_build /
    bloom_probe — the Dolma-style bounded-memory membership stage):
    eval-set 5-gram fingerprints populate a 2^17-bit filter (rows =
    set bits <= 4x key count regardless of corpus size); training docs probe it map-side
    (filter broadcast). Gate invariant: Bloom filters have NO false
    negatives, so every exactly-contaminated doc must be flagged —
    n_missed is 0 by construction and the oracle replays the same
    integer hash pipeline."""
    from coffea_spark.llmdata.decontam import contaminated_ids
    from coffea_spark.llmdata.sketch import bloom_build, bloom_probe
    from coffea_spark.llmdata.text import rolling_hash, word_ngrams

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 5))).alias("gram"),
    )
    keys = grams.select("doc_id", rolling_hash(F.col("gram")).alias("key"))
    evalk = keys.filter(F.col("doc_id") % 7 == 0)
    traink = keys.filter(F.col("doc_id") % 7 != 0).distinct()
    bloom = bloom_build(evalk, F.col("key"), m_bits=1 << 17, k=4)
    probe = bloom_probe(traink, bloom, F.col("key"), "doc_id", m_bits=1 << 17, k=4)
    flagged = probe.filter(F.col("n_hit_keys") > 0).select("doc_id")
    exact = contaminated_ids(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        n=5,
    )
    a = docs.filter(F.col("doc_id") % 7 != 0).agg(
        F.count(F.lit(1)).alias("n_train")
    )
    # One outer join over the two (unique-id, tiny) result sets computes
    # all three counts in a single pass. The previous spelling (separate
    # count aggregates for flagged, exact, and exact-anti-flagged,
    # crossJoined) re-ran the expensive gram+rolling-hash pipelines
    # TWICE each: the anti-join leg rebuilt both subtrees because a
    # count aggregate and a broadcast-join build share no reusable
    # exchange. Counts are identical: bloom_probe groups by id and
    # contaminated_ids is distinct, so both sides are unique-id sets —
    # presence flags sum to exactly the old cardinalities.
    # OPTIMIZATION_r13.md §5.
    stats = (
        exact.withColumn("_e", F.lit(1))
        .join(flagged.withColumn("_f", F.lit(1)), "doc_id", "full_outer")
        .agg(
            F.coalesce(F.sum("_f"), F.lit(0)).alias("n_flagged_bloom"),
            F.coalesce(F.sum("_e"), F.lit(0)).alias("n_flagged_exact"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_e").isNotNull() & F.col("_f").isNull(), 1
                    )
                ),
                F.lit(0),
            ).alias("n_missed"),
        )
    )
    return a.crossJoin(stats).select(
        "n_train", "n_flagged_bloom", "n_flagged_exact", "n_missed"
    )


def _sql_bloom_decontam() -> str:
    def mix(expr: str) -> str:
        """Inline SQL replay of splits.portable_mix32(expr)."""
        h0 = f"(({expr}) % 4294967296)"
        h1 = f"((xor({h0}, {h0} >> 16) * 2146121005) % 4294967296)"
        h2 = f"((xor({h1}, {h1} >> 15) * 1935289751) % 4294967296)"
        return f"xor({h2}, {h2} >> 16)"

    def pos(key: str) -> str:
        return f"({mix(key + ' + i * 1009')}) % 131072"

    return r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 3, 1)),
           i -> array_to_string(t[i:i+4], ' ')))) AS gram
  FROM toks
), fp AS (
  SELECT doc_id,
         list_reduce(
           list_transform(string_split_regex(gram, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647) AS key
  FROM grams
), evalk AS (
  SELECT DISTINCT key FROM fp WHERE doc_id % 7 = 0
), bits AS (
  SELECT DISTINCT """ + pos("key") + r""" AS bit
  FROM evalk, generate_series(0, 3) s(i)
), traink AS (
  SELECT DISTINCT doc_id, key FROM fp WHERE doc_id % 7 <> 0
), pp AS (
  SELECT doc_id, key, """ + pos("key") + r""" AS bit
  FROM traink, generate_series(0, 3) s(i)
), kh AS (
  SELECT doc_id, key,
         CASE WHEN sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 4
              THEN 1 ELSE 0 END AS hit
  FROM pp LEFT JOIN bits b USING (bit)
  GROUP BY doc_id, key
), flagged AS (
  SELECT doc_id FROM kh GROUP BY doc_id HAVING sum(hit) > 0
), dirty AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0
), exact AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN dirty d USING (gram)
  WHERE g.doc_id % 7 <> 0
)
SELECT (SELECT count(*) FROM documents WHERE doc_id % 7 <> 0) AS n_train,
       (SELECT count(*) FROM flagged) AS n_flagged_bloom,
       (SELECT count(*) FROM exact) AS n_flagged_exact,
       (SELECT count(*) FROM exact e
        WHERE e.doc_id NOT IN (SELECT doc_id FROM flagged)) AS n_missed
"""


def _warc_fixture(spark, sf_dir) -> str:
    """Deterministic WARC files from the documents table (the Common
    Crawl container layout): round-robin by doc_id, every odd file
    gzip-per-record; even doc_ids are text/plain, odd ones html-wrapped
    text/html.

    File count scales with the corpus — max(4, min(64, n_docs // 312))
    — the production shape (one task per CC segment file): the
    correctness SFs (≤500 docs) keep 4 files, so oracle gate inputs
    are byte-identical; from the bench SF up the parse parallelism
    grows with the corpus. Every consumer aggregates on
    ids/content_type, so results do not depend on the file count.
    Measured: BENCH_SCALE.md, "WARC file count"."""
    import pandas as pd

    from coffea_spark.llmdata.warc import write_warc

    def write(out: str) -> None:
        os.makedirs(out)
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
        # file count from ONE tiny count, not a driver collect: the
        # documents themselves never visit the driver — each WARC file
        # is written by the executor task holding its group
        # (groupBy(file).applyInPandas), the partitioned-writer shape a
        # production fixture/export would use. Byte-identical output to
        # the historical single-process writer: same round-robin
        # membership (doc_id % n_files), same within-file doc_id order.
        n_files = max(4, min(64, docs.count() // 312))

        def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
            i = int(pdf["_f"].iloc[0])
            pdf = pdf.sort_values("doc_id")
            recs = []
            for doc_id, text, source in zip(
                pdf["doc_id"], pdf["text"], pdf["source"]
            ):
                doc_id = int(doc_id)
                if doc_id % 2 == 0:
                    ctype, payload = "text/plain", text.encode()
                else:
                    ctype = "text/html"
                    payload = f"<html><body>{text}</body></html>".encode()
                recs.append(
                    {
                        "headers": {
                            "WARC-Type": "response",
                            "WARC-Target-URI": f"https://example.org/{source}/{doc_id}",
                            "WARC-Date": "2024-01-01T00:00:00Z",
                            "WARC-Record-ID": f"<urn:uuid:{doc_id:032d}>",
                            "Content-Type": ctype,
                        },
                        "payload": payload,
                    }
                )
            # temp-file + atomic rename: a task RETRY or speculative
            # duplicate writing the same part path concurrently would
            # interleave bytes (fatal inside a .gz). Each attempt writes
            # its own uniquely-named temp on the same FS and renames
            # into place — os.rename is atomic on a local filesystem and
            # last-wins between byte-identical attempts.
            import uuid as _uuid

            final = os.path.join(
                out, f"part-{i:02d}.warc" + (".gz" if i % 2 else "")
            )
            tmp = final + f".tmp-{_uuid.uuid4().hex}"
            write_warc(tmp, recs, compress=bool(i % 2))
            os.rename(tmp, final)
            return pd.DataFrame({"_f": [i], "n_records": [len(recs)]})

        written = (
            docs.withColumn("_f", (F.col("doc_id") % n_files).cast("int"))
            .groupBy("_f")
            .applyInPandas(_write_group, "_f int, n_records long")
            .collect()
        )
        # empty groups produce no file; backfill so the glob layout is
        # stable (a 3-doc corpus must still yield 4 files)
        have = {r["_f"] for r in written}
        for i in range(n_files):
            if i not in have:
                write_warc(
                    os.path.join(
                        out, f"part-{i:02d}.warc" + (".gz" if i % 2 else "")
                    ),
                    [],
                    compress=bool(i % 2),
                )

    return _fixture(sf_dir, "warc", write)


def q_warc_scan(spark, sf_dir):
    """WARC ingestion (llmdata/warc.py read_warc — the Common Crawl
    container the reference has no counterpart for, but every web-scale
    text pipeline starts from): 4 fixture files (2 plain, 2 gzip-per-
    record) scanned one-task-per-file, per-content-type counts, exact
    payload byte totals, and a Rabin-Karp checksum over the DECODED
    payloads — any framing, gzip-member, or header-parse bug shifts a
    value. Oracle recomputes everything from the documents table."""
    from coffea_spark.llmdata.text import rolling_hash
    from coffea_spark.llmdata.warc import read_warc

    fx = _warc_fixture(spark, sf_dir)
    df = read_warc(spark, os.path.join(fx, "part-*"))
    return (
        df.select(
            "content_type",
            "length",
            rolling_hash(F.decode(F.col("payload"), "UTF-8")).alias("h"),
        )
        .groupBy("content_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("length").alias("sum_bytes"),
            F.sum("h").alias("sum_hash"),
        )
    )


SQL_WARC_SCAN = r"""
WITH p AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'text/plain' ELSE 'text/html' END
           AS content_type,
         CASE WHEN doc_id % 2 = 0 THEN text
              ELSE '<html><body>' || text || '</body></html>' END AS payload
  FROM documents
)
SELECT content_type, count(*) AS n_records,
       CAST(sum(octet_length(encode(payload))) AS BIGINT) AS sum_bytes,
       CAST(sum(CASE WHEN length(payload) > 0 THEN
         list_reduce(
           list_transform(string_split_regex(payload, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647)
         ELSE 0 END) AS BIGINT) AS sum_hash
FROM p GROUP BY content_type
"""


def q_substring_removal(spark, sf_dir):
    """Substring-level duplicate REMOVAL (Lee et al. 2022 second half;
    llmdata/dedup.remove_duplicate_spans): every 8-token window shared
    by >= 2 documents keeps its first corpus occurrence and is CUT from
    all later ones; documents rebuilt from surviving tokens. The oracle
    replays window construction, keeper election (integer-encoded
    (id, pos) min — order-equivalent to the operator's struct min for
    pos < 2^20), and token surgery; rebuilt TEXT compares exactly.
    Scale shape in the operator docstring (aggregation-elected keepers,
    corpus-linear shuffles)."""
    from coffea_spark.llmdata.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, k=8, min_docs=2)
    return out.filter(F.col("n_removed") > 0).select(
        "doc_id", "text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


SQL_SUBSTRING_REMOVAL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
  FROM documents
), wins AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(tk, i, i + 7), ' ') AS win
  FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)
  WHERE len(tk) >= 8
), keep AS (
  SELECT win, min(doc_id * 1048576 + pos) AS kk
  FROM wins GROUP BY win HAVING count(DISTINCT doc_id) >= 2
), rm AS (
  SELECT w.doc_id, w.pos
  FROM wins w JOIN keep k ON k.win = w.win
  WHERE w.doc_id * 1048576 + w.pos <> k.kk
), ps AS (
  SELECT doc_id, list_sort(list(pos)) AS ps FROM rm GROUP BY doc_id
), rebuilt AS (
  SELECT t.doc_id,
         list_filter(t.tk, (x, j) ->
           len(list_filter(p.ps, q -> j >= q AND j < q + 8)) = 0) AS kept,
         len(t.tk) AS n_tokens
  FROM toks t JOIN ps p ON p.doc_id = t.doc_id
)
SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS text,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens - len(kept) AS BIGINT) AS n_removed
FROM rebuilt WHERE n_tokens - len(kept) > 0
"""


def q_unimax_sample(spark, sf_dir):
    """UniMax budget allocation (Chung et al. 2023; splits.unimax_rates
    / unimax_sample): a total budget water-filled as uniformly as
    possible across languages with a per-language epoch cap — the
    fairer successor to alpha-temperature sampling. The oracle replays
    the SAME iterative recurrence (ascending-capacity fill, remaining /
    remaining-groups share) as a recursive CTE so every float op
    matches; keep decisions come from the portable id hash so both
    engines draw identical samples. One tiny agg + driver water-fill
    over the language table + broadcast rate join (bounded-collect
    contract, languages-cardinality rows only)."""
    from coffea_spark.llmdata.splits import unimax_rates, unimax_sample

    docs = _t(spark, sf_dir, "documents", floor=False)
    rates = unimax_rates(docs, "lang", budget=300.0, epochs_cap=2.0)
    kept = unimax_sample(docs, "lang", "doc_id", budget=300.0, epochs_cap=2.0)
    return (
        rates.join(
            kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n",
            F.round("budget_alloc", 6).alias("budget_alloc"),
            F.round("epochs", 6).alias("epochs"),
            F.round("keep_rate", 6).alias("keep_rate"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


SQL_UNIMAX_SAMPLE = """
WITH RECURSIVE c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), ordered AS (
  SELECT lang, n, n * 2.0 AS cap,
         row_number() OVER (ORDER BY n * 2.0, lang) AS rk,
         count(*) OVER () AS m
  FROM c
), fill AS (
  SELECT rk, lang, n, cap, m,
         least(cap, 300.0 / m) AS b,
         300.0 - least(cap, 300.0 / m) AS rem
  FROM ordered WHERE rk = 1
  UNION ALL
  SELECT o.rk, o.lang, o.n, o.cap, o.m,
         least(o.cap, f.rem / (o.m - o.rk + 1)),
         f.rem - least(o.cap, f.rem / (o.m - o.rk + 1))
  FROM ordered o JOIN fill f ON o.rk = f.rk + 1
), r AS (
  SELECT lang, n, b, b / n AS epochs, least(1.0, b / n) AS keep_rate
  FROM fill
), kept AS (
  SELECT d.lang, count(*) AS n_kept
  FROM documents d JOIN r ON r.lang = d.lang
  WHERE ((d.doc_id * 2654435761) % 4294967296 + 1) / 4294967297.0
        <= r.keep_rate
  GROUP BY d.lang
)
SELECT r.lang, r.n, round(r.b, 6) AS budget_alloc,
       round(r.epochs, 6) AS epochs, round(r.keep_rate, 6) AS keep_rate,
       coalesce(k.n_kept, 0) AS n_kept
FROM r LEFT JOIN kept k ON k.lang = r.lang
"""


def q_alpha_sample(spark, sf_dir):
    """XLM-R/mT5 temperature sampling (splits.alpha_sampling_rates /
    alpha_sample): groups resampled proportional to p^alpha so the head
    flattens — the multilingual-balancing stage. Synthetic 6:3:1 skew
    over doc_id, alpha=0.5, budget=250; keep decisions come from the
    portable id hash so both engines draw identical samples. One tiny
    aggregation + broadcast rate table, scan-stage filter."""
    from coffea_spark.llmdata.splits import alpha_sample, alpha_sampling_rates

    docs = _t(spark, sf_dir, "documents", floor=False).withColumn(
        "grp",
        F.when(F.col("doc_id") % 10 < 6, F.lit("big"))
        .when(F.col("doc_id") % 10 < 9, F.lit("mid"))
        .otherwise(F.lit("small")),
    )
    rates = alpha_sampling_rates(docs, "grp", alpha=0.5, budget=250)
    kept = alpha_sample(docs, "grp", "doc_id", alpha=0.5, budget=250)
    return (
        rates.join(
            kept.groupBy("grp").agg(F.count(F.lit(1)).alias("n_kept")),
            "grp",
            "left",
        )
        .select(
            "grp",
            "n",
            F.round(F.col("keep_rate"), 6).alias("keep_rate"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


SQL_ALPHA_SAMPLE = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 6 THEN 'big'
              WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'small' END AS grp
  FROM documents
), c AS (
  SELECT grp, count(*) AS n FROM g GROUP BY grp
), t AS (
  SELECT sum(n) AS total, sum(pow(n, 0.5)) AS zsum FROM c
), r AS (
  SELECT grp, n,
         least(pow(n, 0.5) / t.zsum * 250.0 / n, 1.0) AS keep_rate
  FROM c, t
), kept AS (
  SELECT g.grp, count(*) AS n_kept
  FROM g JOIN r ON r.grp = g.grp
  WHERE (((doc_id + 0) * 2654435761) % 4294967296 + 1) / 4294967297.0
        <= r.keep_rate
  GROUP BY g.grp
)
SELECT r.grp, r.n, round(r.keep_rate, 6) AS keep_rate,
       coalesce(k.n_kept, 0) AS n_kept
FROM r LEFT JOIN kept k ON k.grp = r.grp
"""


def q_paragraph_dedup(spark, sf_dir):
    """CCNet-style paragraph dedup (llmdata/dedup.paragraph_dedup — the
    boilerplate-killer stage; Wenzek et al. 2020 dedup paragraphs
    across the corpus, not documents): every doc wrapped in a
    per-source header/footer (shared by ~25 docs), so the keeper
    election must retain each boilerplate line exactly once corpus-wide
    while unique bodies all survive. One fingerprint-keyed shuffle +
    one id-keyed rebuild; oracle replays split/hash/window/rebuild."""
    from coffea_spark.llmdata.dedup import paragraph_dedup
    from coffea_spark.llmdata.text import rolling_hash

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HDR "), F.col("source"), F.lit("\n"),
            F.col("text"),
            F.lit("\nFTR "), F.col("source"),
        ).alias("text"),
    )
    out = paragraph_dedup(docs)
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_paragraphs").alias("n_paragraphs"),
        F.sum("n_kept").alias("n_kept"),
        F.sum(rolling_hash(F.col("text"))).alias("sum_hash"),
    )


SQL_PARAGRAPH_DEDUP = r"""
WITH d AS (
  SELECT doc_id,
         'HDR ' || source || chr(10) || text || chr(10) || 'FTR ' || source AS t
  FROM documents
), e AS (
  SELECT doc_id, u.p.pos AS pos, u.p.para AS para
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             string_split(t, chr(10)),
             (x, i) -> {'pos': i - 1, 'para': x})) AS p
    FROM d
  ) u(doc_id, p)
), h AS (
  SELECT doc_id, pos, para,
         CASE WHEN length(trim(para)) >= 1 THEN
           list_reduce(
             list_transform(string_split_regex(trim(para), ''), c -> CAST(ord(c) AS BIGINT)),
             (a, x) -> (a * 257 + x) % 2147483647)
         END AS fp
  FROM e
), k AS (
  SELECT doc_id, pos, para,
         (fp IS NULL OR
          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1) AS keep
  FROM h
), rebuilt AS (
  SELECT doc_id, count(*) AS n_paragraphs,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos), '')
           AS text
  FROM k GROUP BY doc_id
)
SELECT count(*) AS n_docs,
       CAST(sum(n_paragraphs) AS BIGINT) AS n_paragraphs,
       CAST(sum(n_kept) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN length(text) > 0 THEN
         list_reduce(
           list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647)
         ELSE 0 END) AS BIGINT) AS sum_hash
FROM rebuilt
"""


def q_paragraph_dedup_norm(spark, sf_dir):
    """NORMALIZED CCNet paragraph dedup (paragraph_dedup(normalize=True)
    + text.ccnet_normalize — Wenzek et al. 2020 §4.1 hash paragraphs
    after lowercase / digits->0 / punctuation strip so trivial variants
    collide): headers carry per-doc punctuation+case variants ("HDR
    src!" vs "hdr src.") that raw hashing keeps apart but normalized
    hashing dedups to one corpus-wide keeper. The oracle replays the
    identical RE2-compatible normalization chain (byte-for-byte parity
    verified over the whole corpus) plus the keeper election and
    original-text rebuild."""
    from coffea_spark.llmdata.dedup import paragraph_dedup
    from coffea_spark.llmdata.text import rolling_hash

    hdr_case = F.when(F.col("doc_id") % 2 == 0, F.lit("HDR ")).otherwise(
        F.lit("hdr ")
    )
    punct = F.when(F.col("doc_id") % 3 == 0, F.lit("!")).otherwise(F.lit("."))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            hdr_case, F.col("source"), punct, F.lit("\n"),
            F.col("text"),
            F.lit("\nFTR "), F.col("source"),
        ).alias("text"),
    )
    out = paragraph_dedup(docs, normalize=True)
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_paragraphs").alias("n_paragraphs"),
        F.sum("n_kept").alias("n_kept"),
        F.sum(rolling_hash(F.col("text"))).alias("sum_hash"),
    )


SQL_PARAGRAPH_DEDUP_NORM = r"""
WITH d AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HDR ' ELSE 'hdr ' END) || source ||
         (CASE WHEN doc_id % 3 = 0 THEN '!' ELSE '.' END) || chr(10) ||
         text || chr(10) || 'FTR ' || source AS t
  FROM documents
), e AS (
  SELECT doc_id, u.p.pos AS pos, u.p.para AS para
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             string_split(t, chr(10)),
             (x, i) -> {'pos': i - 1, 'para': x})) AS p
    FROM d
  ) u(doc_id, p)
), nrm AS (
  SELECT doc_id, pos, para,
         trim(regexp_replace(regexp_replace(regexp_replace(
           lower(para), '[0-9]', '0', 'g'), '[\p{P}\p{S}]', '', 'g'),
           '\s+', ' ', 'g')) AS norm
  FROM e
), h AS (
  SELECT doc_id, pos, para,
         CASE WHEN length(norm) >= 1 THEN
           list_reduce(
             list_transform(string_split_regex(norm, ''), c -> CAST(ord(c) AS BIGINT)),
             (a, x) -> (a * 257 + x) % 2147483647)
         END AS fp
  FROM nrm
), k AS (
  SELECT doc_id, pos, para,
         (fp IS NULL OR
          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1) AS keep
  FROM h
), rebuilt AS (
  SELECT doc_id, count(*) AS n_paragraphs,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos), '')
           AS text
  FROM k GROUP BY doc_id
)
SELECT count(*) AS n_docs,
       CAST(sum(n_paragraphs) AS BIGINT) AS n_paragraphs,
       CAST(sum(n_kept) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN length(text) > 0 THEN
         list_reduce(
           list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647)
         ELSE 0 END) AS BIGINT) AS sum_hash
FROM rebuilt
"""


def q_domain_filter(spark, sf_dir):
    """URL host extraction + domain blocklist filtering (text.url_host /
    domain_filter — the C4/RefinedWeb URL-filter stage): deterministic
    urls synthesized per document (host = {source}.example.{tld},
    tld by doc_id%3), blocklist ['example.com', 'src3.example.org']
    exercising both the subdomain-suffix and exact-host rules; per-tld
    kept-counts plus distinct hosts. Scan-stage literal chain — no
    join, no UDF."""
    from coffea_spark.llmdata.text import domain_filter, url_host

    docs = _t(spark, sf_dir, "documents", floor=False)
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example."), tld,
            F.lit("/page/"), F.col("doc_id"),
        ).alias("url"),
    )
    kept = domain_filter(urls, "url", ["example.com", "src3.example.org"])
    host = url_host(F.col("url"))
    return (
        kept.select(F.regexp_extract(host, r"\.([a-z]+)$", 1).alias("tld"), host.alias("h"))
        .groupBy("tld")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.countDistinct("h").alias("n_hosts"),
        )
    )


SQL_DOMAIN_FILTER = r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.' ||
         CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
         || '/page/' || doc_id AS url
  FROM documents
), h AS (
  SELECT lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
  FROM u
), kept AS (
  SELECT host FROM h
  WHERE NOT (host = 'example.com' OR host LIKE '%.example.com'
             OR host = 'src3.example.org')
)
SELECT regexp_extract(host, '\.([a-z]+)$', 1) AS tld,
       count(*) AS n_kept, count(DISTINCT host) AS n_hosts
FROM kept GROUP BY 1
"""


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + URL-level dedup (text.canonicalize_url /
    url_dedup — the CCNet/C4 'same page fetched twice' collapse).
    Every document gets one of four deterministically-messy spellings
    of its group's URL (case-mangled scheme+host, explicit default
    port :443, a www. prefix, a trailing slash, #fragments, and
    utm_*/fbclid/ref tracking params — with a genuine ``q=1`` param
    and a non-default :8080 port mixed in on some groups, which MUST
    survive). All four spellings must canonicalize identically, so
    each 4-doc group collapses to exactly one URL with min-doc_id
    keeper election (aggregation, not a window — hot URLs get map-side
    combine). The oracle replays every canonicalization rule verbatim:
    any regex, port, param-order, or slash bug goes hash-red.
    Scan-stage + ONE shuffle keyed on the canonical URL."""
    from coffea_spark.llmdata.text import url_dedup

    docs = _t(spark, sf_dir, "documents", floor=False).select("doc_id")
    gid = F.floor(F.col("doc_id") / 4).cast("long")
    v = (F.col("doc_id") % 4).cast("int")
    hn = (gid % 7).cast("string")
    gs = gid.cast("string")
    qf = gid % 5 == 0
    pf = gid % 3 == 0
    port_d = F.when(pf, F.lit(":8080")).otherwise(F.lit(""))
    port_s = F.when(pf, F.lit(":8080")).otherwise(F.lit(":443"))
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://h"), hn, F.lit(".example.com"), port_d,
            F.lit("/p/"), gs,
            F.when(qf, F.lit("?q=1")).otherwise(F.lit("")),
        ))
        .when(v == 1, F.concat(
            F.lit("HTTPS://H"), hn, F.lit(".EXAMPLE.COM"), port_s,
            F.lit("/p/"), gs,
            F.when(qf, F.lit("?q=1")).otherwise(F.lit("")),
            F.lit("#frag"), F.col("doc_id").cast("string"),
        ))
        .when(v == 2, F.concat(
            F.lit("https://www.h"), hn, F.lit(".example.com"), port_d,
            F.lit("/p/"), gs, F.lit("/"),
            F.when(qf, F.lit("?utm_source=x&q=1&fbclid=1"))
            .otherwise(F.lit("?utm_source=x&fbclid=1")),
        ))
        .otherwise(F.concat(
            F.lit("https://h"), hn, F.lit(".example.com"), port_s,
            F.lit("/p/"), gs,
            F.when(qf, F.lit("?utm_campaign=y&q=1&ref=tw"))
            .otherwise(F.lit("?utm_campaign=y&ref=tw")),
        ))
    )
    deduped = url_dedup(docs.select("doc_id", url.alias("url")), "url", "doc_id")
    return deduped.groupBy(
        F.when(F.col("canonical_url").contains("?q=1"), 1).otherwise(0).alias("has_q"),
        F.when(F.col("canonical_url").contains(":8080"), 1).otherwise(0).alias("has_port"),
    ).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("keeper_id").alias("sum_keepers"),
        F.sum("n_dupes").alias("sum_dupes"),
    )


SQL_URL_DEDUP = r"""
WITH d AS (
  SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS v FROM documents
), u AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://h' || (gid % 7) || '.example.com' || pd
                  || '/p/' || gid || CASE WHEN qf THEN '?q=1' ELSE '' END
      WHEN 1 THEN 'HTTPS://H' || (gid % 7) || '.EXAMPLE.COM' || ps
                  || '/p/' || gid || CASE WHEN qf THEN '?q=1' ELSE '' END
                  || '#frag' || doc_id
      WHEN 2 THEN 'https://www.h' || (gid % 7) || '.example.com' || pd
                  || '/p/' || gid || '/'
                  || CASE WHEN qf THEN '?utm_source=x&q=1&fbclid=1'
                          ELSE '?utm_source=x&fbclid=1' END
      ELSE 'https://h' || (gid % 7) || '.example.com' || ps
           || '/p/' || gid
           || CASE WHEN qf THEN '?utm_campaign=y&q=1&ref=tw'
                   ELSE '?utm_campaign=y&ref=tw' END
    END AS url
  FROM (
    SELECT doc_id, gid, v, (gid % 5 = 0) AS qf,
           CASE WHEN gid % 3 = 0 THEN ':8080' ELSE '' END AS pd,
           CASE WHEN gid % 3 = 0 THEN ':8080' ELSE ':443' END AS ps
    FROM d
  ) t
), c AS (
  SELECT doc_id,
         scheme || '://' || host
         || CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443'))
                 THEN ':' || port ELSE '' END
         || path
         || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canonical_url
  FROM (
    SELECT t3.*,
           array_to_string(list_filter(string_split(q, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)')), '&') AS cq
    FROM (
      SELECT t2.*,
             regexp_replace(regexp_extract(tail, '^([^?#]*)', 1),
                            '/+$', '') AS path,
             regexp_extract(tail, '^[^?#]*\?([^#]*)', 1) AS q
      FROM (
        SELECT t1.*,
               regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
                              '^www\.', '') AS host,
               regexp_extract(hostport, ':([0-9]+)$', 1) AS port
        FROM (
          SELECT t0.*,
                 regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
                 regexp_extract(rest, '^[^/?#]*(.*)$', 1) AS tail
          FROM (
            SELECT doc_id,
                   lower(regexp_extract(url,
                     '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                   regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$', 1) AS rest
            FROM u
          ) t0
        ) t1
      ) t2
    ) t3
  ) t4
), dd AS (
  SELECT canonical_url, min(doc_id) AS keeper_id,
         count(*) - 1 AS n_dupes
  FROM c GROUP BY canonical_url
)
SELECT CASE WHEN canonical_url LIKE '%?q=1%' THEN 1 ELSE 0 END AS has_q,
       CASE WHEN canonical_url LIKE '%:8080%' THEN 1 ELSE 0 END AS has_port,
       count(*) AS n_urls, CAST(sum(keeper_id) AS BIGINT) AS sum_keepers,
       CAST(sum(n_dupes) AS BIGINT) AS sum_dupes
FROM dd GROUP BY 1, 2
"""


def q_pagerank_hosts(spark, sf_dir):
    """Link-graph PageRank (cluster.pagerank) — the web-corpus quality
    weight: a deterministic host-level link graph is derived from the
    documents table (src = doc_id % 101, dst = (31*doc_id + 7) % 101;
    hosts ≡ 0 mod 10 emit NO out-links, so the dangling-mass
    redistribution path is exercised, and self-loops are dropped),
    then 3 power iterations at d = 0.85. The oracle replays every
    iteration as a chained CTE — graph construction, out-degree
    normalization, dangling mass, teleport — so any deviation in the
    recurrence goes hash-red. One join + one groupBy per iteration on
    (long, long, double) rows; see cluster.pagerank for the 100 TB
    posture."""
    from coffea_spark.llmdata.cluster import pagerank

    docs = _t(spark, sf_dir, "documents")
    e = (
        docs.select(
            (F.col("doc_id") % 101).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 101).alias("dst"),
        )
        .where((F.col("src") % 10 != 0) & (F.col("src") != F.col("dst")))
    )
    r = pagerank(e, iterations=3, damping=0.85)
    return r.select(
        F.col("node").alias("host"), F.round("rank", 8).alias("rank8")
    )


# chained-CTE replay of 3 PageRank power iterations: identical graph
# recipe, w/deg shares, per-iteration dangling mass and teleport
def _sql_pagerank_hosts() -> str:
    it = """
r{K} AS (
  SELECT nodes.node,
         0.15/(SELECT n FROM nn)
         + 0.85*(coalesce(c.s, 0.0)
                 + (SELECT coalesce(sum(rank), 0.0) FROM r{P}
                    WHERE node NOT IN (SELECT src FROM deg))
                   / (SELECT n FROM nn)) AS rank
  FROM nodes LEFT JOIN (
    SELECT sh.dst AS node, sum(sh.share * r.rank) AS s
    FROM sh JOIN r{P} r ON sh.src = r.node GROUP BY 1
  ) c USING (node)
)"""
    steps = ",".join(it.format(K=k, P=k - 1) for k in (1, 2, 3))
    return f"""
WITH e0 AS (
  SELECT doc_id % 101 AS src, (doc_id * 31 + 7) % 101 AS dst
  FROM documents
  WHERE (doc_id % 101) % 10 <> 0
    AND doc_id % 101 <> (doc_id * 31 + 7) % 101
), e AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM e0 GROUP BY 1, 2
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), deg AS (
  SELECT src, sum(w) AS deg FROM e GROUP BY 1
), sh AS (
  SELECT src, dst, w / deg AS share FROM e JOIN deg USING (src)
), r0 AS (
  SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes
),{steps}
SELECT node AS host, round(rank, 8) AS rank8 FROM r3
"""


def q_html_extract(spark, sf_dir):
    """C4-style HTML -> text extraction (text.html_to_text): documents
    wrapped in deterministic HTML carrying script/style blocks,
    comments, tags, and the five XML entities; the extracted text of
    every doc must hash-match the whitespace-normalized original — the
    WARC -> text step of a web-pipeline, scan-stage regex chain, no
    UDF. Oracle replays the identical RE2 chain in DuckDB."""
    from coffea_spark.llmdata.text import html_to_text, rolling_hash

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><script>var x = 1 &amp;&amp; 2;</script>"
              "<style>p { color: &quot;red&quot;; }</style></head><body><p>"),
        F.col("text"),
        F.lit("</p><!-- trailing\ncomment --><div>&lt;tail&gt; &#39;q&#39;"
              "</div></body></html>"),
    )
    extracted = html_to_text(html)
    want = F.concat(
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
        F.lit(" <tail> 'q'"),
    )
    return docs.select(
        rolling_hash(extracted).alias("he"),
        rolling_hash(want).alias("hw"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("he").alias("sum_hash"),
        F.sum((F.col("he") == F.col("hw")).cast("long")).alias("n_exact"),
    )


SQL_HTML_EXTRACT = r"""
WITH h AS (
  SELECT '<html><head><script>var x = 1 &amp;&amp; 2;</script>'
         || '<style>p { color: &quot;red&quot;; }</style></head><body><p>'
         || text ||
         '</p><!-- trailing
comment --><div>&lt;tail&gt; &#39;q&#39;</div></body></html>' AS html,
         text
  FROM documents
), x AS (
  SELECT trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
               '(?s)<[^>]+>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '&amp;', '&'),
           '\s+', ' ', 'g')) AS extracted,
         trim(regexp_replace(text, '\s+', ' ', 'g')) || ' <tail> ''q''' AS want
  FROM h
), r AS (
  SELECT CASE WHEN length(extracted) > 0 THEN
           list_reduce(
             list_transform(string_split_regex(extracted, ''), c -> CAST(ord(c) AS BIGINT)),
             (a, v) -> (a * 257 + v) % 2147483647)
         ELSE 0 END AS he,
         CASE WHEN length(want) > 0 THEN
           list_reduce(
             list_transform(string_split_regex(want, ''), c -> CAST(ord(c) AS BIGINT)),
             (a, v) -> (a * 257 + v) % 2147483647)
         ELSE 0 END AS hw
  FROM x
)
SELECT count(*) AS n_docs, CAST(sum(he) AS BIGINT) AS sum_hash,
       CAST(sum(CASE WHEN he = hw THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
FROM r
"""


def q_root_stream_scan(spark, sf_dir):
    """STREAMING ROOT ingestion gate (datasource.RootStreamReader,
    ``readStream.format("root")``): the reference fixture pair arrives
    as a file stream (file-set offsets, exactly-once per file) and the
    running aggregate over both micro-batched files must equal the
    batch read — golden values of the public fixtures. ``sf_dir``
    unused (binary fixture inputs); fresh checkpoint per run so the
    gate is self-contained."""
    import shutil
    import tempfile

    from coffea_spark.datasource import register_root_source

    inputs = [sample(n) for n in ("nano_dimuon.root", "nano_dy.root")]
    register_root_source(spark)
    work = tempfile.mkdtemp(prefix="root_stream_gate_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    for path in inputs:
        shutil.copy(path, src)
    qname = "root_stream_gate"
    with _stream_state_partitions(spark):
        q = (
            spark.readStream.format("root")
            .option("columns", "nMuon,Muon_pt")
            .load(src)
            .groupBy()
            .agg(
                F.count("*").alias("n_events"),
                F.sum("nMuon").alias("n_muons"),
                F.sum(F.size("Muon_pt")).alias("n_pts"),
            )
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(qname).select("n_events", "n_muons", "n_pts")
    rows = out.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


SQL_ROOT_STREAM_SCAN = """
SELECT * FROM (VALUES
  (CAST(80 AS BIGINT), CAST(102 AS BIGINT), CAST(102 AS BIGINT))
) AS t(n_events, n_muons, n_pts)
"""


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis reservoir keys u^(1/w), llmdata/splits.weighted_sample):
    scan-stage key math + TakeOrderedAndProject top-k — no global sort,
    no shuffle of the data, reproducible across runs and partitionings
    (df.sample is neither weighted-without-replacement nor stable).
    25 orders sampled proportional to o_totalprice; the oracle replays
    the identical hash->u->key formula."""
    from coffea_spark.llmdata.splits import weighted_sample

    orders = _t(spark, sf_dir, "orders")
    samp = weighted_sample(orders, 25, "o_totalprice", "o_orderkey", salt=7)
    return samp.select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("weight")
    )


SQL_WEIGHTED_SAMPLE = """
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS weight
FROM orders
WHERE CAST(o_totalprice AS DOUBLE) > 0
ORDER BY pow(
  ((((o_orderkey + 7) * 2654435761) % 4294967296) + 1) / 4294967297.0,
  1.0 / CAST(o_totalprice AS DOUBLE)) DESC, o_orderkey
LIMIT 25
"""


def q_doc_chunking(spark, sf_dir):
    """Long-document chunking with overlap (packing.chunk_documents —
    the BERT-style striding stage): 32-token windows every 24 tokens
    over the documents table. All-integer outputs plus the exact
    rebuilt-chunk-text length total, so the oracle (token split +
    window arithmetic + 1-based list slices in SQL) is hash-exact;
    an off-by-one in window count, start, tail, or slice bounds flips
    an integer."""
    from coffea_spark.llmdata.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    ch = chunk_documents(docs.select("doc_id", "lang", "text"),
                         max_tokens=32, stride=24)
    docs_lang = docs.select("doc_id", "lang")
    return (
        ch.join(docs_lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_chunk_tokens").alias("sum_tokens"),
            F.sum("chunk_start").alias("sum_starts"),
            F.max("chunk_id").alias("max_chunk_id"),
            F.sum(F.length("chunk_text")).alias("sum_text_len"),
        )
    )


SQL_DOC_CHUNKING = r"""
WITH dt AS (
  SELECT lang, doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT lang, doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) > 0
              THEN (greatest(len(toks) - 32, 0) + 23) // 24 + 1
              ELSE 0 END AS nc
  FROM dt
), ch AS (
  SELECT lang, doc_id, n, toks, unnest(range(0, nc)) AS i
  FROM c
), x AS (
  SELECT lang, doc_id, i AS chunk_id, i * 24 AS chunk_start,
         least(32, n - i * 24) AS nt,
         length(array_to_string(toks[i * 24 + 1 : least(i * 24 + 32, n)], ' ')) AS tl
  FROM ch
)
SELECT lang, count(*) AS n_chunks,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       CAST(sum(chunk_start) AS BIGINT) AS sum_starts,
       CAST(max(chunk_id) AS INT) AS max_chunk_id,
       CAST(sum(tl) AS BIGINT) AS sum_text_len
FROM x GROUP BY lang
"""


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (llmdata/packing.py): concat docs per
    language in doc_id order, cut every 256 tokens; report sequences,
    boundary-crossing docs and final-sequence padding per language.
    One windowed cumsum per group — no stream materialization."""
    from coffea_spark.llmdata.packing import pack_offsets, packing_summary
    from coffea_spark.llmdata.text import token_count

    docs = _t(spark, sf_dir, "documents")
    with_tc = docs.select("lang", "doc_id", token_count(F.col("text")).alias("tc"))
    packed = pack_offsets(with_tc, "tc", 256, ["lang"], "doc_id")
    return packing_summary(packed, 256, ["lang"])


SQL_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT lang, doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tc
  FROM documents
), c AS (
  SELECT lang, tc,
         sum(tc) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
  FROM t
)
SELECT lang,
       count(*) AS n_docs,
       CAST(max(tok_end) AS BIGINT) AS n_tokens,
       CAST(ceil(max(tok_end) / 256.0) AS BIGINT) AS n_sequences,
       CAST(sum(CASE WHEN tc > 0
                      AND floor((tok_end - 1) / 256.0) > floor((tok_end - tc) / 256.0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
       CAST(ceil(max(tok_end) / 256.0) * 256 - max(tok_end) AS BIGINT) AS pad_tokens
FROM c GROUP BY lang
"""


def q_vocab_topk(spark, sf_dir):
    """Tokenizer-vocabulary build (llmdata/text.py term_table): corpus
    term/doc-frequency table, top 20 terms. The shuffle carries
    (term, count, df) triples only — map-side combined."""
    from coffea_spark.llmdata.text import term_table

    docs = _t(spark, sf_dir, "documents")
    tt = term_table(docs, "text")
    return tt.orderBy(F.col("count").desc(), "term").limit(20)


SQL_VOCAB_TOPK = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
), per_doc AS (
  SELECT doc_id, term, count(*) AS n FROM tok GROUP BY doc_id, term
)
SELECT term, CAST(sum(n) AS BIGINT) AS count, count(*) AS doc_freq
FROM per_doc GROUP BY term
ORDER BY count DESC, term LIMIT 20
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing gate (llmdata/text.py scrub_text + scrub_stats):
    deterministic synthetic PII spans — an email, a URL, and a long
    digit run derived from doc_id by formula — are planted into every
    document, then masked by the regexp_replace chain (url -> email ->
    number, the SCRUB_PATTERNS order). The oracle plants the identical
    spans and replays the same RE2-compatible regexes in DuckDB, so any
    pattern, ordering, or counting bug goes hash-red. Scan-stage only:
    no shuffle beyond the final tiny per-lang aggregate."""
    from coffea_spark.llmdata.text import scrub_stats, scrub_text

    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.org/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" tel 555-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 7, "0"),
    )
    d = docs.select("lang", planted.alias("t"))
    out = d.select(
        "lang",
        F.length("t").alias("lo"),
        F.length(scrub_text(F.col("t"))).alias("ls"),
        scrub_stats(F.col("t")).alias("st"),
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("st.n_url").cast("bigint").alias("n_url"),
        F.sum("st.n_email").cast("bigint").alias("n_email"),
        F.sum("st.n_number").cast("bigint").alias("n_number"),
        F.sum(F.col("lo") - F.col("ls")).cast("bigint").alias("len_delta"),
    )


SQL_PII_SCRUB = r"""
WITH d AS (
  SELECT lang,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.org/p/' || CAST(doc_id AS VARCHAR)
              || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') AS t
  FROM documents
), s AS (
  SELECT lang, t,
         regexp_replace(regexp_replace(regexp_replace(t,
           'https?://\S+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9][0-9 .,-]{6,}[0-9]\b', '<NUMBER>', 'g') AS sc,
         len(regexp_extract_all(t, 'https?://\S+')) AS n_url,
         len(regexp_extract_all(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(t, '\b[0-9][0-9 .,-]{6,}[0-9]\b')) AS n_number
  FROM d
)
SELECT lang, count(*) AS n,
       CAST(sum(n_url) AS BIGINT) AS n_url,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_number) AS BIGINT) AS n_number,
       CAST(sum(length(t) - length(sc)) AS BIGINT) AS len_delta
FROM s GROUP BY lang
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (llmdata/decontam.py): training docs
    (doc_id % 101 != 0) sharing any word 5-gram with the held-out eval
    subset (doc_id % 101 == 0). Eval grams broadcast — the corpus-side
    check is a map-side semi-join probe. The gram tables are built ONCE:
    n_contaminated is the report's row count (one doc per row), so a
    single aggregation over contamination_report supplies both headline
    numbers instead of two parallel gram-table builds."""
    from coffea_spark.llmdata.decontam import contamination_report

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 101 != 0)
    eval_df = docs.filter(F.col("doc_id") % 101 == 0)
    rep = contamination_report(train, eval_df, n=5)
    ab = rep.agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.coalesce(F.sum("n_dirty_grams"), F.lit(0)).alias("n_shared_grams"),
    )
    c = train.agg(F.count(F.lit(1)).alias("n_train"))
    return ab.crossJoin(c)


def q_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval (llmdata/text.py bm25_scores): top-10 docs
    for a 3-term query, score to 6dp with (rounded score, doc_id)
    ordering. The lexical half of hybrid search next to the embedding
    ANN operators."""
    from coffea_spark.llmdata.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, ["table", "window", "fast"])
    return (
        scored.select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


SQL_BM25_SEARCH = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), stats AS (
  SELECT count(*) AS n, avg(len(toks)) AS al,
         sum(CASE WHEN list_contains(toks, 'table')  THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df2,
         sum(CASE WHEN list_contains(toks, 'fast')   THEN 1 ELSE 0 END) AS df3
  FROM t
), scored AS (
  SELECT doc_id,
      ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
        * (len(list_filter(toks, x -> x = 'table')) * 2.2)
        / (len(list_filter(toks, x -> x = 'table'))
           + 1.2 * (1 - 0.75 + 0.75 * len(toks) / s.al))
    + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
        * (len(list_filter(toks, x -> x = 'window')) * 2.2)
        / (len(list_filter(toks, x -> x = 'window'))
           + 1.2 * (1 - 0.75 + 0.75 * len(toks) / s.al))
    + ln(1 + (s.n - s.df3 + 0.5) / (s.df3 + 0.5))
        * (len(list_filter(toks, x -> x = 'fast')) * 2.2)
        / (len(list_filter(toks, x -> x = 'fast'))
           + 1.2 * (1 - 0.75 + 0.75 * len(toks) / s.al)) AS raw
  FROM t, stats s
)
SELECT doc_id, round(raw, 6) AS bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""


def q_knn_classify(spark, sf_dir):
    """Exact k-NN label prediction (llmdata/similarity.py knn_classify):
    held-out vectors (vec_id % 5 == 0) classified by majority label of
    their 5 nearest neighbors among the rest; broadcast train side, one
    per-test window. Ranked by 6dp-rounded cosine so an independent
    engine replays the ranking bit-for-bit."""
    from coffea_spark.llmdata.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 5 != 0)
    test = emb.filter(F.col("vec_id") % 5 == 0).filter(F.col("vec_id") % 20 == 0)
    # cached: the accuracy agg (broadcast side of the crossJoin, built
    # first) fills it; the sample projection then reads it instead of
    # re-running the broadcast-kNN + vote window chain
    pred = knn_classify(train, test, k=5, round_digits=6).cache()
    acc = pred.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(
            F.when(F.col("predicted_label") == F.col("true_label"), 1).otherwise(0)
        ).alias("n_correct"),
    )
    sample = pred.filter(F.col("test_id") % 100 == 0).select(
        "test_id", "true_label", "predicted_label", "votes"
    )
    return sample.crossJoin(acc)


SQL_KNN_CLASSIFY = """
WITH test AS (
  SELECT vec_id AS test_id, label AS true_label, embedding FROM embeddings
  WHERE vec_id % 20 = 0
), train AS (
  SELECT vec_id AS tid, label AS tl, embedding FROM embeddings
  WHERE vec_id % 5 <> 0
), scored AS (
  SELECT t.test_id, t.true_label, tr.tl, tr.tid,
         round(list_cosine_similarity(t.embedding::DOUBLE[],
                                      tr.embedding::DOUBLE[]), 6) AS c
  FROM test t CROSS JOIN train tr
), top AS (
  SELECT *, row_number() OVER (PARTITION BY test_id ORDER BY c DESC, tid) AS rk
  FROM scored
), votes AS (
  SELECT test_id, true_label, tl, count(*) AS votes
  FROM top WHERE rk <= 5 GROUP BY test_id, true_label, tl
), pred AS (
  SELECT test_id, true_label, tl AS predicted_label, votes,
         row_number() OVER (PARTITION BY test_id ORDER BY votes DESC, tl) AS vr
  FROM votes
), final AS (
  SELECT test_id, true_label, predicted_label, CAST(votes AS BIGINT) AS votes
  FROM pred WHERE vr = 1
), acc AS (
  SELECT count(*) AS n_test,
         CAST(sum(CASE WHEN predicted_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM final
)
SELECT f.test_id, f.true_label, f.predicted_label, f.votes, a.n_test, a.n_correct
FROM final f CROSS JOIN acc a
WHERE f.test_id % 100 = 0
"""


def q_lm_quality(spark, sf_dir):
    """Unigram LM quality filter (llmdata/text.py unigram_logprob_score,
    the simplified CCNet-style perplexity ranking): per-language corpus
    LM, per-doc mean token log-probability, per-language score stats."""
    from coffea_spark.llmdata.text import unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    scored = unigram_logprob_score(docs, "text", by=["lang"])
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.min("logprob"), 6).alias("min_logprob"),
        F.round(F.max("logprob"), 6).alias("max_logprob"),
    )


SQL_LM_QUALITY = r"""
WITH tok AS (
  SELECT lang, doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
), tt AS (
  SELECT lang, term, count(*) AS c FROM tok GROUP BY lang, term
), tot AS (
  SELECT lang, sum(c) AS total, count(*) AS vocab FROM tt GROUP BY lang
), vocab AS (
  SELECT tt.lang, term, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
  FROM tt JOIN tot ON tt.lang = tot.lang
), scored AS (
  SELECT t.lang, t.doc_id, avg(v.logp) AS lp
  FROM tok t JOIN vocab v ON t.lang = v.lang AND t.term = v.term
  GROUP BY t.lang, t.doc_id
)
SELECT lang, count(*) AS n_docs, round(avg(lp), 6) AS avg_logprob,
       round(min(lp), 6) AS min_logprob, round(max(lp), 6) AS max_logprob
FROM scored GROUP BY lang
"""


def q_lm_bigram(spark, sf_dir):
    """Interpolated bigram LM scoring (text.bigram_logprob_score): the
    scale shape the unigram pass cannot show — the bigram table grows
    with the corpus and is NOT broadcast; scoring shuffle-joins exploded
    doc bigrams against it keyed on (w1, w2) while the unigram model
    stays broadcast. lam=0.75 keeps 1-lam float-exact in both engines."""
    from coffea_spark.llmdata.text import bigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    scored = bigram_logprob_score(docs, "text", by=["lang"], lam=0.75)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("n_bigrams"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.min("logprob"), 6).alias("min_logprob"),
        F.round(F.max("logprob"), 6).alias("max_logprob"),
    )


SQL_LM_BIGRAM = r"""
WITH dt AS (
  SELECT lang, doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), pairs AS (
  SELECT lang, doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT lang, doc_id, unnest(list_zip(toks, toks[2:])) AS p FROM dt)
  WHERE p[2] IS NOT NULL
), bg AS (
  SELECT lang, w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2, 3
), lft AS (
  SELECT lang, w1, sum(c12) AS c1 FROM bg GROUP BY 1, 2
), tokt AS (
  SELECT lang, doc_id, unnest(toks) AS term FROM dt
), tt AS (
  SELECT lang, term, count(*) AS c FROM tokt GROUP BY 1, 2
), tot AS (
  SELECT lang, sum(c) AS total, count(*) AS vocab FROM tt GROUP BY 1
), uni AS (
  SELECT tt.lang, term AS w2, (c + 0.5) / (total + 0.5 * vocab) AS p1
  FROM tt JOIN tot ON tt.lang = tot.lang
), scored AS (
  SELECT p.lang, p.doc_id, count(*) AS nb,
         avg(ln(0.75 * (b.c12 / l.c1) + 0.25 * u.p1)) AS lp
  FROM pairs p
  JOIN bg b ON b.lang = p.lang AND b.w1 = p.w1 AND b.w2 = p.w2
  JOIN lft l ON l.lang = p.lang AND l.w1 = p.w1
  JOIN uni u ON u.lang = p.lang AND u.w2 = p.w2
  GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs, CAST(sum(nb) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS avg_logprob, round(min(lp), 6) AS min_logprob,
       round(max(lp), 6) AS max_logprob
FROM scored GROUP BY lang
"""


def q_lm_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring
    (text.kneser_ney_logprob_score) — the KenLM smoothing family CCNet
    scores with, one rung above the interpolated-add-k lm_bigram gate:
    continuation counts replace raw unigrams and the discount D is
    estimated per language from the bigram count-of-counts
    (D = n1/(n1+2 n2)). The oracle replays token split, bigram/type
    counts, per-lang D, continuation probabilities and the exact KN
    recurrence — any deviation in discounting or backoff mass goes
    hash-red. Scale: bigram model shuffle-joined on (w1, w2);
    continuation + discount tables broadcast."""
    from coffea_spark.llmdata.text import kneser_ney_logprob_score

    docs = _t(spark, sf_dir, "documents")
    scored = kneser_ney_logprob_score(docs, "text", by=["lang"])
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("n_bigrams"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.min("logprob"), 6).alias("min_logprob"),
        F.round(F.max("logprob"), 6).alias("max_logprob"),
    )


SQL_LM_KNESER_NEY = r"""
WITH dt AS (
  SELECT lang, doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), pairs AS (
  SELECT lang, doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT lang, doc_id, unnest(list_zip(toks, toks[2:])) AS p FROM dt)
  WHERE p[2] IS NOT NULL
), bg AS (
  SELECT lang, w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2, 3
), lft AS (
  SELECT lang, w1, sum(c12) AS c1, count(*) AS n1w1 FROM bg GROUP BY 1, 2
), tot AS (
  SELECT lang, count(*) AS n1tot,
         sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS n2
  FROM bg GROUP BY 1
), disc AS (
  SELECT lang, n1tot,
         CASE WHEN n1 + 2 * n2 > 0 THEN n1 / (n1 + 2 * n2) ELSE 0.5 END AS d
  FROM tot
), cont AS (
  SELECT bg.lang, w2, count(*) / any_value(disc.n1tot) AS pcont,
         any_value(disc.d) AS d
  FROM bg JOIN disc ON bg.lang = disc.lang
  GROUP BY 1, 2
), scored AS (
  SELECT p.lang, p.doc_id, count(*) AS nb,
         avg(ln(
           greatest(b.c12 - ct.d, 0.0) / l.c1
           + ct.d * l.n1w1 / l.c1 * ct.pcont
         )) AS lp
  FROM pairs p
  JOIN bg b ON b.lang = p.lang AND b.w1 = p.w1 AND b.w2 = p.w2
  JOIN lft l ON l.lang = p.lang AND l.w1 = p.w1
  JOIN cont ct ON ct.lang = p.lang AND ct.w2 = p.w2
  GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs, CAST(sum(nb) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS avg_logprob, round(min(lp), 6) AS min_logprob,
       round(max(lp), 6) AS max_logprob
FROM scored GROUP BY lang
"""


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020: split each
    language's documents into head/middle/tail thirds by LM score; the
    head feeds training, the tail is dropped): per-language unigram LM
    score (unigram_logprob_score) -> per-language tertile THRESHOLDS
    (one tiny agg, broadcast back) -> scan-stage bucket assignment ->
    per-(lang, bucket) stats. Scale: the score pass is the lm_quality
    shape (broadcast vocab, map-side probe); bucketing never sorts a
    language on one reducer (production uses the approx_percentile
    sketch; the gate pins exact=True so the interpolated cutoffs match
    DuckDB's quantile_cont bit-for-band — adjacent per-lang score gaps
    ~1e-3 dwarf engine float noise ~1e-15, and a cutoff that lands
    exactly ON a data point is that point's own value in both engines,
    so <= comparisons agree)."""
    from coffea_spark.llmdata.text import perplexity_buckets, unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    scored = unigram_logprob_score(docs, "text", by=["lang"])
    b = perplexity_buckets(scored, by=["lang"], exact=True)
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.max("logprob"), 6).alias("max_logprob"),
    )


SQL_PERPLEXITY_BUCKETS = r"""
WITH tok AS (
  SELECT lang, doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS term
  FROM documents
), tt AS (
  SELECT lang, term, count(*) AS c FROM tok GROUP BY lang, term
), tot AS (
  SELECT lang, sum(c) AS total, count(*) AS vocab FROM tt GROUP BY lang
), vocab AS (
  SELECT tt.lang, term, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
  FROM tt JOIN tot ON tt.lang = tot.lang
), scored AS (
  SELECT t.lang, t.doc_id, avg(v.logp) AS lp
  FROM tok t JOIN vocab v ON t.lang = v.lang AND t.term = v.term
  GROUP BY t.lang, t.doc_id
), cuts AS (
  SELECT lang, quantile_cont(lp, [1.0/3, 2.0/3]) AS cs FROM scored GROUP BY lang
), bucketed AS (
  SELECT s.lang, s.lp,
         1 + len(list_filter(c.cs, t -> s.lp < t)) AS bucket
  FROM scored s JOIN cuts c ON s.lang = c.lang
)
SELECT lang, CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
       round(avg(lp), 6) AS avg_logprob, round(max(lp), 6) AS max_logprob
FROM bucketed GROUP BY lang, bucket
"""


def q_ccnet_pipeline(spark, sf_dir):
    """END-TO-END CCNet/C4 composition — the whole web-corpus curation
    chain as ONE Spark plan, proving the operators compose without
    CollapseProject blow-ups (the boost_cosstar 40x lesson) and with
    bounded shuffles: WARC ingestion (read_warc) -> HTML->text
    extraction (html_to_text) -> language id (lang_id) -> Gopher
    quality filter (gopher_quality_signals; thresholds relaxed to the
    synthetic corpus: n_words >= 20, mean_word_len 3-10,
    alpha_word_frac >= 0.8, stop_hits >= 1 — keeps 382/500 at sf0.01)
    -> corpus-wide paragraph dedup (paragraph_dedup over injected
    per-source HDR/FTR boilerplate) -> per-language unigram LM scoring
    (unigram_logprob_score) -> CCNet head/middle/tail buckets
    (perplexity_buckets, exact cutoffs for oracle parity) -> counts per
    (pred_lang, bucket).

    Composition mechanics that keep the plan sane: ONE projection
    computes extraction + lang + quality signals behind plans.barrier
    (so the regex chain runs once, not once per consumer);
    pred_lang rides THROUGH paragraph_dedup inside the doc key struct
    (no join-back, no extra shuffle — keeper election min(struct) is
    still ordered by doc_id first since ids are unique); the deduped
    doc table (corpus-doc-count rows, KB-scale payloads) is cached
    once at the natural checkpoint boundary a production run would
    materialize, because LM scoring + bucket cutoffs legitimately
    consume it multiple times. Shuffles: 2 in paragraph_dedup (fp
    election + id rebuild), 1 term_table agg + 1 doc-score groupBy in
    the LM, 1 tiny cutoff agg, 1 final agg — all keyed on ids/terms,
    never payloads; the WARC parse is one task per file.

    Every stage is linear and keyed, and each cache is eagerly
    materialized (count()) so no stage runs once per consumer. The wall
    at gate scale is the breadth of six sequential keyed stages, not a
    bad plan: OPTIMIZATION_r14.md (``ccnet_pipeline``)."""
    from coffea_spark.llmdata.dedup import paragraph_dedup
    from coffea_spark.llmdata.text import (
        gopher_quality_signals,
        html_to_text,
        lang_id,
        perplexity_buckets,
        unigram_logprob_score,
    )
    from coffea_spark.llmdata.warc import read_warc
    from coffea_spark.plans import barrier

    fx = _warc_fixture(spark, sf_dir)
    raw = read_warc(spark, os.path.join(fx, "part-*"))
    txt = F.decode(F.col("payload"), "UTF-8")
    extracted = F.when(
        F.col("content_type") == "text/html", html_to_text(txt)
    ).otherwise(txt)
    base = raw.select(
        F.regexp_extract("record_id", r"urn:uuid:(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("url", r"example\.org/([^/]+)/", 1).alias("source"),
        extracted.alias("text"),
    )
    sig = barrier(
        base,
        F.col("doc_id"),
        F.col("source"),
        F.col("text"),
        lang_id(F.col("text")).alias("pred_lang"),
        gopher_quality_signals(F.col("text")).alias("g"),
    )
    kept = sig.filter(
        (F.col("g.n_words") >= 20)
        & (F.col("g.mean_word_len") >= 3.0)
        & (F.col("g.mean_word_len") <= 10.0)
        & (F.col("g.alpha_word_frac") >= 0.8)
        & (F.col("g.stop_hits") >= 1)
    ).select(
        F.struct(F.col("doc_id"), F.col("pred_lang")).alias("k"),
        F.concat(
            F.lit("HDR "), F.col("source"), F.lit("\n"),
            F.col("text"),
            F.lit("\nFTR "), F.col("source"),
        ).alias("text"),
    ).cache()  # feeds the dedup's election AND rebuild scans: the
    # WARC parse + extraction/signal chain must not run per consumer.
    # Each cache below is EAGERLY materialized (tiny count() job): the
    # consumers are separate subtrees that Spark may launch against a
    # cold cache CONCURRENTLY (broadcast builds especially), re-running
    # the upstream chain per branch.
    kept.count()
    deduped = paragraph_dedup(kept, id_col="k")
    docs = deduped.select(
        F.col("k.doc_id").alias("doc_id"),
        F.col("k.pred_lang").alias("pred_lang"),
        "text",
        "n_kept",
    ).cache()
    docs.count()
    # scored is (doc-count x 4 narrow cols) and feeds BOTH the cutoff
    # aggregate and bucket assignment — cache it so the LM join runs
    # once (same bounded-materialization contract as docs above)
    scored = unigram_logprob_score(docs, "text", by=["pred_lang"]).cache()
    scored.count()
    # doc_id-keyed equi-join (NOT a forced broadcast: doc-count rows
    # don't broadcast at 100 TB; AQE picks broadcast at gate scale)
    b = perplexity_buckets(scored, by=["pred_lang"], exact=True).join(
        docs.select("doc_id", "n_kept"), "doc_id"
    )
    return b.groupBy("pred_lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_kept").alias("n_paras_kept"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.round(F.min("logprob"), 6).alias("min_logprob"),
    )


def _sql_ccnet_pipeline() -> str:
    """Replay the full chain from the documents table (the WARC fixture
    is deterministic in it): extraction, marker-argmax language id,
    relaxed Gopher filter, keeper election + rebuild, per-pred-lang
    unigram LM, exact tertile buckets."""
    from coffea_spark.llmdata.text import GOPHER_STOPWORDS, LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_defs = []
    for lang in langs:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_defs.append(
            f"len(list_filter(words, x -> list_contains([{markers}], x))) AS s_{lang}"
        )
    cases = []
    for i in range(len(langs) - 1, 0, -1):
        lang = langs[i]
        others = ", ".join(f"s_{l}" for l in langs[:i])
        greatest = f"greatest({others})" if "," in others else others
        cases.append(f"WHEN s_{lang} >= {greatest} THEN '{lang}'")
    lang_case = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return rf"""
WITH x AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 2 = 0 THEN text
              ELSE trim(regexp_replace(text, '\s+', ' ', 'g')) END AS text
  FROM documents
), w AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS words
  FROM x
), sig AS (
  SELECT doc_id, source, text, words,
         {', '.join(score_defs)},
         len(words) AS nw,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, t -> length(t))) * 1.0 / len(words)
              ELSE 0.0 END AS mean_len,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, t -> regexp_matches(t, '[A-Za-z]'))) * 1.0
                   / len(words) ELSE 0.0 END AS alpha_frac,
         len(list_filter([{stops}],
             s -> list_contains(list_transform(words, t -> lower(t)), s))) AS stop_hits
  FROM w
), kept AS (
  SELECT doc_id, {lang_case} AS pred_lang,
         'HDR ' || source || chr(10) || text || chr(10) || 'FTR ' || source AS t
  FROM sig
  WHERE nw >= 20 AND mean_len >= 3.0 AND mean_len <= 10.0
    AND alpha_frac >= 0.8 AND stop_hits >= 1
), e AS (
  SELECT doc_id, pred_lang, u.p.pos AS pos, u.p.para AS para
  FROM (
    SELECT doc_id, pred_lang,
           unnest(list_transform(
             string_split(t, chr(10)),
             (l, i) -> {{'pos': i - 1, 'para': l}})) AS p
    FROM kept
  ) u(doc_id, pred_lang, p)
), h AS (
  SELECT doc_id, pred_lang, pos, para,
         CASE WHEN length(trim(para)) >= 1 THEN
           list_reduce(
             list_transform(string_split_regex(trim(para), ''), c -> CAST(ord(c) AS BIGINT)),
             (a, v) -> (a * 257 + v) % 2147483647)
         END AS fp
  FROM e
), k AS (
  SELECT doc_id, pred_lang, pos, para,
         (fp IS NULL OR
          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1) AS keep
  FROM h
), rebuilt AS (
  SELECT doc_id, pred_lang,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos), '')
           AS text
  FROM k GROUP BY doc_id, pred_lang
), tok AS (
  SELECT pred_lang, doc_id, n_kept,
         unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
  FROM rebuilt
), tt AS (
  SELECT pred_lang, term, count(*) AS c FROM tok GROUP BY pred_lang, term
), tot AS (
  SELECT pred_lang, sum(c) AS total, count(*) AS vocab FROM tt GROUP BY pred_lang
), vocab AS (
  SELECT tt.pred_lang, term, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
  FROM tt JOIN tot ON tt.pred_lang = tot.pred_lang
), scored AS (
  SELECT t.pred_lang, t.doc_id, any_value(t.n_kept) AS n_kept, avg(v.logp) AS lp
  FROM tok t JOIN vocab v ON t.pred_lang = v.pred_lang AND t.term = v.term
  GROUP BY t.pred_lang, t.doc_id
), cuts AS (
  SELECT pred_lang, quantile_cont(lp, [1.0/3, 2.0/3]) AS cs
  FROM scored GROUP BY pred_lang
), bucketed AS (
  SELECT s.pred_lang, s.lp, s.n_kept,
         1 + len(list_filter(c.cs, t -> s.lp < t)) AS bucket
  FROM scored s JOIN cuts c ON s.pred_lang = c.pred_lang
)
SELECT pred_lang, CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
       CAST(sum(n_kept) AS BIGINT) AS n_paras_kept,
       round(avg(lp), 6) AS avg_logprob, round(min(lp), 6) AS min_logprob
FROM bucketed GROUP BY pred_lang, bucket
"""


def q_simhash_portable(spark, sf_dir):
    """SimHash fingerprints hash-compared end-to-end
    (llmdata/dedup.py simhash_portable): 31-bit fingerprints over
    Rabin-Karp token hashes — engine-portable modular/bitwise math."""
    from coffea_spark.llmdata.dedup import simhash_portable

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    return simhash_portable(docs, "doc_id", "text")


SQL_SIMHASH_PORTABLE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS t
  FROM documents WHERE doc_id % 17 = 0
), fp AS (
  SELECT doc_id, list_reduce(
           list_transform(string_split_regex(t, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647) AS f
  FROM toks
), bits AS (
  SELECT doc_id, bs.bit AS bit,
         sum(CASE WHEN (f >> bs.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM fp CROSS JOIN (SELECT unnest(range(0, 31)) AS bit) bs
  GROUP BY doc_id, bs.bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id
"""


def q_profile_hist(spark, sf_dir):
    """Profile histogram (hist.profile1d — the reference's
    hist.storage.Mean axis / TProfile): weighted mean of extendedprice
    per quantity bin. Integer-width bins so bucket edges are exact in
    binary; sums rounded, mean to 6dp."""
    from coffea_spark.hist import profile1d

    li = _t(spark, sf_dir, "lineitem", floor=False)
    prof = profile1d(
        li, "l_quantity", "l_extendedprice", nbins=10, lo=0.0, hi=50.0,
        weight=(F.lit(1.0) + F.col("l_discount")),
    )
    return prof.select(
        "bin",
        F.round("sumw", 4).alias("sumw"),
        F.round("sumwy", 2).alias("sumwy"),
        "n",
        F.round("mean", 6).alias("mean"),
    )


SQL_PROFILE_HIST = """
WITH b AS (
  SELECT CASE WHEN l_quantity < 0 THEN -1
              WHEN l_quantity >= 50 THEN 10
              ELSE CAST(floor((l_quantity - 0.0) / 5.0) AS BIGINT) END AS bin,
         (1.0 + l_discount) AS w, l_extendedprice AS y
  FROM lineitem
)
SELECT bin, round(sum(w), 4) AS sumw, round(sum(w * y), 2) AS sumwy,
       count(*) AS n, round(sum(w * y) / sum(w), 6) AS mean
FROM b GROUP BY bin
"""


def q_minhash_portable(spark, sf_dir):
    """MinHash signatures hash-compared END-TO-END against an
    independent engine (llmdata/dedup.py minhash_signatures_portable):
    Rabin-Karp shingle fingerprints + universal hashing mod 2^31-1 —
    plain modular arithmetic both engines reproduce bit-for-bit. The
    xxhash64 family stays the production default; this gate proves the
    MinHash MATH, not just row counts."""
    from coffea_spark.llmdata.dedup import minhash_signatures_portable

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 251 == 0)
    sig = minhash_signatures_portable(docs, "doc_id", "text", 5, 64)
    return sig.select("doc_id", F.posexplode("sig").alias("hash_idx", "h"))


def _sql_minhash_portable() -> str:
    from coffea_spark.llmdata.dedup import minhash_params

    rows = ",\n    ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(64))
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(text) - 3, 1)), i -> substr(text, i, 5)))) AS s
  FROM documents WHERE doc_id % 251 = 0
), fp AS (
  SELECT doc_id, list_reduce(
           list_transform(string_split_regex(s, ''), c -> CAST(ord(c) AS BIGINT)),
           (a, x) -> (a * 257 + x) % 2147483647) AS f
  FROM sh
), params(hash_idx, a, b) AS (VALUES
    {rows})
SELECT fp.doc_id, p.hash_idx,
       CAST(min((p.a * fp.f + p.b) % 2147483647) AS BIGINT) AS h
FROM fp CROSS JOIN params p
GROUP BY fp.doc_id, p.hash_idx
"""


def q_stream_ewma(spark, sf_dir):
    """Custom stateful streaming operator (streaming.stateful_ewma,
    applyInPandasWithState): per-user EWMA of event values folded in
    event-time order with O(keys) state and event-time TTL. Sampled to
    user_id % 97 == 0; with availableNow + update mode each key's LAST
    emitted row is its final state, which the closed-form SQL oracle
    reproduces: ewma_n = (1-a)^(n-1) v_1 + sum_{j=2..n} a (1-a)^(n-j) v_j."""
    from coffea_spark.streaming import stateful_ewma

    stream = _event_stream(spark, sf_dir).filter(F.col("user_id") % 97 == 0)
    agg = stateful_ewma(stream, "user_id", alpha=0.25, watermark="1 hour",
                        tiebreak_cols=["event_id"])
    # update mode appends one row per key per batch: keep each key's last
    latest = _drain(agg, "stream_ewma_gate", "update").groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "ewma"), "n_events").alias("s")
    )
    return latest.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.round(F.col("s.ewma"), 6).alias("ewma"),
    )


SQL_STREAM_EWMA = """
WITH e AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id % 97 = 0
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
       round(sum(CASE WHEN rn = 1 THEN pow(0.75, n - 1) * value
                      ELSE 0.25 * pow(0.75, n - rn) * value END), 6) AS ewma
FROM e GROUP BY user_id
"""


SQL_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 3, 1)),
           i -> array_to_string(t[i:i+4], ' ')))) AS gram
  FROM toks
), dirty AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 101 = 0
), hits AS (
  SELECT g.doc_id, count(*) AS n
  FROM grams g JOIN dirty d USING (gram)
  WHERE g.doc_id % 101 <> 0
  GROUP BY g.doc_id
)
SELECT (SELECT count(*) FROM hits) AS n_contaminated,
       CAST((SELECT coalesce(sum(n), 0) FROM hits) AS BIGINT) AS n_shared_grams,
       (SELECT count(*) FROM documents WHERE doc_id % 101 <> 0) AS n_train
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    # ANSI SQL for DuckDB, or a builder of it when the SQL embeds a
    # fixture file's contents; None -> rows-only check
    oracle: str | Callable[[], str] | None

    @property
    def sql(self) -> str | None:
        """The oracle SQL, built here when ``oracle`` is a builder (it
        raises ``FixtureMissing`` when its fixture is absent)."""
        return self.oracle() if callable(self.oracle) else self.oracle


# Registry order is SEMANTIC within each rotation group: queries gate
# the SURVEY.md §2 operator families (schema transforms -> filters ->
# joins -> aggregations -> windows -> sets -> scalar functions -> UDF
# surface -> streaming -> LLM-data pipeline). Rows-only queries
# (oracle=None: approximate by construction, engine-specific hashing,
# or RNG) sit past the driver window so the weaker rows-only record
# never occupies a hash-checked slot. The full registry is verified
# locally each round by tools/check_oracle.py (results committed in
# CORRECTNESS_LOCAL.json).
REGISTRY: dict[str, Query] = {
    # ------------------------------------------------------------------
    # Driver correctness window (first 50): ROUND-14 rotation.
    # Slots 1-3 (changed-code rule): quantiles (single percentile-array
    # aggregate buffer replaces four independent percentile aggregates,
    # values byte-identical) and bpe_encode + bpe_train (shared
    # word_syms_table / words= parameter on train_bpe and
    # encode_corpus_counts — the corpus word-frequency shuffle builds
    # once for train + encode). The jaccard family also saw a dedup.py
    # edit this round (declined-probe dfreq reuse) but ONLY on the
    # flag-gated-off broadcast spelling — the default plan is
    # byte-identical, and jaccard_dupes/jaccard_collapsed/dup_clusters
    # all carry fresh r13 driver evidence.
    # Slots 4-27: the 24 gates whose newest driver evidence is r10
    # (lexical) — the oldest-evidence cohort, first in line since the
    # r13 rotation note. Slots 28-50: the lexically-first 23 of the 39
    # remaining r11-evidence gates. Displaced: the whole r13 window
    # (freshest evidence, 50 gates) plus the 16 lexically-later
    # r11-evidence gates — those 16 are first in line for r15, then the
    # r12 cohort. Rows-only gates (oracle=None) stay past slot 50 as
    # always. Recounted after reorder: exactly 50 oracle entries precede
    # the end-of-window marker; 162 total, none removed or renamed.
    # ------------------------------------------------------------------
    "quantiles": Query(q_quantiles, SQL_QUANTILES),
    "bpe_encode": Query(q_bpe_encode, _sql_bpe_encode()),
    "bpe_train": Query(q_bpe_train, _sql_bpe_train()),
    "lumi_mask": Query(q_lumi_mask, SQL_LUMI_MASK),
    "masked_filter": Query(q_masked_filter, SQL_MASKED_FILTER),
    "nearest_gap": Query(q_nearest, SQL_NEAREST),
    "pdune_beam": Query(q_pdune_beam, SQL_PDUNE_BEAM),
    "physlite_links": Query(q_physlite_links, SQL_PHYSLITE_LINKS),
    "range_gather": Query(q_range_gather, SQL_RANGE_GATHER),
    "schema_variants": Query(q_schema_variants, SQL_SCHEMA_VARIANTS),
    "stream_cutflow": Query(q_stream_cutflow, SQL_STREAM_CUTFLOW),
    "stream_enrich": Query(q_stream_enrich, SQL_STREAM_ENRICH),
    "stream_ewma": Query(q_stream_ewma, SQL_STREAM_EWMA),
    "stream_windowed_hist": Query(q_stream_windowed_hist, SQL_STREAM_HIST),
    "substring_dupes": Query(q_substring_dupes, SQL_SUBSTRING_DUPES),
    "systematics_multi": Query(q_systematics_multi, SQL_SYSTEMATICS_MULTI),
    "systematics_updown": Query(q_systematics, SQL_SYSTEMATICS),
    "text_quality": Query(q_text_quality, _sql_text_quality()),
    "token_stats": Query(q_token_stats, SQL_TOKEN_STATS),
    "topk_per_group": Query(q_topk_per_group, SQL_TOPK_PER_GROUP),
    "tree_train": Query(q_tree_train, SQL_TREE_TRAIN),
    "treemaker_subjets": Query(q_treemaker_subjets, SQL_TREEMAKER_SUBJETS),
    "triples_metric": Query(q_triples_metric, SQL_TRIPLES_METRIC),
    "vocab_topk": Query(q_vocab_topk, SQL_VOCAB_TOPK),
    "weight_stats": Query(q_weight_stats, SQL_WEIGHT_STATS),
    "weights_variations": Query(q_weights_variations, SQL_WEIGHTS_VARIATIONS),
    "xref_roundtrip": Query(q_xref_roundtrip, SQL_XREF),
    "adpcm_features": Query(q_adpcm_features, _sql_adpcm_features()),
    "audio_features": Query(q_audio_features, SQL_AUDIO_FEATURES),
    "audio_resample": Query(q_audio_resample, SQL_AUDIO_RESAMPLE),
    "audio_tones": Query(q_audio_tones, SQL_AUDIO_TONES),
    "blamed_suppliers": Query(q_blamed_suppliers, SQL_BLAMED_SUPPLIERS),
    "boost_cosstar": Query(q_boost_cosstar, SQL_BOOST_COSSTAR),
    "c4_gopher_filters": Query(q_c4_gopher_filters, SQL_C4_GOPHER),
    "categorical_counts": Query(q_categorical_counts, SQL_CATEGORICAL_COUNTS),
    "correctionlib_sf": Query(q_correctionlib_sf, _sql_correctionlib_sf),
    "cube_counts": Query(q_cube_counts, SQL_CUBE),
    "dense_lookup": Query(q_dense_lookup, SQL_DENSE_LOOKUP),
    "doc_chunking": Query(q_doc_chunking, SQL_DOC_CHUNKING),
    "edm4hep_real_links": Query(q_edm4hep_real_links, SQL_EDM4HEP_REAL_LINKS),
    "effarea_l5flavor": Query(q_effarea_l5flavor, _sql_effarea_l5flavor),
    "events_hourly": Query(q_events_hourly, SQL_EVENTS_HOURLY),
    "filtered_agg": Query(q_filtered_agg, SQL_FILTERED_AGG),
    "flac_features": Query(q_flac_features, SQL_AUDIO_FEATURES),
    "histo_sf": Query(q_histo_sf, SQL_HISTO_SF),
    "image_patches": Query(q_image_patches, SQL_IMAGE_PATCHES),
    "jpeg_color_features": Query(q_jpeg_color_features, SQL_JPEG_COLOR_FEATURES),
    "jpeg_features": Query(q_jpeg_features, SQL_JPEG_FEATURES),
    "jpeg_progressive": Query(q_jpeg_progressive_features, SQL_JPEG_COLOR_FEATURES),
    "lm_kneser_ney": Query(q_lm_kneser_ney, SQL_LM_KNESER_NEY),
    # ---- end of driver window (slot 50) -------------------------------
    "multimodal_features": Query(q_multimodal_features, SQL_MULTIMODAL),
    "pagerank_hosts": Query(q_pagerank_hosts, _sql_pagerank_hosts()),
    "pairs_routed": Query(q_pairs_routed, SQL_COMBINATIONS),
    "paragraph_dedup": Query(q_paragraph_dedup, SQL_PARAGRAPH_DEDUP),
    "paragraph_dedup_norm": Query(q_paragraph_dedup_norm, SQL_PARAGRAPH_DEDUP_NORM),
    "perplexity_buckets": Query(q_perplexity_buckets, SQL_PERPLEXITY_BUCKETS),
    "pfnano_objects": Query(q_pfnano_objects, SQL_PFNANO_OBJECTS),
    "pfnano_real_xref": Query(q_pfnano_real_xref, SQL_PFNANO_REAL_XREF),
    "physlite_map_strings": Query(q_physlite_map_strings, SQL_PHYSLITE_MAP_STRINGS),
    "physlite_real_links": Query(q_physlite_real_links, SQL_PHYSLITE_REAL_LINKS),
    "region_revenue": Query(q_region_revenue, SQL_REGION_REVENUE),
    "running_window": Query(q_running_window, SQL_RUNNING_WINDOW),
    "sessionize": Query(q_sessionize, SQL_SESSIONIZE),
    "set_ops": Query(q_set_ops, SQL_SET_OPS),
    "stream_sessions": Query(q_stream_sessions, SQL_STREAM_SESSIONS),
    "top_revenue_orders": Query(q_top_revenue_orders, SQL_TOP_REVENUE),
    "alpha_sample": Query(q_alpha_sample, SQL_ALPHA_SAMPLE),
    "bm25_search": Query(q_bm25_search, SQL_BM25_SEARCH),
    "btag_csv_sf": Query(q_btag_csv, SQL_BTAG_CSV),
    "btag_sf": Query(q_btag_sf, _sql_btag()),
    "corrected_jets_det": Query(q_corrected_jets_det, SQL_CORRECTED_JETS_DET),
    "corrected_met": Query(q_corrected_met, SQL_CORRECTED_MET),
    "cutflow": Query(q_cutflow, SQL_CUTFLOW),
    "decontaminate": Query(q_decontaminate, SQL_DECONTAMINATE),
    "dedup_exact": Query(q_dedup_exact, SQL_DEDUP_EXACT),
    "doc_fingerprint": Query(q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "domain_filter": Query(q_domain_filter, SQL_DOMAIN_FILTER),
    "embedding_label_pairs": Query(q_embedding_label_pairs, SQL_EMBEDDING_LABEL_PAIRS),
    "embedding_topk": Query(q_embedding_topk, SQL_EMBEDDING_TOPK),
    "events_json": Query(q_events_json, SQL_EVENTS_JSON),
    "exact_knn_blocked": Query(q_exact_knn_blocked, SQL_EXACT_KNN),
    "fileset_preprocess": Query(q_fileset_preprocess, SQL_FILESET_PREPROCESS),
    "formula_jec": Query(q_formula_jec, SQL_FORMULA_JEC),
    "genealogy_walk": Query(q_genealogy_walk, SQL_GENEALOGY),
    "hash_split": Query(q_hash_split, _sql_hash_split()),
    "heavy_hitters": Query(q_heavy_hitters, _sql_heavy_hitters()),
    "hist3d": Query(q_hist3d, SQL_HIST3D),
    "html_extract": Query(q_html_extract, SQL_HTML_EXTRACT),
    "ivf_recall": Query(q_ivf_recall, SQL_RECALL_GATE),
    "jec_3d": Query(q_jec_3d, SQL_JEC_3D),
    "jer_smear_portable": Query(q_jer_smear_portable, _sql_jer_smear_portable()),
    "jes_uncertainty": Query(q_jes_uncertainty, SQL_JES_UNCERTAINTY),
    "physlite_triple_nested": Query(q_physlite_triple_nested, SQL_PHYSLITE_TRIPLE_NESTED),
    "pq_recall": Query(q_pq_recall, SQL_RECALL_GATE),
    "pq_rerank": Query(q_pq_rerank, SQL_EXACT_KNN),
    "quads_metric": Query(q_quads_metric, SQL_QUADS_METRIC),
    "quality_classifier": Query(q_quality_classifier, _sql_quality_classifier()),
    "root_scan": Query(q_root_scan, SQL_ROOT_SCAN),
    "root_sink_scan": Query(q_root_sink_scan, SQL_ROOT_SINK_SCAN),
    "root_source_scan": Query(q_root_source_scan, SQL_ROOT_SOURCE_SCAN),
    "root_stream_scan": Query(q_root_stream_scan, SQL_ROOT_STREAM_SCAN),
    "scouting_objects": Query(q_scouting_objects, SQL_SCOUTING_OBJECTS),
    "scouting_real_scan": Query(q_scouting_real_scan, SQL_SCOUTING_REAL_SCAN),
    "stream_dedup": Query(q_stream_dedup, SQL_STREAM_DEDUP),
    "substring_removal": Query(q_substring_removal, SQL_SUBSTRING_REMOVAL),
    "treemaker_real_nesting": Query(q_treemaker_real_nesting, SQL_TREEMAKER_REAL_NESTING),
    "url_dedup": Query(q_url_dedup, SQL_URL_DEDUP),
    "video_frames": Query(q_video_frames, SQL_VIDEO_FRAMES),
    "accumulator_merge": Query(q_accumulator_merge, SQL_ACCUMULATOR_MERGE),
    "ann_recall": Query(q_ann_recall, SQL_RECALL_GATE),
    "asof_join": Query(q_asof_join, SQL_ASOF_JOIN),
    "asof_operator": Query(q_asof_operator, SQL_ASOF_OPERATOR),
    "bitmask_counts": Query(q_bitmask_counts, SQL_BITMASK),
    "bloom_decontam": Query(q_bloom_decontam, _sql_bloom_decontam()),
    "cardinality_hll": Query(q_cardinality_hll, _sql_cardinality_hll()),
    "ccnet_pipeline": Query(q_ccnet_pipeline, _sql_ccnet_pipeline()),
    "combinations_pairs": Query(q_combinations, SQL_COMBINATIONS),
    "cutflow_npz": Query(q_cutflow_npz, SQL_CUTFLOW_NPZ),
    "deep_children": Query(q_deep_children, SQL_DEEP_CHILDREN),
    "delphes_met": Query(q_delphes_met, SQL_DELPHES_MET),
    "dimuon_mass": Query(q_dimuon_mass, SQL_DIMUON),
    "dsir_weights": Query(q_dsir_weights, SQL_DSIR_WEIGHTS),
    "dup_clusters": Query(q_dup_clusters, SQL_DUP_CLUSTERS),
    "fcc_constituents": Query(q_fcc_constituents, SQL_FCC_CONSTITUENTS),
    "gbdt_score": Query(q_gbdt_score, _sql_gbdt_score()),
    "gbdt_train_boost": Query(q_gbdt_train, _sql_gbdt_train()),
    "hist2d_qty_disc": Query(q_hist2d_qty_disc, SQL_HIST2D),
    "hist_price": Query(q_hist_price, SQL_HIST_PRICE),
    "hist_varwidth": Query(q_hist_varwidth, SQL_HIST_VARWIDTH),
    "jaccard_collapsed": Query(q_jaccard_collapsed, _sql_jaccard_collapsed()),
    "jaccard_dupes": Query(q_jaccard_dupes, SQL_JACCARD_DUPES),
    "jagged_filter": Query(q_jagged_filter, SQL_JAGGED_FILTER),
    "jagged_reduce": Query(q_jagged_reduce, SQL_JAGGED_REDUCE),
    "knn_classify": Query(q_knn_classify, SQL_KNN_CLASSIFY),
    "lang_id": Query(q_lang_id, _sql_lang_id()),
    "lm_bigram": Query(q_lm_bigram, SQL_LM_BIGRAM),
    "lm_quality": Query(q_lm_quality, SQL_LM_QUALITY),
    "lumi_sum": Query(q_lumi_sum, SQL_LUMI_SUM),
    "minhash_portable": Query(q_minhash_portable, _sql_minhash_portable()),
    "ml_score": Query(q_ml_score, _sql_ml_score()),
    "nminusone": Query(q_nminusone, SQL_NMINUSONE),
    "pack_sequences": Query(q_pack_sequences, SQL_PACK_SEQUENCES),
    "padded_leading": Query(q_padded_leading, SQL_PADDED_LEADING),
    "pii_scrub": Query(q_pii_scrub, SQL_PII_SCRUB),
    "plot_vars": Query(q_plot_vars, SQL_PLOT_VARS),
    "preloaded_agg": Query(q_preloaded_agg, SQL_PRELOADED_AGG),
    "pricing_summary": Query(q_pricing_summary, SQL_PRICING),
    "profile_hist": Query(q_profile_hist, SQL_PROFILE_HIST),
    "repetition_signals": Query(q_repetition_signals, SQL_REPETITION_SIGNALS),
    "rochester_pileup": Query(q_rochester_pileup, SQL_ROCHESTER_PILEUP),
    "salted_join": Query(q_salted_join, SQL_SALTED_JOIN),
    "semdedup": Query(q_semdedup, SQL_SEMDEDUP),
    "simhash_portable": Query(q_simhash_portable, SQL_SIMHASH_PORTABLE),
    "stream_heavy_hitters": Query(q_stream_heavy_hitters, _sql_heavy_hitters()),
    "stream_interval_join": Query(q_stream_interval_join, SQL_STREAM_INTERVAL_JOIN),
    "unimax_sample": Query(q_unimax_sample, SQL_UNIMAX_SAMPLE),
    "warc_scan": Query(q_warc_scan, SQL_WARC_SCAN),
    "weighted_sample": Query(q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "quantiles_approx": Query(q_quantiles_approx, None),
    "jer_smear": Query(q_jer_smear, None),
    "minhash_lsh": Query(q_minhash_lsh, None),
    "simhash": Query(q_simhash, None),
}



