"""Similarity search over embedding columns (array<float>).

- exact cosine / dot as pure ``zip_with``+``aggregate`` column math
  (sequential double-precision accumulation -> bit-stable across engines)
- brute-force top-k against a literal query vector (:func:`topk_cosine`):
  one scan + one tiny top-k reduce, the reference the indexes are
  graded against.
- every index serves a query TABLE through one shape: a local
  candidate set per query (a per-batch matmul top-k for the exact and
  PQ scans, a broadcast probe join for hyperplane-LSH buckets and IVF
  lists), then one global ranked reduction per query (:func:`_top_k`).
  The corpus is never shuffled; only candidate rows are.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision, positional left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _lit_vec(v) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def _round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """Round HALF AWAY FROM ZERO — the pinned rounding mode every exact
    path in this module shares. ``F.round`` (Spark, RoundingMode.HALF_UP)
    and DuckDB's ``round`` both round halves away from zero;
    ``np.round`` rounds half-to-even — three spellings of the same
    ordering key must not disagree on an exact 0.5·10^-d boundary
    (measure-zero for float cosines, but the tie-break rank would
    silently diverge between the numpy paths and the HOF/oracle
    spellings). scaled+copysign floor is the classic branch-free
    half-away form; one multiply of float64 headroom is fine at the
    digits used here (<= 6). Exactness caveat: this rounds the BINARY
    product ``|x|·10^d``, while Spark/DuckDB round the exact decimal
    expansion of the double — the three spellings agree on
    exactly-representable halves and everywhere the scaled product does
    not cross the .5 boundary (a double whose decimal digits run
    ...4999x can, in principle, cross it after the float multiply); a
    hard guarantee would need decimal quantization, which nothing at
    <= 6 digits here has ever required."""
    scale = 10.0 ** digits
    return np.copysign(np.floor(np.abs(x) * scale + 0.5), x) / scale


#: default ceiling for the "query/seed table is TINY" contract — tables
#: that ride the driver (collect) or every executor (broadcast closure)
MAX_SMALL_SIDE_ROWS = 100_000


def _bounded_vec_sample(df: DataFrame, vec_col: str, n: int) -> np.ndarray:
    """Deterministic bounded sample of a vector column: hash-ordered
    top-n (``orderBy(xxhash64(vec), vec).limit(n)`` — planned as
    TakeOrderedAndProject: each task keeps its local n, no global sort,
    no full collect), so the SAME multiset of vectors comes back
    regardless of partitioning, row order, or which tasks answer first.
    An unordered ``limit(n)`` takes whichever partitions respond first —
    run-to-run-different samples whenever corpus > n, which is exactly
    the regime a bounded trainer advertises. The vector itself is the
    hash tiebreaker, so even a 64-bit collision between distinct
    vectors cannot make the boundary row ambiguous."""
    vc = F.col(vec_col).cast("array<double>").alias("_v")
    rows = (
        df.select(vc)
        .orderBy(F.xxhash64(F.col("_v")), F.col("_v"))
        .limit(n)
        .collect()
    )
    return np.asarray([r[0] for r in rows], dtype=float)


def _assert_small_side(df: DataFrame, cap: int, what: str) -> None:
    """Mechanically enforce the small-side contract instead of trusting
    the docstring: bounded probe (``limit(cap+1).count()`` — the scan
    stops once cap+1 rows are found, it never counts the full table)
    that fails LOUD when the side is too big to collect/broadcast.
    Callers past the cap should route through the bucketed joins
    (lsh/ivf candidate paths) instead."""
    n = df.limit(cap + 1).count()
    if n > cap:
        raise ValueError(
            f"{what} has > {cap} rows — too large for the driver-side "
            "small-table path; use the LSH/IVF bucketed candidate joins "
            "(or raise the cap explicitly if you know the memory fits)"
        )


def _top_k(df: DataFrame, part: str, order: list[Column], k: int) -> DataFrame:
    """The first ``k`` rows of each ``part`` group of ``df`` by
    ``order``: the one ranked reduction every search path here ends in.
    ``df`` holds only candidate rows (per-batch winners or probe-join
    pairs), so the window's shuffle never carries the corpus."""
    from pyspark.sql import Window as W

    w = W.partitionBy(part).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def topk_cosine(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.
    Deterministic: ordered by (rounded cosine desc, id). The plan is
    scan -> project -> TakeOrderedAndProject (no full sort, no shuffle of
    the data — only k rows per partition reach the driver side)."""
    sim = F.round(cosine(F.col(vec_col), _lit_vec(query)), round_digits)
    return (
        df.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def exact_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_query_rows: int = MAX_SMALL_SIDE_ROWS,
) -> DataFrame:
    """EXACT cosine top-k of every query against the FULL corpus,
    blocked: the (small, contract-enforced) query table ships to every
    scan task as one dense float64 matrix; each Arrow batch of the
    corpus is a single numpy matmul (B x Q similarities at BLAS speed)
    that emits only its per-batch top-k per query (<= k rows per query
    per batch); one final per-qid window reduces batch winners to
    global winners. The corpus is NEVER shuffled and the pair set is
    never materialized — the only shuffle carries n_batches * Q * k
    tiny (qid, id, cosine) rows. This is the scalable spelling of the
    brute-force gold standard the recall gates are graded against:
    the HOF `cosine` cross join enumerates |corpus| x |queries| rows
    through interpreted lambda evaluation, which is exact but ~50x
    slower per pair and bounded by the corpus scan's task count.

    Ordering contract matches :func:`topk_cosine` / the recall gates'
    exact oracle: (round(cosine, round_digits) DESC, id ASC). Dot
    products accumulate in float64 via numpy (pairwise summation)
    rather than the HOF's sequential left-to-right adds, so pre-round
    values can differ by ~1 ULP; at round_digits=6 the two paths agree
    on every fixture corpus (tests/test_similarity_exact.py), the same
    tolerance argument that lets DuckDB's list_cosine_similarity
    hash-match the HOF path in the driver gate. Rounding mode is PINNED
    half-away-from-zero (:func:`_round_half_up`) — the same mode as
    F.round and DuckDB — so even an exact 0.5e-6 boundary cannot rank
    differently across the three spellings. Contract: integer ids
    (enforced below — a string-keyed corpus belongs in pq_adc_topk,
    which follows input id types); a ZERO-NORM vector (query or corpus)
    scores cosine 0.0 via a guarded divide — the same contract as the
    pq_adc_topk re-rank path, so degenerates-to-exact equivalence holds
    on zero vectors too (the HOF spelling's 0/0 stays engine-specific,
    hence the gates' non-zero fixtures)."""
    for frame, col_, what in (
        (queries, qid_col, "query id"),
        (corpus, id_col, "corpus id"),
    ):
        dt = frame.schema[col_].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise TypeError(
                f"exact_topk_join {what} column '{col_}' must be integral, "
                f"got {dt.simpleString()} — string doc keys are supported "
                "by pq_adc_topk, or map keys to dense ids first (failing "
                "fast here beats an opaque numpy cast error inside the "
                "executor)"
            )
    _assert_small_side(queries, max_query_rows, "exact_topk_join query table")
    qrows = sorted(
        queries.select(
            F.col(qid_col).cast("long"), F.col(qvec_col).cast("array<double>")
        ).collect()
    )
    if not qrows:
        raise ValueError("empty query table")
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qm = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qm * qm).sum(axis=1))
    qnorm = np.where(qnorm == 0, 1.0, qnorm)  # zero-norm -> cosine 0.0
    qmt = qm.T.copy()  # (dim, Q), contiguous for the batch matmul
    nq = len(qids)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            vnorm = np.sqrt((v * v).sum(axis=1))
            vnorm = np.where(vnorm == 0, 1.0, vnorm)  # zero-norm -> 0.0
            sim = _round_half_up(
                (v @ qmt) / (vnorm[:, None] * qnorm[None, :]), round_digits
            )
            kk = min(k, len(ids))
            out_q: list = []
            out_i: list = []
            out_c: list = []
            for j in range(nq):
                col = sim[:, j]
                if kk == 1:
                    m = col.max()
                    cand = np.nonzero(col == m)[0]
                elif kk >= len(ids):
                    cand = np.arange(len(ids))
                else:
                    part = np.argpartition(-col, kk - 1)[:kk]
                    cand = np.nonzero(col >= col[part].min())[0]
                sel = cand[np.lexsort((ids[cand], -col[cand]))[:kk]]
                out_q.append(np.full(len(sel), qids[j]))
                out_i.append(ids[sel])
                out_c.append(col[sel])
            yield pd.DataFrame(
                {
                    qid_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "cosine": np.concatenate(out_c),
                }
            )

    batch_winners = corpus.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInPandas(gen, schema=f"{qid_col} long, {id_col} long, cosine double")
    return _top_k(
        batch_winners, qid_col, [F.col("cosine").desc(), F.col(id_col)], k
    )


def hyperplane_planes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (seeded standard normals)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def hyperplane_bucket(vec: Column, planes: np.ndarray) -> Column:
    """LSH bucket id: bit j = sign(vec . plane_j). Pure column math —
    n_planes dot products against literal arrays, packed into a bigint."""
    bits = []
    for j in range(planes.shape[0]):
        d = dot(vec, _lit_vec(planes[j]))
        bits.append(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long"))
        )
    out = F.lit(0).cast("long")
    for b in bits:
        out = out + b
    return out


def _probe_join(
    queries: DataFrame,
    corpus: DataFrame,
    probes: Column,
    key: str,
    k: int,
    qid_col: str,
    qvec_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query top-k over the corpus rows whose ``key`` is one of the
    query's ``probes`` (an array column over ``queries``): each query
    row explodes to one row per probe key, the exploded query side
    (|Q| x probes rows, tiny) broadcasts into an equi-join on ``key``,
    and :func:`_top_k` ranks the candidates by (rounded cosine desc,
    id). The corpus is never shuffled and no corpus pairs are
    enumerated.

    Norms are factored OUT of the join: norm(vec)/norm(qvec) are
    per-ROW facts recomputed per candidate PAIR if left inside
    `cosine` (measured ~3x of the serve cost at sf1). Same expressions
    on the same inputs in the same order -> bit-identical cosines."""
    q = queries.withColumn("_qn", norm(F.col(qvec_col))).select(
        qid_col, qvec_col, "_qn", F.explode(probes).alias(key)
    )
    c = corpus.withColumn("_vn", norm(F.col(vec_col)))
    sim = F.round(
        dot(F.col(vec_col), F.col(qvec_col)) / (F.col("_vn") * F.col("_qn")), 6
    )
    pairs = F.broadcast(q).join(c, key).select(qid_col, id_col, sim.alias("cosine"))
    return _top_k(pairs, qid_col, [F.col("cosine").desc(), F.col(id_col)], k)


def ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    max_hamming: int = 1,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Batched multi-probe hyperplane-LSH ANN: per-QUERY top-k over a
    query TABLE (a one-row table is the single-vector lookup).

    Multi-probe is done on the QUERY side: each query's probe keys are
    its own bucket plus every bucket within Hamming distance
    ``max_hamming`` (n_planes+1 probes at distance 1, plus all bit-pairs
    at distance 2), matched against the corpus bucket through
    :func:`_probe_join`. The corpus is hashed/bucketed ONCE — at
    100 TB the assigned corpus is written partitioned by bucket so each
    probe is partition pruning. Exact cosine ranks candidates; ties
    broken by (rounded cosine desc, id).
    """
    if dim is None:
        raise ValueError("pass dim (embedding dimensionality)")
    if max_hamming > 2:
        raise ValueError("max_hamming <= 2 (probe count grows C(n_planes, d))")
    planes = hyperplane_planes(dim, n_planes, seed)
    probes = [F.col("_qb")]
    if max_hamming >= 1:
        probes += [F.col("_qb").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    if max_hamming >= 2:
        probes += [
            F.col("_qb").bitwiseXOR(F.lit((1 << j) | (1 << l)))
            for j in range(n_planes)
            for l in range(j + 1, n_planes)
        ]
    return _probe_join(
        queries.withColumn("_qb", hyperplane_bucket(F.col(qvec_col), planes)),
        corpus.withColumn("_bucket", hyperplane_bucket(F.col(vec_col), planes)),
        F.array(*probes), "_bucket", k, qid_col, qvec_col, id_col, vec_col,
    )


def ivf_probe_join(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "_list",
) -> DataFrame:
    """Batched IVF search over a query TABLE (a one-row table is the
    single-vector lookup): each query's ``n_probe`` nearest coarse
    centroids are computed as scan-stage column math (array_sort over
    the literal centroid distances of :func:`_centroid_dists` — no UDF,
    no collect) and matched against the pre-ASSIGNED corpus
    (:func:`ivf_assign_table`) on list id through :func:`_probe_join`.
    Against a corpus written partitioned by list id
    (:func:`ivf_write_index`) the join key is partition pruning per
    probe. Cost ~ n_probe/n_lists of brute force per query, independent
    of query count fan-in. Dominant-cell corpora (one list ≫ the rest —
    the measured 1.5x serve penalty in BENCH_SKEW.md) should refine the
    quantizer with :func:`ivf_refine_oversized` before serving; this
    function needs no change, it just probes the finer lists."""
    probe_ids = F.transform(
        F.slice(F.array_sort(_centroid_dists(F.col(qvec_col), centroids)), 1, n_probe),
        lambda s: s["i"],
    )
    return _probe_join(
        queries, assigned, probe_ids, list_col, k, qid_col, qvec_col, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the trained coarse quantizer scale path
# ---------------------------------------------------------------------------

def ivf_train(
    df: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    max_sample: int = 65536,
) -> np.ndarray:
    """Train the IVF coarse quantizer: Lloyd's k-means on a BOUNDED
    driver-side sample. Returns (n_lists, dim) float64 centroids.

    A coarse quantizer needs ~O(100) points per list, not the corpus —
    the standard IVF recipe trains in memory on a sample and only the
    assignment pass touches every row. So the 100 TB cost profile is:
    one bounded sample collect (max_sample rows), millisecond training,
    then one distributed Arrow-batched assignment (ivf_assign_table).
    Iterative Spark ML jobs for 16 centroids would pay multi-second
    scheduling overhead per iteration for no quality gain.

    Deterministic end-to-end: the bounded sample is hash-ordered
    (:func:`_bounded_vec_sample` — the same multiset of vectors
    regardless of partitioning or which tasks answer first, unlike an
    unordered ``limit`` whose content varies run-to-run once corpus >
    max_sample) and then sorted before seeded init, so the centroids
    are a pure function of the corpus CONTENT. Pinned by
    tests/test_llmdata.py::test_train_sample_deterministic_under_partitioning:
    corpus > max_sample, repartition(7) vs repartition(64) -> identical
    centroids."""
    sample = _bounded_vec_sample(df, vec_col, max_sample)
    if sample.shape[0] < n_lists:
        raise ValueError(f"need >= {n_lists} vectors to train, got {sample.shape[0]}")
    return _kmeans(sample, n_lists, seed, max_iter)


def _kmeans(sample: np.ndarray, k: int, seed: int, max_iter: int = 20) -> np.ndarray:
    """Deterministic Lloyd's k-means on an in-memory sample in matmul
    (BLAS) form — the trainer of :func:`ivf_train`'s quantizer and of
    :func:`pq_train`'s per-subvector codebooks. The input is sorted
    before seeded init, so the result is a pure function of the sample
    MULTISET.
    Memory is O(S·k): the naive ``(sample[:,None,:]-cents)``
    broadcasting materializes S×k×dim — 1 TB at a 65536-point sample
    with 256 lists — and caps k at toy sizes; the production quantizer
    scales n_lists ~ sqrt(corpus)."""
    sample = sample[np.lexsort(sample.T[::-1])]  # order-independence
    rng = np.random.default_rng(seed)
    sn = (sample * sample).sum(axis=1)

    def _d2_to(cents_arr: np.ndarray) -> np.ndarray:
        # ||x-c||² = |x|² - 2 x·c + |c|² in matmul form at BLAS speed
        cn = (cents_arr * cents_arr).sum(axis=1)
        return np.maximum(
            sn[:, None] - 2.0 * (sample @ cents_arr.T) + cn[None, :], 0.0
        )

    # k-means++ init (incremental running min — O(S) per new centroid)
    cents = [sample[rng.integers(sample.shape[0])]]
    dmin = _d2_to(np.asarray(cents))[:, 0]
    for _ in range(1, k):
        p = dmin / dmin.sum() if dmin.sum() > 0 else None
        cents.append(sample[rng.choice(sample.shape[0], p=p)])
        dmin = np.minimum(dmin, _d2_to(np.asarray(cents[-1:]))[:, 0])
    cents = np.asarray(cents, dtype=float)
    for _ in range(max_iter):
        d2 = _d2_to(cents)
        lab = d2.argmin(axis=1)
        new = np.empty_like(cents)
        for i in range(k):
            m = lab == i
            # empty cluster -> re-seed at the farthest point (deterministic)
            new[i] = sample[m].mean(axis=0) if m.any() else sample[d2.min(axis=1).argmax()]
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def _median_bisect(sample: np.ndarray, max_rows: float) -> np.ndarray:
    """Deterministic recursive median bisection (the split engine of
    bisecting k-means, minus the Lloyd step): split on the
    MAX-VARIANCE dimension at its median, recurse on any piece still
    holding more than ``max_rows`` points, return each final piece's
    MEAN as its cell centroid. Splits by COUNT by construction — which
    plain Lloyd's cannot do on extreme density contrast: k-means
    minimizes variance, so on a tight ball inside a diffuse shell it
    parks the extra centroids on shell outliers and leaves the ball's
    mass in one cell (measured on the skewed-sf1 hot list: k=19
    k-means++ left a 4726-point cell + singletons; median bisection at
    the same budget yields 32 cells, max 476). A genuine POINT MASS
    (exact-duplicate vectors) is unsplittable by any centroid scheme —
    the recursion stops when the split dimension has zero spread and
    the caller's loud warning is the signal to exact-dedup first.
    Deterministic: median/variance/mean over a content-sorted sample,
    no RNG."""
    out: list[np.ndarray] = []
    stack = [sample]
    while stack:
        s = stack.pop()
        if len(s) <= max_rows or len(s) < 2:
            out.append(s.mean(axis=0))
            continue
        dim = int(s.var(axis=0).argmax())
        med = float(np.median(s[:, dim]))
        left, right = s[s[:, dim] <= med], s[s[:, dim] > med]
        if len(left) == 0 or len(right) == 0:  # point mass on every dim
            out.append(s.mean(axis=0))
            continue
        stack.append(left)
        stack.append(right)
    return np.asarray(out, dtype=float)


def ivf_refine_oversized(
    df: DataFrame,
    centroids: np.ndarray,
    max_list_size: int,
    vec_col: str = "embedding",
    max_sample: int = 65536,
    rounds: int = 4,
    assigned: DataFrame | None = None,
    list_col: str = "_list",
) -> np.ndarray:
    """Dominant-cell guard for the IVF coarse quantizer — the measured
    failure mode (BENCH_SKEW.md r10 addendum): a 20%-of-corpus embedding
    ball lands in ONE list at ANY list count (raising n_lists makes the
    imbalance ratio WORSE, max/mean 4.1 -> 36.2), and every query near
    the ball then scores the entire hot list — a 1.54x serve penalty of
    pure candidate mass, which sub-bucketing the list's PARTITIONS
    cannot fix (probing a split list would still scan every sub-list).

    Remedy: DETERMINISTIC RESIDUAL RE-SPLIT. Every list whose
    assignment count exceeds ``max_list_size`` is split by recursive
    median bisection (:func:`_median_bisect` over a bounded
    hash-ordered sample of that list's own vectors — count-balanced by
    construction, where plain Lloyd's provably is not: k-means
    re-clustering the measured skewed-sf1 hot list left 85% of its
    mass in one cell at ANY k) and its single centroid is REPLACED by
    the piece means. The hot ball becomes several real Voronoi cells,
    so a query inside it probes only its n_probe nearest sub-cells —
    candidate mass per hot query drops from |hot list| toward
    n_probe·max_list_size — while cold lists and the serve path
    (:func:`ivf_probe_join`, unchanged) are untouched.

    Mirrors the MinHash ``max_bucket_size`` guard contract
    (dedup.py minhash_lsh_candidates): the trigger is MEASURED (one
    count-by-list aggregation per round — map-side combinable, n_lists
    result rows), the action is LOUD (warnings.warn naming the lists
    and sizes), and nothing is dropped — an IVF list is a routing cell,
    not a near-dup bucket, so the guard splits it instead of excluding
    it.

    ``rounds`` iterates the guard because Voronoi re-assignment blurs
    the bisection boundaries (piece means are only exactly
    bisector-equivalent for the final sibling pair) and corpus counts
    fluctuate around sample counts — a cell can land modestly over cap
    after one pass (measured 1.7x on the skewed-sf1 hot ball) and the
    next round bisects just that cell. An in-cap corpus exits after
    the first size check, so the default rounds cost nothing when
    inert; each firing round costs one assignment scan + the tiny
    size agg.

    Deterministic: sub-samples are hash-ordered (_bounded_vec_sample),
    each sub-split is a pure function of its list's content-sorted
    sample (median/variance/mean — no RNG anywhere), and the refined
    set is assembled in (surviving centroids in order, then
    sub-centroids by ascending source list) order — a pure function of
    corpus content.
    Pass ``assigned`` (an already-materialized
    :func:`ivf_assign_table` result) to reuse it for the first round's
    size check and sub-samples. Returns the refined (possibly
    unchanged) centroids; re-assign the corpus against them before
    serving."""
    import warnings

    cents = np.asarray(centroids, dtype=float)
    for rnd in range(rounds):
        reuse = rnd == 0 and assigned is not None and list_col in assigned.columns
        asg = assigned if reuse else ivf_assign_table(df, cents, vec_col, list_col)
        if not reuse:
            asg = asg.persist()  # size agg + one sample scan per oversized list
        sizes = {
            int(r[0]): int(r[1])
            for r in asg.groupBy(list_col).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        oversized = {l: sz for l, sz in sizes.items() if sz > max_list_size}
        if not oversized:
            if not reuse:
                asg.unpersist()
            break
        warnings.warn(
            f"ivf_refine_oversized: re-clustering {len(oversized)} list(s) "
            f"over max_list_size={max_list_size}: "
            + ", ".join(
                f"list {l} ({sz} rows)" for l, sz in sorted(oversized.items())
            ),
            stacklevel=2,
        )
        keep = [cents[i] for i in range(cents.shape[0]) if i not in oversized]
        subs = []
        for l, sz in sorted(oversized.items()):
            sub = _bounded_vec_sample(
                asg.filter(F.col(list_col) == l), vec_col, max_sample
            )
            sub = sub[np.lexsort(sub.T[::-1])]  # content-determinism
            # cap scaled to the sample fraction: pieces of <= max_rows
            # sample points correspond to ~max_list_size corpus rows
            max_rows = max(1.0, sub.shape[0] * max_list_size / sz)
            subs.append(_median_bisect(sub, max_rows))
        if not reuse:
            asg.unpersist()
        cents = np.concatenate(
            [np.asarray(keep, dtype=float).reshape(-1, cents.shape[1]), *subs],
            axis=0,
        )
    return cents


def _centroid_dists(vec: Column, centroids: np.ndarray) -> Column:
    """array<struct<d, i>>: per centroid ``i`` the distance key
    ``d = |c_i|^2 - 2 v.c_i`` (||v - c_i||^2 less the per-row |v|^2),
    pure column math against literal centroid arrays. Ordering its
    structs orders the centroids by distance, ties to the smaller id."""
    return F.array(
        *[
            F.struct(
                (F.lit(float(centroids[i] @ centroids[i])) - 2.0 * dot(vec, _lit_vec(centroids[i]))).alias("d"),
                F.lit(i).alias("i"),
            )
            for i in range(centroids.shape[0])
        ]
    )


def ivf_assign(vec: Column, centroids: np.ndarray) -> Column:
    """List id = argmin_c ||v - c||^2 = argmin_c (|c|^2 - 2 v.c) — pure
    column math against literal centroid arrays (no UDF, no shuffle).
    Its sequential double sums are the spelling the ``semdedup`` gate's
    DuckDB oracle reproduces exactly; :func:`ivf_assign_table` is the
    matmul form for serving.

    The argmin is array_min over (distance, id) structs — NOT a chained
    when/otherwise fold, which references the running best twice per
    level and doubles the expression tree each centroid (2^n_lists
    nodes stalls the analyzer)."""
    return F.array_min(_centroid_dists(vec, centroids))["i"]


def ivf_assign_table(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    list_col: str = "_list",
) -> DataFrame:
    """Materializable list assignment: the precompute step of the IVF
    index. Assign ONCE (cache, or better: write), then serve every
    query from the assigned table — k-means inference must not hide
    inside each lookup. See :func:`ivf_write_index` for the persisted
    form.

    An Arrow-batched pandas UDF: per batch one ``argmin(|c|^2 - 2 X
    C^T)`` matmul. For dense linear algebra over many centroids this
    beats the literal-array column-math form (:func:`ivf_assign`) — the
    HOF expression is O(n_lists x dim) codegen per row while the matmul
    is one vectorized BLAS call per Arrow batch; same float64
    arithmetic, same argmin tie-break (first minimum). Centroids ride
    the closure (KBs)."""
    c = np.ascontiguousarray(centroids, dtype=float)
    c2 = (c * c).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def assign(vs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(v, dtype=float) for v in vs])
        if x.size == 0:
            return pd.Series([], dtype="int32")
        d = c2[None, :] - 2.0 * (x @ c.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return df.withColumn(list_col, assign(vec_col))


def ivf_write_index(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    vec_col: str = "embedding",
    list_col: str = "_list",
) -> None:
    """Persist the IVF index: parquet partitioned by list id (so a
    probe's ``_list IN (...)`` filter becomes PARTITION PRUNING — probed
    lists are the only files read, the 100 TB serving shape) plus the
    centroids as a JSON sidecar."""
    import json
    import os

    ivf_assign_table(df, centroids, vec_col, list_col).write.partitionBy(
        list_col
    ).mode("overwrite").parquet(os.path.join(path, "lists"))
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(centroids.tolist(), f)


def ivf_read_index(spark, path: str):
    """Load a persisted IVF index -> (assigned DataFrame, centroids)."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        centroids = np.asarray(json.load(f), dtype=float)
    return spark.read.parquet(os.path.join(path, "lists")), centroids


def knn_classify(
    train: DataFrame,
    test: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_digits: int | None = None,
    max_train_rows: int = MAX_SMALL_SIDE_ROWS,
) -> DataFrame:
    """Exact k-NN label prediction: for every test vector, the majority
    label among its k nearest training vectors by cosine; ties break to
    the smaller training id, vote ties to the smaller label
    (deterministic, oracle-reproducible). Returns
    (test id, true label, predicted label, votes).

    ``round_digits`` ranks by ROUNDED cosine — last-ulp summation
    differences between engines must not flip near-tie neighbors when
    an independent engine replays the ranking (the correctness-gate
    setting; leave None for full-precision production ranking).

    Scale shape: the train side broadcasts when it's a labeled seed set
    (the usual case — labels are scarce), so scoring is a map-side
    cross product over the test scan; ranking is a per-test-row window
    over the scored pairs, then a vote window over k·|test| rows.
    """
    from pyspark.sql import Window

    _assert_small_side(train, max_train_rows, "knn_classify train (broadcast) side")
    tr = train.select(
        F.col(id_col).alias("_tid"),
        F.col(vec_col).alias("_tv"),
        F.col(label_col).alias("_tl"),
    )
    te = test.select(
        F.col(id_col).alias("test_id"),
        F.col(vec_col).alias("_qv"),
        F.col(label_col).alias("true_label"),
    )
    scored = te.crossJoin(F.broadcast(tr)).select(
        "test_id",
        "true_label",
        "_tl",
        (
            F.round(cosine(F.col("_qv"), F.col("_tv")), round_digits)
            if round_digits is not None
            else cosine(F.col("_qv"), F.col("_tv"))
        ).alias("_cos"),
        "_tid",
    )
    top = _top_k(scored, "test_id", [F.col("_cos").desc(), F.col("_tid").asc()], k)
    votes = top.groupBy("test_id", "true_label", "_tl").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("test_id").orderBy(
        F.col("votes").desc(), F.col("_tl").asc()
    )
    return (
        votes.withColumn("_vr", F.row_number().over(wv))
        .filter(F.col("_vr") == 1)
        .select(
            "test_id",
            "true_label",
            F.col("_tl").alias("predicted_label"),
            "votes",
        )
    )


# ---------------------------------------------------------------------------
# product quantization (beyond reference; Jégou et al. 2011 PQ/ADC) —
# compressed-vector search for the 100 TB embedding store: 64-dim float32
# (256 B) -> m bytes per vector, scored by table lookups
# ---------------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 4096,
    normalize: bool = True,
) -> np.ndarray:
    """Train per-subvector codebooks: split the (normalized) vector into
    ``m`` contiguous subvectors and k-means each on a BOUNDED driver-side
    sample. Returns (m, n_codes, dim/m) float64 codebooks. Same cost
    profile as ivf_train: one bounded collect, millisecond training —
    and the same determinism contract: the sample is hash-ordered
    (:func:`_bounded_vec_sample`), not an unordered ``limit``, so the
    codebooks are a pure function of corpus content even when corpus >
    max_sample."""
    sample = _bounded_vec_sample(df, vec_col, max_sample)
    if sample.shape[0] < n_codes:
        raise ValueError(f"need >= {n_codes} vectors to train, got {sample.shape[0]}")
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if normalize:
        nrm = np.linalg.norm(sample, axis=1, keepdims=True)
        sample = sample / np.where(nrm == 0, 1.0, nrm)
    sub = dim // m
    return np.stack(
        [
            _kmeans(sample[:, j * sub : (j + 1) * sub], n_codes, seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
    normalize: bool = True,
    keep_cols: tuple = (),
) -> DataFrame:
    """Distributed PQ encoding: per row, the nearest codebook entry per
    subvector — an Arrow-batched numpy argmin over the (tiny, broadcast
    in the UDF closure) codebooks. Output: id + array<int> of m codes
    (the m-byte compressed representation). One scan, no shuffle.
    ``keep_cols`` carries extra columns through (e.g. the raw vector
    when the search side will exact-re-rank its ADC shortlist)."""
    m, k, sub = codebooks.shape
    books = codebooks.copy()

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(vs: pd.Series) -> pd.Series:
        X = np.stack(vs.map(np.asarray).to_numpy()).astype(float)
        if normalize:
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            X = X / np.where(nrm == 0, 1.0, nrm)
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            seg = X[:, j * sub : (j + 1) * sub]
            d2 = ((seg[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.select(
        F.col(id_col), enc(F.col(vec_col)).alias(out_col), *[F.col(c) for c in keep_cols]
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    normalize: bool = True,
    max_query_rows: int = MAX_SMALL_SIDE_ROWS,
    rerank: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: per query a (m, n_codes) lookup table
    of query-subvector-to-centroid distances, then every corpus vector
    scores with m table lookups instead of a dim-wide dot product.

    Scale shape: the query table is TINY (collected once, shipped in
    the UDF closure); each Arrow batch emits only its per-query local
    top-k (batch_rows x Q scores reduced before leaving the executor),
    so the shuffle carries O(batches x Q x k) rows — never the corpus.
    The final global top-k is a window over that small union.

    ``rerank`` > 0 enables the standard two-stage search: per batch the
    ADC scan keeps a ``rerank``-deep shortlist per query, re-scores
    those candidates with EXACT cosine (one numpy matvec per candidate
    set — ``encoded`` must carry the raw ``vec_col``, see
    ``pq_encode(keep_cols=...)``), and the global top-k ranks by
    (rounded cosine desc, id). ADC quantization error makes raw ADC
    recall FALL with corpus density (measured 0.40 @ 20k -> 0.15 @ 200k
    vectors on planted near-dups, BENCH_SCALE.md); re-ranking a
    shortlist restores it at ~rerank/k times the per-batch top-k cost
    while still never shuffling the corpus. Output columns: (qid, id,
    adc) without re-rank, (qid, id, cosine) with.

    Approximation contract of the re-rank path: the shortlist is
    per-BATCH, so which candidates survive to the global top-k can
    vary with partitioning / Arrow batch boundaries (unlike the pure
    ADC path, whose global (adc, id) ordering is layout-invariant).
    At ``rerank`` >= batch rows it degenerates to exact_topk_join
    (pinned by test; driver-gated by the ``pq_rerank`` CORRECTNESS
    entry against the brute-force oracle). Task retries are still
    deterministic — batch splits are a pure function of partition
    content. Zero-norm contract is UNIFIED with exact_topk_join: both
    map a zero-norm vector to cosine 0.0 through a guarded divide, and
    both round through the pinned half-away-from-zero helper
    (:func:`_round_half_up`), so the degenerates-to-exact equivalence
    holds on zero vectors and on exact rounding boundaries alike."""
    m, nk, sub = codebooks.shape
    _assert_small_side(queries, max_query_rows, "pq_adc_topk query table")
    q_rows = queries.select(qid_col, F.col(qvec_col).cast("array<double>")).collect()
    if not q_rows:
        raise ValueError("empty query table")
    qids = np.asarray([r[0] for r in q_rows])
    Q = np.asarray([r[1] for r in q_rows], dtype=float)
    if normalize:
        nrm = np.linalg.norm(Q, axis=1, keepdims=True)
        Q = Q / np.where(nrm == 0, 1.0, nrm)
    # tables[q, j, c] = ||q_sub_j - book_j_c||^2
    tables = np.stack(
        [
            ((Q[:, j * sub : (j + 1) * sub][:, None, :] - codebooks[j][None, :, :]) ** 2).sum(-1)
            for j in range(m)
        ],
        axis=1,
    )
    if rerank and vec_col not in encoded.columns:
        raise ValueError(
            f"rerank needs the raw vectors: encode with pq_encode(..., "
            f"keep_cols=('{vec_col}',)) so '{vec_col}' rides the encoded table"
        )
    qnrm = np.linalg.norm(Q, axis=1, keepdims=True)
    qn = Q / np.where(qnrm == 0, 1.0, qnrm)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            codes = np.stack(pdf[code_col].map(np.asarray).to_numpy()).astype(int)
            S = np.zeros((codes.shape[0], len(qids)))
            for j in range(m):
                S += tables[:, j, codes[:, j]].T  # (B, Q)
            if rerank:
                # two-stage: ADC shortlist per query, exact cosine on
                # the shortlist only, per-batch top-k by (cos desc, id)
                v = np.asarray(
                    [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
                )
                vn = np.linalg.norm(v, axis=1)
                vn = np.where(vn == 0, 1.0, vn)
                short = min(rerank, S.shape[0])
                kk = min(k, short)
                out = {"qid": [], id_col: [], "cosine": []}
                for qi in range(len(qids)):
                    cand = np.argpartition(S[:, qi], short - 1)[:short]
                    cos = _round_half_up(v[cand] @ qn[qi] / vn[cand], 6)
                    # one matvec per candidate set: the emitted cosines
                    # are the SAME values that ranked the shortlist,
                    # indexed back out rather than recomputed
                    ord_ = np.lexsort((ids[cand], -cos))[:kk]
                    sel = cand[ord_]
                    out["qid"].extend([qids[qi]] * len(sel))
                    out[id_col].extend(ids[sel])
                    out["cosine"].extend(cos[ord_])
                yield pd.DataFrame(out)
                continue
            out = {"qid": [], id_col: [], "adc": []}
            top = min(k, S.shape[0])
            for qi in range(len(qids)):
                part = np.argpartition(S[:, qi], top - 1)[:top]
                out["qid"].extend([qids[qi]] * len(part))
                out[id_col].extend(ids[part])
                out["adc"].extend(S[part, qi])
            yield pd.DataFrame(out)

    # id types follow the INPUT frames (string doc keys work too)
    local = encoded.mapInPandas(
        score,
        schema=T.StructType(
            [
                T.StructField("qid", queries.schema[qid_col].dataType),
                T.StructField(id_col, encoded.schema[id_col].dataType),
                T.StructField("cosine" if rerank else "adc", T.DoubleType()),
            ]
        ),
    )
    order = F.col("cosine").desc() if rerank else F.col("adc").asc()
    return _top_k(local, "qid", [order, F.col(id_col).asc()], k)
