"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

Scale design (the 100 TB path):
- exact dedup: one hash-partitioned shuffle on the content fingerprint.
- n-gram Jaccard: relational shingle inverted index (doc, shingle) —
  self-join on shingle within a blocking key; shuffle keys are shingles,
  never full documents.
- MinHash+LSH: signatures are per-row column math (no shuffle); banding
  explodes to (band, band_hash) and groups — candidate generation touches
  only O(#docs x #bands) tiny rows. Pairs are verified with exact Jaccard.
- SimHash: 64-bit fingerprint computed with pure column expressions
  (aggregate over token hashes); near-dup = same fingerprint or small
  Hamming distance within LSH buckets of fingerprint chunks.
- embedding-cosine: blocked pairwise cosine (block key = caller-provided
  coarse key, e.g. an IVF/LSH bucket) — never all-pairs global.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from coffea_spark.llmdata.text import char_ngrams, fingerprint_md5, tokens

#: ceiling for the hot-bucket BROADCAST hint in collapse_jaccard_join —
#: past this many hot buckets the hint is dropped (AQE decides); keeps
#: the module's never-broadcast-corpus-scale posture mechanical
_HOT_BROADCAST_CAP = 1_000_000

#: vocabulary bound for the dense-block Jaccard paths: float32 0/1
#: matmul sums must stay exactly representable (< 2^24), so a block
#: whose distinct-shingle count exceeds this has no exact dense
#: spelling and stays on PPJoin (loudly)
_DENSE_MAX_VOCAB = 16_000_000


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dup_stats(df: DataFrame, text_col: str = "text", by: list[str] | None = None) -> DataFrame:
    """Per group: total docs vs distinct normalized fingerprints."""
    g = df.groupBy(*(by or []))
    return g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fingerprint_md5(F.col(text_col))).alias("n_unique"),
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each fingerprint group: one
    shuffle on the fingerprint, min-reduce, semi-join back."""
    fp = df.withColumn("_fp", fingerprint_md5(F.col(text_col)))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [id_col, "_fp"], "left_semi").drop("_fp")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 5,
                  block_cols: list[str] | None = None) -> DataFrame:
    """Inverted index (block..., id, shingle) of distinct char n-grams."""
    cols = [F.col(c) for c in (block_cols or [])] + [F.col(id_col)]
    return df.select(*cols, F.explode(char_ngrams(F.col(text_col), n)).alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard within blocks: returns
    (id_a, id_b, inter, size_a, size_b, jaccard) for id_a < id_b.

    Shuffle pattern: index self-join on (block, shingle) — the classic
    similarity-join; skew on hot shingles is handled by AQE skew-join.
    """
    block_cols = block_cols or []
    idx = shingle_index(df, id_col, text_col, n, block_cols)
    sizes = idx.groupBy(*block_cols, id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = idx.alias("a")
    b = idx.alias("b")
    join_cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.shingle") == F.col("b.shingle")
    )
    for c in block_cols:
        join_cond = join_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # carry the block through the pair key and the size joins: the same
    # id under two block values must NOT merge intersections or fan out
    # against the wrong block's size
    blk = [F.col(f"a.{c}").alias(c) for c in block_cols]
    inter = (
        a.join(b, join_cond)
        .groupBy(*blk, F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(*block_cols, F.col(id_col).alias("id_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(*block_cols, F.col(id_col).alias("id_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(sa, [*block_cols, "id_a"])
        .join(sb, [*block_cols, "id_b"])
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
    )


def _dense_pairs(
    tiled_sets: DataFrame,
    threshold: float,
    id_col: str,
    block_cols: list[str],
    group_cols: list[str],
    batch_cells: int = 16_777_216,
) -> DataFrame:
    """Exhaustive within-block threshold Jaccard for LOW-ENTROPY blocks
    (the dense escape hatch of :func:`jaccard_join`) as a tile-pair
    grid: the router hashes each block's docs into ``_ntiles`` tiles
    (T=1 when the block's ``n_docs x vocab`` matrix fits the cell
    budget, else enough that a two-tile matrix does) and every tile
    PAIR (i <= j) is one task — pair (x, y) lands in exactly group
    (min(tile_x, tile_y), max(...)), so the union over groups is the
    exact within-block pair set. Each task builds its docs' 0/1 float32
    matrix from their shingle sets and scores the pairs with a blocked
    BLAS matmul: |A∩B| is exact (sums of ones stay < 2^24, enforced by
    the router's vocab bound) and jaccard is the same one-IEEE-divide
    expression the PPJoin verify computes, so the emitted pair set is
    bit-identical to the inverted-index path. A diagonal task (i == j)
    scores its matrix against itself through slices, no copy. The
    price of T > 1 is replication: each doc ships to its T groups, so
    shuffle volume is T x the block's sets — linear in the fan-out.

    BOUNDED: intermediates — B x n score batches with B clamped so
    B*n <= ``batch_cells`` (~400 MB of float64 at the default), never
    a fixed row count that would scale with the biggest block the
    budget admits. NOT bounded: the OUTPUT pair set — all qualifying
    pairs of a task accumulate in one pandas frame before it returns
    (applyInPandas has no per-group streaming emit), so a LOW
    threshold on exactly the low-entropy blocks that fire can qualify
    a near-quadratic set in one task where PPJoin would have streamed
    the same rows distributed. At thresholds in the gate range (>= 0.5)
    true pairs are sparse; for exploratory low-threshold scans either
    lower ``dense_budget_cells`` (more, smaller tile pairs) or disable
    the guard (``dense_min_mass=None``)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    in_schema = tiled_sets.schema
    fields = [T.StructField(c, in_schema[c].dataType) for c in block_cols]
    fields += [
        T.StructField("id_a", in_schema[id_col].dataType),
        T.StructField("id_b", in_schema[id_col].dataType),
        T.StructField("inter", T.IntegerType()),
        T.StructField("size_a", T.IntegerType()),
        T.StructField("size_b", T.IntegerType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
    out_schema = T.StructType(fields)
    t = float(threshold)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        gi = int(pdf["_gi"].iloc[0])
        gj = int(pdf["_gj"].iloc[0])
        # tile gi's docs first, so each side of the grid cell is a
        # row slice of one matrix (a view, never a copy)
        tiles = pdf["_t"].to_numpy()
        order = np.argsort(tiles != gi, kind="stable")
        na = int((tiles == gi).sum())
        vocab: dict = {}
        idx_rows = []
        for sh in pdf["_sh"].to_numpy()[order]:
            arr = np.empty(len(sh), dtype=np.int64)
            for k, sgl in enumerate(sh):
                v = vocab.get(sgl)
                if v is None:
                    v = vocab[sgl] = len(vocab)
                arr[k] = v
            idx_rows.append(arr)
        V = max(len(vocab), 1)
        M = np.zeros((len(pdf), V), dtype=np.float32)
        for i, arr in enumerate(idx_rows):
            M[i, arr] = 1.0
        ids = pdf[id_col].to_numpy()[order]
        sz = pdf["_sz"].to_numpy().astype(np.int64)[order]
        Ma, ida, sza = M[:na], ids[:na], sz[:na]
        if gi == gj:  # a diagonal group holds only tile gi's docs
            Mb, idb, szb = Ma, ida, sza
        else:  # two disjoint tiles: the full rectangle between them
            Mb, idb, szb = M[na:], ids[na:], sz[na:]
        chunks = []
        step = max(16, min(4096, batch_cells // max(len(idb), 1)))
        for s0 in range(0, len(ida), step):
            s1 = min(s0 + step, len(ida))
            inter = np.rint(Ma[s0:s1] @ Mb.T).astype(np.int64)
            union = sza[s0:s1, None] + szb[None, :] - inter
            with np.errstate(invalid="ignore", divide="ignore"):
                jac = inter / union  # 0/0 (both empty) -> nan -> masked
            mask = jac >= t
            if gi == gj:  # each unordered pair once
                mask &= ida[s0:s1, None] < idb[None, :]
            ii, jj = np.nonzero(mask)
            if len(ii) == 0:
                continue
            pa, pb = ida[s0 + ii], idb[jj]
            qa, qb = sza[s0 + ii], szb[jj]
            # normalize (id_a < id_b), sizes follow ids
            swap = pa > pb
            pa, pb = np.where(swap, pb, pa), np.where(swap, pa, pb)
            qa, qb = np.where(swap, qb, qa), np.where(swap, qa, qb)
            chunks.append(
                pd.DataFrame(
                    {
                        **{c: pdf[c].iloc[0] for c in block_cols},
                        "id_a": pa,
                        "id_b": pb,
                        "inter": inter[ii, jj].astype("int32"),
                        "size_a": qa.astype("int32"),
                        "size_b": qb.astype("int32"),
                        "jaccard": jac[ii, jj],
                    }
                )
            )
        if chunks:
            return pd.concat(chunks, ignore_index=True)
        empty = {c: pd.Series([], dtype=pdf[c].dtype) for c in block_cols}
        empty["id_a"] = pd.Series([], dtype=pdf[id_col].dtype)
        empty["id_b"] = pd.Series([], dtype=pdf[id_col].dtype)
        empty["inter"] = pd.Series([], dtype="int32")
        empty["size_a"] = pd.Series([], dtype="int32")
        empty["size_b"] = pd.Series([], dtype="int32")
        empty["jaccard"] = pd.Series([], dtype="float64")
        return pd.DataFrame(empty)

    grouped = tiled_sets.groupBy(*group_cols, "_gi", "_gj")
    return grouped.applyInPandas(emit, schema=out_schema)


def _dense_block_route(
    sets: DataFrame,
    prefix: DataFrame,
    threshold: float,
    id_col: str,
    block_cols: list[str],
    min_mass: int,
    mass_per_doc: int,
    budget_cells: int,
    cost_ratio: int = 60_000,
):
    """Measure per-block PPJoin candidate mass and route quadratically
    dense blocks to the :func:`_dense_pairs` tile grid, T=1 for a block
    that fits ``budget_cells``. Returns ``(keys, dense_pairs)`` —
    ``keys`` is a persisted tiny frame of fired block keys (``None``
    when inert; the caller anti-joins it off the prefix self-join),
    ``dense_pairs`` the exhaustive pairs for those blocks. The trigger
    is a pure function of exact counts; the firing (with each block's
    tile count) and the vocab-bound fallback warn loudly (no silent
    caps). All stats aggregations read the caller's cached sets/prefix
    tables."""
    import warnings

    gcols = block_cols or ["_dblk"]
    s = sets if block_cols else sets.withColumn("_dblk", F.lit(0))
    p = prefix if block_cols else prefix.withColumn("_dblk", F.lit(0))
    nstats = s.groupBy(*gcols).agg(F.count(F.lit(1)).alias("_nd"))
    # candidate mass the prefix self-join would enumerate, per block:
    # sum over shingles of C(prefix_df, 2) — map-side combinable
    pmass = (
        p.groupBy(*gcols, "shingle")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(*gcols)
        .agg(F.sum(F.col("_c") * (F.col("_c") - 1) / 2).alias("_mass"))
    )
    fire = F.col("_mass") > F.greatest(
        F.lit(float(min_mass)), F.lit(float(mass_per_doc)) * F.col("_nd")
    )
    # PHASE 1 — mass trigger only (two cheap aggs over cached tables +
    # one bounded count). The vocabulary stat is the expensive one (a
    # distinct-shingle shuffle), so it is NOT computed on the inert
    # path, where it is pure overhead on corpora that can never fire
    # (BENCH_SKEW.md, two-phase trigger re-check).
    fired_mass = nstats.join(pmass, gcols).filter(fire).persist()
    if fired_mass.limit(1).count() == 0:
        fired_mass.unpersist()
        return None, None
    # PHASE 2 (rare) — vocabulary for the mass-fired blocks only: it
    # sizes each block's float32 n x V matrix against the cell budget
    # (the tile count) and keeps float32 intersection sums exact (< 2^24)
    vocab = (
        s.join(F.broadcast(fired_mass.select(*gcols)), gcols, "left_semi")
        .select(*gcols, F.explode("_sh").alias("_t"))
        .groupBy(*gcols)
        .agg(F.count_distinct("_t").alias("_v"))
    )
    stats = fired_mass.join(vocab, gcols).persist()
    # float32 intersection sums must stay exact (< 2^24) — blocks past
    # that vocabulary stay on PPJoin loudly (no exact dense spelling)
    exact_ok = F.col("_v") <= F.lit(_DENSE_MAX_VOCAB)
    # COST MODEL: dense work ~ n²/2 · V flops (~0.016 ns each, measured
    # ~60 GFLOPS effective); PPJoin work ~ mass candidate rows (~1 µs
    # each through the shuffle join + groupBy). Dense must actually WIN
    # — a rich-vocabulary block can clear the mass floor while its
    # n²·V matmul dwarfs the enumeration (e.g. 2k docs x 500k vocab:
    # 2e12 flops vs 2.1e6 rows). ratio = half the measured ~125k
    # break-even, conservative toward PPJoin. Losing blocks keep the
    # default (PPJoin) plan — nothing is dropped, no warning needed.
    # double arithmetic: the n²·V product of a huge fired block (n~1e6,
    # V~1e7 -> 1e19) exceeds Long.MAX and would WRAP silently in
    # non-ANSI Spark, flipping `wins` true and fanning the block out to
    # an enormous tiled grid; doubles lose ULPs there but a cost model
    # only needs magnitude.
    wins = (
        F.col("_nd").cast("double") * F.col("_nd") * F.col("_v")
        <= F.col("_mass") * F.lit(float(cost_ratio))
    )
    # T=1 when the block's (n x V) matrix fits the cell budget (one
    # task); past it, T tiles such that a two-tile matrix (~2n/T docs x
    # V) fits
    cells = F.col("_nd") * F.col("_v")
    ntiles = (
        F.when(cells <= F.lit(int(budget_cells)), F.lit(1))
        .otherwise(
            F.greatest(
                F.lit(2), F.ceil(2.0 * cells / F.lit(float(budget_cells)))
            )
        )
        .cast("int")
    )
    keys = (
        stats.filter(exact_ok & wins)
        .select(*gcols, "_nd", "_mass", "_v", ntiles.alias("_ntiles"))
        .persist()
    )
    n_fired, n_tiled = keys.agg(
        F.count(F.lit(1)), F.count_if(F.col("_ntiles") > 1)
    ).first()
    unsplit = (
        stats.filter(~exact_ok)
        .select(*gcols, "_nd", "_mass", "_v")
        .limit(9)
        .collect()
    )
    if unsplit:
        warnings.warn(
            "jaccard_join: %d+ dense block(s) have vocab > %d (float32 "
            "intersection exactness bound) and stay on the PPJoin path "
            "(quadratic enumeration): %s — pre-collapse with "
            "collapse_jaccard_join or split the block with a finer "
            "blocking key"
            % (
                len(unsplit),
                _DENSE_MAX_VOCAB,
                "; ".join(
                    f"{tuple(r[c] for c in gcols)} n={r['_nd']} "
                    f"mass={int(r['_mass'])} vocab={r['_v']}"
                    for r in unsplit
                ),
            ),
            stacklevel=3,
        )
    fired_mass.unpersist()
    stats.unpersist()
    if n_fired == 0:
        keys.unpersist()
        return None, None
    # the keys frame stays persisted: the returned plan's broadcast
    # anti-join and tile join read it lazily
    fired_rows = keys.orderBy(F.desc("_mass")).limit(8).collect()
    warnings.warn(
        "jaccard_join: routing %d dense block(s) to the exhaustive "
        "bitset-matmul path (identical pairs, no prefix enumeration%s): %s"
        % (
            n_fired,
            f"; {n_tiled} over budget run TILED bitset-matmul, each tile "
            "pair a budget-sized task" if n_tiled else "",
            "; ".join(
                f"{tuple(r[c] for c in gcols)} n={r['_nd']} "
                f"mass={int(r['_mass'])} vocab={r['_v']} T={r['_ntiles']}"
                for r in fired_rows
            ),
        ),
        stacklevel=3,
    )
    ts = s.join(F.broadcast(keys.select(*gcols, "_ntiles")), gcols).withColumn(
        "_t", F.pmod(F.xxhash64(F.col(id_col)), F.col("_ntiles")).cast("int")
    )
    grid = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.col("_ntiles") - 1),
            lambda u: F.struct(
                F.least(F.col("_t"), u).cast("int").alias("gi"),
                F.greatest(F.col("_t"), u).cast("int").alias("gj"),
            ),
        )
    )
    ts = ts.select(
        *gcols, id_col, "_sh", "_sz", "_t", grid.alias("_g")
    ).select(
        *gcols, id_col, "_sh", "_sz", "_t",
        F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
    )
    pairs = _dense_pairs(ts, threshold, id_col, block_cols, group_cols=gcols)
    return keys.select(*gcols), pairs


def jaccard_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    block_cols: list[str] | None = None,
    dense_min_mass: int | None = 8_000_000,
    dense_mass_per_doc: int = 2_000,
    dense_budget_cells: int = 128_000_000,
    dense_cost_ratio: int = 60_000,
) -> DataFrame:
    """Threshold n-gram Jaccard similarity join (PPJoin-style prefix
    filtering): EXACTLY the pairs with ``jaccard >= threshold``, without
    the all-pairs hot-shingle blowup of :func:`jaccard_pairs`.

    Why this scales where the plain inverted-index self-join doesn't:
    the self-join emits one row per SHARED shingle per pair, so a
    shingle appearing in d documents contributes d^2 rows — common
     5-grams make the join quadratic in hot-shingle document frequency.
    Prefix filtering (Chaudhuri/Ganti/Kaushik SSJoin, Xiao et al.
    PPJoin) joins only each document's PREFIX: with shingles sorted by
    a global order, two sets with Jaccard >= t must share a shingle
    among their first ``|s| - ceil(t*|s|) + 1`` elements, so candidates
    found on prefix shingles are complete. Ordering the shingles by
    ASCENDING document frequency puts hot shingles at the END of every
    sorted set — they drop out of the prefixes, and the join volume
    collapses to the rare-shingle tail. Verification is exact:
    candidates join back to the full per-doc shingle arrays and
    ``array_intersect`` computes the true intersection.

    Shuffle profile (all linear in corpus size): one window-count
    exchange of the token table for the document frequency, the
    doc-keyed prefix groupBy exchange, then the prefix self-join and
    two verify joins. No step is quadratic in document frequency.

    DENSE-BLOCK GUARD (the Zipf-host skew dimension; measurements in
    BENCH_SKEW.md): prefix filtering is powerless on a LOW-ENTROPY
    block — the measured skewed-sf1 hot (lang, source) block holds
    11,474 docs over only ~2,000 distinct prefix shingles (median prefix
    document frequency 623), so EVERY shingle is hot and candidate
    enumeration is Θ(block²) no matter how prefixes are chosen (banning
    hot tokens just refills prefixes with equally-hot ones; size-tiering
    measured a 1.1x cut — sizes are too concentrated). The guard
    MEASURES per-block candidate mass Σ_shingle C(prefix_df, 2) (one
    map-side-combinable aggregation over the already-cached prefix
    table) and routes any block past
    ``max(dense_min_mass, dense_mass_per_doc·n_docs)`` whose predicted
    matmul work also BEATS the predicted enumeration
    (``n² · vocab <= mass · dense_cost_ratio`` — the measured ~1 µs per
    candidate row vs ~0.016 ns per flop break-even, halved toward
    PPJoin; a rich-vocabulary block can clear the mass floor while its
    matmul would dwarf the enumeration) to an EXHAUSTIVE within-block
    bitset matmul instead: the block's (n_docs × vocab) 0/1 matrix
    scores every pairwise intersection at BLAS speed (~0.02 us/pair vs
    ~1 us per enumerated candidate row through the shuffle join — the
    exact_knn_blocked lesson), emitting only the jaccard >= threshold
    pairs. EXACTNESS IS PRESERVED: the dense path enumerates all pairs
    of its block, so the prefix-filter completeness argument above is
    untouched for the remaining blocks and trivially satisfied inside
    dense ones — the output pair set is identical (pinned by test and
    by the unchanged all-pairs oracle). The trigger is LOUD
    (warnings.warn naming blocks, masses and tile counts),
    deterministic (exact counts), and bounded: every fired block runs
    as a grid of T tiles in which each tile pair (i <= j) is one task
    (pair (x,y) lands in exactly group (min, max) of its tiles, so the
    union is still the exact pair set). T=1 — one task — when
    ``n_docs · vocab <= dense_budget_cells`` (the per-task matrix, 512
    MB at the float32 default); past the budget, T is sized so a
    two-tile matrix fits it, and shuffle volume is T x the block's sets,
    linear in the fan-out. Only a block whose VOCABULARY exceeds the
    float32 exactness bound (2^24 distinct shingles) has no exact dense
    spelling and stays on PPJoin with its own warning. Real
    rich-vocabulary corpora never fire (mass per doc is small when
    vocab >> block size); templated/boilerplate-heavy hosts — exactly
    the Zipf pathology — fire per block. ``dense_min_mass=None``
    disables the guard entirely.

    The shingle-set table is persisted for the duration of the plan:
    four consumers (df count, prefix ranking, both verify sides) would
    otherwise each re-run the n-gram extraction, the single most
    expensive per-row step. When the dense guard fires, the fired-keys
    routing frame is persisted too. Call ``spark.catalog.clearCache()``
    (or unpersist) when done with the result.
    """
    from pyspark.sql.window import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    block_cols = block_cols or []
    bcols = [F.col(c) for c in block_cols]

    sets = (
        df.select(
            *bcols,
            F.col(id_col),
            # char_ngrams already returns DISTINCT shingles, so no
            # outer array_distinct (pinned by
            # test_jaccard_sets_already_distinct)
            char_ngrams(F.col(text_col), n).alias("_sh"),
        )
        .withColumn("_sz", F.size("_sh"))
        .persist()
    )

    tok = sets.select(*block_cols, id_col, "_sz", F.explode("_sh").alias("shingle"))
    # document frequency as an unordered window count over the shingle
    # key: ONE exchange of the token table (partitionBy) instead of a
    # groupBy-then-join-back spelling's two (the df aggregation shuffle
    # plus the join shuffle of the same rows)
    tok_df = tok.withColumn(
        "_df",
        F.count(F.lit(1)).over(Window.partitionBy(*block_cols, "shingle")),
    )
    # re-assemble each doc's shingles sorted by (df, shingle) and keep
    # the prefix of length |s| - ceil(t*|s|) + 1, with each prefix
    # token's 1-based POSITION in the doc's full sorted order (feeds the
    # positional filter). A hash aggregate + per-group array_sort beats
    # a sort-based row_number window over the full token table.
    prefix = (
        tok_df
        .groupBy(*block_cols, id_col)
        .agg(
            F.collect_list(F.struct("_df", "shingle")).alias("_lst"),
            F.first("_sz").alias("_sz"),
        )
        .select(
            *block_cols,
            id_col,
            "_sz",
            F.posexplode(
                F.slice(
                    F.array_sort("_lst"),
                    F.lit(1),
                    (F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1).cast("int"),
                )
            ).alias("_p0", "_e"),
        )
        .select(
            *block_cols, id_col, "_sz",
            (F.col("_p0") + 1).alias("_pos"),
            F.col("_e.shingle").alias("shingle"),
        )
        .persist()
    )
    # persisted AND eagerly materialized: the self-join and verify
    # consume these subtrees from multiple branches, several of them
    # broadcast builds that Spark launches CONCURRENTLY — against a cold
    # cache each build re-runs the whole explode -> df-count -> rank
    # pipeline. The caches must be warm before the main query runs;
    # WHICH job warms them depends on the guard:
    #
    # - guard on (default): the dense route's trigger-stat job reads
    #   nstats from ``sets`` and pmass from ``prefix``, and because both
    #   stats are full aggregations their map stages consume every
    #   cached partition before the first output row — the route job IS
    #   the eager materialization, and extra count() jobs ahead of it
    #   would be pure overhead (OPTIMIZATION_r13.md §2).
    # - guard off (dense_min_mass=None): no route job runs, so two tiny
    #   count() jobs fill the caches.
    dense_keys = dense_pairs = None
    if dense_min_mass is not None:
        dense_keys, dense_pairs = _dense_block_route(
            sets, prefix, threshold, id_col, block_cols,
            dense_min_mass, dense_mass_per_doc, dense_budget_cells,
            dense_cost_ratio,
        )
    else:
        sets.count()
        prefix.count()
    if dense_keys is None:
        live = prefix
    elif block_cols:
        live = prefix.join(F.broadcast(dense_keys), block_cols, "left_anti")
    else:  # unblocked corpus: the single conceptual block went dense
        live = prefix.withColumn("_dblk", F.lit(0)).join(
            F.broadcast(dense_keys), ["_dblk"], "left_anti"
        ).drop("_dblk")

    a = live.alias("a")
    b = live.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.shingle") == F.col("b.shingle")
    )
    # length filter: J(A,B) >= t forces t*|A| <= |B| and t*|B| <= |A|
    cond = cond & (F.col("a._sz") >= F.lit(threshold) * F.col("b._sz"))
    cond = cond & (F.col("b._sz") >= F.lit(threshold) * F.col("a._sz"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # positional filters (PPJoin), both sound upper bounds on |A∩B|,
    # applied together:
    #  - FIRST-match bound: every common token globally orders >= the
    #    first shared prefix token at (posA, posB), so
    #    overlap <= 1 + min(|A|-posA, |B|-posB). max(ubound) over the
    #    matches IS the first-match bound (ubound decreases with pos).
    #  - LAST-match (accumulated) bound: with c shared prefix tokens,
    #    every common token is either one of the c (both prefixes) or
    #    globally > the largest shared prefix token — hence after
    #    (pA, pB) = max match positions in BOTH docs:
    #    overlap <= c + min(|A|-pA, |B|-pB). (A common token outside
    #    A's prefix exceeds every A-prefix token incl. the largest
    #    shared one; same argument on the B side.)
    # J >= t needs overlap >= t/(1+t) * (|A|+|B|). The accumulated
    # bound cuts candidates ~40x vs first-match alone (measured sf0.1:
    # 71,521 -> 1,863 pairs for 4 true positives), so the exact
    # array_intersect verify touches almost nothing.
    ubound = F.lit(1) + F.least(
        F.col("a._sz") - F.col("a._pos"), F.col("b._sz") - F.col("b._pos")
    )
    need = (F.lit(threshold) / (1.0 + threshold)) * (F.col("a._sz") + F.col("b._sz"))
    cand = (
        a.join(b, cond)
        .groupBy(
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.max(ubound).alias("_ubf"),
            F.count(F.lit(1)).alias("_c"),
            F.max(F.col("a._pos")).alias("_pa"),
            F.max(F.col("b._pos")).alias("_pb"),
            F.first(F.col("a._sz")).alias("_sza"),
            F.first(F.col("b._sz")).alias("_szb"),
            F.first(need).alias("_need"),
        )
        .withColumn(
            "_ubl",
            F.col("_c")
            + F.least(F.col("_sza") - F.col("_pa"), F.col("_szb") - F.col("_pb")),
        )
        .filter(F.least(F.col("_ubf"), F.col("_ubl")) >= F.col("_need"))
        .select(*block_cols, "id_a", "id_b")
    )

    sa = sets.select(*block_cols, F.col(id_col).alias("id_a"),
                     F.col("_sh").alias("_sh_a"), F.col("_sz").alias("size_a"))
    sb = sets.select(*block_cols, F.col(id_col).alias("id_b"),
                     F.col("_sh").alias("_sh_b"), F.col("_sz").alias("size_b"))
    # The surviving candidate set is usually orders of magnitude smaller
    # than the corpus, but its size is DATA-DEPENDENT (low thresholds /
    # near-dup-heavy corpora defeat the positional filter) — so the
    # broadcast decision is left to AQE, which sees the candidate
    # shuffle's actual runtime size and converts to broadcast only when
    # it fits. Forcing F.broadcast here would risk driver OOM exactly on
    # the corpora where the filter is weakest; a shuffle join degrades
    # gracefully instead.
    verified = (
        cand.join(sa, [*block_cols, "id_a"])
        .join(sb, [*block_cols, "id_b"])
        .withColumn("inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    out = verified.select(
        *block_cols, "id_a", "id_b", "inter", "size_a", "size_b", "jaccard"
    )
    if dense_pairs is not None:
        out = out.unionByName(dense_pairs)
    return out


def collapse_jaccard_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    block_cols: list[str] | None = None,
    n_hashes: int = 16,
    band_rows: int = 4,
    hot_bucket_size: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Boilerplate-hardened near-dup join — the production posture for
    threshold Jaccard under duplicate skew, COMPOSED as one operator
    (BENCH_SKEW.md measured the reason: a planted boilerplate cluster of
    B mutually-similar docs contributes ~B(B-1)/2 genuine pairs, so
    :func:`jaccard_join`'s OUTPUT — not its candidate generation — grows
    quadratically in the cluster; the 7.4x skewed-sf1 wall was 75,704x
    more emitted TRUE pairs, none of which a dedup consumer wants
    enumerated pairwise).

    Stage 1a collapses EXACT duplicates within the blocking key to
    their min-id representative (one linear hash shuffle with a
    map-side combine — the exact pass measured FASTER under skew,
    0.31x, because clusters fold before the shuffle). Stage 1b catches
    what exactness cannot — templated boilerplate with per-member
    jitter, the actual shape of the measured skew cluster — via HOT
    MinHash BUCKETS: portable signatures (``n_hashes`` universal
    hashes, engine-reproducible — the `minhash_signatures_portable`
    family, so the whole composition stays oracle-checkable), banded
    ``band_rows`` values per band with the band's raw signature tuple
    as the bucket key; any bucket holding more than ``hot_bucket_size``
    members is boilerplate-scale. Bucket membership only NOMINATES:
    each member of a hot bucket is VERIFIED with exact jaccard against
    the min-id representative of its SMALLEST hot bucket (by member
    count, key tie-break — the most specific boilerplate family, so a
    corpus-wide low-entropy mega-bucket cannot shadow a genuine
    template cluster's own bucket) and folds only at
    ``jaccard >= threshold`` — one
    member-vs-rep comparison per candidate (LINEAR, never pairwise),
    so a low-entropy corpus whose organic docs share globally-minimal
    shingle fingerprints (measured: 40k of 50k uniform-sf1 docs)
    nominates en masse but collapses nothing. Multiplicities fold
    through both stages into ``n_members``, so nothing is dropped —
    the cluster survives as a handful of representative rows instead
    of a pair explosion (mirrors the `max_bucket_size` guard, but
    collapsing instead of excluding, because this operator OWNS the
    dedup intent). Stage 2 runs the PPJoin threshold join on the
    surviving representatives.

    Bucket collapse is corpus-wide (not per block): boilerplate is a
    corpus property, and cross-block members never paired anyway. The
    collapse semantic is a STAR cluster — member ~ rep at >=
    threshold; members similar to each other but not to the rep stay
    independent and surface as ordinary pairs in stage 2. Tuning:
    per-band collision odds for a within-cluster pair are j^band_rows
    (0.93^4 ~ 0.75 on the measured template cluster), so a member
    escapes all n_hashes/band_rows bands with odds (1-j^r)^b ~ 0.4% —
    residual pairs are escapee-sized, not cluster-sized.

    Returns ``(reps, pairs)``: ``reps`` = surviving representatives
    with ``n_members`` (1a x 1b folded); ``pairs`` = the
    jaccard >= threshold pairs among them (jaccard_join columns).

    Cache ownership: every internal persist is RELEASED before return
    except ``reps`` itself, which the caller owns — call
    ``reps.unpersist()`` when done (it is the returned handle). The
    ``pairs`` plan additionally holds :func:`jaccard_join`'s internal
    persists over the rep table; release those with
    ``spark.catalog.clearCache()`` per that function's documented
    contract. Pinned by tests/test_llmdata.py (no persistent RDDs
    survive reps.unpersist() + clearCache())."""
    if n_hashes % band_rows:
        raise ValueError(f"n_hashes {n_hashes} not divisible by band_rows {band_rows}")
    block_cols = block_cols or []
    # exact collapse keyed on md5(text), not the text itself: the
    # shuffle key is 16 bytes instead of the document payload (the
    # "keys are ids/hashes, never payloads" rule) — semantics identical
    # since all rows in a group carry byte-identical text (the usual
    # negligible-md5-collision caveat, same as drop_exact_duplicates);
    # the oracle groups by the text directly and produces the same
    # groups.
    exact = (
        df.groupBy(
            *block_cols, F.md5(F.col(text_col).cast("binary")).alias("_fp")
        )
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_members"),
            F.first(text_col).alias(text_col),
        )
        .drop("_fp")
        .persist()
    )
    sig = minhash_signatures_portable(exact, id_col, text_col, n, n_hashes)
    bands = n_hashes // band_rows
    # bucket key: band index + the band's RAW signature values as one
    # canonical string (no extra hash layer -> bit-identical in any
    # engine; lexicographic min is a total order both engines share)
    keys = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(str(b)),
                *[
                    F.element_at(F.col("sig"), b * band_rows + r + 1).cast("string")
                    for r in range(band_rows)
                ],
            )
            for b in range(bands)
        ]
    )
    # exact and memb are persisted for the duration of this function:
    # the bounded-broadcast probe (`hot.limit(cap+1).count()` below) and
    # `tagged.count()` both read this subtree, and without the persists
    # each would re-run the exact-collapse + 16-hash portable signature
    # chain (interleaved A/B in BENCH_COLLAPSE_AB_SF01.json). Both are
    # released with the other internals once `reps` materializes. memb
    # is (id, band-key) rows — far smaller than the corpus; exact
    # carries the distinct texts, the same order of cache mass
    # jaccard_join's `sets` already holds.
    memb = sig.select(F.col(id_col), F.explode(keys).alias("_bk")).persist()
    # hot buckets keyed by (member count, key): a doc groups under its
    # SMALLEST hot bucket — the most SPECIFIC boilerplate family — so a
    # corpus-wide low-entropy mega-bucket (40k uniform-sf1 docs sharing
    # globally-minimal shingles) cannot shadow a genuine template
    # cluster's own, much smaller, bucket. Encoded as one
    # lexicographic string (zero-padded size | key) so the min is the
    # same total order in any engine.
    hot = (
        memb.groupBy("_bk")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > hot_bucket_size)
        .select(
            "_bk",
            F.concat_ws(
                "|", F.lpad(F.col("_bsz").cast("string"), 12, "0"), F.col("_bk")
            ).alias("_gk"),
        )
        .persist()
    )
    # the broadcast hint is BOUNDED, not assumed: hot-bucket count is
    # O(n_docs*bands/hot_bucket_size) in the worst case (many
    # medium-sized buckets — e.g. templated sub-corpora), which would
    # break the module's never-broadcast-corpus-scale posture. A
    # bounded probe (limit(cap+1).count(), stops at cap+1) checks the
    # actual size; past the cap the hint is dropped LOUDLY and AQE
    # decides from the runtime shuffle size. The persist also feeds the
    # grp join below from cache instead of re-running the signature
    # chain; it is released once `tagged` materializes.
    n_hot = hot.limit(_HOT_BROADCAST_CAP + 1).count()
    if n_hot > _HOT_BROADCAST_CAP:
        import warnings

        warnings.warn(
            f"collapse_jaccard_join: > {_HOT_BROADCAST_CAP} hot buckets — "
            "dropping the broadcast hint (AQE decides from runtime size)",
            stacklevel=2,
        )
        hot_side = hot
    else:
        hot_side = F.broadcast(hot)
    # per doc: its most specific hot bucket (NULL -> not a candidate)
    grp = (
        memb.join(hot_side, "_bk")
        .groupBy(id_col)
        .agg(F.min("_gk").alias("_grp"))
    )
    # persisted AND eagerly materialized: tagged feeds the not-nominated
    # rep leg plus EVERY verification subtree below (rid, rep_rows,
    # members — several of which Spark builds as BROADCASTS, launched
    # concurrently against a cold cache). Without this each consumer
    # re-runs exact-groupBy + 16-hash portable signatures + the hot
    # bucket aggregation — measured ~5x the signature chain at sf0.1
    # (the q_minhash_lsh eager-cache lesson).
    tagged = exact.join(grp, id_col, "left").persist()
    tagged.count()
    # VERIFIED star collapse: bucket membership only NOMINATES — each
    # candidate must prove jaccard >= threshold against its group's
    # min-id representative before folding (one member-vs-rep pair per
    # candidate: LINEAR, never pairwise — that is the whole point).
    # Without this, a low-entropy corpus (small shingle vocabulary)
    # makes organic hot buckets and the collapse would silently merge
    # dissimilar docs (measured: 40k of 50k uniform sf1 docs shared
    # globally-minimal shingle fingerprints). Failed candidates stay
    # independent representatives.
    # verification in ONE window pass over the group key (single
    # shuffle of the nominated rows): the group's elected rep — the
    # min-(id, shingle-set) struct — rides every member row, each
    # member verifies in place, and the rep row absorbs the passed
    # members' multiplicities via a windowed conditional sum. The
    # broadcast-join spelling of the same logic (rep table -> member
    # join -> passed agg -> rep join) costs ~8 tiny driver jobs whose
    # scheduling dominated the data at gate scale (measured 23 s of a
    # 33 s sf0.1 wall). The window partition carries one nominated
    # GROUP per task — bounded by nomination, and a low-entropy
    # mega-group is precisely the case verification rejects row-wise.
    from pyspark.sql import Window as _W

    cand = tagged.filter(F.col("_grp").isNotNull()).withColumn(
        "_sh", char_ngrams(F.col(text_col), n)  # already distinct
    )
    w = _W.partitionBy("_grp")
    elect = F.min(
        F.struct(F.col(id_col).alias("i"), F.col("_sh").alias("s"))
    ).over(w)
    inter = F.size(F.array_intersect(F.col("_sh"), F.col("_e.s")))
    ver = (
        cand.withColumn("_e", elect)
        .withColumn(
            "_j",
            F.coalesce(
                inter / (F.size("_sh") + F.size(F.col("_e.s")) - inter),
                F.lit(0.0),
            ),
        )
        .withColumn("_isrep", F.col(id_col) == F.col("_e.i"))
        .withColumn(
            "_add",
            F.sum(
                F.when(
                    (~F.col("_isrep")) & (F.col("_j") >= threshold),
                    F.col("n_members"),
                ).otherwise(F.lit(0))
            ).over(w),
        )
    )
    verified = ver.filter(F.col("_isrep") | (F.col("_j") < threshold)).select(
        id_col,
        *block_cols,
        text_col,
        F.when(F.col("_isrep"), F.col("n_members") + F.col("_add"))
        .otherwise(F.col("n_members"))
        .alias("n_members"),
    )
    reps = (
        tagged.filter(F.col("_grp").isNull())
        .select(id_col, *block_cols, text_col, "n_members")
        .unionByName(verified)
        .persist()
    )
    # eager: the caller consumes reps directly AND through the pair
    # join below — without this the signature/nominate/verify chain
    # re-runs per consumer. Once reps is materialized the upstream
    # caches are DEAD WEIGHT (reps' cache answers every downstream
    # read), and tagged/hot are function-local — the caller could never
    # release them — so they are unpersisted HERE; reps is the returned
    # owner handle (caller unpersists when done).
    reps.count()
    tagged.unpersist()
    hot.unpersist()
    exact.unpersist()
    memb.unpersist()
    pairs = jaccard_join(reps, threshold, id_col, text_col, n, block_cols)
    return reps, pairs


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures as (id, sig: array<bigint>): h_i = min over
    shingles of xxhash64(shingle, i).

    Computed on the EXPLODED shingle view with one 64-way min aggregation,
    not as nested array expressions: an array-expression formulation
    re-inlines the whole shingle transform into every downstream consumer
    (O(n_hashes^2) expression blowup that stalls codegen); the aggregate
    is both an optimizer barrier and the scale-correct shuffle shape
    (small (id, shingle) rows, map-side partial min)."""
    sh = df.select(F.col(id_col), F.explode(char_ngrams(F.col(text_col), n)).alias("_sh"))
    aggs = [F.min(F.xxhash64(F.col("_sh"), F.lit(i))).alias(f"_h{i}") for i in range(n_hashes)]
    return (
        sh.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("sig"))
    )


#: Mersenne prime 2^31 - 1: the universal-hash modulus for the portable
#: MinHash family (and the rolling-hash fingerprint space)
_MERSENNE31 = 2147483647


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients, identical
    on any engine: a fixed multiplicative sequence mod 2^31-1 (a_i != 0)."""
    out = []
    for i in range(n_hashes):
        a = (2654435761 * (i + 1)) % _MERSENNE31 or 1
        b = (40503 * (i + 17)) % _MERSENNE31
        out.append((a, b))
    return out


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures any SQL engine can reproduce bit-for-bit:
    shingles are fingerprinted with the engine-portable Rabin-Karp
    rolling hash (llmdata.text.rolling_hash — plain modular arithmetic),
    then each permutation is the classic universal hash
    h_i(s) = (a_i * fp(s) + b_i) mod (2^31 - 1).

    Same execution shape as the xxhash64 form (exploded shingles, one
    64-way min aggregation with map-side combine); xxhash64 stays the
    production default (better mixing, one JVM intrinsic per hash) —
    this family exists so the correctness gate can hash-compare MinHash
    END-TO-END against an independent engine, not just count rows.

    Fingerprint spelling: each document is split into codepoints ONCE
    and every n-char window's Rabin-Karp fold is computed positionally
    from that array — bit-identical to ``rolling_hash(substr(i, n))``
    over ``char_ngrams`` (same per-step mod arithmetic, and min() is
    insensitive to the duplicate window values array_distinct used to
    remove), but without a regex ``split`` per shingle: the per-shingle
    spelling paid ~n_shingles interpreted Pattern.split calls per doc
    (the bloom_decontam thread-dump lesson). ``plans.barrier`` keeps
    CollapseProject from re-inlining the codes array into every window
    (the boost_cosstar lesson); equality with the per-shingle spelling
    incl. non-ASCII text is pinned in pytest."""
    from coffea_spark.plans import barrier

    base, mod = 257, _MERSENNE31
    codes = F.transform(
        F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("long")
    )
    d = barrier(df, F.col(id_col), codes.alias("_codes"))

    def _window_fp(i):
        h = F.element_at(F.col("_codes"), i)
        for k in range(1, n):
            h = (h * base + F.element_at(F.col("_codes"), i + k)) % mod
        return h

    last = F.size(F.col("_codes")) - (n - 1)
    fps = F.when(
        last >= 1, F.transform(F.sequence(F.lit(1), last), _window_fp)
    ).otherwise(F.array().cast("array<long>"))
    sh = d.select(F.col(id_col), F.explode(fps).alias("_fp"))
    aggs = [
        F.min((F.lit(a) * F.col("_fp") + F.lit(b)) % F.lit(_MERSENNE31)).alias(f"_h{i}")
        for i, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return (
        sh.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("sig"),
        )
    )


def lsh_band_hashes(signature: Column, bands: int, rows: int) -> Column:
    """Band hashes: array<bigint> of length ``bands``; band j hashes
    signature[j*rows : (j+1)*rows]."""
    return F.array(
        *[
            F.xxhash64(F.concat_ws("_", *[F.element_at(signature, j * rows + r + 1) for r in range(rows)]))
            for j in range(bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding: docs sharing any band
    hash. Returns (id_a, id_b, n_shared_bands). Shuffle touches only
    (band, hash, id) rows.

    SCALE NOTE (measured, BENCH_SCALE.md): candidate volume is
    Θ(p·n²) where p is the per-pair band-collision probability — the
    banding parameters control p, and they are the scale lever. On a
    high-baseline-similarity corpus, 16 bands × 4 rows produced 49.3M
    candidates over 50k docs (scaling exponent 2.0) while 8 bands ×
    8 rows produced 58k (850× fewer, same recall on true near-dups at
    threshold 0.5 since 0.5^8·8 per-pair collision odds still catch
    them across 8 bands). ``max_bucket_size`` is the guardrail for hot
    buckets (boilerplate/templated text): a (band, hash) bucket with
    more than this many members is EXCLUDED from pair generation —
    a size-B bucket contributes B²/2 pairs, so one boilerplate cluster
    can dominate the whole job; such clusters are exact/paragraph-dedup
    material, not near-dup candidates. Exclusion is accounted, not
    silent: oversized buckets are counted and surfaced via loud logging
    on the driver (the no-silent-caps rule)."""
    rows = n_hashes // bands
    base = signatures
    if base is None:
        base = minhash_signatures(df, id_col, text_col, n, n_hashes)
    sig = base.select(
        F.col(id_col), lsh_band_hashes(F.col("sig"), bands, rows).alias("bh")
    )
    exploded = sig.select(id_col, F.posexplode("bh").alias("band", "h"))
    if max_bucket_size is not None:
        # cache the bucket-size aggregate so the guardrail costs ONE
        # aggregation job: the oversized count below materializes the
        # cache, and the semi-join that feeds the candidate join reuses
        # it instead of re-shuffling the full exploded table
        sizes = exploded.groupBy("band", "h").agg(
            F.count(F.lit(1)).alias("_bsz")
        ).persist()
        dropped = sizes.filter(F.col("_bsz") > max_bucket_size)
        n_dropped = dropped.count()
        if n_dropped:
            import warnings

            warnings.warn(
                f"minhash_lsh_candidates: excluded {n_dropped} hot "
                f"bucket(s) over max_bucket_size={max_bucket_size} from "
                "pair generation (boilerplate-scale clusters; handle "
                "with exact/paragraph dedup)",
                stacklevel=2,
            )
        exploded = exploded.join(
            sizes.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz"),
            ["band", "h"],
            "left_semi",
        )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    candidates: DataFrame | None = None,
    broadcast_docs: bool = True,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard: returns pairs
    with jaccard >= threshold. Verification joins each candidate pair to
    the two per-doc shingle SETS and intersects them directly
    (O(|candidates| x |shingle set|)) — NOT via a shingle inverted-index
    self-join, which is quadratic in the document frequency of hot
    shingles (common 5-grams appear in nearly every natural-language
    doc, so an unblocked index self-join blows up at scale).
    Pass a precomputed ``candidates`` DataFrame to share the LSH pass."""
    cands = candidates
    if cands is None:
        cands = minhash_lsh_candidates(
            df, id_col, text_col, n, n_hashes, bands,
            max_bucket_size=max_bucket_size,
        )

    # Stage 1 — cheap estimate: fraction of agreeing signature components
    # (the unbiased MinHash Jaccard estimator, std ~ sqrt(s(1-s)/n_hashes)).
    # Banding at low thresholds admits many false candidates; 64 long
    # compares per pair against a broadcast signature table kills them
    # before the expensive exact intersect. Margin = 3 sigma at s=0.5.
    # broadcast_docs=True suits corpora whose signature/shingle tables fit
    # an executor (the SF regime here); at full 100 TB scale pass False and
    # these become shuffle joins on the id key (AQE still broadcasts
    # per-query when the dim side turns out small at runtime).
    hint = F.broadcast if broadcast_docs else (lambda d: d)
    sig = signatures
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, n, n_hashes)
    ga = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_ga"))
    gb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_gb"))
    est = F.aggregate(
        F.zip_with(F.col("_ga"), F.col("_gb"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda a, x: a + x,
    ) / F.lit(float(n_hashes))
    margin = 3.0 * (0.25 / n_hashes) ** 0.5
    pre = (
        cands.join(hint(ga), "id_a")
        .join(hint(gb), "id_b")
        .withColumn("_est", est)
        .filter(F.col("_est") >= threshold - margin)
        .select("id_a", "id_b", "n_shared_bands")
    )

    # Stage 2 — exact n-gram Jaccard on the survivors only, via per-doc
    # shingle SETS and array_intersect (O(|survivors| x |set|)) — NOT a
    # shingle inverted-index self-join, which is quadratic in the
    # document frequency of hot shingles at scale. Shingles are hashed
    # to int64 ONCE per doc: long-array intersects beat string-array
    # intersects ~20% and shrink the broadcast; a 64-bit collision
    # changing a Jaccard value is ~|set|^2 / 2^64 per pair.
    sets = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(char_ngrams(F.col(text_col), n), lambda s: F.xxhash64(s))
        ).alias("_set"),
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("_set").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("_set").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    return (
        pre.join(hint(sa), "id_a")
        .join(hint(sb), "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", "n_shared_bands")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text_col: Column) -> Column:
    """64-bit SimHash fingerprint, entirely in column expressions:
    per token t, h = xxhash64(t); bit b contributes +1 if set else -1;
    fingerprint bit b = 1 iff the sum over tokens > 0.

    aggregate() carries an array of 64 counters; the final reduce packs
    them into one bigint. No UDF, no shuffle."""
    toks = tokens(text_col)
    zero = F.array_repeat(F.lit(0), 64)
    # shiftright/shiftleft take Python-int shift amounts, so the 64 bit
    # positions are unrolled here (python loop -> one flat expression),
    # not driven by a lambda index column.
    counts = F.aggregate(
        toks,
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)).cast("int") for b in range(64)]
            ),
            lambda c, bit: c + (bit * 2 - 1),
        ),
    )
    # pack sign bits against a literal weight array; `counts` is consumed
    # exactly once (no expression duplication)
    weights = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(64)]
    )
    packed = F.aggregate(
        F.zip_with(counts, weights, lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_exploded(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash fingerprints as (id, simhash) via the exploded-token
    aggregation: one (id, token-hash) row per token, 64 conditional SUMs,
    sign-pack. Identical bits to :func:`simhash64`, but the work is an
    explode + hash-partitioned aggregate (map-side combine) instead of a
    64-counter array fold evaluated per row — the same shape as MinHash
    signatures, which both benchmarks faster and shares one codegen
    template instead of a giant per-row expression."""
    # explode_outer + null-guarded hash keeps zero-token docs (they
    # fingerprint to 0, matching simhash64's all-zero-counter result;
    # a bare xxhash64(NULL) would contribute the seed hash instead).
    # NULL text is tracked separately: simhash64 propagates NULL for
    # NULL input, so the exploded form must too (not bucket-0).
    toks = df.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("_null"),
        F.explode_outer(tokens(F.col(text_col))).alias("_t"),
    ).select(
        F.col(id_col),
        "_null",
        F.when(F.col("_t").isNotNull(), F.xxhash64("_t")).alias("_h"),
    )
    aggs = [
        F.sum(
            (F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        ).alias(f"_b{b}")
        for b in range(64)
    ]
    per_doc = toks.groupBy(id_col).agg(F.max("_null").alias("_null"), *aggs)
    packed = F.lit(0).cast("long")
    for b in range(64):
        w = F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        packed = packed + F.when(F.col(f"_b{b}") > 0, w).otherwise(F.lit(0).cast("long"))
    return per_doc.select(
        F.col(id_col), F.when(~F.col("_null"), packed).alias("simhash")
    )


def simhash_portable(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """31-bit SimHash any SQL engine reproduces bit-for-bit: token
    fingerprints via the engine-portable Rabin-Karp rolling hash, bit b
    of the fingerprint set iff the signed occurrence sum over tokens is
    positive. Same exploded-aggregation shape as
    :func:`simhash_exploded`; xxhash64/64-bit stays the production
    default — this family exists so the correctness gate can
    hash-compare SimHash end-to-end. Zero-token docs drop out (both
    engines identically)."""
    from coffea_spark.llmdata.text import rolling_hash

    fp = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).select(F.col(id_col), rolling_hash(F.col("_t")).alias("_h"))
    aggs = [
        F.sum(
            (F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        ).alias(f"_b{b}")
        for b in range(31)
    ]
    per_doc = fp.groupBy(id_col).agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(31):
        packed = packed + F.when(
            F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select(F.col(id_col), packed.alias("simhash"))


def simhash_buckets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Docs grouped by exact SimHash fingerprint (bucket size > 1 =>
    near-dup cluster candidates)."""
    return (
        simhash_exploded(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.collect_list(id_col).alias("ids"))
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine >= threshold within blocks. Block with a coarse
    quantizer (e.g. similarity.hyperplane_bucket) at scale; a full
    cross-join is refused."""
    from coffea_spark.llmdata.similarity import dot, norm

    if block_col is None:
        raise ValueError(
            "embedding_dup_pairs requires a blocking column at scale; "
            "derive one with similarity.hyperplane_bucket(...)"
        )
    # norms are computed ONCE per vector before the pair join (the naive
    # cosine-per-pair recomputes both norms for every pair — 3x the
    # flops); dot/(na*nb) keeps the float op order of cosine() exactly,
    # so results are bit-identical to the unoptimized form
    a = df.select(
        F.col(block_col), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"), norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(block_col), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"), norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, [block_col])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select(block_col, "id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# exact substring-level deduplication (cross-document repeated windows)
# ---------------------------------------------------------------------------

def duplicate_windows(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate detection: every k-token window
    occurring in >= ``min_docs`` DISTINCT documents marks a duplicated
    span (the training-data dedup of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — suffix-array exact
    substring matching, here restricted to fixed-k windows so it runs as
    one linear shuffle instead of a global suffix sort).

    Returns per-document rows ``(id, n_dup_windows, dup_tokens)`` where
    ``dup_tokens`` is the UNION length of the duplicated [pos, pos+k)
    spans (overlaps merged in one pass over the sorted positions).

    Scale: the exploded frame carries one row per token (window), i.e.
    corpus-linear — the same volume class as the vocabulary build; the
    one groupBy shuffles (window, doc, pos) triples. At 100 TB hash each
    window to int64 first (xxhash64(win)) so the shuffle carries 8-byte
    keys; the gate keeps raw strings so the DuckDB oracle reproduces the
    grouping exactly.
    """
    toks = F.filter(F.split(F.col(text), r"\s+"), lambda t: t != "")
    n = F.size("_tk")
    positions = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_tk"))
        .select(
            "_id",
            F.explode(
                F.transform(
                    positions,
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.concat_ws(" ", F.slice("_tk", i, k)).alias("win"),
                    ),
                )
            ).alias("w"),
        )
        .select("_id", F.col("w.pos").alias("pos"), F.col("w.win").alias("win"))
    )
    dup_wins = (
        wins.groupBy("win")
        .agg(F.count_distinct("_id").alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("win")
    )
    hits = wins.join(dup_wins, "win")
    # merge overlapping fixed-length spans: for sorted positions p_1..p_m,
    # union length = sum_j min(k, p_{j+1} - p_j) + k (last span full)
    ps = F.sort_array(F.collect_list("pos"))
    gaps = F.zip_with(
        F.col("_ps"),
        F.slice(F.col("_ps"), 2, F.greatest(F.size("_ps") - 1, F.lit(0))),
        lambda a, b: F.least(F.lit(k), F.coalesce(b - a, F.lit(k))),
    )
    return (
        hits.groupBy("_id")
        .agg(ps.alias("_ps"))
        .select(
            F.col("_id").alias(id_col),
            F.size("_ps").alias("n_dup_windows"),
            F.aggregate(gaps, F.lit(0), lambda s, x: s + x).alias("dup_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate REMOVAL (the second half of Lee
    et al. 2022: not just flagging duplicated spans —
    :func:`duplicate_windows` — but cutting them out of the corpus):
    for every k-token window occurring in >= ``min_docs`` distinct
    documents, the FIRST corpus occurrence (min (id, pos)) survives and
    every later occurrence's [pos, pos+k) token span is deleted; each
    document is rebuilt from its surviving tokens. Returns
    (id, text, n_tokens, n_removed). The rebuilt text is the
    space-joined token sequence (token-level surgery, the unit Lee et
    al. operate on — original inter-token whitespace is not preserved).

    Scale shape: windows explode corpus-linear (one row per token);
    keeper election is ``groupBy(win).agg(min(struct(id, pos)))`` — an
    AGGREGATION with map-side partial combine, so a hot boilerplate
    window never single-reducer-sorts (same shape as paragraph_dedup);
    removal spans shuffle back keyed on the document id; interval
    merging and token surgery are row-local Catalyst folds. At 100 TB
    hash windows to xxhash64 first so the two shuffles carry 8-byte
    keys (the gate keeps raw strings for oracle parity)."""
    toks_col = F.filter(F.split(F.col(text), r"\s+"), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text).alias("_text"),
        toks_col.alias("_tk"),
    )
    n = F.size("_tk")
    positions = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        "_id",
        F.explode(
            F.transform(
                positions,
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.concat_ws(" ", F.slice("_tk", i, k)).alias("win"),
                ),
            )
        ).alias("w"),
    ).select("_id", F.col("w.pos").alias("pos"), F.col("w.win").alias("win"))
    keepers = (
        wins.groupBy("win")
        .agg(
            F.count_distinct("_id").alias("_nd"),
            F.min(F.struct("_id", "pos")).alias("_first"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("win", "_first")
    )
    spans = (
        wins.join(keepers, "win")
        .filter(
            (F.col("_first._id") != F.col("_id"))
            | (F.col("_first.pos") != F.col("pos"))
        )
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_ps"))
    )
    # merge sorted fixed-length spans into disjoint [s, e) intervals
    merged = F.aggregate(
        F.col("_ps"),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1)["e"] >= p),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["s"].alias("s"),
                    F.greatest(
                        F.element_at(acc, -1)["e"], p + F.lit(k)
                    ).alias("e"),
                )),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(
                p.alias("s"), (p + F.lit(k)).alias("e")
            )))
        ),
    )
    joined = base.join(spans, "_id", "left").withColumn(
        "_iv", F.coalesce(merged, F.array().cast("array<struct<s:int,e:int>>"))
    )
    # token j (1-based) survives unless a merged interval covers it
    kept = F.filter(
        F.col("_tk"),
        lambda t, j: ~F.exists(
            F.col("_iv"),
            lambda iv: ((j + 1) >= iv["s"]) & ((j + 1) < iv["e"]),
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.array_join(kept, " ").alias(text),
        F.size("_tk").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------

def bucket_mean_centroids(
    df: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic, SQL-replicable coarse centroids: the component-wise
    mean of vectors bucketed by ``id % n_clusters``, snapped to float32.

    NOT a quality quantizer (the buckets are arbitrary) — this exists so
    a gate's DuckDB oracle can reproduce the cluster assignment bit-for-
    bit; production ``semdedup`` trains real k-means via
    ``similarity.ivf_train``. Computed distributively: posexplode ->
    (bucket, pos) partial-agg avg (shuffle carries n_clusters x dim
    rows), then one bounded collect of n_clusters centroid rows.
    """
    import numpy as np

    rows = (
        df.select(
            (F.col(id_col) % n_clusters).alias("bucket"),
            F.posexplode(vec_col).alias("pos", "val"),
        )
        .groupBy("bucket", "pos")
        .agg(F.avg(F.col("val").cast("double")).cast("float").alias("cv"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("s"))
        .select("bucket", F.transform("s", lambda t: t["cv"].cast("double")).alias("centroid"))
        .orderBy("bucket")
        .collect()
    )
    return np.asarray([r.centroid for r in rows], dtype=float)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    centroids=None,
    seed: int = 42,
    max_sample: int = 65536,
    tile_rows: int = 8192,
    max_tiles: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means cluster the
    embedding space, then within each cluster flag every vector whose
    cosine similarity to a LOWER-id vector in the same cluster is
    >= threshold (the paper's eps is 1 - threshold; "keep the earliest"
    is its deterministic keeper policy). Returns df + (cluster, is_dup);
    filter ``is_dup = 0`` to keep. ``id_col`` values must be unique —
    the lower-id ordering is strict, so two rows sharing an id never
    flag each other (the dedup-module contract).

    Spark shape: bounded-sample k-means on the driver (``ivf_train`` —
    a coarse quantizer needs O(100) points/cluster, not the corpus),
    scan-stage literal-centroid assignment (pure column math, no UDF,
    no shuffle), then per-cluster scoring. Within-cluster pairwise cost
    is the paper's own design point: n_clusters scales with the corpus
    so N/k stays bounded; at 100 TB raise n_clusters (the paper uses
    50k clusters for LAION) or pre-split hot clusters with
    ``similarity.hyperplane_bucket`` as a secondary block key.

    Scoring is a batched dense matmul (48-58x faster than a HOF-cosine
    pair join at sf1 with identical flags; BENCH_SCALE.md,
    BENCH_SEMDEDUP_DECADE.json): a cluster's normalized vectors
    multiply against themselves in id order, batch intermediates
    clamped to ~16M cells, and a vector is flagged iff some LOWER-id
    vector in its cluster scores ``cosine >= threshold`` — exact up to
    summation-order ULPs (the gate threshold carries a >= 1e-3 margin).
    Zero-norm vectors score cosine 0.0 (guarded divide, the
    similarity-module contract).

    ``tile_rows`` is the hot-cluster straggler guard (scoring
    parallelism would otherwise equal n_clusters, one applyInPandas
    task per cluster, so a dominant cluster — which k-means cannot
    count-split out of a density contrast, the same failure mode as the
    IVF dominant cell — owns the critical path). A cluster larger than
    ``tile_rows`` is hash-split into T = ceil(n / tile_rows) tiles
    (capped at ``max_tiles`` — past the cap tiles grow proportionally
    instead of multiplying shuffle volume; a documented bound, not a
    probe, so no extra job re-runs the assignment scan) and scored as
    T·(T+1)/2 independent TILE-PAIR tasks: each unordered pair of
    vectors lands in exactly one task (the task of its two tiles),
    which flags the HIGHER id of any qualifying pair — no global
    ordering or prefix asymmetry needed, so the tasks are balanced at
    (n/T)² and the flag-set union is exactly the single-task answer
    (parity-pinned). Cost: shuffle volume T× the hot cluster's rows
    (each row joins T tasks); flops unchanged. Clusters at or under
    ``tile_rows`` keep T=1 — one task, plus only a tiny
    per-cluster-size broadcast join. Measured sf10 wall times and
    dominant-cluster skew numbers, byte-identical flags, are in
    BENCH_SCALE.md.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from coffea_spark.llmdata.similarity import ivf_assign, ivf_train

    if centroids is None:
        centroids = ivf_train(
            df, n_lists=n_clusters, vec_col=vec_col, seed=seed, max_sample=max_sample
        )
    asg = df.withColumn("cluster", ivf_assign(F.col(vec_col), centroids))
    t = float(threshold)
    out_schema = T.StructType([T.StructField(id_col, asg.schema[id_col].dataType)])

    def _sorted_norm(pdf: pd.DataFrame):
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )[order]
        nrm = np.sqrt((X * X).sum(axis=1))
        Xn = X / np.where(nrm == 0, 1.0, nrm)[:, None]
        return ids, Xn

    def _prefix_flags(ids, Xn):
        n = len(ids)
        dupped = np.zeros(n, dtype=bool)
        step = max(16, min(4096, 16_777_216 // max(n, 1)))
        for s0 in range(0, n, step):
            s1 = min(s0 + step, n)
            S = Xn @ Xn[s0:s1].T  # (n, B) cosines
            # column j (global gj) is dup iff any row i < gj >= t
            hit = S >= t
            for b, gj in enumerate(range(s0, s1)):
                if gj and hit[:gj, b].any():
                    dupped[gj] = True
        return ids[dupped]

    def emit_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _, ti, tj = key
        if ti == tj:
            # within-tile pairs: the single-task prefix logic
            ids, Xn = _sorted_norm(pdf)
            return pd.DataFrame({id_col: _prefix_flags(ids, Xn)})
        # cross-tile pairs: every (a, b) pair of this task is scored
        # once; the HIGHER id of a qualifying pair is flagged. Rows are
        # sorted by id per side, so "partner with a lower id" is a
        # searchsorted prefix test over a running any() — no global
        # rank needed.
        pa = pdf[pdf["_tile"] == ti]
        pb = pdf[pdf["_tile"] == tj]
        if len(pa) == 0 or len(pb) == 0:
            # a hash tile can be empty when T is near the cluster size;
            # the exploded partner rows still form a group
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        ida, An = _sorted_norm(pa)
        idb, Bn = _sorted_norm(pb)
        na, nb = len(ida), len(idb)
        flag_a = np.zeros(na, dtype=bool)
        flag_b = np.zeros(nb, dtype=bool)
        arange_a = np.arange(na)
        step = max(16, min(4096, 16_777_216 // max(na, 1)))
        for s0 in range(0, nb, step):
            s1 = min(s0 + step, nb)
            hit = (An @ Bn[s0:s1].T) >= t  # (na, B)
            # b is dup if some a with id_a < id_b hits: prefix of sorted
            # A up to searchsorted(ida, id_b)
            ka = np.searchsorted(ida, idb[s0:s1], side="left")
            cum_a = np.logical_or.accumulate(hit, axis=0)
            ok = ka > 0
            flag_b[s0:s1] |= ok & cum_a[np.maximum(ka - 1, 0), np.arange(s1 - s0)]
            # a is dup if some b (this chunk) with id_b < id_a
            kb = np.searchsorted(idb[s0:s1], ida, side="left")
            cum_b = np.logical_or.accumulate(hit, axis=1)
            ok = kb > 0
            flag_a |= ok & cum_b[arange_a, np.maximum(kb - 1, 0)]
        return pd.DataFrame({id_col: np.concatenate([ida[flag_a], idb[flag_b]])})

    sizes = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csz"))
    ntile = F.least(
        F.ceil(F.col("_csz") / F.lit(int(tile_rows))).cast("int"),
        F.lit(int(max_tiles)),
    )
    tagged = (
        asg.select("cluster", id_col, vec_col)
        .join(F.broadcast(sizes), "cluster")
        .withColumn("_T", ntile)
        .withColumn("_tile", F.pmod(F.hash(F.col(id_col)), F.col("_T")).cast("int"))
        .withColumn("_other", F.explode(F.sequence(F.lit(0), F.col("_T") - 1)))
        .select(
            "cluster",
            F.least("_tile", "_other").alias("_ti"),
            F.greatest("_tile", "_other").alias("_tj"),
            "_tile",
            id_col,
            vec_col,
        )
    )
    dup_ids = (
        tagged.groupBy("cluster", "_ti", "_tj")
        .applyInPandas(emit_tile, schema=out_schema)
        # an id can qualify in several tile-pair tasks; the left join
        # below must see it once
        .dropDuplicates([id_col])
        .withColumn("is_dup", F.lit(1))
    )
    return asg.join(dup_ids, id_col, "left").na.fill({"is_dup": 0})


# ---------------------------------------------------------------------------
# paragraph-level deduplication (CCNet's dedup unit)
# ---------------------------------------------------------------------------

def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    normalize: bool = False,
) -> DataFrame:
    """CCNet-style paragraph deduplication (Wenzek et al. 2020 dedup
    lines/paragraphs ACROSS the corpus, not whole documents — the unit
    that kills boilerplate headers/footers): split each text on
    ``sep``, keep a paragraph only at its FIRST corpus occurrence
    (ordered by (id, position) over the normalized-paragraph hash), and
    reconstruct each document from its surviving paragraphs in order.
    Returns (id, text, n_paragraphs, n_kept).

    Scale shape: explode to (id, pos, para) -> keeper election is an
    AGGREGATION, not a window: ``groupBy(_fp).agg(min(struct(_id,
    _pos)))`` over content rows only. An aggregation gets map-side
    partial combine, so a hot boilerplate fingerprint (cookie banners,
    nav footers — exactly what CCNet dedup exists to kill) reduces on
    every mapper instead of sorting on one reducer, and the corpus text
    never re-shuffles — only (fp, id, pos) triples. Empty/short
    paragraphs (< min_chars after trim) get a NULL fingerprint and
    BYPASS the election entirely (they are separators, not content;
    null keys never enter the keeper aggregate or match the join), so
    corpus-wide blank lines cannot funnel through one task. The keeper
    set (one row per distinct fingerprint) joins back on _fp — AQE
    skew-join splits any hot probe-side key — then one keyed shuffle
    back to (id) for ordered reconstruction."""
    from coffea_spark.llmdata.text import ccnet_normalize, rolling_hash

    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "_pos", "_para"
        ),
    )
    norm = ccnet_normalize(F.col("_para")) if normalize else F.trim(F.col("_para"))
    content = F.length(norm) >= min_chars
    hashed = paras.withColumn("_fp", F.when(content, rolling_hash(norm)))
    keepers = (
        hashed.filter(F.col("_fp").isNotNull())
        .groupBy("_fp")
        .agg(F.min(F.struct("_id", "_pos")).alias("_first"))
    )
    kept = hashed.join(keepers, "_fp", "left").withColumn(
        "_keep",
        F.col("_fp").isNull()
        | (
            (F.col("_first._id") == F.col("_id"))
            & (F.col("_first._pos") == F.col("_pos"))
        ),
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_keep"), F.struct("_pos", "_para"))
                )
            ).alias("_ps"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.array_join(
                F.transform(F.col("_ps"), lambda t: t["_para"]), sep
            ).alias(text_col),
            "n_paragraphs",
            "n_kept",
        )
    )
