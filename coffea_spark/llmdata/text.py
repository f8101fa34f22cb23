"""Text analysis operators: tokenization, language id, quality, fingerprints.

All pure Catalyst expressions (JVM-side, codegen) — at 100 TB these run
entirely in the scan stage with zero shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic per-language marker lists for the n-gram/stopword scoring
# heuristic (language id by marker-hit counting). Real deployments swap in
# real stopword tables; the operator shape is identical.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "value", "fast", "key"],
    "de": ["window", "stream", "data", "merge"],
    "es": ["filter", "batch", "slow", "row"],
    "fr": ["join", "agg", "scan", "group"],
    "zh": ["vector", "hash", "table", "column"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


#: GPT-2-style pre-tokenizer classes WITHOUT the lookahead/contraction
#: rules, so the same pattern runs under Java regex (Spark) and RE2
#: (DuckDB): a token is an optional leading space + letters, + digits,
#: or + other non-space symbols.
BPE_PRETOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_pretokens(col: Column) -> Column:
    """BPE-style pre-tokenization (the split a byte-pair encoder sees
    BEFORE merges): letter runs, digit runs, and symbol runs, each with
    their leading space. A much better LLM-cost proxy than whitespace
    tokens — "don't!!" is 1 whitespace token but 4 BPE pre-tokens."""
    return F.regexp_extract_all(col, F.lit(BPE_PRETOKEN_PATTERN), 0)


def bpe_pretoken_count(col: Column) -> Column:
    return F.size(bpe_pretokens(col))


def avg_token_length(col: Column) -> Column:
    """Mean token length (NULL for empty docs)."""
    t = tokens(col)
    return F.when(
        F.size(t) > 0,
        F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / F.size(t),
    )


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    t = tokens(col)
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    return F.when(
        F.size(t) > 0,
        F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("double") / F.size(t),
    )


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0, 1]: rewards moderate length,
    lexical diversity, and a sane stopword ratio. Deterministic arithmetic
    (oracle-expressible); weights are illustrative."""
    n = token_count(col).cast("double")
    div = F.when(n > 0, distinct_token_count(col) / n).otherwise(F.lit(0.0))
    length_term = F.least(n / F.lit(50.0), F.lit(1.0))
    sw = F.coalesce(stopword_ratio(col), F.lit(0.0))
    sw_term = F.lit(1.0) - F.abs(sw - F.lit(0.1))
    return F.round(0.4 * length_term + 0.4 * div + 0.2 * sw_term, 6)


def lang_scores(col: Column) -> Column:
    """Marker-hit score per candidate language: array of
    struct<score:int, lang:string> (score = total marker occurrences)."""
    t = tokens(col)
    entries = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        score = F.size(F.filter(t, lambda x: F.array_contains(markers, x)))
        entries.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    return F.array(*entries)


def lang_id(col: Column) -> Column:
    """Predicted language = argmax marker score; ties break to the
    lexicographically LAST language name (array_max over
    struct<score,lang> compares (score, lang) in order). Deterministic,
    oracle-expressible."""
    scored = lang_scores(col)
    return F.array_max(scored)["lang"]


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles (1-based substring, matching SQL
    substr semantics so oracles can reproduce it).

    The substr-per-window spelling is KEPT deliberately (r13 negative
    A/B, BENCH_NGRAMS_AB.json): a split-once positional respelling
    (codepoint array bound as a lambda variable, windows via
    ``array_join(slice(chars, i, n), '')``) was value-identical on the
    full corpus incl. non-BMP text but measured consistently SLOWER on
    every consumer gate (jaccard_dupes 5.27 -> 5.76 s min,
    jaccard_collapsed 11.21 -> 12.25, minhash_lsh 4.68 -> 5.43) — at
    gate document lengths the two extra interpreted lambda evaluations
    and the per-window array slice cost more than substr's O(offset)
    byte scan saves. Unlike minhash_signatures_portable's win, nothing
    here amortizes a per-window Pattern.split.

    NB: Spark's sequence(1, stop) auto-steps DOWNWARD when stop < 1, so
    short texts must short-circuit to an empty array explicitly."""
    last = F.length(col) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), last), lambda i: col.substr(i, F.lit(n))
    )
    return F.when(last >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column, k: int = 3) -> Column:
    """Word k-gram shingles joined by single spaces."""
    t = tokens(col)
    last = F.size(t) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), last), lambda i: F.concat_ws(" ", F.slice(t, i, k))
    )
    return F.when(last >= 1, grams).otherwise(F.array().cast("array<string>"))


def fingerprint_md5(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text (lowercase,
    collapsed whitespace). md5 exists in both Spark and DuckDB, so this is
    oracle-checkable end to end."""
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(normalized)


def ccnet_normalize(col: Column) -> Column:
    """CCNet's dedup normalization (Wenzek et al. 2020 §4.1: paragraphs
    are hashed AFTER lowercasing, replacing every digit with zero, and
    stripping punctuation/accents so trivial variants collide): this is
    the portable subset — lowercase, digits -> 0, Unicode
    punctuation/symbol strip, whitespace collapse — as one scan-stage
    RE2-compatible regex chain (no UDF; accent folding needs ICU and
    stays out so both engines agree byte-for-byte). Feed the result to
    :func:`rolling_hash` / ``paragraph_dedup(normalize=True)``."""
    out = F.lower(col)
    out = F.regexp_replace(out, r"[0-9]", "0")
    out = F.regexp_replace(out, r"[\p{P}\p{S}]", "")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def rolling_hash(col: Column, base: int = 257, mod: int = 2147483647) -> Column:
    """Rabin-Karp polynomial fingerprint over unicode codepoints:
    h = fold(chars, 0, (a, c) -> (a*base + ord(c)) % mod). Pure column
    math (no UDF); intermediate a*base+c stays < 2^40 so bigint never
    overflows. Engine-portable: matches DuckDB's
    ``list_reduce(list_transform(string_split_regex(t,''), c->ord(c)),
    (a,x)->(a*base+x)%mod)`` exactly (verified incl. non-ASCII
    codepoints), so it is oracle-checkable — unlike xxhash64/md5-prefix
    fingerprints. Empty strings hash to 0."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        codes, F.lit(0).cast("long"), lambda a, c: (a * base + c) % mod
    )
    return F.when(F.length(col) > 0, h).otherwise(F.lit(0).cast("long"))


def term_table(
    df: DataFrame,
    text_col: str = "text",
    by: list[str] | None = None,
) -> DataFrame:
    """Corpus vocabulary: per (group..., term) the total occurrence count
    and document frequency — the table a tokenizer-vocabulary build or a
    TF-IDF weighting starts from.

    Scale shape: explode to (group, doc, term, n) via a per-doc
    aggregation that is PURE column math (array grouping inside the
    row), then ONE hash-partitioned sum over terms with map-side
    combine. The shuffle carries (term, count, 1) triples — corpus size
    in bytes never crosses the wire, and df comes free from the same
    aggregate (one row per distinct term per doc)."""
    t = tokens(F.col(text_col))
    groups = [F.col(c) for c in (by or [])]
    # one row per DISTINCT term per doc, with its in-doc count: explode
    # the distinct list and count occurrences with array filter — keeps
    # the doc-level pass shuffle-free
    per_doc = df.select(
        *groups,
        F.explode(F.array_distinct(t)).alias("term"),
        t.alias("_toks"),
    ).select(
        *groups,
        "term",
        F.size(F.filter(F.col("_toks"), lambda x: x == F.col("term"))).alias("_n"),
    )
    return per_doc.groupBy(*(by or []), "term").agg(
        F.sum("_n").alias("count"),
        F.count(F.lit(1)).alias("doc_freq"),
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    by: list[str] | None = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """Unigram language-model quality score (the simplified form of the
    LM-perplexity filtering used to rank web documents for training
    corpora): score(doc) = mean over tokens of ln p(token | corpus),
    with add-k smoothed probabilities estimated from the corpus itself
    (or per group, e.g. per language). Gibberish and off-distribution
    documents score low; the score column feeds a threshold filter.

    Two passes, both scale-shaped: (1) :func:`term_table` — one
    map-combined shuffle of (term, count) — gives the vocabulary, which
    is corpus-bounded and BROADCAST back; (2) scoring joins each
    exploded token against the broadcast vocab and averages per doc —
    map-side probe + one groupBy on the doc id."""
    from pyspark.sql import functions as F  # noqa: F811 (local alias clarity)

    groups = by or []
    tt = term_table(df, text_col, by=groups)
    totals = tt.groupBy(*groups).agg(
        F.sum("count").alias("_total"), F.count(F.lit(1)).alias("_vocab")
    )
    vocab = tt.join(totals, groups) if groups else tt.crossJoin(totals)
    vocab = vocab.select(
        *groups,
        "term",
        F.log(
            (F.col("count") + F.lit(smoothing))
            / (F.col("_total") + F.lit(smoothing) * F.col("_vocab"))
        ).alias("_logp"),
    )
    toks = df.select(
        *groups, F.col("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    scored = toks.join(F.broadcast(vocab), [*groups, "term"])
    return scored.groupBy(*groups, "doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("_logp").alias("logprob"),
    )


def perplexity_buckets(
    scored: DataFrame,
    by: list[str] | None = None,
    score_col: str = "logprob",
    n_buckets: int = 3,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3: split
    each language's documents into thirds by LM score; the head feeds
    training, the tail is dropped) via per-group quantile THRESHOLDS,
    not rank. Adds an integer ``bucket`` column (1 = best/head).

    Scale shape: ONE tiny aggregation per group computes the cutoffs
    (``approx_percentile`` by default — a mergeable sketch, map-side
    combined, no sort), the cutoff table (|groups| rows x (n_buckets-1)
    values) is BROADCAST back, and bucket assignment is a scan-stage
    comparison chain. Deliberately NOT ``ntile(n)`` over
    ``partitionBy(lang)``: a window makes each language ONE window
    partition, so at 100 TB the English half of the corpus sorts on a
    single reducer. Thresholds keep every stage map-side.

    ``exact=True`` swaps in the exact interpolated ``percentile``
    aggregate (per-group value collection on the agg side) — use only
    at gate/test scale where cross-engine boundary parity matters;
    production callers keep the sketch. Ties at a cutoff all land in
    the lower bucket (threshold semantics; rank-based ntile would split
    them arbitrarily)."""
    from pyspark.sql import functions as F  # noqa: F811

    groups = by or []
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cut = (
        F.percentile(F.col(score_col), F.array(*[F.lit(q) for q in qs]))
        if exact
        else F.percentile_approx(
            F.col(score_col), F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)
        )
    )
    cuts = scored.groupBy(*groups).agg(cut.alias("_cuts"))
    joined = (
        scored.join(F.broadcast(cuts), groups)
        if groups
        else scored.crossJoin(F.broadcast(cuts))
    )
    # bucket 1 = HEAD = highest score (CCNet: head = lowest perplexity
    # = highest logprob): count the cutoffs strictly above the score
    bucket = F.lit(1) + F.size(
        F.filter(F.col("_cuts"), lambda t: F.col(score_col) < t)
    )
    return joined.withColumn("bucket", bucket).drop("_cuts")


#: default scrub patterns (Java-regex and RE2 compatible: no lookaround)
SCRUB_PATTERNS: dict[str, str] = {
    "url": r"https?://\S+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "number": r"\b[0-9][0-9 .,-]{6,}[0-9]\b",  # long digit runs (phone/card/id)
}


def scrub_text(
    col: Column, patterns: dict[str, str] | None = None
) -> Column:
    """Mask PII-shaped spans: each pattern's matches are replaced by its
    ``<NAME>`` placeholder, applied in dict order. Pure scan-stage
    ``regexp_replace`` chain — no shuffle, no UDF; patterns avoid
    lookaround so the same strings run under Java regex and RE2."""
    out = col
    for name, pat in (patterns or SCRUB_PATTERNS).items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def scrub_stats(col: Column, patterns: dict[str, str] | None = None) -> Column:
    """Per-doc struct of match counts per scrub pattern (audit signal:
    how much was masked, before committing to a destructive rewrite)."""
    pats = patterns or SCRUB_PATTERNS
    return F.struct(
        *[
            F.size(F.regexp_extract_all(col, F.lit(p), 0)).alias(f"n_{name}")
            for name, p in pats.items()
        ]
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus: per document the
    Robertson/Sparck-Jones score for ``query_terms`` — the lexical half
    of a hybrid (keyword + embedding-ANN) search stack.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); per-doc term frequency
    from row-local array math; length normalization against the corpus
    mean token count. Scale shape: the ONLY aggregations are the
    df/avg-len statistics (map-combined, rows = distinct query terms);
    scoring itself is a scan-stage expression per document — no
    per-term explode of the corpus, no join (query terms are a literal
    array)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    t = tokens(F.col(text_col))
    qarr = [F.lit(q) for q in query_terms]
    # ONE stats pass: corpus size, mean length, and per-term df together.
    # NOTE: corpus statistics (N, df, avg length) are FROZEN at call
    # time — this runs an eager action over ``df`` as passed in; filters
    # applied to the returned frame afterwards do not refresh them.
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(t)).alias("al"),
        *[
            F.sum(F.when(F.array_contains(t, q), 1).otherwise(0)).alias(f"_df{i}")
            for i, q in enumerate(qarr)
        ],
    ).first()
    n_docs, avg_len, dfreqs = stats["n"], stats["al"], stats
    if not n_docs or avg_len is None or float(avg_len) == 0.0:
        # empty corpus (or all-empty texts): every score is 0 by
        # convention rather than a float(None) TypeError downstream
        return df.withColumn("bm25", F.lit(0.0))
    dl = F.size(t).cast("double")
    score = F.lit(0.0)
    for i, q in enumerate(qarr):
        df_t = float(dfreqs[f"_df{i}"])
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        def _match(term):
            return lambda x: x == term

        tf = F.size(F.filter(t, _match(q))).cast("double")
        score = score + F.lit(idf) * (
            tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / float(avg_len)))
        )
    return df.withColumn("bm25", score)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_sizes: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", App. A1.1 — the public repetition
    filters most corpus pipelines reuse). Per document:

    - ``dup_line_frac``: fraction of lines occurring more than once
    - ``dup_line_char_frac``: fraction of line characters in such lines
    - per n in ``gram_sizes``:
      ``top_{n}gram_char_frac`` = occurrences(top n-gram) * len(top
      n-gram) / len(text) for the most frequent n-gram (ties broken on
      the lexicographically smallest gram; grams are words joined with
      one space), and ``dup_{n}gram_char_frac`` = sum over n-grams
      occurring >1 of occurrences * len(gram) / len(text).

    Scale shape: line signals are row-local HOF math; n-gram signals
    take ONE explode -> groupBy((doc, n, gram)) -> per-(doc, n) reduce
    over token rows — corpus-token-linear with map-side combine, then a
    broadcast-eligible join back onto the document table. No step is
    quadratic in document count or vocabulary.
    """
    text = F.col(text_col)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")

    # -- row-local line signals (L^2 in lines-per-doc, tiny) ----------
    dist = F.array_distinct(lines)
    dup_lines = F.filter(
        dist, lambda l: F.size(F.filter(lines, lambda x: x == l)) > 1
    )
    dup_cnt = F.aggregate(
        dup_lines,
        F.lit(0),
        lambda a, l: a + F.size(F.filter(lines, lambda x: x == l)),
    )
    dup_chars = F.aggregate(
        dup_lines,
        F.lit(0),
        lambda a, l: a
        + F.size(F.filter(lines, lambda x: x == l)) * F.length(l),
    )
    tot_line_chars = F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l))
    base = df.withColumn(
        "dup_line_frac",
        F.when(F.size(lines) > 0, dup_cnt / F.size(lines)).otherwise(0.0),
    ).withColumn(
        "dup_line_char_frac",
        F.when(tot_line_chars > 0, dup_chars / tot_line_chars).otherwise(0.0),
    )

    # -- relational n-gram signals ------------------------------------
    gram_cols = []
    for n in gram_sizes:
        g = words
        for k in range(1, n):
            g = F.zip_with(
                g,
                F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        g = F.slice(g, 1, F.greatest(F.size(words) - (n - 1), F.lit(0)))
        gram_cols.append(
            F.struct(F.lit(n).alias("n"), g.alias("grams"))
        )
    exploded = (
        df.select(F.col(id_col), F.explode(F.array(*gram_cols)).alias("gs"))
        .select(id_col, F.col("gs.n").alias("n"), F.explode("gs.grams").alias("gram"))
    )
    counts = exploded.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = counts.groupBy(id_col, "n").agg(
        # argmax by (cnt desc, gram asc) == min of (-cnt, gram)
        F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("gram"))).alias("top"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("dupch"),
    ).select(
        id_col,
        "n",
        ((-F.col("top.nc")) * F.length("top.gram")).alias("topch"),
        "dupch",
    )
    wide = per_doc.groupBy(id_col).pivot(
        "n", [str(n) for n in gram_sizes] if False else list(gram_sizes)
    ).agg(F.first("topch").alias("topch"), F.first("dupch").alias("dupch"))
    out = base.join(wide, id_col, "left")
    tlen = F.length(text).cast("double")
    for n in gram_sizes:
        out = out.withColumn(
            f"top_{n}gram_char_frac",
            F.when(tlen > 0, F.coalesce(F.col(f"{n}_topch"), F.lit(0)) / tlen)
            .otherwise(0.0),
        ).withColumn(
            f"dup_{n}gram_char_frac",
            F.when(tlen > 0, F.coalesce(F.col(f"{n}_dupch"), F.lit(0)) / tlen)
            .otherwise(0.0),
        ).drop(f"{n}_topch", f"{n}_dupch")
    return out


def _bigram_pairs(
    df: DataFrame, text_col: str, groups: list[str], id_col: str
) -> DataFrame:
    """One row per adjacent token pair of each document: the ``groups``
    columns, ``id_col``, ``w1`` and ``w2``. Documents with fewer than
    two tokens have no pairs."""
    t = tokens(F.col(text_col))
    n = F.greatest(F.size(t) - 1, F.lit(0))
    return df.select(
        *groups,
        id_col,
        F.explode(
            F.zip_with(
                F.slice(t, 1, n),
                F.slice(t, 2, n),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(*groups, id_col, "bg.w1", "bg.w2")


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    by: list[str] | None = None,
    lam: float = 0.7,
    smoothing: float = 0.5,
) -> DataFrame:
    """Interpolated bigram LM quality score — the next rung of the
    CCNet-style perplexity ladder above :func:`unigram_logprob_score`:
    score(doc) = mean over bigram positions of
    ln( lam * c(w1,w2)/c(w1,*) + (1-lam) * p1(w2) ), with p1 the add-k
    smoothed unigram model. Documents whose word PAIRS are
    off-distribution (shuffled text, keyword stuffing) score low even
    when their unigrams look fine.

    Scale shape — deliberately different from the unigram pass: the
    bigram table grows ~linearly with corpus size and CANNOT be
    broadcast, so scoring joins exploded doc bigrams against it keyed
    on (w1, w2) — a hash-partitioned shuffle join whose keys are the
    bigrams themselves (both sides co-partition; no corpus bytes beyond
    the pair stream cross the wire). The unigram vocab stays broadcast.
    One groupBy on doc_id finishes the per-doc mean."""
    from pyspark.sql import functions as F  # noqa: F811

    groups = by or []
    pairs = _bigram_pairs(df, text_col, groups, "doc_id")

    bigrams = pairs.groupBy(*groups, "w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = bigrams.groupBy(*groups, "w1").agg(F.sum("c12").alias("c1"))
    bigrams = bigrams.join(left, [*groups, "w1"])

    tt = term_table(df, text_col, by=groups)
    totals = tt.groupBy(*groups).agg(
        F.sum("count").alias("_total"), F.count(F.lit(1)).alias("_vocab")
    )
    uni = (tt.join(totals, groups) if groups else tt.crossJoin(totals)).select(
        *groups,
        F.col("term").alias("w2"),
        (
            (F.col("count") + F.lit(smoothing))
            / (F.col("_total") + F.lit(smoothing) * F.col("_vocab"))
        ).alias("p1"),
    )

    scored = (
        pairs.join(bigrams, [*groups, "w1", "w2"])
        .join(F.broadcast(uni), [*groups, "w2"])
        .withColumn(
            "_logp",
            F.log(
                F.lit(lam) * (F.col("c12") / F.col("c1"))
                + F.lit(1.0 - lam) * F.col("p1")
            ),
        )
    )
    return scored.groupBy(*groups, "doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("_logp").alias("logprob"),
    )


def kneser_ney_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    by: list[str] | None = None,
    discount: float | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score — the smoothing family
    KenLM uses for the CCNet perplexity ladder (Kneser & Ney 1995;
    Chen & Goodman 1999 interpolated variant; Wenzek et al. 2020 score
    with exactly this class of model):

        P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1·)
                   + D·N1+(w1·)/c(w1·) · Pcont(w2)
        Pcont(w2) = N1+(·w2)/N1+(··)

    where N1+(w1·) is the number of distinct continuations of w1,
    N1+(·w2) the number of distinct predecessors of w2 (the KN
    insight: how PROMISCUOUSLY a word continues contexts, not how
    often it occurs), and N1+(··) the number of bigram types. With
    ``discount=None`` D is estimated per group from the count-of-counts
    (D = n1/(n1 + 2 n2), Ney/Essen/Kneser 1994), falling back to 0.5
    when the corpus has no count-1/2 bigram types. Per-w1 probabilities
    sum to exactly 1 over the continuation vocabulary.

    Self-scored over the training corpus, so every scored bigram has
    c(w1·) > 0 and Pcont(w2) > 0 — no OOV zeros by construction.

    Scale shape (same as :func:`bigram_logprob_score`): the bigram
    model grows with the corpus and shuffle-joins on (w1, w2); the
    continuation table is vocab-sized and BROADCASTS; the per-group
    discount/type-count table is one tiny agg; one doc_id groupBy
    finishes. Docs with < 2 tokens have no bigrams and drop out,
    matching the plain bigram scorer.
    """
    from pyspark.sql import functions as F  # noqa: F811

    groups = by or []
    pairs = _bigram_pairs(df, text_col, groups, id_col)

    bg = pairs.groupBy(*groups, "w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lft = bg.groupBy(*groups, "w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1w1")
    )
    model = bg.join(lft, [*groups, "w1"])

    tot = bg.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("_n1tot"),
        F.sum((F.col("c12") == 1).cast("long")).alias("_n1"),
        F.sum((F.col("c12") == 2).cast("long")).alias("_n2"),
    )
    if discount is None:
        dcol = F.when(
            F.col("_n1") + 2 * F.col("_n2") > 0,
            F.col("_n1") / (F.col("_n1") + 2 * F.col("_n2")),
        ).otherwise(F.lit(0.5))
    else:
        if not 0.0 <= discount < 1.0:
            raise ValueError("discount must be in [0, 1)")
        dcol = F.lit(float(discount))
    cont = bg.groupBy(*groups, "w2").agg(F.count(F.lit(1)).alias("_n1c"))
    cont = (cont.join(tot, groups) if groups else cont.crossJoin(tot)).select(
        *groups,
        "w2",
        (F.col("_n1c") / F.col("_n1tot")).alias("pcont"),
        dcol.alias("_d"),
    )

    scored = (
        pairs.join(model, [*groups, "w1", "w2"])
        .join(F.broadcast(cont), [*groups, "w2"])
        .withColumn(
            "_logp",
            F.log(
                F.greatest(F.col("c12") - F.col("_d"), F.lit(0.0)) / F.col("c1")
                + F.col("_d") * F.col("n1w1") / F.col("c1") * F.col("pcont")
            ),
        )
    )
    return scored.groupBy(*groups, id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("_logp").alias("logprob"),
    )


def html_to_text(col: Column) -> Column:
    """C4-class HTML -> text heuristic (Raffel et al. 2020 used exactly
    this tier of extraction, not a DOM parser): drop script/style
    blocks, strip tags, decode the five predefined XML entities, and
    collapse whitespace. Pure RE2-compatible regex chain — scan-stage,
    engine-portable (each step replays verbatim in any SQL with global
    regexp_replace). For production-grade boilerplate removal plug a
    library extractor into a mapInPandas hook like the multimodal
    ``decoder=`` pattern."""
    from pyspark.sql import functions as F  # noqa: F811

    t = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
        ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def c4_line_clean(col: Column, min_words_per_line: int = 3) -> Column:
    """The C4 line/page cleaning rules (Raffel et al. 2020 §2.2),
    scan-stage and engine-portable. Returns a struct:

    - ``clean``: lines that END IN TERMINAL PUNCTUATION (. ! ? or a
      closing quote after one), have >= ``min_words_per_line`` words,
      and do not contain the word "javascript" (any case) — re-joined
      with newlines
    - ``n_lines`` / ``n_kept``: line counts before/after
    - ``n_sentences``: terminal-punctuation count in the kept text
      (C4 drops pages with < 5)
    - ``has_lorem`` / ``has_brace``: the page-level "lorem ipsum" and
      "{" tripwires (C4 drops such pages outright)

    Policy stays with the caller (filter on the flags); this function
    only measures and cleans, so one pass can feed both keep/drop stats
    and the cleaned corpus.
    """
    from pyspark.sql import functions as F  # noqa: F811

    lines = F.split(col, "\n")
    kept = F.filter(
        lines,
        lambda l: (
            F.trim(l).rlike(r"""[.!?]["']?\s*$""")
            & (F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda w: w != ""))
               >= F.lit(min_words_per_line))
            & ~F.lower(l).contains("javascript")
        ),
    )
    # NB: an explicit unary lambda — F.trim is binary in Spark 4
    # (trim(col, trimstr)), so transform would feed it the element
    # INDEX as the set of characters to strip
    clean = F.array_join(F.transform(kept, lambda l: F.trim(l)), "\n")
    n_sent = F.size(F.split(clean, r"[.!?]")) - 1
    return F.struct(
        clean.alias("clean"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.when(F.length(clean) > 0, n_sent).otherwise(F.lit(0)).alias("n_sentences"),
        F.lower(col).contains("lorem ipsum").alias("has_lorem"),
        col.contains("{").alias("has_brace"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_signals(col: Column) -> Column:
    """The Gopher document-level rule card (Rae et al. 2021, App. A1.1
    — the public quality filter most corpus pipelines reuse), measured
    as a struct of signals plus the combined ``passes`` flag:

    - ``n_words``, ``mean_word_len`` (rule: 50 <= n <= 100000,
      3 <= mean <= 10)
    - ``symbol_word_ratio``: '#' or ellipsis occurrences per word
      (rule: <= 0.1)
    - ``bullet_line_frac``: lines starting with a bullet (rule: <= 0.9)
    - ``ellipsis_line_frac``: lines ending with an ellipsis (rule: <= 0.3)
    - ``alpha_word_frac``: words containing at least one alphabetic
      character (rule: >= 0.8)
    - ``stop_hits``: how many of the 8 Gopher stop words appear
      (rule: >= 2)

    Pure HOF column math over one split — no shuffle, no UDF; every
    signal replays in SQL list functions.
    """
    from pyspark.sql import functions as F  # noqa: F811

    words = F.filter(F.split(col, r"\s+"), lambda w: w != "")
    lines = F.filter(F.split(col, "\n"), lambda l: F.trim(l) != "")
    nw = F.size(words)
    nl = F.size(lines)
    total_chars = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
    mean_len = F.when(nw > 0, total_chars / nw).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(col, "#")) - 1
    n_ell = F.size(F.split(col, r"\.\.\.")) - 1 + F.size(F.split(col, "…")) - 1
    sym_ratio = F.when(nw > 0, (n_hash + n_ell) / nw).otherwise(F.lit(0.0))
    bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[•‣▪*-]\s"))
    )
    ell_end = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    bullet_frac = F.when(nl > 0, bullet / nl).otherwise(F.lit(0.0))
    ell_frac = F.when(nl > 0, ell_end / nl).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(nw > 0, alpha / nw).otherwise(F.lit(0.0))
    lw = F.transform(words, F.lower)
    stop_hits = F.aggregate(
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        F.lit(0),
        lambda a, s: a + F.when(F.array_contains(lw, s), 1).otherwise(0),
    )
    passes = (
        (nw >= 50) & (nw <= 100000)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (sym_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ell_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 2)
    )
    return F.struct(
        nw.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        passes.alias("passes"),
    )


def url_host(col: Column) -> Column:
    """Registrable host of a URL (scheme://host[:port]/...) — regex
    extraction (RE2-compatible, engine-portable) rather than
    ``F.parse_url`` so the SQL oracle replays it and the behavior is
    engine-pinned. Lower-cased; empty string when no host parses."""
    from pyspark.sql import functions as F  # noqa: F811

    return F.lower(
        F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    )


TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"


def canonicalize_url(col: Column) -> Column:
    """Canonical form of a URL for corpus-level URL deduplication (the
    CCNet/C4 'same page fetched twice' collapse). Rules, in order:
    lower-case scheme and host; strip a leading ``www.``; drop the
    default port (http:80 / https:443) but keep explicit non-default
    ports; strip the fragment; drop tracking query parameters
    (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``, ``ref``) while
    preserving the relative order of the rest; strip trailing slashes
    from the path. Everything is regex + array HOFs — scan-stage, no
    UDF, no shuffle — and every rule is replayable verbatim in the SQL
    oracle. Malformed URLs (no scheme://host) pass through UNCHANGED as
    opaque keys — they must stay distinct from each other, never
    collapse to a shared sentinel. Userinfo (``user:pass@host``) is
    stripped before host/port extraction."""
    from pyspark.sql import functions as F  # noqa: F811

    scheme = F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    rest = F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$", 1)
    hostport = F.regexp_replace(
        F.regexp_extract(rest, r"^([^/?#]*)", 1), r"^.*@", ""
    )
    tail = F.regexp_extract(rest, r"^[^/?#]*(.*)$", 1)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_replace(F.regexp_extract(tail, r"^([^?#]*)", 1), r"/+$", "")
    query = F.regexp_extract(tail, r"^[^?#]*\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
    )
    clean_q = F.array_join(params, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(clean_q != "", F.concat(F.lit("?"), clean_q)).otherwise(F.lit("")),
    )
    # scheme-less/malformed input: opaque pass-through, NOT a shared
    # '://' sentinel that would falsely merge unrelated documents
    return F.when(scheme != "", canon).otherwise(col)


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL-level exact deduplication: canonicalize, then elect one
    keeper per canonical URL with ``min(id)`` — an aggregation (NOT a
    window over the url key), so hot URLs get map-side partial combine
    on every mapper instead of a single-reducer sort, the shape the
    round-6 paragraph-dedup skew fix established. One shuffle keyed on
    the canonical URL; returns (canonical_url, keeper_id, n_dupes)."""
    from pyspark.sql import functions as F  # noqa: F811

    return (
        df.select(
            canonicalize_url(F.col(url_col)).alias("canonical_url"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min("_id").alias("keeper_id"),
            (F.count(F.lit(1)) - 1).alias("n_dupes"),
        )
    )


def domain_filter(
    df: DataFrame,
    url_col: str,
    blocklist: list[str],
    keep: bool = False,
) -> DataFrame:
    """C4/RefinedWeb-style domain filtering: drop (or with ``keep=True``
    retain only) rows whose url host equals a listed domain or is a
    subdomain of one. The blocklist travels as a literal array —
    scan-stage, no join; for blocklists beyond a few thousand entries
    switch to a broadcast semi-join on the host column."""
    from pyspark.sql import functions as F  # noqa: F811

    host = url_host(F.col(url_col))
    hit = F.lit(False)
    for d in blocklist:
        dl = d.lower()
        hit = hit | (host == dl) | host.endswith("." + dl)
    return df.filter(hit if keep else ~hit)
