"""Text-analysis operators for training-data pipelines.

All native pyspark.sql.functions expressions (whole-stage codegen; no
Python in the hot path): language-ID n-gram heuristic, quality scoring,
token counting, and document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small stopword profile per language; the language with the highest
# stopword-hit ratio wins. (N-gram heuristic in the classic sense — here
# unigram function words, which is what a 31-word synthetic corpus can
# distinguish; real corpora would extend the profiles, the plan shape is
# identical.)
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "zh": ["的", "是", "了", "在", "和"],
}


def tokens_expr(col) -> Column:
    return F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)


def token_count(col) -> Column:
    """H1 analog: whitespace token count, JVM-side."""
    return F.size(tokens_expr(col))


def word_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    toks = tokens_expr(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def quality_exprs(text_col: str) -> dict:
    """The quality feature expressions, shared by ``quality_score`` and
    ``clean_corpus`` so the composed pipeline cannot drift from the
    standalone scorer."""
    toks = tokens_expr(F.col(text_col))
    n_toks = F.size(toks)
    n_chars = F.length(text_col)
    # try_divide: empty/whitespace-only docs (n_toks or n_chars = 0) yield
    # NULL metrics instead of an ANSI DIVIDE_BY_ZERO task failure — at
    # corpus scale empty files are routine, a crashing metric is not
    mean_tok_len = F.try_divide(n_chars - (n_toks - 1), n_toks)
    diversity = F.try_divide(F.size(F.array_distinct(toks)), n_toks)
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")), n_chars
    )
    length_ok = (n_toks >= 10) & (n_toks <= 100000)
    score = (
        F.when(length_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 2) & (mean_tok_len <= 12), 0.25).otherwise(0.0)
        + diversity * 0.25
        + alpha_ratio * 0.25
    )
    return {
        "n_tokens": n_toks,
        "mean_token_len": F.round(mean_tok_len, 6),
        "lexical_diversity": F.round(diversity, 6),
        "alpha_ratio": F.round(alpha_ratio, 6),
        "quality_score": F.round(score, 6),
    }


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    length band, mean token length band, lexical diversity, alpha ratio.
    """
    q = quality_exprs(text_col)
    return df.select(
        F.col(id_col), *[expr.alias(name) for name, expr in q.items()]
    )


def language_exprs(text_col: str) -> dict:
    """detected_lang / lang_confidence expressions (shared with
    ``clean_corpus``): per-language stopword hit ratio via native
    array_intersect against literal profiles; argmax wins, 'und' when no
    profile hits."""
    toks = F.array_distinct(tokens_expr(F.lower(F.col(text_col))))
    hit_cols = []
    for lang, words in LANG_PROFILES.items():
        profile = F.array(*[F.lit(w) for w in words])
        hit_cols.append(
            F.struct(
                (F.size(F.array_intersect(toks, profile)) / F.lit(len(words))).alias(
                    "ratio"
                ),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*hit_cols))
    return {
        "detected_lang": F.when(best["ratio"] > 0, best["lang"]).otherwise(
            F.lit("und")
        ),
        "lang_confidence": F.round(best["ratio"], 6),
    }


def detect_language(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID (see ``language_exprs``)."""
    lang = language_exprs(text_col)
    return df.select(
        F.col(id_col), *[expr.alias(name) for name, expr in lang.items()]
    )


def clean_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    languages=None,
    with_scores: bool = True,
) -> DataFrame:
    """The composed training-corpus cleaning pass: quality scoring +
    language ID (ONE narrow projection — the shared expressions above,
    no joins), threshold filters, then exact dedup keeping the lowest id
    per text sha256.

    Exactly one shuffle end-to-end (the dedup window on the uniform
    64-hex digest); filters run before it, so rejected docs never
    shuffle. ``languages=None`` keeps every language; ``with_scores``
    retains the quality/lang columns on the survivors for audit.
    """
    from pyspark.sql import Window

    q = quality_exprs(text_col)
    lang = language_exprs(text_col)
    scored = df.withColumn("quality_score", q["quality_score"]).withColumn(
        "detected_lang", lang["detected_lang"]
    )
    kept = scored.where(F.col("quality_score") >= F.lit(float(min_quality)))
    if languages:
        kept = kept.where(F.col("detected_lang").isin(list(languages)))
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    out = (
        kept.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    if not with_scores:
        out = out.drop("quality_score", "detected_lang")
    return out


def ngrams_expr(text_col: str, n: int) -> Column:
    """Array of adjacent token n-grams — index-zipped slices of the token
    array, a pure projection (no explode, no shuffle). The single source
    for token n-grams (repetition stats, duplicated n-gram spans)."""
    toks = tokens_expr(F.col(text_col))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    slices = [F.slice(toks, F.lit(i + 1), m) for i in range(n)]
    out = slices[0]
    for s in slices[1:]:
        out = F.zip_with(out, s, lambda a, b: F.concat_ws(" ", a, b))
    return out


def bigrams_expr(text_col: str) -> Column:
    """Adjacent-token bigram array (the n=2 case of ``ngrams_expr``)."""
    return ngrams_expr(text_col, 2)


def hash_bucket(text_col: str, hex_start: int, buckets: int) -> Column:
    """Deterministic uniform bucket in [0, buckets): 8 hex chars of the
    sha256 digest starting at 1-based ``hex_start``, as an integer mod
    ``buckets``. Callers that must be mutually independent read disjoint
    digest regions (splits: chars 1-8)."""
    return F.conv(
        F.substring(F.sha2(F.col(text_col), 256), hex_start, 8), 16, 10
    ).cast("long") % F.lit(int(buckets))


def _top_run_count(arr: Column) -> Column:
    """Count of the most frequent element of ``arr`` — max run length of
    the sorted array, via a single ``aggregate`` fold (no explode/groupBy
    shuffle; the whole statistic is computed inside one projection)."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.when(
            x == acc["prev"],
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1).alias("run"),
                F.greatest(acc["best"], acc["run"] + 1).alias("best"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).alias("run"),
                F.greatest(acc["best"], F.lit(1)).alias("best"),
            )
        ),
        lambda acc: acc["best"],
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    - ``dup_token_frac``  — 1 − distinct/total tokens
    - ``dup_bigram_frac`` — 1 − distinct/total adjacent bigrams
    - ``top_bigram_frac`` — occurrences of the most frequent bigram over
      total bigrams (boilerplate / template detector)

    Everything is a narrow projection over per-row arrays — zero
    shuffles, zero Python — so the filter costs one corpus scan at any
    scale. Docs too short for a statistic yield NULL (``try_divide``),
    never a task failure.
    """
    toks = tokens_expr(F.col(text_col))
    bgs = bigrams_expr(text_col)
    n_toks = F.size(toks)
    n_bgs = F.size(bgs)
    dup_tok = F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct(toks)).cast("double"), n_toks.cast("double")
    )
    dup_bg = F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct(bgs)).cast("double"), n_bgs.cast("double")
    )
    top_bg = F.try_divide(_top_run_count(bgs).cast("double"), n_bgs.cast("double"))
    return df.select(
        F.col(id_col),
        n_toks.cast("long").alias("n_tokens"),
        n_bgs.cast("long").alias("n_bigrams"),
        F.round(dup_tok, 6).alias("dup_token_frac"),
        F.round(dup_bg, 6).alias("dup_bigram_frac"),
        F.round(top_bg, 6).alias("top_bigram_frac"),
    )


def vocab_topk(
    df: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Global vocabulary head: top-k tokens by corpus frequency.

    explode → groupBy(token) runs with map-side partial aggregation
    (vocabulary-sized shuffle, not corpus-sized), then TakeOrdered for
    the head — the standard two-phase word count, deterministic via the
    (count DESC, token ASC) total order.
    """
    return (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


# GPT-2-style pre-tokenizer simplification: letter runs, digit runs, and
# single punctuation marks — the units a BPE tokenizer would merge from.
# Kept to the Java/RE2-common regex subset so the SQL oracle reuses the
# exact pattern text.
PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def pretoken_count(col) -> Column:
    """BPE-ish pre-token count (token-budget estimator for LLM batching —
    a sharper H1 than whitespace counting on punctuation-heavy code)."""
    return F.size(F.regexp_extract_all(col, F.lit(PRETOKEN_PATTERN), 0))


# split thresholds: pmod(hash bucket of content, 1000) -> named split.
# Content-hashed (not id-hashed) so exact duplicates always land in the
# same split and can never leak train->test.
SPLIT_BUCKETS = 1000
DEFAULT_SPLITS = (("train", 800), ("val", 900), ("test", SPLIT_BUCKETS))


def assign_split(
    df: DataFrame,
    splits=DEFAULT_SPLITS,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    Bucket = first 8 hex chars of sha256(text) mod ``SPLIT_BUCKETS`` — a
    pure projection (no shuffle, no RNG), reproducible across engines,
    runs, and cluster sizes; ``splits`` is a (name, exclusive upper
    bucket) ladder."""
    bucket = hash_bucket(text_col, 1, SPLIT_BUCKETS)
    expr = None
    for name, upper in splits:
        cond = bucket < F.lit(upper)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: full-text sha256 + xxhash64 + a
    whitespace-normalized content hash (rolling-hash analog for shift-
    robust near-exact matching).
    """
    normalized = F.concat_ws(" ", tokens_expr(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.sha2(F.col(text_col), 256).alias("sha256"),
        F.xxhash64(F.col(text_col)).alias("xxh64"),
        F.sha2(normalized, 256).alias("normalized_sha256"),
    )


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_terms: int = 50,
) -> DataFrame:
    """Token-distribution drift between two corpus slices (yesterday's
    crawl vs today's, train vs incoming): per-token relative frequency
    in each slice and the absolute difference, for the ``top_terms``
    most-drifted tokens. Row 1 of the moment a pipeline's input changes
    under it — the monitoring op a standing 100 TB ingest needs.

    Output: (token, p_a, p_b, abs_diff), each frequency rounded 10 dp
    and the diff 6 dp; ordered by drift. Total-variation distance is
    ``0.5 * sum(abs_diff)`` over the UNTRUNCATED output (compute it by
    passing top_terms large enough, or summing before the limit).

    Scale shape: one explode + groupBy per slice (map-side partial
    aggregation; token-vocabulary-scale result), one full-outer join of
    the two vocab tables keyed on the token, arithmetic from exact
    integer counts (engine-deterministic). The
    corpora never join each other — only their vocab aggregates do.
    """
    def vocab(df, total_alias, cnt_alias):
        toks = df.select(F.explode(tokens_expr(F.col(text_col))).alias("token"))
        counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias(cnt_alias))
        total = counts.agg(F.sum(cnt_alias).alias(total_alias))
        return counts, total

    ca, ta = vocab(df_a, "tot_a", "n_a")
    cb, tb = vocab(df_b, "tot_b", "n_b")
    joined = (
        ca.join(cb, "token", "full")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "token",
            F.round(F.coalesce("n_a", F.lit(0)) / F.col("tot_a"), 10).alias("p_a"),
            F.round(F.coalesce("n_b", F.lit(0)) / F.col("tot_b"), 10).alias("p_b"),
        )
        .select(
            "token", "p_a", "p_b",
            F.round(F.abs(F.col("p_a") - F.col("p_b")), 6).alias("abs_diff"),
        )
    )
    return joined.orderBy(F.col("abs_diff").desc(), F.col("token").asc()).limit(
        top_terms
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the RAG/embedding
    ingestion shape: (id, chunk_idx, start_token, n_tokens, chunk_text),
    windows of ``chunk_tokens`` whitespace tokens starting every
    ``chunk_tokens - overlap_tokens`` positions (the last window may be
    shorter; empty docs produce no chunks).

    Pure JVM projection: one ``sequence`` of window starts + a
    ``transform``/``slice`` over the token array + one ``posexplode`` —
    no shuffle, no Python, output rows ~ tokens/step per doc. At 100 TB
    this is exactly as parallel as the scan."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            "overlap_tokens must satisfy 0 <= overlap < chunk_tokens, got "
            f"{overlap_tokens} vs {chunk_tokens}"
        )
    step = chunk_tokens - overlap_tokens
    toks = tokens_expr(F.col(text_col))
    # drop redundant tails: a start > 0 only earns a chunk if the
    # PREVIOUS window did not already reach the end of the document
    chunks = F.expr(
        f"transform(filter(sequence(0, greatest(size(_toks) - 1, 0), {step}), "
        f"s -> s = 0 OR s - {step} + {chunk_tokens} < size(_toks)), "
        f"s -> struct(s AS start_token, slice(_toks, s + 1, {chunk_tokens}) AS w))"
    )
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.start_token").cast("long").alias("start_token"),
            F.size("c.w").cast("long").alias("n_tokens"),
            F.array_join("c.w", " ").alias("chunk_text"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_col: str | None = None,
    max_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity per group: for each n in 1..``max_n``, the
    corpus-level ratio of DISTINCT token n-grams to TOTAL n-gram
    occurrences — the standard generation/corpus diversity signal
    (distinct-1/2/3 of Li et al. 2016; low values flag the templated,
    repetitive slices Self-BLEU would): 1.0 = every n-gram unique,
    ->0 = the corpus keeps repeating itself.

    Output: (group?, n, total_ngrams, distinct_ngrams, distinct_ratio)
    with the ratio rounded to 6 dp; groups with no n-grams of order n
    report (0, 0, 0.0) rather than vanishing.

    Scale shape: one explode per n-gram order over the corpus, each
    feeding ONE (group, gram)-keyed aggregate collapsed to a
    (group)-keyed count — Spark plans the distinct via two-level
    partial aggregation, so the full gram set never concentrates.
    No window, no join; the orders union at group-scale.
    """
    if max_n < 1:
        raise ValueError(f"max_n must be >= 1, got {max_n}")
    gcols = [group_col] if group_col else []
    base = None
    for n in range(1, max_n + 1):
        grams = df.select(
            *gcols, F.explode(ngrams_expr(text_col, n)).alias("_g")
        )
        stats = grams.groupBy(*gcols).agg(
            F.lit(n).alias("n"),
            F.count(F.lit(1)).cast("long").alias("total_ngrams"),
            F.count_distinct(F.col("_g")).cast("long").alias("distinct_ngrams"),
        )
        base = stats if base is None else base.unionByName(stats)
    # groups whose docs are all shorter than n tokens produce no rows
    # for that n: re-attach them with zero counts so the report is
    # rectangular (groups x orders)
    groups = df.select(*gcols).distinct() if gcols else df.sparkSession.range(1).select()
    orders = df.sparkSession.range(1, max_n + 1).select(F.col("id").cast("int").alias("n"))
    grid = groups.crossJoin(orders) if gcols else orders
    out = grid.join(base, [*gcols, "n"], "left").select(
        *gcols,
        "n",
        F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
        F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
        F.round(
            F.when(
                F.coalesce("total_ngrams", F.lit(0)) > 0,
                F.col("distinct_ngrams").cast("double") / F.col("total_ngrams"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("distinct_ratio"),
    )
    return out
