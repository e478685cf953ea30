"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are JVM-side built-ins (split/regexp/aggregate/
transform) — no Python in the row path, so these run inside whole-stage
codegen and scale linearly. The only non-built-in surface is language ID,
which is a deterministic n-gram heuristic expressed with built-ins too.

Ops: tokenization + token counting, quality scoring (length/punct/stopword
ratios), language ID heuristic, document fingerprinting (token-set and
shingle fingerprints, the exact-dedup and near-dup keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny embedded stopword lists per language for the heuristic language ID.
#: Public knowledge (most-frequent function words).
_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "das", "und", "in", "von", "zu", "mit", "ist", "den"],
    "fr": ["le", "la", "de", "et", "un", "en", "est", "que", "pour", "dans"],
}

#: BPE-ish token pattern: word pieces, numbers, or single non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col: str | Column, sep: str = " ") -> Column:
    """Whitespace tokenization, empty tokens removed."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, sep), lambda t: t != "")


def with_tokens(text_col: str | Column, body) -> Column:
    """`body(t)` over the token array `t`, tokenized ONCE per row.

    Higher-order functions run interpreted, so a `tokens()` expression
    captured inside a lambda re-runs `filter(split(text))` for every
    element the lambda visits. Wrapping the array in a one-element
    `transform` binds it to a lambda variable that every reference in
    `body` reads. `body` takes one argument (a 2-arg lambda would
    receive the index)."""
    return F.transform(F.array(tokens(text_col)), body)[0]


def bpe_ish_tokens(text_col: str | Column) -> Column:
    """Regex token split approximating a BPE pre-tokenizer: letter runs,
    digit runs, and individual symbols (public GPT-2-style pre-tokenize
    shape, radically simplified)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0))


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count (JVM-side, codegen'd)."""
    return F.size(tokens(text_col))


def with_quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics — the standard pre-training filters:

    - n_chars / n_tokens / avg_token_len
    - distinct_token_ratio (low => repetitive/spam)
    - punct_ratio, digit_ratio, upper_ratio
    - stopword_ratio (very low => likely non-linguistic content)
    """
    t = tokens(text_col)
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    en_stop = F.array(*[F.lit(s) for s in _STOPWORDS["en"]])
    n_stop = F.size(F.filter(t, lambda tok: F.array_contains(en_stop, F.lower(tok))))
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
                / F.greatest(n_tok, F.lit(1)),
                2,
            ),
        )
        .withColumn(
            "distinct_token_ratio",
            F.round(F.size(F.array_distinct(t)).cast("double") / F.greatest(n_tok, F.lit(1)), 4),
        )
        .withColumn(
            "punct_ratio",
            F.round(
                (n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))).cast("double")
                / F.greatest(n_chars, F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "digit_ratio",
            F.round(
                (n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))).cast("double")
                / F.greatest(n_chars, F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 4),
        )
    )


def language_id(text_col: str | Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits.

    Pure built-ins (one pass over the token array per language); at 100 TB
    this stays JVM-side. Returns the best language code or 'und' when no
    list scores a hit."""
    t = tokens(text_col)
    scores = []
    for lang, words in _STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(t, lambda tok: F.array_contains(arr, F.lower(tok))))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def token_set_fingerprint(text_col: str | Column) -> Column:
    """Order-invariant document fingerprint: md5 of the sorted distinct
    token set. Catches shuffled/reordered duplicates that raw-text hashing
    misses; one expression, no shuffle until the groupBy that uses it."""
    t = tokens(text_col)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(t)), " "))


def shingles(text_col: str | Column, n: int = 3) -> Column:
    """n-gram (word shingle) array — the unit for MinHash/Jaccard near-dup.

    Built from a sliding window over the token array with `transform` +
    `slice` (pure built-ins, no UDF); the text is tokenized once per row
    (`with_tokens`), not once per window."""

    def windows(t: Column) -> Column:
        count = F.greatest(F.size(t) - F.lit(n - 1), F.lit(0))
        idx = F.sequence(F.lit(1), F.greatest(count, F.lit(1)))
        return F.when(
            F.size(t) >= n,
            F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " ")),
        ).otherwise(F.array(F.array_join(t, " ")))

    return with_tokens(text_col, windows)


def rolling_hash_fingerprint(text_col: str | Column, n: int = 3) -> Column:
    """Shingle-level fingerprint: min of the shingle hashes ("min-sampling"
    one-permutation sketch). A cheap single-value document signature whose
    equality implies high shingle overlap probability."""
    return F.array_min(F.transform(shingles(text_col, n), lambda s: F.xxhash64(s)))


def with_token_budget(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    priority_col: str | None = None,
    stratum_col: str | None = None,
) -> DataFrame:
    """Token-budget curation: keep documents, in deterministic priority
    order, until a token budget is exhausted — the standard "take the best
    N billion tokens" selection step of a pre-training data pipeline
    (reference analog: the corpus-trimming stage of scripts/etl.py).

    Order within a stratum is (priority DESC, id ASC) — unique, so the
    running total is well-defined; a document is kept iff the cumulative
    token count INCLUDING it stays within budget (a doc larger than the
    remaining budget is skipped along with everything after it, keeping
    the kept set prefix-closed and engine-reproducible).

    Scale: the cumulative sum is a window partitioned by `stratum_col`
    (language/source/shard) — one shuffle on the stratum key, each
    stratum's prefix sum computed independently. The unstratified form
    degenerates to a single-partition window; at 100 TB always pass a
    stratum (per-language budgets are what pipelines want anyway).
    """
    from pyspark.sql import Window

    parts = [stratum_col] if stratum_col else []
    order = ([F.desc(priority_col)] if priority_col else []) + [F.asc(id_col)]
    w = (
        Window.partitionBy(*parts)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = token_count(text_col)
    out_cols = [id_col] + ([stratum_col] if stratum_col else [])
    return (
        df.select(*out_cols, *([priority_col] if priority_col else []),
                  n_tok.cast("int").alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(*out_cols, "n_tokens", "cum_tokens")
    )


def concat_chunk_spans(
    df: DataFrame,
    context_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing, span view: documents are laid
    end-to-end in deterministic order (id ASC within a stratum) and the
    token stream is sliced into fixed `context_len` windows — the standard
    GPT-style packing step. Returns, per document, its token offsets and
    the chunk ids it lands in (a doc may straddle a chunk boundary):
    start_offset / first_chunk / last_chunk / n_chunks.

    Everything is a prefix sum + integer arithmetic — no tokenized text
    moves through the shuffle, only (id, n_tokens). Same scale shape as
    `with_token_budget`: one window partitioned by the stratum key.
    Empty documents are dropped (they occupy no span).
    """
    from pyspark.sql import Window

    parts = [stratum_col] if stratum_col else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = [id_col] + ([stratum_col] if stratum_col else [])
    end = F.sum("n_tokens").over(w).cast("long")
    return (
        df.select(*out_cols, token_count(text_col).cast("int").alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
        .withColumn("start_offset", end - F.col("n_tokens"))
        # integer division (`div`), not double division + cast: offsets are
        # exact longs and must stay exact past 2^53 tokens
        .withColumn("first_chunk", F.expr(f"start_offset div {int(context_len)}"))
        .withColumn(
            "last_chunk",
            F.expr(f"(start_offset + n_tokens - 1) div {int(context_len)}"),
        )
        .withColumn("n_chunks", (F.col("last_chunk") - F.col("first_chunk") + 1))
        .select(
            *out_cols, "n_tokens", "start_offset", "first_chunk", "last_chunk",
            "n_chunks",
        )
    )


def length_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Power-of-two histogram of document token counts — the length-
    distribution profile a packing/curation pipeline reads first. Bucket
    b holds docs with n_tokens in [2^(b-1), 2^b); computed as the binary
    bit-length of n_tokens (exact integer arithmetic — no float log2,
    whose .9999 edge cases differ between engines).

    Pure two-level aggregation: map-side partial agg, one exchange on the
    ~60 distinct buckets; scans only the text column."""
    n_tok = token_count(text_col)
    # bit-length of the already-selected n_tokens column — the expression
    # must not re-derive token_count(text): text is dropped by the first
    # select, so referencing it here is an unresolved column.
    bucket = F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2)).cast("int")
    return (
        df.select(n_tok.cast("int").alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
        .select(bucket.alias("bit_bucket"), "n_tokens")
        .groupBy("bit_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("bit_bucket")
    )


def portable_hash64(col: str | Column) -> Column:
    """Engine-portable 60-bit string hash: first 15 hex chars of md5 as a
    non-negative bigint. Identical in DuckDB as
    `CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)` — the same trick
    `dedup.minhash_signature_portable` uses, factored out for reuse by
    every oracle-checked hashing op. xxhash64 is faster where parity with
    another engine isn't needed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    window: int = 4,
    out_col: str = "fps",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS algorithm, public literature): hash every n-gram shingle, slide a
    window of `window` consecutive hashes over the sequence, keep each
    window's minimum — the distinct kept hashes are the fingerprint set.
    Guarantees: any shared run of window+shingle_n-1 tokens between two
    documents yields at least one shared fingerprint, while storing only
    ~2/(window+1) of all shingle hashes.

    Returns `df` narrowed to (id_col, out_col=array<long>). DataFrame-level
    (not a Column) because the hash array MUST materialize behind a
    Generate barrier before the windowing: the per-window lambda references
    the array once per window, and CollapseProject would otherwise inline
    the md5 chain into every window — O(shingles x windows) md5 calls per
    row (measured 32s -> 0.4s at sf0.01). Per-row expression work only —
    no shuffle, no UDF; the hash is the md5-derived portable form so a SQL
    oracle can replay it bit-for-bit. Documents shorter than the window
    keep the minimum of what they have (one fingerprint)."""
    hashed = df.select(
        id_col,
        F.explode(
            F.array(F.transform(shingles(text_col, shingle_n), lambda s: portable_hash64(s)))
        ).alias("__hs"),
    )
    n_windows = F.greatest(F.size("__hs") - F.lit(window - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(F.col("__hs"), i, window)),
        )
    )
    # second barrier: consumers read the fingerprint set more than once
    # (count + digest) — materialize it once per row too
    return hashed.select(id_col, F.explode(F.array(fps)).alias(out_col))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """BM25 relevance of every document against a bag-of-words query
    (Robertson/Spärck Jones, public literature; Lucene's idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5)) so idf is always positive).

    Scale shape: tokens are filtered to the query's terms BEFORE any
    aggregation, so the only per-corpus shuffle carries (doc, term)
    postings for matching terms only — O(matches), not O(tokens). The
    corpus stats (N, avgdl) are a 1-row broadcast; per-term document
    frequencies are a |query|-row broadcast. Returns (id_col, score)
    for every document containing >= 1 query term, best first, ties by
    id; scores rounded to `round_to` so an external oracle's floating
    point agrees."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    lengths = toks.select(id_col, F.size("__t").cast("double").alias("__dl"))
    stats = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
    )
    terms = [t for t in query_terms]
    tf = (
        toks.select(
            F.col(id_col),
            F.explode(F.filter("__t", lambda t: t.isin(terms))).alias("__term"),
        )
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).cast("double").alias("__df"))
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .join(lengths, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5))
                * (F.col("__tf") * (k1 + 1))
                / (F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl")))
            ).alias("__s"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("__s"), round_to).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Per-document average unigram log-probability against the corpus'
    own token distribution — the SQL-expressible cousin of CCNet-style
    LM-perplexity filtering (Wenzek et al. 2019, public): documents full
    of rare/garbage tokens score very negative, boilerplate scores high.

    Scale shape: corpus term frequencies are ONE groupBy over (token)
    with map-side partial agg; the per-occurrence re-join is keyed on the
    token (hot stopwords skew it — AQE skew-join splits those partitions,
    or broadcast the frequency table when the vocabulary fits). The total
    token count rides a 1-row broadcast. Rounded so an external oracle's
    float summation agrees (same op sequence: ln(freq/total) per
    occurrence, then AVG)."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    freqs = toks.groupBy("__tok").agg(F.count(F.lit(1)).cast("double").alias("__c"))
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("__t"))
    return (
        toks.join(freqs, "__tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("__c") / F.col("__t"))), round_to).alias(
                "avg_logprob"
            ),
        )
    )


def repetition_stats(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram repetition counters — the raw inputs of the
    Gopher-style repetition filters (Rae et al. 2021, public literature):
    "fraction of characters/tokens in the most frequent n-gram" and
    "fraction of duplicated n-grams". Returns counts only (n_ngrams,
    distinct_ngrams, top_ngram_count); callers derive ratios, so ties on
    which n-gram is most frequent can never leak into the output.

    Scale shape: explode to (id, ngram) postings, then TWO cascaded
    aggregations — groupBy(id, ngram) with map-side partial agg collapses
    repeats before the shuffle, groupBy(id) reduces to one row per doc.
    Both shuffles carry ids and counts, never text; per-row work is linear
    in document length (no per-row quadratic mode-finding expression).
    Documents shorter than n tokens are dropped (no n-grams, mirroring the
    oracle's len >= n filter)."""
    ng = df.filter(token_count(text_col) >= n).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("__ng")
    )
    per = ng.groupBy(id_col, "__ng").agg(F.count(F.lit(1)).alias("__c"))
    return per.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_ngrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        F.max("__c").cast("long").alias("top_ngram_count"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier flagging: |x - median| > k · MAD within each group
    (median absolute deviation — the quality filter that survives the
    heavy-tailed length distributions where mean/stddev break). Returns
    the outlier rows with their group's `med` and `mad` attached.

    Exact interpolated `percentile` (≡ DuckDB quantile_cont, parity
    proven by q_percentiles); two groupBys on the group key + two joins
    back — at 100 TB the per-group stats frames are |groups| rows and
    broadcast, so the corpus shuffles ZERO times (at this SF Catalyst
    broadcasts them on its own; F.broadcast pins it). Swap percentile →
    approx_percentile to trade exactness for a single pass when |groups|
    is huge."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(F.expr("percentile(__adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), group_col)
        .filter(F.col("__adev") > k * F.col("mad"))
        .drop("__adev")
    )


#: Conservative PII patterns, valid in both Java regex and RE2 so an
#: external oracle replays them exactly (no lookbehind, no backrefs).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b\d{3}-\d{4}\b"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    email_token: str = "[EMAIL]",
    phone_token: str = "[PHONE]",
    out_col: str = "clean_text",
) -> DataFrame:
    """Redact email addresses and phone-like numbers, keeping match counts
    (the audit trail a compliance pipeline wants). Pure codegen built-ins —
    regexp_extract_all + regexp_replace — applied in one projection: no
    shuffle, no UDF, linear scan at 100 TB. Emails are redacted first so a
    phone-looking digit run inside an address can't double-count."""
    c = F.col(text_col)
    no_email = F.regexp_replace(c, EMAIL_PATTERN, email_token)
    return df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), F.lit(0))),
            "n_phones": F.size(
                F.regexp_extract_all(no_email, F.lit(PHONE_PATTERN), F.lit(0))
            ),
            out_col: F.regexp_replace(no_email, PHONE_PATTERN, phone_token),
        }
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Per-document average add-one-smoothed bigram log-probability
    against the corpus' own bigram model — the order-2 upgrade of
    `unigram_logprob` (CCNet-style LM quality filtering, Wenzek et al.
    2019, public): ln P(w2|w1) = ln (c(w1 w2) + 1) / (c(w1·) + V), where
    c(w1·) counts w1 occurrences WITH a successor and V is the distinct
    successor vocabulary. Shuffled/garbled documents score far more
    negative than fluent ones even when their unigram mix is identical —
    exactly what the unigram form cannot see.

    Scale shape: corpus bigram counts are ONE groupBy over the bigram
    stream (map-side partial agg); preceding-token counts derive from the
    same stream with a second cheap agg; the per-occurrence re-join is
    keyed on the bigram (hot collocations skew it — AQE splits those, or
    broadcast the model when the bigram vocabulary fits, the usual call
    at 100 TB where V ≪ corpus). V rides a 1-row broadcast. Only the
    final AVG(ln ...) is rounded (both ln inputs are exact-int-derived
    doubles, bit-identical cross-engine — q_unigram_logprob precedent).
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("__t")).filter(
        F.size("__t") >= 2
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 1),
                lambda i: F.struct(
                    F.element_at("__t", i).alias("w1"),
                    F.element_at("__t", i + 1).alias("w2"),
                ),
            )
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    vocab = bi.agg(F.countDistinct("w2").alias("__v"))
    p = (F.col("__c2") + 1).cast("double") / (F.col("__c1") + F.col("__v")).cast(
        "double"
    )
    return (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(F.log(p)), round_to).alias("avg_logprob"),
        )
    )


def remove_boilerplate(
    df: DataFrame,
    seg_len: int = 8,
    min_docs: int = 3,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Template/boilerplate removal, the line-dedup step of public web-
    corpus pipelines (CCNet / RefinedWeb line-level dedup): a segment
    that recurs VERBATIM across `min_docs`+ distinct documents of the
    same group (site/domain/source) is navigation or template text, not
    content, and is stripped from every document while unique segments
    keep their order. Corpora with newline structure segment on lines;
    this corpus has none, so segments are fixed `seg_len`-token windows
    (the operator is segmentation-agnostic).

    Returns (id, group, n_segments, n_removed, clean_text).

    Scale shape: one explode to segments, one groupBy on
    (group, md5(segment)) with countDistinct(doc) — partial-agg
    friendly, keyed on a 128-bit hash — and one hash-keyed re-join;
    reassembly is a per-document collect of that document's OWN
    segments (bounded by document length, never corpus-sized). Linear
    end to end."""

    # sequence(0, -1) DESCENDS ([0,-1], pinned gotcha): a zero-token doc
    # would emit two phantom '' segments while SQL range(0,0) is empty.
    # Guard on size >= 1 so empty/whitespace-only docs explode to zero
    # rows in both engines (the _bigram_buckets guard pattern).
    def windows(t: Column) -> Column:
        return F.when(
            F.size(t) >= 1,
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size(t) / seg_len).cast("long") - 1),
                lambda i: F.struct(
                    i.alias("idx"),
                    F.concat_ws(
                        " ", F.slice(t, i * seg_len + 1, seg_len)
                    ).alias("seg"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<idx:long,seg:string>>"))

    seg_windows = with_tokens(text_col, windows)
    segs = df.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(seg_windows).alias("__s"),
    ).select(id_col, group_col, F.col("__s.idx").alias("__idx"), F.col("__s.seg").alias("__seg"))
    dfc = segs.groupBy(
        F.col(group_col).alias("__g"), F.md5("__seg").alias("__h")
    ).agg(F.count_distinct(F.col(id_col)).alias("__cnt"))
    flagged = segs.join(
        dfc,
        (F.col(group_col) == F.col("__g")) & (F.md5(F.col("__seg")) == F.col("__h")),
    ).select(
        id_col,
        group_col,
        "__idx",
        "__seg",
        (F.col("__cnt") >= min_docs).alias("__rm"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("__idx"), F.col("__rm"), F.col("__seg")))
    )
    return flagged.groupBy(id_col, group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(F.col("__rm"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(ordered, lambda s: ~s["__rm"]), lambda s: s["__seg"]
            ),
        ).alias("clean_text"),
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution,
    H = ln(n) − (Σ c·ln c)/n — the information-density quality signal
    (low entropy ⇒ repetitive/template text, the Gopher-family screen
    orthogonal to the LM-score filters). Exact integer counts feed ln;
    only the final value is floor-truncated (engine-parity rule).

    One explode + per-(doc,token) count + per-doc fold: two shuffles on
    the doc key, no corpus-level state at all — embarrassingly linear."""
    counts = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    scale = 10 ** round_to
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
            (
                F.floor(
                    (
                        F.log(F.sum("__c"))
                        - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c")
                    )
                    * scale
                )
                / scale
            ).alias("entropy"),
        )
    )
