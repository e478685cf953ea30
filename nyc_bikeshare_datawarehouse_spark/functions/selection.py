"""Model-light data selection for pre-training corpora.

Three public-literature selection methods the engine exposes as
first-class operators, all built from joins + aggregates over hashed
token features (no ML runtime, no Python in the row path):

- `dsir_weights` — Data Selection with Importance Resampling (Xie et
  al. 2023): per-document importance weight of a TARGET distribution
  over the RAW distribution under a hashed-bigram bag-of-features model.
- `nb_quality_scores` — multinomial Naive Bayes log-odds scorer (the
  classic fasttext-style quality-classifier shape reduced to exact
  count arithmetic): train on rule-labeled documents, score held-out
  documents.
- `perplexity_buckets` — CCNet-style head/middle/tail bucketing (Wenzek
  et al. 2019): per-language terciles over the corpus-self bigram LM
  score from functions/text.py.

Scale shape shared by all three: model state is FEATURE-space-sized
(hash buckets / vocabulary), built with one groupBy over the exploded
feature stream (map-side partial aggs), then re-joined to occurrences on
the feature key — broadcastable whenever the model fits, AQE-skew-split
otherwise. Per-document reductions are one further groupBy(id). Nothing
is ever corpus-quadratic and the driver never materializes data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.functions.text import bigram_logprob, tokens, with_tokens


def _trunc(col, decimals: int):
    scale = 10 ** decimals
    return F.floor(col * scale) / scale


def _bigram_buckets(text_col: str, n_buckets: int, salt: str = "dsir") -> Column:
    """Hashed-bigram feature stream: adjacent-token pairs mapped to
    `n_buckets` ints via the portable md5-prefix hash (the
    `_salted_token_hashes` idiom — replayable in any engine with md5);
    the text is tokenized once per row (`with_tokens`)."""
    grams = with_tokens(
        text_col,
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.transform(
        grams,
        lambda g: F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + ":"), g)), 1, 8), 16, 10
        ).cast("long")
        % n_buckets,
    )


def dsir_weights(
    df: DataFrame,
    is_target: Column,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, public): score every
    document by how much more likely its hashed-bigram features are
    under the target slice than under the rest of the corpus,

        w(doc) = Σ_occurrences ln( p_target(bucket) / p_raw(bucket) )

    with Laplace-smoothed bucket probabilities. High-weight documents
    are the ones importance resampling would keep to shift the corpus
    toward the target domain.

    Returns (id, is_target, n_feats, weight) for every document with at
    least one feature; weight is floor-truncated so a hash oracle can
    replay it (ln inputs are exact-integer-derived, the
    q_unigram_logprob precedent).

    Scale: bucket stats are `n_buckets` rows — always broadcastable; the
    corpus shuffles once to explode features and once for the per-doc
    sum. 100 TB-safe by construction."""
    feats = df.select(
        F.col(id_col),
        is_target.alias("__tgt"),
        F.explode(_bigram_buckets(text_col, n_buckets)).alias("__b"),
    )
    stats = feats.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).cast("double").alias("__ct"),
        F.count(F.lit(1)).cast("double").alias("__call"),
    )
    # totals derive from the bucket stats (Σ over 256 rows), NOT from a
    # second corpus pass — one fewer full scan+explode at any size
    totals = stats.agg(
        F.sum("__ct").alias("__Tt"),
        F.sum("__call").alias("__Tall"),
    )
    # raw = the NON-target remainder, so the two distributions are disjoint
    ratio = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            F.log(
                ((F.col("__ct") + 1) / (F.col("__Tt") + n_buckets))
                / (
                    (F.col("__call") - F.col("__ct") + 1)
                    / (F.col("__Tall") - F.col("__Tt") + n_buckets)
                )
            ).alias("__r"),
        )
    )
    return (
        feats.join(F.broadcast(ratio), "__b")
        .groupBy(id_col, "__tgt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            _trunc(F.sum("__r"), round_to).alias("weight"),
        )
        .select(id_col, F.col("__tgt").alias("is_target"), "n_feats", "weight")
    )


def nb_quality_scores(
    train: DataFrame,
    score: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Multinomial Naive Bayes log-odds quality scorer: train per-token
    class counts on `train` documents labeled by the `label` predicate
    (evaluated against train's columns), then score `score` documents as

        s(doc) = ln(P(1)/P(0)) + Σ_tok [ ln p(tok|1) - ln p(tok|0) ]

    with add-one smoothing over the train vocabulary. Tokens unseen in
    training contribute the smoothed-zero constant ln((N0+V)/(N1+V)).
    Positive score ⇒ the document looks like class 1.

    The model is vocabulary-sized (one groupBy over train tokens) and
    broadcast to the scoring join; doc priors ride a 1-row broadcast.
    This is the exact-arithmetic core of a fasttext-style quality filter
    — swap the rule label for human labels and the plan is unchanged."""
    ttoks = train.select(
        F.col(id_col), label.alias("__y"), F.explode(tokens(text_col)).alias("__tok")
    )
    model = ttoks.groupBy("__tok").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("double").alias("__c1"),
        F.sum(F.when(~F.col("__y"), 1).otherwise(0)).cast("double").alias("__c0"),
    )
    consts = (
        ttoks.agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("double").alias("__N1"),
            F.sum(F.when(~F.col("__y"), 1).otherwise(0)).cast("double").alias("__N0"),
            F.count_distinct(F.col("__tok")).cast("double").alias("__V"),
            F.count_distinct(F.when(F.col("__y"), F.col(id_col))).cast("double").alias("__d1"),
            F.count_distinct(F.when(~F.col("__y"), F.col(id_col))).cast("double").alias("__d0"),
        )
    )
    stoks = score.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    scored = (
        stoks.join(F.broadcast(model), "__tok", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.coalesce(F.col("__c1"), F.lit(0.0)) + 1)
                    / (F.col("__N1") + F.col("__V"))
                )
                - F.log(
                    (F.coalesce(F.col("__c0"), F.lit(0.0)) + 1)
                    / (F.col("__N0") + F.col("__V"))
                )
            ).alias("__llr"),
            F.log(F.col("__d1") / F.col("__d0")).alias("__prior"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        _trunc(F.first("__prior") + F.sum("__llr"), round_to).alias("nb_score"),
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail partitioning (Wenzek et al. 2019, public):
    per-language quantile buckets over the corpus-self bigram LM score
    (functions/text.py `bigram_logprob` — higher = more fluent). Bucket
    1 = head (most fluent). Returns per (lang, bucket) membership stats;
    callers keep head/middle and drop tail, the published recipe.

    The tercile assignment is computed from the two-phase grouped rank
    (`two_phase_group_rank`): rows are numbered inside (lang,
    score-bucket) partitions in parallel, offsets prefix-summed over
    the bounded counts table, and the exact integer NTILE formula
    applied to (rank, total) — bucket membership identical to SQL
    NTILE at any scale, with no whole-language single-task window."""
    from nyc_bikeshare_datawarehouse_spark.operators.windows import (
        two_phase_group_rank,
    )

    scores = bigram_logprob(df, text_col=text_col, id_col=id_col)
    langs = df.select(F.col(id_col), F.col(lang_col))
    # NTILE over a whole language is the r01 single-task anti-pattern:
    # rank per language via the two-phase grouped form instead (rows
    # numbered within (lang, score-bucket) partitions; the prefix-sum
    # window runs over the bounded counts table only), then derive the
    # exact SQL NTILE assignment — first (n mod k) buckets one larger —
    # from (rank, group total) with integer arithmetic.
    ranked = two_phase_group_rank(
        scores.join(langs, id_col),
        [lang_col],
        bucket=F.floor(-F.col("avg_logprob") * 10000),
        order_by=[F.desc("avg_logprob"), F.col(id_col).asc()],
    )
    k = F.lit(n_buckets)
    r = F.col("__n") % k
    qd = F.floor(F.col("__n") / k).cast("long")
    big = (qd + 1) * r  # rows living in the (n mod k) larger buckets
    bucketed = ranked.withColumn(
        "bucket",
        F.when(
            F.col("__rn") <= big,
            F.floor((F.col("__rn") - 1) / (qd + 1)) + 1,
        )
        .otherwise(r + F.floor((F.col("__rn") - big - 1) / qd) + 1)
        .cast("int"),
    )
    return (
        bucketed.groupBy(lang_col, "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("avg_logprob").alias("min_lp"),
            F.max("avg_logprob").alias("max_lp"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        )
        .orderBy(lang_col, "bucket")
    )
