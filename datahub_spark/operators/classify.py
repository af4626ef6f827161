"""Trainable Naive-Bayes quality classifier — the "quality classifier"
stage of the published LLM data recipes (GPT-3's WebText-vs-CommonCrawl
logistic filter, app. A of arXiv:2005.14165; CCNet's fastText LID+
quality stages, arXiv:1911.00359; LLaMA's Wikipedia-reference
classifier) re-expressed as a multinomial Naive Bayes with Laplace
smoothing (the classic generative text classifier, McCallum & Nigam
1998) — chosen over SGD-trained linear models because its training IS
a counting aggregation, which Spark executes as one explode +
HashAggregate with map-side partials: embarrassingly parallel at any
corpus size, no iterative driver loop.

Model = per-token log-likelihood ratios quantized to e4 fixed-point
integers, bounded to ``vocab_size`` rows — broadcastable. Scoring =
one explode + broadcast join + one per-doc sum: the same plan shape as
corpus_frequency_features (text.py), linear in corpus tokens, a single
keyed shuffle.

Quantization rationale: float log-probs are kept OUT of the scoring
path (the e4 integers are computed once at training time); per-doc
scores are integer sums, so scoring is deterministic and engine-
portable regardless of libm differences. Training's own ln() runs in
the JVM once per vocab row; parity tests allow the last-ulp unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datahub_spark import lifetime as LT
from datahub_spark.operators.text import words

E4 = 10_000


def train_quality_classifier(positive: DataFrame, negative: DataFrame,
                             text_col: str = "text",
                             vocab_size: int = 50_000,
                             alpha: int = 1) -> DataFrame:
    """Fit the model: ``(token, llr_e4)`` with
    ``llr = ln P(token|pos) - ln P(token|neg)`` under Laplace-``alpha``
    smoothing, quantized to e4. ``positive`` is the seed corpus of
    wanted documents (e.g. a Wikipedia/books sample), ``negative`` the
    unwanted one (e.g. raw crawl).

    Scale shape: the two corpora union into ONE explode + ONE
    HashAggregate keyed by token (map-side partials; state bounded by
    distinct tokens, not corpus size); ``vocab_size`` keeps the model
    broadcastable via TakeOrderedAndProject (no full sort). Class
    totals come from the already-aggregated table — one driver-bounded
    aggregate, no second corpus scan."""
    def _toks(df: DataFrame, label: int) -> DataFrame:
        return (df.select(F.explode(words(F.col(text_col))).alias("token"))
                .filter(F.col("token") != "")
                .withColumn("label", F.lit(label)))

    counts = (_toks(positive, 1).unionByName(_toks(negative, 0))
              .groupBy("token")
              .agg(F.sum("label").cast("long").alias("pc"),
                   F.sum(1 - F.col("label")).cast("long").alias("nc")))
    counts = LT.checkpoint(
        counts.orderBy(F.desc(F.col("pc") + F.col("nc")), F.asc("token"))
        .limit(int(vocab_size))
        # the top-k result is small; one partition keeps every
        # downstream read of the model a single-task scan
        .coalesce(1))
    tot = counts.agg(F.sum("pc").alias("P"), F.sum("nc").alias("N"),
                     F.count(F.lit(1)).alias("V")).first()
    a = int(alpha)
    p_den = float(tot["P"] + a * tot["V"])
    n_den = float(tot["N"] + a * tot["V"])
    return counts.select(
        "token",
        F.round(F.lit(E4) * (
            F.log((F.col("pc") + a) / F.lit(p_den))
            - F.log((F.col("nc") + a) / F.lit(n_den))
        )).cast("long").alias("llr_e4"))


def classifier_features(df: DataFrame, model: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        prior_e4: int = 0) -> DataFrame:
    """Score documents: ``(id, n_scored, score_e4, keep)`` where
    score_e4 = prior_e4 + sum of llr_e4 over in-vocabulary tokens and
    ``keep`` = score_e4 > 0 (the classifier's positive side). Tokens
    outside the model vocabulary contribute 0 (both classes explain
    them equally under the capped vocabulary). Documents with no
    in-vocabulary tokens score exactly ``prior_e4``.

    Plan: explode (linear) -> BROADCAST join against the bounded model
    -> one per-doc HashAggregate -> broadcast-joinable result; the only
    corpus-wide shuffle is the per-doc groupBy."""
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(words(F.col(text_col))).alias("token")) \
             .filter(F.col("token") != "")
    scored = (toks.join(F.broadcast(model), "token", "left")
              .groupBy("id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                   F.count("llr_e4").cast("long").alias("n_scored"),
                   F.sum(F.coalesce(F.col("llr_e4"), F.lit(0)))
                   .cast("long").alias("sum_llr_e4")))
    out = (df.select(F.col(id_col).alias("id"))
           .join(scored, "id", "left")
           .select(
               "id",
               F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
               F.coalesce("n_scored", F.lit(0)).alias("n_scored"),
               (F.coalesce("sum_llr_e4", F.lit(0)) + F.lit(int(prior_e4)))
               .cast("long").alias("score_e4")))
    return out.withColumn("keep", F.col("score_e4") > 0)


def classifier_filter(df: DataFrame, model: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      prior_e4: int = 0,
                      threshold_e4: int = 0) -> DataFrame:
    """Keep documents the classifier scores above ``threshold_e4`` —
    the composable stage shape clean_corpus uses (one semi-join back
    to the full rows, preserving every input column)."""
    kept = classifier_features(df, model, text_col, id_col, prior_e4) \
        .filter(F.col("score_e4") > int(threshold_e4)).select("id")
    return df.join(kept.withColumnRenamed("id", id_col),
                   id_col, "left_semi")
