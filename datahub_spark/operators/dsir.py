"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
distribution looks like a TARGET domain, the standard technique for
carving a domain-matched pretraining subset out of a web-scale corpus.

Spark-first shape:
  * featurization is one explode -> md5-bucket -> HashAggregate, linear
    in corpus tokens (md5, not a non-portable hash: every number here is
    reproducible in plain python, which is what the parity tests do);
  * both bucket models (target and raw) collapse to ``buckets`` rows —
    broadcastable regardless of corpus size — and the per-document
    log-likelihood-ratio weight is one broadcast join + one per-doc sum;
  * resampling uses the Gumbel-top-k trick with DETERMINISTIC noise
    derived from md5(id, seed): a reproducible weighted sample without
    replacement — no RNG, no partition-order dependence, stable under
    corpus growth (the same properties stratified_sample pins).

Weights are float (log-ratios), so cross-engine bit-exactness is not
claimed; correctness is pinned against a pure-python reference model
instead (test_dsir.py), the BPE precedent.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT
from datahub_spark.operators.text import words


def _ngram_buckets(col: Column, n: int, buckets: int) -> Column:
    """Hashed word n-grams of the normalized text -> array of bucket
    ids (md5-derived, python-reproducible)."""
    ws = words(col)
    size = F.size(ws)
    grams = F.when(
        size >= n,
        F.zip_with(F.slice(ws, 1, size - (n - 1)),
                   F.slice(ws, F.lit(n), size - (n - 1)),
                   lambda a, b: F.concat_ws(" ", a, b))
        if n == 2 else
        # greatest(..., 1): CASE branches are not guaranteed lazy, and
        # sequence(1, size-(n-1)) descends through 0 for short docs,
        # where slice(ws, 0, n) errors — the outer when() discards the
        # value either way
        F.transform(F.sequence(F.lit(1), F.greatest(size - (n - 1),
                                                    F.lit(1))),
                    lambda i: F.array_join(F.slice(ws, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        grams,
        lambda g: F.pmod(F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
                         .cast("long"), F.lit(buckets)),
    )


def bucket_model(df: DataFrame, text_col: str = "text", n: int = 2,
                 buckets: int = 10_000) -> DataFrame:
    """Hashed-n-gram bucket counts over a corpus: ``(bucket, count)``,
    at most ``buckets`` rows — the fitted feature distribution."""
    return (df.select(F.explode(_ngram_buckets(F.col(text_col), n, buckets))
                      .alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("count")))


def dsir_weights(raw: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n: int = 2, buckets: int = 10_000,
                 alpha: float = 1.0,
                 ordered_fold: bool = False) -> DataFrame:
    """Per-document importance weight: sum over the doc's hashed
    n-grams of ``ln p_target(bucket) - ln p_raw(bucket)`` with
    Laplace-``alpha`` smoothing on both models. Positive = looks more
    like the target domain than the raw corpus.

    Both models are (<= buckets)-row frames joined BROADCAST onto the
    exploded raw corpus; the weight is one per-doc sum. Docs without
    n-grams weigh 0.

    ``ordered_fold=True`` makes the per-document float sum
    DETERMINISTIC and cross-engine reproducible (the graded-key
    contract): per-(doc, bucket) counts first (exact), then
    count * llr contributions folded in sorted-bucket order via
    aggregate over array_sort — the BM25 fold recipe; the default
    plain SUM is cheaper (one aggregate) but its float addition order
    follows the shuffle schedule."""
    # checkpoint the (<= buckets)-row models, stored by the totals
    # below: each corpus is featurized and scanned exactly ONCE — the
    # totals are sums over the models (every n-gram lands in some
    # bucket), not extra full-corpus passes. The result reads both.
    tgt = LT.checkpoint(bucket_model(target, text_col, n, buckets)
                        .select("bucket", F.col("count").alias("tc")),
                        eager=False)
    rawm = LT.checkpoint(bucket_model(raw, text_col, n, buckets)
                         .select("bucket", F.col("count").alias("rc")),
                         eager=False)
    t_total = tgt.agg(F.sum("tc")).collect()[0][0] or 0
    r_total = rawm.agg(F.sum("rc")).collect()[0][0] or 0
    t_den = float(t_total + alpha * buckets)
    r_den = float(r_total + alpha * buckets)

    llr_table = (
        tgt.join(rawm, "bucket", "full")
        .select(
            "bucket",
            (F.log((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(alpha))
                   / F.lit(t_den))
             - F.log((F.coalesce(F.col("rc"), F.lit(0)) + F.lit(alpha))
                     / F.lit(r_den))).alias("llr"),
        )
    )
    # buckets absent from BOTH corpora share one constant llr
    default_llr = math.log(alpha / t_den) - math.log(alpha / r_den)
    exploded = raw.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_ngram_buckets(F.col(text_col), n, buckets))
        .alias("bucket"))
    if ordered_fold:
        per_bucket = exploded.groupBy("id", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n"))
        contrib = F.when(F.col("bucket").isNull(), F.lit(0.0)).otherwise(
            F.col("n").cast("double")
            * F.coalesce(F.col("llr"), F.lit(default_llr)))
        return (
            per_bucket.join(F.broadcast(llr_table), "bucket", "left")
            .select("id", "bucket", contrib.alias("c"))
            .groupBy("id")
            .agg(F.aggregate(
                F.array_sort(F.collect_list(F.struct("bucket", "c"))),
                F.lit(0.0), lambda acc, x: acc + x["c"]).alias("weight"))
            .select("id", F.coalesce("weight", F.lit(0.0)).alias("weight"))
        )
    return (
        exploded.join(F.broadcast(llr_table), "bucket", "left")
        .groupBy("id")
        .agg(F.sum(F.when(F.col("bucket").isNull(), F.lit(0.0))
                   .otherwise(F.coalesce(F.col("llr"),
                                         F.lit(default_llr))))
             .alias("weight"))
        .select("id", F.coalesce("weight", F.lit(0.0)).alias("weight"))
    )


def gumbel_key(id_col: Column, seed: int = 42) -> Column:
    """Deterministic Gumbel noise per id: u = (md5-derived 60-bit int
    + 0.5) / 2^60, g = -ln(-ln u). Reproducible everywhere."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", id_col.cast("string"), F.lit(str(seed)))),
        1, 15), 16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 60))
    return -F.log(-F.log(u))


def dsir_resample(raw: DataFrame, weights: DataFrame, n_keep: int,
                  id_col: str = "doc_id", seed: int = 42,
                  temperature: float = 1.0) -> DataFrame:
    """Weighted sampling WITHOUT replacement via deterministic
    Gumbel-top-k: keep the ``n_keep`` docs with the largest
    ``weight / temperature + gumbel(id, seed)``. orderBy().limit()
    compiles to TakeOrderedAndProject — a distributed partial top-k,
    never a full sort. Reproducible: same corpus + seed = same sample;
    growing the corpus only adds candidates."""
    keyed = weights.select(
        F.col("id").alias(id_col),
        (F.col("weight") / F.lit(float(temperature))
         + gumbel_key(F.col("id"), seed)).alias("_key"))
    kept = keyed.orderBy(F.desc("_key"), F.col(id_col)) \
        .limit(int(n_keep)).select(id_col)
    return raw.join(kept, id_col)
