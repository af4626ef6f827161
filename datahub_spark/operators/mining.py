"""Contrastive training-pair mining for embedding models.

A retrieval/embedding model trains on (anchor, positive, negatives)
triples. At corpus scale the standard recipe (DPR, Karpukhin et al.
2020; E5, Wang et al. 2022) mines them from the corpus itself:
near-duplicate documents make natural positives (same content, surface
variation), and HARD negatives — documents the current embedding space
ranks close but that are NOT duplicates — teach the margin that random
negatives never exercise.

This composes three already-verified operators, all bucketed (no
all-pairs anywhere):
  * positives   = MinHash-LSH candidate pairs on the text (dedup.py),
  * hard negs   = per-anchor approximate nearest neighbors from the
                  embedding table (similarity.ann_lsh — an equi-join
                  on hyperplane buckets, so the anchor side may be the
                  whole corpus), minus self and positives,
  * assembly    = one keyed aggregation per anchor.
Everything is deterministic: seeded planes, exact fixed-point scores,
rank tie-breaks on id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT


def mine_contrastive_pairs(docs: DataFrame, embeddings: DataFrame,
                           k_neg: int = 4, n_probe_rank: int = 16,
                           id_col: str = "doc_id", text_col: str = "text",
                           vec_id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           minhash_k: int = 12, shingle_n: int = 3,
                           bands: int = 4, rows_per_band: int = 3,
                           lsh_planes: int = 6, lsh_bands: int = 4,
                           dim: int = 64, seed: int = 42) -> DataFrame:
    """(anchor_id, positive_id, negative_ids) rows: one per mined
    positive pair (both directions), with up to ``k_neg`` hard
    negatives shared per anchor. Anchors without any positive are
    dropped (nothing to contrast); anchors whose ANN neighborhood is
    all positives/self get fewer (possibly zero) negatives rather than
    silently padded random ones — pad downstream if the trainer needs
    exactly k.

    ``n_probe_rank`` is the ANN depth mined per anchor before
    exclusions; raise it when duplicates are dense. The embedding
    table's ids must be the document ids."""
    from datahub_spark.operators import dedup as DD
    from datahub_spark.operators import similarity as SIM

    sig = DD.minhash_signature(docs, k=minhash_k, n=shingle_n,
                               text_col=text_col, id_col=id_col)
    pairs = DD.lsh_candidates(sig, bands=bands,
                              rows_per_band=rows_per_band, id_col=id_col)
    # materialize ONCE: three consumers (the ANN anchor set, the
    # positive-exclusion anti-join, the final assembly) would each
    # re-execute the whole shingle -> minhash -> banding pipeline
    # behind this small pair table (two longs per mined pair)
    pos = LT.checkpoint(
        pairs.select(F.col("id_a").alias("anchor_id"),
                     F.col("id_b").alias("positive_id"))
        .unionByName(
            pairs.select(F.col("id_b").alias("anchor_id"),
                         F.col("id_a").alias("positive_id"))))

    anchors = pos.select(F.col("anchor_id").alias(vec_id_col)).distinct() \
        .join(embeddings, vec_id_col)
    nn = SIM.ann_lsh(anchors, embeddings, k=n_probe_rank,
                     n_planes=lsh_planes, dim=dim, seed=seed,
                     bands=lsh_bands,
                     id_col=vec_id_col, vec_col=vec_col) \
        .select(F.col("query_id").alias("anchor_id"),
                F.col("neighbor_id"), "rank")
    # a neighbor that is a positive of the anchor is NOT a negative
    negs = (nn.join(pos.withColumnRenamed("positive_id", "neighbor_id"),
                    ["anchor_id", "neighbor_id"], "left_anti")
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy("anchor_id")
                .orderBy("rank", "neighbor_id")))
            .filter(F.col("_rn") <= int(k_neg))
            .groupBy("anchor_id")
            .agg(F.array_sort(F.collect_list("neighbor_id"))
                 .alias("negative_ids")))
    return (pos.join(negs, "anchor_id", "left")
            .withColumn("negative_ids",
                        F.coalesce(F.col("negative_ids"),
                                   F.array().cast("array<long>")))
            .select("anchor_id", "positive_id", "negative_ids"))
