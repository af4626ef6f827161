"""BPE tokenizer training + encoding over a document corpus.

The missing piece between corpus cleaning and token counting: actually
TRAINING the subword vocabulary on the cleaned corpus (Sennrich et al.
2016 — the byte-pair-encoding merge procedure GPT-2/LLaMA-family
tokenizers descend from), Spark-first:

* ``train_bpe`` — the corpus collapses to its WORD VOCABULARY first
  (one explode + HashAggregate; distinct words are bounded — millions —
  regardless of corpus size, which is what makes corpus-scale BPE
  tractable: 100 TB of text becomes a few-hundred-MB weighted vocab).
  Each merge round is then (a) one pair-count aggregation over adjacent
  symbol pairs weighted by word count — map-side partials, built-ins
  only — and (b) a leftmost-greedy adjacent-pair rewrite of the symbol
  arrays, expressed as a single ``F.aggregate`` fold (no Python in the
  plan). One driver-collected row per round (the argmax pair — the
  intrinsic sequential dependency of BPE), lineage truncated per round
  with localCheckpoint exactly like connected_components.
* ``encode_bpe`` — applying a trained merge table to text is per-string
  imperative work (merge-rank loops), so it runs as the documented slow
  path: the ranks dict rides to executors inside an Arrow-batched
  ``mapInPandas``; everything around it stays JVM-side.

Determinism: ties on pair count break lexicographically, so the merge
sequence is a pure function of the corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT

END = "</w>"  # end-of-word marker (Sennrich §3.2)


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """corpus -> (symbols array<string>, n) weighted word vocabulary;
    symbols start as characters + the end-of-word marker."""
    from datahub_spark.operators.text import words

    w = (df.select(F.explode(words(F.col(text_col))).alias("word"))
         .filter(F.col("word") != "")
         .groupBy("word")
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return w.select(
        F.concat(F.split(F.col("word"), ""),
                 F.array(F.lit(END))).alias("symbols"),
        "n")


def _adjacent_pairs(symbols):
    """array<string> -> array<struct<a,b>> of adjacent pairs."""
    n = F.size(symbols)
    return F.when(
        n >= 2,
        F.zip_with(F.slice(symbols, 1, n - 1),
                   F.slice(symbols, F.lit(2), n - 1),
                   lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _merge_pair(symbols, a: str, b: str):
    """Leftmost-greedy non-overlapping merge of adjacent (a, b) into
    a+b — one F.aggregate fold: the accumulator carries the rewritten
    prefix plus one pending symbol."""
    merged = a + b
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
        F.lit(False).alias("has"),
    )

    def step(acc, s):
        hit = acc["has"] & (acc["pend"] == F.lit(a)) & (s == F.lit(b))
        return F.when(hit, F.struct(
            F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
            F.lit(None).cast("string").alias("pend"),
            F.lit(False).alias("has"),
        )).otherwise(F.struct(
            F.when(acc["has"],
                   F.concat(acc["out"], F.array(acc["pend"])))
            .otherwise(acc["out"]).alias("out"),
            s.alias("pend"),
            F.lit(True).alias("has"),
        ))

    def finish(acc):
        return F.when(acc["has"],
                      F.concat(acc["out"], F.array(acc["pend"]))) \
            .otherwise(acc["out"])

    return F.aggregate(symbols, acc0, step, finish)


def train_bpe(df: DataFrame, text_col: str = "text", n_merges: int = 50,
              min_pair_count: int = 2) -> list[dict]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge table ``[{"a", "b", "merged", "count"}, ...]`` —
    stops early when no adjacent pair reaches ``min_pair_count``."""
    vocab = LT.checkpoint(_word_vocab(df, text_col))
    merges: list[dict] = []
    try:
        for _ in range(n_merges):
            best = (vocab
                    .select(F.explode(_adjacent_pairs(F.col("symbols")))
                            .alias("p"), "n")
                    .groupBy("p.a", "p.b")
                    .agg(F.sum("n").alias("cnt"))
                    .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                    .limit(1)
                    .collect())
            if not best or best[0]["cnt"] < min_pair_count:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
            merges.append({"a": a, "b": b, "merged": a + b, "count": cnt})
            prev, vocab = vocab, LT.checkpoint(vocab.select(
                _merge_pair(F.col("symbols"), a, b).alias("symbols"), "n"))
            LT.free(prev)
    finally:
        LT.free(vocab)
    return merges


def encode_bpe(df: DataFrame, merges: list[dict], text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Tokenize the corpus with a trained merge table ->
    ``(id, tokens array<string>, n_tokens)``. The rank-ordered merge
    loop is per-word imperative, so it runs Arrow-batched inside
    mapInPandas (the documented slow-path contract); the merge table is
    a closure constant shipped once per task."""
    ranks = {(m["a"], m["b"]): i for i, m in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [END]
        while len(syms) >= 2:
            pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
            cand = min((ranks[p] for p in pairs if p in ranks), default=None)
            if cand is None:
                break
            a, b = merges[cand]["a"], merges[cand]["b"]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = []
            for text in pdf["text"]:
                words_ = " ".join(str(text).lower().split()).split(" ")
                doc = []
                for w in words_:
                    if w:
                        doc.extend(encode_word(w))
                toks.append(doc)
            yield pd.DataFrame({"id": pdf["id"], "tokens": toks,
                                "n_tokens": [len(t) for t in toks]})

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return src.mapInPandas(
        run, schema="id long, tokens array<string>, n_tokens long")


def bpe_vocab(df: DataFrame, merges: list[dict],
              text_col: str = "text") -> dict[str, int]:
    """Token -> id table for a trained merge list: id 0 is reserved for
    <unk>, then the corpus's distinct characters + the end-of-word
    marker (sorted — deterministic), then the merged tokens in merge
    order (their rank IS their position, the GPT-2 convention). One
    explode + distinct over single characters — bounded by the
    alphabet, not the corpus."""
    from datahub_spark.operators.text import normalize

    chars = sorted(
        r["c"] for r in df.select(
            F.explode(F.split(normalize(F.col(text_col)), "")).alias("c"))
        .filter(F.col("c") != "").distinct().collect()
        if r["c"] != " ")
    vocab = {"<unk>": 0}
    for c in chars + [END]:
        vocab.setdefault(c, len(vocab))
    for m in merges:
        vocab.setdefault(m["merged"], len(vocab))
    return vocab


def encode_bpe_ids(df: DataFrame, merges: list[dict],
                   vocab: dict[str, int], text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Training-ready tokenization: ``(id, token_ids array<int>,
    n_tokens)`` — the string tokens of encode_bpe mapped through the
    vocab (unknown symbols -> 0/<unk>). Same Arrow-batched execution;
    compose with export.export_shards for tokenized training shards."""
    tokens = encode_bpe(df, merges, text_col, id_col)
    unk = vocab.get("<unk>", 0)
    lookup = dict(vocab)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [[lookup.get(t, unk) for t in toks]
                   for toks in pdf["tokens"]]
            yield pd.DataFrame({"id": pdf["id"], "token_ids": ids,
                                "n_tokens": pdf["n_tokens"]})

    return tokens.mapInPandas(
        run, schema="id long, token_ids array<int>, n_tokens long")
