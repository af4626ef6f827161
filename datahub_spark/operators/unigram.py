"""Unigram-LM subword tokenizer (SentencePiece-style) over a corpus.

The second canonical subword family next to BPE (Kudo 2018, "Subword
Regularization" — the unigram language model SentencePiece/T5/mT5/LLaMA
tokenizers use), Spark-first with the same scale contract as
``operators/bpe.py``:

* ``train_unigram`` — the corpus collapses to its WEIGHTED WORD
  VOCABULARY first (one explode + HashAggregate; distinct words are
  bounded regardless of corpus size). Seeding then explodes each
  distinct word's substrings up to ``max_piece_len`` (per-word work is
  O(len · max_piece_len), bounded) into one piece-count aggregate and
  keeps the most frequent pieces. Each EM round is ONE Arrow-batched
  pass over the distinct-word table (the piece table rides along as a
  broadcast-sized closure constant) producing per-word Viterbi
  segmentations, followed by ONE piece-count HashAggregate; the
  re-estimated probabilities are collected to the driver (bounded by
  the piece vocabulary, never the corpus). Hard-EM (Viterbi counts
  rather than full forward-backward expectations) is a documented
  simplification — the lattice, probabilities, and pruning are the real
  unigram-LM structure.
* ``encode_unigram`` — Viterbi segmentation of text under the trained
  piece log-probabilities; per-string imperative DP, so it runs as the
  documented Arrow-batched ``mapInPandas`` slow path exactly like
  ``encode_bpe``.

Determinism: piece-count ties break lexicographically everywhere and
the EM arithmetic is plain float64 evaluated in a fixed order per word,
so the trained vocabulary is a pure function of the corpus. (Float
log-probs are inherent to unigram LMs — SentencePiece itself is float —
unlike the integer-exact text.py signals.)
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """corpus -> (word, n) weighted distinct-word table."""
    from datahub_spark.operators.text import words

    return (df.select(F.explode(words(F.col(text_col))).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def _substring_counts(vocab: DataFrame, max_piece_len: int) -> DataFrame:
    """(word, n) -> (piece, cnt): every substring of every distinct word
    up to ``max_piece_len`` chars, weighted by word count. Built-ins
    only — a nested transform over (start, len) index sequences, then
    one explode + HashAggregate; per-word fan-out is bounded by
    len(word) · max_piece_len."""
    L = int(max_piece_len)
    wlen = F.length(F.col("word"))
    pieces = F.flatten(F.transform(
        F.sequence(F.lit(1), wlen),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(L), wlen - i + 1)),
            lambda ln: F.substring(F.col("word"), i, ln)),
    ))
    return (vocab.select(F.explode(pieces).alias("piece"), "n")
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt")))


def _viterbi(word: str, logp: dict[str, float], max_len: int,
             unk_logp: float) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs. Unknown
    single characters are admitted at ``unk_logp`` so every word is
    segmentable. O(len · max_len) DP; ties resolve toward the EARLIER
    split point (fixed iteration order), keeping results deterministic."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for end in range(1, n + 1):
        for start in range(max(0, end - max_len), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start > 1:
                    continue
                lp = unk_logp
            cand = best[start] + lp
            if cand > best[end]:
                best[end] = cand
                back[end] = start
    out, end = [], n
    while end > 0:
        start = back[end]
        out.append(word[start:end])
        end = start
    return out[::-1]


def _segment_counts(words_df: DataFrame, logp: dict[str, float],
                    max_piece_len: int) -> DataFrame:
    """One distributed hard-EM E-step: Viterbi-segment every distinct
    word (Arrow-batched; ``logp`` ships once per task as a closure
    constant — bounded by the piece vocabulary) and aggregate piece
    counts weighted by word count."""
    max_len = int(max_piece_len)
    unk = min(logp.values(), default=0.0) - 10.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "pieces": [_viterbi(w, logp, max_len, unk)
                           for w in pdf["word"]],
                "n": pdf["n"],
            })

    segged = words_df.mapInPandas(run, schema="pieces array<string>, n long")
    return (segged.select(F.explode("pieces").alias("piece"), "n")
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt")))


def _to_logp(counts: dict[str, int]) -> dict[str, float]:
    total = float(sum(counts.values()))
    return {p: math.log(c / total) for p, c in counts.items() if c > 0}


def train_unigram(df: DataFrame, text_col: str = "text",
                  vocab_size: int = 8000, *, max_piece_len: int = 4,
                  em_rounds: int = 2,
                  seed_size: int | None = None) -> list[dict]:
    """Learn a unigram-LM piece vocabulary from the corpus. Returns
    ``[{"piece", "count", "logprob"}, ...]`` sorted by falling count
    (lexicographic tie-break), at most ``vocab_size`` entries, always
    containing every single character seen (so any word stays
    encodable). ``seed_size`` (default ``4 * vocab_size``) bounds the
    candidate table between seeding and pruning."""
    if seed_size is None:
        seed_size = 4 * int(vocab_size)
    words_df = LT.checkpoint(_word_vocab(df, text_col))
    try:
        # -- seed: most frequent substrings (chars always kept) --------
        subs = _substring_counts(words_df, max_piece_len)
        top = (subs.orderBy(F.desc("cnt"), F.asc("piece"))
               .limit(int(seed_size)).collect())
        chars = subs.filter(F.length("piece") == 1).collect()
        counts = {r["piece"]: int(r["cnt"]) for r in top}
        for r in chars:
            counts.setdefault(r["piece"], int(r["cnt"]))
        logp = _to_logp(counts)

        # -- hard-EM rounds --------------------------------------------
        char_counts = {r["piece"]: int(r["cnt"]) for r in chars}
        for _ in range(int(em_rounds)):
            seg = _segment_counts(words_df, logp, max_piece_len).collect()
            counts = {r["piece"]: int(r["cnt"]) for r in seg}
            # characters the Viterbi path stopped using stay at epsilon
            # weight so unknown-free encodability is preserved
            for c, cc in char_counts.items():
                counts.setdefault(c, 0)
            logp = _to_logp({p: max(c, 1) for p, c in counts.items()})
    finally:
        LT.free(words_df)

    # -- prune to vocab_size: top by count, chars protected ------------
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    kept: dict[str, int] = {}
    for piece, cnt in ranked:
        if len(kept) >= int(vocab_size):
            break
        kept[piece] = cnt
    for c, cc in char_counts.items():
        kept.setdefault(c, 0)
    logp = _to_logp({p: max(c, 1) for p, c in kept.items()})
    return [{"piece": p, "count": c, "logprob": logp[p]}
            for p, c in sorted(kept.items(),
                               key=lambda kv: (-kv[1], kv[0]))]


def encode_unigram(df: DataFrame, model: list[dict],
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Tokenize the corpus with a trained unigram model ->
    ``(id, tokens array<string>, n_tokens)``: per-word Viterbi under the
    model's log-probs, Arrow-batched (the documented slow-path contract,
    same as encode_bpe); the model ships once per task."""
    logp = {m["piece"]: float(m["logprob"]) for m in model}
    max_len = max((len(m["piece"]) for m in model), default=1)
    unk = min(logp.values(), default=0.0) - 10.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = []
            for text in pdf["text"]:
                doc: list[str] = []
                for w in " ".join(str(text).lower().split()).split(" "):
                    if w:
                        doc.extend(_viterbi(w, logp, max_len, unk))
                toks.append(doc)
            yield pd.DataFrame({"id": pdf["id"], "tokens": toks,
                                "n_tokens": [len(t) for t in toks]})

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return src.mapInPandas(
        run, schema="id long, tokens array<string>, n_tokens long")


def unigram_vocab(model: list[dict]) -> dict[str, int]:
    """Piece -> id table: 0 reserved for <unk>, then the model's pieces
    in model order (falling count, lexicographic ties — deterministic)."""
    vocab = {"<unk>": 0}
    for m in model:
        vocab.setdefault(m["piece"], len(vocab))
    return vocab
