"""Full-text retrieval: BM25 scoring over a distributed inverted index.

The text-side counterpart of similarity.py's vector stack: build a
term -> postings index once, persist it parquet-partitioned by a term
hash bucket, and answer keyword queries by reading ONLY the query
terms' buckets (partition pruning — the same "touch 4/256ths of the
index" story as the IVF probe). Corpus selection pipelines use it to
pull topic slices ("find the medical docs") and to seed
quality-classifier positives from keyword sets.

Determinism: BM25 mixes exact integers (tf, df, dl, N) with IEEE
doubles (the ln in idf). Per-term scores are computed from exact
integer inputs in a fixed expression; the per-document SUM folds in a
DETERMINISTIC order (terms sorted, array fold — not a float SUM whose
shuffle order varies), so scores are bit-identical run to run and to
the pinned python reference model.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT
from datahub_spark.fsio import parquet_atomic_overwrite
from datahub_spark.operators.text import words


def build_text_index(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """(postings, doclens): postings = (term, doc_id, tf) from ONE
    explode + HashAggregate; doclens = (doc_id, dl). Normalized
    tokenization (text.words). Map-side partial counts; no sort."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(words(F.col(text_col))).alias("term")) \
        .filter(F.col("term") != "")
    postings = toks.groupBy("term", "doc_id") \
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    doclens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(words(F.col(text_col)), lambda w: w != ""))
        .cast("long").alias("dl"))
    return postings, doclens


def save_text_index(docs: DataFrame, path: str, buckets: int = 64,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> None:
    """Persist the inverted index partitioned by a term hash bucket
    (``pmod(xxhash64(term), buckets)``): a query's scan prunes to its
    terms' buckets only. Doc lengths + corpus stats land beside it."""
    postings, doclens = build_text_index(docs, text_col, id_col)
    (postings
     .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(buckets))
                 .cast("int"))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/postings"))
    # a full rebuild supersedes every incremental delta generation
    from datahub_spark.fsio import _fs

    spark = docs.sparkSession
    fs, deltas = _fs(spark, f"{path}/postings_delta")
    if fs.exists(deltas):
        fs.delete(deltas, True)
    doclens.write.mode("overwrite").parquet(f"{path}/doclens")
    stats = doclens.agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum("dl").alias("total_len"))
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def _bm25_score(k1: float, b: float, n_docs: int, total_len: int):
    """Per-(term, doc) BM25 score column from exact integer inputs.
    The tf normalization is an exact integer rational scaled through
    by 1000 * total_len (avgdl = total_len / n_docs stays rational):
      norm = tf*S / (tf*S + k1*S*(1-b) + k1*b*1000*dl*n_docs)
    with S = 1000 * total_len; idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    One IEEE divide + ln + multiply per posting, same fixed expression
    everywhere."""
    S = 1000 * int(total_len)
    c1 = int(round(k1 * S * (1 - b)))          # k1*(1-b) scaled
    c2 = int(round(k1 * b * 1000 * n_docs))    # k1*b*N scaled (per dl)
    num = F.col("tf") * F.lit(S)
    den = num + F.lit(c1) + F.lit(c2) * F.col("dl")
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    return idf * num.cast("double") / den.cast("double")


class Bm25Index:
    """Cached handle over a persisted index — the serving shape. Pays
    the stats read ONCE at open (the r8 bm25_search paid a stats
    collect per query), memoizes term->bucket hashes across calls, and
    scores N queries in ONE pass over ONE pruned postings scan
    (``search_many``) instead of N scans."""

    def __init__(self, spark, path: str, buckets: int = 64):
        self.spark, self.path, self.buckets = spark, path, int(buckets)
        self.n_docs, self.total_len = _read_stats(spark, path)
        self._bucket_of: dict[str, int] = {}

    def _buckets_for(self, terms: list[str]) -> list[int]:
        """term -> bucket via the SAME xxhash64 the writer used; one
        bounded Spark job per batch for the not-yet-cached terms."""
        missing = [t for t in terms if t not in self._bucket_of]
        if missing:
            for r in (self.spark.createDataFrame(
                    [(t,) for t in missing], "term string")
                    .select("term",
                            F.pmod(F.xxhash64("term"), F.lit(self.buckets))
                            .cast("int").alias("b")).collect()):
                self._bucket_of[r["term"]] = int(r["b"])
        return sorted({self._bucket_of[t] for t in terms})

    def search(self, query: list[str], k: int = 10,
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """Single-query top-k: (doc_id, score, n_terms)."""
        out = self.search_many({"q": query}, k, k1, b)
        return out.select("doc_id", "score", "n_terms") \
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())

    def search_many(self, queries: dict[str, list[str]], k: int = 10,
                    k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """Top-k per query in ONE pass: (query_id, doc_id, score,
        n_terms, rank). The postings scan is pruned to the UNION of
        the queries' buckets/terms (partition filter + pushed IN);
        per-term df aggregates once over the survivors (df is a term
        property, so sharing the scan cannot change it); a tiny
        broadcast (query_id, term) frame fans postings out to the
        queries that asked for each term; the per-(query, doc) fold
        runs in sorted-term order exactly like the single-query path,
        so ``search_many(qs)[q] == search(qs[q])`` bit-for-bit (pinned
        in test_retrieval.py). Per-query top-k is one rank window over
        (query_id), ties on doc_id."""
        norm: dict[str, list[str]] = {}
        for qid, q in queries.items():
            terms = sorted({t for t in (w.strip().lower() for w in q) if t})
            if not terms:
                raise ValueError(f"bm25: empty query {qid!r}")
            norm[qid] = terms
        all_terms = sorted({t for ts in norm.values() for t in ts})
        tb = self._buckets_for(all_terms)
        spark = self.spark
        post = (_read_postings(spark, self.path)
                .filter(F.col("bucket").isin(tb))
                .filter(F.col("term").isin(all_terms)))
        df_t = post.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df"))
        dl = _read_doclens(spark, self.path)
        qt = spark.createDataFrame(
            [(qid, t) for qid, ts in sorted(norm.items()) for t in ts],
            "query_id string, term string")
        scored = (post.join(F.broadcast(df_t), "term")
                  .join(dl, "doc_id")
                  .withColumn("_s", _bm25_score(k1, b, self.n_docs,
                                                self.total_len))
                  .join(F.broadcast(qt), "term"))
        per = (scored.groupBy("query_id", "doc_id")
               .agg(F.aggregate(
                   F.sort_array(F.collect_list(F.struct("term", "_s"))),
                   F.lit(0.0),
                   lambda acc, x: acc + x["_s"]).alias("score"),
                   F.count(F.lit(1)).cast("long").alias("n_terms")))
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc())
        return (per.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= int(k)))


def bm25_topk(docs: DataFrame, query: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k straight off a documents frame (no persisted index):
    build postings + doclens lazily, two bounded stats aggregates, then
    the exact scoring/fold/rank pipeline of the index path — the
    ad-hoc / graded-query surface. Returns (rank, doc_id, score,
    n_terms) with the same determinism contract as bm25_search (sorted
    -term fold, doc_id tie-break)."""
    terms = sorted({t for t in (w.strip().lower() for w in query) if t})
    if not terms:
        raise ValueError("bm25_topk: empty query")
    postings, doclens = build_text_index(docs, text_col, id_col)
    st = doclens.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("dl").alias("t")).collect()[0]
    n_docs, total_len = int(st["n"]), int(st["t"])
    post = postings.filter(F.col("term").isin(terms))
    df_t = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    scored = (post.join(F.broadcast(df_t), "term").join(doclens, "doc_id")
              .withColumn("_s", _bm25_score(k1, b, n_docs, total_len)))
    per_doc = (scored.groupBy("doc_id")
               .agg(F.aggregate(
                   F.sort_array(F.collect_list(F.struct("term", "_s"))),
                   F.lit(0.0),
                   lambda acc, x: acc + x["_s"]).alias("score"),
                   F.count(F.lit(1)).cast("long").alias("n_terms")))
    # ordered-limit FIRST (TakeOrderedAndProject — per-partition
    # partial top-k, no global sort), then rank the k survivors: the
    # unpartitioned row_number window only ever sees k rows
    top = per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc()) \
        .limit(int(k))
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "doc_id", "score", "n_terms"))


def bm25_search(spark, path: str, query: list[str], k: int = 10,
                k1: float = 1.2, b: float = 0.75,
                buckets: int = 64) -> DataFrame:
    """Top-k documents for a bag of query terms against a persisted
    index. Plan: the postings scan carries a ``bucket IN (...)``
    PARTITION filter + a pushed ``term IN (...)`` predicate (only the
    query terms' buckets are opened — pinned in test_retrieval.py);
    df per term is a tiny broadcast aggregate of the survivors; the
    per-doc sum folds term scores in sorted-term order (sort_array of
    structs -> aggregate), so the total is deterministic; final top-k
    is ordered-limit. Ties break on doc_id. One-shot convenience over
    ``Bm25Index`` — a serving loop should hold the handle instead."""
    return (Bm25Index(spark, path, buckets)
            .search(query, k, k1, b).limit(int(k)))


def bm25_reference_model(postings_rows, doclens_rows, query, k=10,
                         k1=1.2, b=0.75):
    """Driver-side reference: identical arithmetic, identical fold
    order. postings_rows = [(term, doc_id, tf)], doclens_rows =
    [(doc_id, dl)]. Returns [(doc_id, score, n_terms)] top-k."""
    terms = sorted({t for t in (w.strip().lower() for w in query) if t})
    dls = dict(doclens_rows)
    n_docs, total_len = len(dls), sum(dls.values())
    S = 1000 * total_len
    c1 = round(k1 * S * (1 - b))
    c2 = round(k1 * b * 1000 * n_docs)
    df = {}
    for t, d, tf in postings_rows:
        if t in terms:
            df[t] = df.get(t, 0) + 1
    per_doc: dict = {}
    for t, d, tf in postings_rows:
        if t not in terms:
            continue
        num = tf * S
        den = num + c1 + c2 * dls[d]
        idf = math.log(1.0 + (float(n_docs) - df[t] + 0.5) / (df[t] + 0.5))
        per_doc.setdefault(d, []).append((t, idf * float(num) / float(den)))
    out = []
    for d, pairs in per_doc.items():
        acc = 0.0
        for _, s in sorted(pairs):
            acc = acc + s
        out.append((d, acc, len(pairs)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _batch_keys(docs: DataFrame, id_col: str,
                text_col: str) -> tuple[str, str]:
    """(id_key, content_key): deterministic, order-insensitive keys of
    a batch — the id key over the doc-id SET (names the delta dir, so
    a straight retry is a no-op), the content key over the
    (id, md5(text)) set (detects a resubmission whose ids match but
    whose text changed, ADVICE r11). Both from ONE bounded aggregate
    (count + two sums of per-row md5-derived 60-bit ints) — never a
    collect of the rows themselves, so the keys cost the same at any
    batch size."""
    hid = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
                 16, 10).cast("decimal(38,0)")
    hct = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col(id_col).cast("string"),
        F.md5(F.coalesce(F.col(text_col).cast("string"), F.lit(""))))),
        1, 15), 16, 10).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    r = docs.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum(hid), zero).alias("si"),
                 F.coalesce(F.sum(hct), zero).alias("sc")).collect()[0]
    import hashlib

    return (hashlib.md5(f"{r['n']}|{r['si']}".encode()).hexdigest(),
            hashlib.md5(f"{r['n']}|{r['sc']}".encode()).hexdigest())


def _folded_markers(spark, path: str) -> dict[str, str]:
    """batch_key -> content_digest of every delta generation already
    FOLDED into the base postings by compact_text_index (r15). The
    record is a zero-byte ``_includes-<bk>-<ck>`` file INSIDE the
    postings dir, so it flips atomically with the compacted
    generation's swap — readers can never see a delta both inside the
    base and as its own dir. The markers are durable across later
    compactions (carried forward into each new generation), preserving
    update_text_index's retry-no-op and changed-content guards after
    the folded delta dirs are deleted."""
    from datahub_spark.fsio import _fs

    fs, root = _fs(spark, f"{path}/postings")
    if not fs.exists(root):
        return {}
    out: dict[str, str] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("_includes-"):
            bk, _, ck = name[len("_includes-"):].partition("-")
            out[bk] = ck
    return out


def _delta_dirs(spark, path: str) -> list[str]:
    """Committed postings delta generations under ``path``
    (postings_delta/<batch_key>), skipping in-flight ``_stage-*`` and
    generations the base already folded in (``_includes-*`` markers —
    a compaction that crashed after its swap but before deleting the
    folded dirs must not double-count them)."""
    from datahub_spark.fsio import _fs

    folded = _folded_markers(spark, path)
    fs, root = _fs(spark, f"{path}/postings_delta")
    if not fs.exists(root):
        return []
    return sorted(
        st.getPath().toString() for st in fs.listStatus(root)
        if st.isDirectory()
        and not st.getPath().getName().startswith("_")
        and st.getPath().getName() not in folded)


def _unhealed_pending(spark, path: str) -> list[str]:
    """Batch keys of ``_pending-<bk>`` markers whose committed delta
    is MISSING: a writer crashed after folding the batch into
    doclens/stats but before its postings committed, and no retry has
    healed it — doclens/stats count docs that have no postings."""
    from datahub_spark.fsio import _fs

    fs, root = _fs(spark, f"{path}/postings_delta")
    if not fs.exists(root):
        return []
    jvm = spark._jvm
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("_pending-"):
            bk = name[len("_pending-"):]
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(root, bk)):
                out.append(bk)
    return sorted(out)


def recover_text_index(spark, path: str) -> bool:
    """Heal every half-applied update batch (ADVICE r11): for each
    ``_pending-<bk>`` marker whose delta never committed, subtract the
    marker's doc ids back out of doclens, recompute stats, and drop
    the marker — BM25 stats stop counting docs that have no postings
    even when the failed batch is never retried. Markers whose delta
    DID commit (crash between the delta rename and the marker delete)
    are simply dropped. Also sweeps crashed ``_pending_stage-*`` dirs.
    Returns True when anything was healed. Single-writer, like every
    fsio maintenance op."""
    from datahub_spark.fsio import _fs, ensure_recovered

    ensure_recovered(spark, f"{path}/doclens")
    ensure_recovered(spark, f"{path}/stats")
    # the base postings swap too (compact_text_index, r15): a crash
    # between its two renames parks the old base as _old-postings-*
    ensure_recovered(spark, f"{path}/postings")
    fs, root = _fs(spark, f"{path}/postings_delta")
    if not fs.exists(root):
        return False
    jvm = spark._jvm
    healed = False
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("_pending_stage-"):
            fs.delete(st.getPath(), True)
            continue
        if not name.startswith("_pending-"):
            continue
        bk = name[len("_pending-"):]
        if fs.exists(jvm.org.apache.hadoop.fs.Path(root, bk)):
            fs.delete(st.getPath(), True)  # commit completed; stale marker
            continue
        pend = spark.read.parquet(st.getPath().toString()).select("doc_id")
        doclens = spark.read.parquet(f"{path}/doclens")
        parquet_atomic_overwrite(doclens.join(pend, "doc_id", "left_anti"),
                                 f"{path}/doclens")
        stats = (spark.read.parquet(f"{path}/doclens")
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.coalesce(F.sum("dl"), F.lit(0).cast("long"))
                      .alias("total_len")))
        parquet_atomic_overwrite(stats, f"{path}/stats")
        fs.delete(st.getPath(), True)
        healed = True
    return healed


def compact_text_index(spark, path: str) -> dict:
    """Maintenance twin of dedup.compact_minhash_index for the BM25
    index (r15, r14 verdict #2): every update_text_index batch parks
    its postings as a delta generation, and every search unions base +
    deltas — so probe cost grows with BATCH COUNT, not data. This
    folds all committed deltas into the bucket-partitioned base
    postings: ONE key-sorted file per bucket partition (row-group
    pruning + compression restored), written crash-safely through the
    store's own stage+swap (fsio.parquet_atomic_overwrite).

    Correctness under crash — unlike the minhash index, duplicated
    postings here CHANGE results (df doubles, scores double-fold), so
    the "which deltas are folded" record must flip atomically with
    the base generation: each folded delta leaves a zero-byte
    ``_includes-<batch_key>-<content_digest>`` marker INSIDE the new
    postings dir (created in the stage, renamed in with the swap).
    A crash mid-write leaves the old base + deltas serving untouched;
    a crash after the swap but before the delta dirs are deleted is
    read-consistent because ``_delta_dirs`` skips marker-named dirs
    (this compaction run then finishes the deletes). Markers carry
    forward through later compactions, so update_text_index's
    retry-no-op and changed-content guards survive the delta dirs'
    deletion. doclens/stats are already incrementally folded by
    update_text_index and are only healed here (recover_text_index),
    never rewritten.

    Search results are IDENTICAL before/after (pinned in
    test_retrieval.py). Single-writer, like every fsio maintenance
    op. Returns {"files_before", "files_after", "deltas_folded",
    "rows"}."""
    from datahub_spark import fsio

    recover_text_index(spark, path)
    fs, root = fsio._fs(spark, path)
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path

    def _count_part_files() -> int:
        n = 0
        for sub in ("postings", "postings_delta"):
            p = Path(root, sub)
            if not fs.exists(p):
                continue
            it = fs.listFiles(p, True)
            while it.hasNext():
                name = it.next().getPath().getName()
                if name.endswith(".parquet") and not name.startswith("_"):
                    n += 1
        return n

    # sweep delta dirs a previous compaction folded but crashed before
    # deleting (readers were already skipping them via the markers)
    folded = _folded_markers(spark, path)
    droot = Path(root, "postings_delta")
    if fs.exists(droot):
        for st in fs.listStatus(droot):
            if st.getPath().getName() in folded:
                fs.delete(st.getPath(), True)

    before = _count_part_files()
    deltas = _delta_dirs(spark, path)
    if not deltas:
        return {"files_before": before, "files_after": before,
                "deltas_folded": 0, "rows": None}
    # (batch_key, content_digest) of each delta about to be folded —
    # read from the dirs BEFORE they are deleted
    new_marks = []
    for d in deltas:
        bk = d.rsplit("/", 1)[-1]
        ck = ""
        for st in fs.listStatus(Path(d)):
            n = st.getPath().getName()
            if n.startswith("_content-"):
                ck = n[len("_content-"):]
        new_marks.append(f"_includes-{bk}-{ck}")
    carried = [f"_includes-{bk}-{ck}" for bk, ck in sorted(folded.items())]

    merged = _read_postings(spark, path)
    compacted = LT.cached(merged.repartition("bucket")
                         .sortWithinPartitions("bucket", "term", "doc_id"))
    try:
        rows = compacted.count()
        fsio.parquet_atomic_overwrite(compacted, f"{path}/postings",
                                      partition_by=["bucket"],
                                      markers=carried + new_marks)
    finally:
        LT.free(compacted)
    for d in deltas:
        fs.delete(Path(d), True)
    after = _count_part_files()
    return {"files_before": before, "files_after": after,
            "deltas_folded": len(deltas), "rows": rows}


def _read_postings(spark, path: str) -> DataFrame:
    """The full postings table: base build + every COMMITTED delta
    generation. Each root is its own pruned scan (bucket partition
    filters apply per scan), unioned — a half-written delta is a
    ``_stage-*`` dir and invisible here."""
    post = spark.read.parquet(f"{path}/postings")
    for d in _delta_dirs(spark, path):
        post = post.unionByName(spark.read.parquet(d))
    return post


def _read_doclens(spark, path: str) -> DataFrame:
    """doclens EXCLUDING any half-applied batch's rows (anti-join
    against each unhealed ``_pending-<bk>`` marker): readers see the
    exact PRE-BATCH view both during a live update's fold window and
    after an abandoned crash, consistent with ``_read_postings``
    (which never includes the uncommitted delta) — neither skewed
    stats (pre-r12) nor refused service (ADVICE review r12)."""
    dl = spark.read.parquet(f"{path}/doclens")
    for bk in _unhealed_pending(spark, path):
        pend = spark.read.parquet(f"{path}/postings_delta/_pending-{bk}")
        dl = dl.join(pend.select("doc_id"), "doc_id", "left_anti")
    return dl


def _read_stats(spark, path: str) -> tuple[int, int]:
    """(n_docs, total_len) consistent with ``_read_doclens``: the
    stats table when no pending marker exists (the common case, one
    tiny read), else derived from the compensated doclens — one
    narrow scan, paid only inside the rare half-applied window."""
    if not _unhealed_pending(spark, path):
        r = spark.read.parquet(f"{path}/stats").collect()[0]
        return int(r["n_docs"]), int(r["total_len"])
    r = (_read_doclens(spark, path)
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.coalesce(F.sum("dl"), F.lit(0).cast("long"))
              .alias("total_len"))).collect()[0]
    return int(r["n_docs"]), int(r["total_len"])


def update_text_index(docs: DataFrame, path: str, buckets: int = 64,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> None:
    """Incremental index growth — the BM25 twin of the minhash index's
    filter_novel(update_index=True): fold the NEW batch's lengths into
    doclens/stats and commit its postings as a DELTA GENERATION. Only
    the batch is tokenized; existing postings are never rewritten.

    Crash/retry contract (r11/r12, ADVICE): every window heals and a
    retried batch is idempotent —
      * the batch's postings land in their own delta dir
        (``postings_delta/<batch_key>``), stage-written then renamed;
        readers union base + committed deltas, so a half-written
        delta is invisible and a retry of an already-committed batch
        is a no-op (the delta dir exists);
      * the committed delta carries a ``_content-<digest>`` marker;
        a resubmission with the SAME ids but DIFFERENT text raises
        loudly instead of silently no-opping (ADVICE r11) — corrected
        content needs a full rebuild (save_text_index), since deltas
        only ever ADD postings;
      * BEFORE the doclens fold, the batch's new (doc_id, dl) rows
        commit as a ``_pending-<batch_key>`` marker; the marker is
        removed only AFTER the postings delta renames. While the
        marker exists — a live update's fold window or an abandoned
        crash — readers COMPENSATE (``_read_doclens``/``_read_stats``
        anti-join the marker's rows), serving exactly the pre-batch
        index instead of stats that count docs with no postings; a
        retry of the same batch heals in place, and
        ``recover_text_index`` heals without the batch (subtracting
        the marker's ids back out of doclens);
      * doclens/stats self-heal crashed swaps via ensure_recovered,
        and the batch is anti-joined against doclens before folding;
        stats derives from doclens alone, so recomputing it is always
        consistent.
    Caller contract (unchanged): distinct batches carry distinct doc
    ids (dedup upstream) — the anti-join protects retries of the SAME
    batch, not overlapping different batches' postings.
    Single-writer, like every fsio maintenance op."""
    import uuid

    from datahub_spark.fsio import _fs

    spark = docs.sparkSession
    recover_text_index(spark, path)
    bk, ck = _batch_keys(docs, id_col, text_col)
    fs, final = _fs(spark, f"{path}/postings_delta/{bk}")
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    # sweep stale in-flight stages (crashed before their rename)
    parent = final.getParent()
    if fs.exists(parent):
        for st in fs.listStatus(parent):
            if st.getPath().getName().startswith("_stage-"):
                fs.delete(st.getPath(), True)
    if fs.exists(final):
        # this id set already committed end-to-end — verify the
        # CONTENT matches before declaring the retry a no-op
        # (ADVICE r11). Deltas from before the digest existed carry
        # no marker and keep the old retry-is-no-op behavior.
        digests = [st.getPath().getName()[len("_content-"):]
                   for st in fs.listStatus(final)
                   if st.getPath().getName().startswith("_content-")]
        if digests and ck not in digests:
            raise ValueError(
                f"update_text_index: batch {bk} was already committed "
                "with the same doc ids but DIFFERENT text content — "
                "deltas only add postings, so corrected content needs "
                f"a full rebuild (save_text_index) of {path}")
        return
    folded = _folded_markers(spark, path)
    if bk in folded:
        # the batch committed AND was compacted into the base (r15):
        # its delta dir is gone but the _includes marker preserves the
        # retry/no-op contract — and the content-change guard
        if folded[bk] and ck != folded[bk]:
            raise ValueError(
                f"update_text_index: batch {bk} was already folded "
                "into the base postings with the same doc ids but "
                "DIFFERENT text content — corrected content needs a "
                f"full rebuild (save_text_index) of {path}")
        return

    postings, doclens = build_text_index(docs, text_col, id_col)
    existing = spark.read.parquet(f"{path}/doclens")
    fresh = doclens.join(existing.select("doc_id"), "doc_id", "left_anti")

    # commit the pending marker (the batch's new doclens rows) BEFORE
    # folding, so a crash between the fold and the postings rename is
    # detectable and reversible
    pend_stage = Path(parent, f"_pending_stage-{bk}-{uuid.uuid4().hex}")
    pending = Path(parent, f"_pending-{bk}")
    fresh.write.mode("overwrite").parquet(pend_stage.toString())
    if fs.exists(pending):
        fs.delete(pending, True)
    if not fs.rename(pend_stage, pending):
        raise IOError(f"update_text_index: rename {pend_stage} "
                      f"-> {pending}")

    # fold from the committed marker, not the live frame — the exact
    # rows healing would subtract are the rows folded in
    fresh_rows = spark.read.parquet(pending.toString())
    parquet_atomic_overwrite(existing.unionByName(fresh_rows),
                             f"{path}/doclens")
    stats = (spark.read.parquet(f"{path}/doclens")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("dl").alias("total_len")))
    parquet_atomic_overwrite(stats, f"{path}/stats")

    stage = Path(parent, f"_stage-{bk}-{uuid.uuid4().hex}")
    (postings
     .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(buckets))
                 .cast("int"))
     .repartition("bucket")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(stage.toString()))
    # the content digest rides INSIDE the delta (Spark ignores _-files)
    fs.create(Path(stage, f"_content-{ck}")).close()
    if not fs.rename(stage, final):
        raise IOError(f"update_text_index: rename {stage} -> {final}")
    fs.delete(pending, True)
