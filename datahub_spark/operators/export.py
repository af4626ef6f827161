"""Training-data export: deterministic sharding + reproducible global
shuffle.

The last step of a corpus pipeline is writing training shards: N
roughly equal parquet shards whose global read order is a reproducible
pseudo-random permutation of the corpus (training wants decorrelated
order; reproducibility wants it derived from content keys, not RNG
state or partition order). Both properties come from one hash:
``shard = pmod(xxhash64(id, seed), n)`` places a document, and sorting
within the shard by the same family's ``xxhash64(id, seed+1)`` orders
it. Map-side assignment, exactly ONE shuffle (keyed by shard), and a
dir-per-shard layout a training loader can consume shard-at-a-time.
"""

from __future__ import annotations

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT
from datahub_spark.operators.text import token_count_whitespace


def _shard_hash(id_col: str, seed: int, hash_family: str):
    """The placement hash. ``xxhash`` (default) is the fast JVM path;
    ``md5`` derives a 60-bit long from md5(id || '|' || seed) —
    bit-identical in any engine (DuckDB: ('0x' || substr(md5(...), 1,
    15))::BIGINT), so exports can be oracle-verified end-to-end."""
    if hash_family == "xxhash":
        return F.xxhash64(F.col(id_col), F.lit(seed))
    if hash_family == "md5":
        return F.conv(F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(f"|{seed}"))), 1, 15), 16, 10).cast("long")
    raise ValueError(f"assign_shards: unknown hash_family {hash_family!r}")


def assign_shards(df: DataFrame, n_shards: int, id_col: str = "doc_id",
                  seed: int = 42,
                  hash_family: str = "xxhash") -> DataFrame:
    """Add ``shard`` (0..n_shards-1) and ``sort_key`` columns. Both are
    pure map-side hash expressions: a document's shard and position
    never depend on partitioning, cluster size, or what other documents
    exist — re-running the export on a grown corpus moves nothing that
    was already placed (only the in-shard positions interleave)."""
    if n_shards <= 0:
        raise ValueError("assign_shards: n_shards must be > 0")
    return (df
            .withColumn("shard",
                        F.pmod(_shard_hash(id_col, seed, hash_family),
                               F.lit(n_shards)).cast("int"))
            .withColumn("sort_key",
                        _shard_hash(id_col, seed + 1, hash_family)))


def export_shards(df: DataFrame, path: str, n_shards: int,
                  id_col: str = "doc_id", text_col: str = "text",
                  seed: int = 42,
                  token_count_col: str | None = None,
                  order_col: str | None = None,
                  ascending: bool = True,
                  hash_family: str = "xxhash") -> DataFrame:
    """Write the corpus as ``path/shard=K/*.parquet`` in reproducible
    shuffled order and return a manifest DataFrame ``(shard, n_docs,
    n_tokens)`` read back from the written files (the manifest reflects
    what is actually on disk, not the input plan).

    Plan shape: hash-assign (map-side) -> repartition BY the shard
    column (one keyed shuffle; hash-uniform shards stay balanced, so no
    skew handling is needed by construction) -> sortWithinPartitions on
    the in-shard hash key (local sort, no extra exchange) ->
    partitionBy(shard) parquet write. Reading shard 0..N-1 in order and
    each shard top-to-bottom reproduces one fixed global permutation.

    ``order_col`` switches the in-shard order from the hash permutation
    to that column (curriculum export: easy-to-hard by a quality or
    perplexity score when ``ascending``, reversed otherwise; each shard
    spans the full difficulty range since placement stays hash-uniform,
    so a loader interleaving shards still sees the curriculum)."""
    assigned = assign_shards(df, n_shards, id_col, seed, hash_family)
    # curriculum order sorts the column directionally instead of
    # negating it (negation breaks on timestamps/strings and leaked
    # the negated value into the written sort_key column)
    okey = (F.col("sort_key").asc() if order_col is None
            else (F.col(order_col).asc() if ascending
                  else F.col(order_col).desc()))
    # the local sort leads with the partition column: FileFormatWriter
    # must cluster rows by partition dirs before writing and would
    # otherwise insert its own (unstable) sort on `shard`, scrambling
    # the in-shard hash order this export promises; the helper
    # sort_key is projected away AFTER the sort (a projection keeps
    # row order and the plan's shard-prefix ordering, so the writer
    # still skips its own sort)
    (assigned
     .repartition(n_shards, F.col("shard"))
     .sortWithinPartitions(F.col("shard").asc(), okey, F.col(id_col).asc())
     .drop("sort_key")
     .write.mode("overwrite").partitionBy("shard").parquet(path))
    spark = df.sparkSession
    try:
        written = spark.read.parquet(path)
    except AnalysisException:
        # an EMPTY corpus (e.g. a fold that drew no documents) writes
        # only _SUCCESS — no footer to infer the schema from. Only the
        # schema-inference AnalysisException is converted to an
        # honestly-empty manifest; real read failures (corrupt footer,
        # IO errors) still raise — masking them as "empty" would hide
        # write corruption.
        return spark.createDataFrame(
            [], "shard int, n_docs long, n_tokens long")
    # tokenized frames (e.g. bpe.encode_bpe_ids output) carry an exact
    # count column; text frames fall back to the whitespace proxy
    n_tok = (F.sum(F.col(token_count_col)) if token_count_col
             else F.sum(token_count_whitespace(F.col(text_col))))
    return (written.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 n_tok.cast("long").alias("n_tokens"))
            .orderBy("shard"))


def pack_sequences(df: DataFrame, max_tokens: int,
                   id_col: str = "doc_id",
                   count_col: str | None = None,
                   text_col: str = "text",
                   partitions: int | None = None) -> DataFrame:
    """Sequence-packing manifest: lay the corpus out as ONE virtual
    token stream (documents in ascending-id order) and cut it every
    ``max_tokens`` — the GPT-style packing that trains on fixed-length
    sequences with zero padding, documents straddling cuts by design
    (Brown et al. 2020 appendix B; the loader masks cross-doc attention
    if it wants to). Returns one row per (document, sequence) piece:

      (doc_id, seq_id, doc_from, doc_to, seq_off)

    — tokens [doc_from, doc_to) of the document land in sequence
    ``seq_id`` at offset ``seq_off``; every sequence except the last is
    exactly full by construction. Token counts come from ``count_col``
    (e.g. real BPE counts via bpe.token_counts) or default to the
    whitespace proxy; zero/negative-count documents are skipped.

    Scale shape — a global running sum WITHOUT a global sort shuffle:
    range-repartition by id (ordered, non-overlapping ranges), cumsum
    inside each partition via one keyed window, then per-partition
    totals (a bounded #partitions-row model table) collect into prefix
    offsets that broadcast-join back. The result is invariant to WHERE
    the range boundaries land, so sampling nondeterminism in the range
    partitioner cannot change the packing. The straddle explode emits
    ceil(n/max_tokens)+1 rows per document at most."""
    if max_tokens <= 0:
        raise ValueError("pack_sequences: max_tokens must be > 0")
    n = (F.col(count_col).cast("long") if count_col
         else token_count_whitespace(F.col(text_col)).cast("long"))
    base = df.select(F.col(id_col), n.alias("_n")).filter(F.col("_n") > 0)
    if partitions:
        base = base.repartitionByRange(partitions, F.col(id_col))
    else:
        base = base.repartitionByRange(F.col(id_col))
    from pyspark.sql import Window

    keyed = base.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # materialization barrier: `local` is executed twice (totals
    # collect below, then the joined frame) and repartitionByRange
    # SAMPLES its input — a nondeterministic upstream could land rows
    # in different _pid ranges on the second run, silently shifting
    # sequences against the collected prefix offsets. Checkpointing
    # pins ONE partitioning for both reads.
    local = LT.checkpoint(keyed.withColumn("_cum", F.sum("_n").over(w)))
    totals = sorted(
        local.groupBy("_pid").agg(F.max("_cum").alias("t")).collect(),
        key=lambda r: r["_pid"])
    prefix, acc = [], 0
    for r in totals:
        prefix.append((r["_pid"], acc))
        acc += r["t"]
    spark = df.sparkSession
    pre = spark.createDataFrame(prefix or [(0, 0)], "_pid int, _off long")
    C = int(max_tokens)
    g = (local.join(F.broadcast(pre), "_pid")
         .withColumn("_s", F.col("_off") + F.col("_cum") - F.col("_n")))
    seq = F.explode(F.sequence(
        F.expr("_s div " + str(C)),
        F.expr(f"(_s + _n - 1) div {C}"))).alias("seq_id")
    out = g.select(F.col(id_col), "_s", "_n", seq)
    lo = F.greatest(F.col("_s"), F.col("seq_id") * C)
    hi = F.least(F.col("_s") + F.col("_n"), (F.col("seq_id") + 1) * C)
    return out.select(
        id_col,
        F.col("seq_id").cast("long").alias("seq_id"),
        (lo - F.col("_s")).cast("long").alias("doc_from"),
        (hi - F.col("_s")).cast("long").alias("doc_to"),
        (lo - F.col("seq_id") * C).cast("long").alias("seq_off"),
    )


def export_jsonl(df: DataFrame, path: str, n_shards: int,
                 id_col: str = "doc_id", text_col: str = "text",
                 seed: int = 42, hash_family: str = "xxhash",
                 compress: bool = True,
                 token_count_col: str | None = None) -> DataFrame:
    """The interchange twin of export_shards (r13): the same
    hash-uniform placement and reproducible in-shard hash order, but
    written as gzip JSONL — the format most training loaders and
    hub-style datasets exchange. One file per shard
    (``shard-K.jsonl.gz``), every row ``to_json`` of the full record
    (minus the helper sort key), streamed to disk one line at a time
    (task memory = one record). Returns the same
    ``(shard, n_docs, n_tokens)`` manifest read back FROM THE WRITTEN
    FILES, so placement, order, serialization, and the bytes on disk
    are all covered by the round-trip tests (test_export.py);
    ``token_count_col`` switches n_tokens to an exact per-row count
    column (same rule as export_shards, so the two manifests agree on
    tokenized corpora too).

    Plan shape: identical to export_shards — map-side assign, ONE
    keyed shuffle, local sort, file-parallel write; reading back is a
    file-parallel text scan + from_json (schema carried explicitly,
    no inference pass at scale)."""
    import gzip as _gz
    from collections.abc import Iterator as _It

    import pandas as _pd

    from datahub_spark import fsio

    # overwrite semantics (r14, object-store-safe): tasks write into a
    # STAGE directory; stale shard files are deleted and the staged
    # ones swapped in only AFTER the job succeeds, through the Hadoop
    # FileSystem of the path's scheme — a re-export (fewer shards,
    # smaller corpus) can never fold stale shards back into the
    # manifest, and a mid-job crash leaves the previous export intact
    # (the old driver-local glob+os.remove did neither off POSIX)
    spark = df.sparkSession
    stage = fsio.begin_staged_export(spark, path)
    stage_local = fsio.strip_scheme(stage)

    assigned = assign_shards(df, n_shards, id_col, seed, hash_family)
    cols = [c for c in assigned.columns if c != "sort_key"]
    src = (assigned
           .repartition(n_shards, F.col("shard"))
           .sortWithinPartitions(F.col("shard").asc(),
                                 F.col("sort_key").asc(),
                                 F.col(id_col).asc())
           .select(F.col("shard"),
                   F.to_json(F.struct(*[F.col(c) for c in cols]))
                   .alias("_line")))

    def dump(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        import os

        os.makedirs(stage_local, exist_ok=True)
        handles: dict[int, object] = {}
        n = 0
        try:
            for pdf in batches:
                for shard, line in zip(pdf["shard"], pdf["_line"]):
                    shard = int(shard)
                    fh = handles.get(shard)
                    if fh is None:
                        name = (f"{stage_local}/shard-{shard:05d}.jsonl"
                                + (".gz" if compress else ""))
                        # gzip.open owns and deterministically closes
                        # the underlying file (a GzipFile over a
                        # manually opened fileobj leaves the trailer
                        # in the outer buffer until GC)
                        fh = (_gz.open(name, "wb") if compress
                              else open(name, "wb"))
                        handles[shard] = fh
                    fh.write((str(line) + "\n").encode("utf-8"))
                    n += 1
        finally:
            for fh in handles.values():
                fh.close()
        yield _pd.DataFrame({"n": [n]})

    src.mapInPandas(dump, schema="n long").agg(F.sum("n")).collect()
    fsio.finish_staged_export(spark, path, stage, "shard-*.jsonl*")
    import pyspark.sql.types as _T

    full = _T.StructType(list(df.schema.fields)
                         + [_T.StructField("shard", _T.IntegerType())])
    glob = f"{path}/shard-*.jsonl" + (".gz" if compress else "")
    try:
        lines = spark.read.text(glob)
    except AnalysisException:
        # empty corpus: no shard files were written (PATH_NOT_FOUND) —
        # the honest empty manifest; real IO errors still raise
        return spark.createDataFrame(
            [], "shard int, n_docs long, n_tokens long")
    written = lines.select(
        F.from_json(F.col("value"), full).alias("r")).select("r.*")
    # same manifest token rule as export_shards (r14, ADVICE r13):
    # tokenized frames carry an exact count column; text frames fall
    # back to the whitespace proxy — the 'interchange twin' promise
    # holds for both kinds of corpus
    n_tok = (F.sum(F.col(token_count_col)) if token_count_col
             else F.sum(token_count_whitespace(F.col(text_col))))
    return (written.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 n_tok.cast("long").alias("n_tokens"))
            .orderBy("shard"))
