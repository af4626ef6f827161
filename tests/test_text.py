"""Text analysis operators: exact known-value checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datahub_spark.operators import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_normalize_and_token_counts(spark):
    df = _docs(spark, [(1, "  Héllo,   WORLD!  x2 ")])
    out = df.select(
        TX.normalize(F.col("text")).alias("n"),
        TX.token_count_whitespace(F.col("text")).alias("ws"),
        TX.token_count_bpe_ish(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert out["n"] == "héllo, world! x2"
    assert out["ws"] == 3
    # bpe-ish: h llo , world ! x 2  (é is non-[a-z] -> own token)
    assert out["bpe"] == 8


def test_lang_id_markers(spark):
    df = _docs(spark, [
        (1, "the cat and the dog is happy"),
        (2, "der Hund ist nicht da und der Mann"),
        (3, "le chat est dans la maison et les chiens"),
        (4, "xyzzy plugh"),
    ])
    out = {r["doc_id"]: r["lang_pred"] for r in TX.lang_id_table(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_features_exact_fixed_point(spark):
    # 10 tokens ("a" = stopword hit), no punctuation, text len 39
    text = "a bb cc dd ee ff gg hh ii jj"
    df = _docs(spark, [(1, text)])
    r = TX.quality_features(df).collect()[0]
    assert r["n_tokens"] == 10
    assert r["stopword_hits"] == 1
    assert r["n_punct"] == 0
    # mean token len = 19 chars / 10 tokens = 1.9 -> 19000
    assert r["mean_token_len_e4"] == 19000
    # score = min(10/50,1)*40 + min(5*1/10,1)*30 + 30 = 8 + 15 + 30 = 53
    assert r["quality_score_centi"] == 5300


def test_quality_score_half_tie_rounds_up(spark):
    # engineered 64.975 tie: 32 tokens, 2 stopword hits, 0 punct.
    # NOTE: the stopwords must be non-adjacent — " a a " counts as ONE
    # occurrence under non-overlapping replace (identically in DuckDB).
    toks = ["a"] + [f"w{i}" for i in range(15)] + ["a"] + [f"w{i}" for i in range(15, 30)]
    df = _docs(spark, [(1, " ".join(toks))])
    r = TX.quality_features(df).collect()[0]
    assert r["stopword_hits"] == 2
    # 25.6 + 150*2/32 (=9.375) + 30 = 64.975 -> half-up 6498
    assert r["quality_score_centi"] == 6498


def test_quality_features_keep_cols_literal_names_and_collisions(spark):
    """keep_cols names are taken literally (a space or a dot is part of
    the name, not SQL or a struct path); a name that collides with an
    internal alias raises ValueError naming it."""
    df = spark.createDataFrame(
        [(1, "a bb cc dd ee ff gg hh ii jj", "x", 7)],
        "doc_id long, text string, `my col` string, `a.b` long")
    r = TX.quality_features(df, keep_cols=["my col", "a.b"]).collect()[0]
    assert r["my col"] == "x" and r["a.b"] == 7
    assert r["quality_score_centi"] == 5300
    for name in ("_t", "_N", "n_tokens", "doc_id"):
        with pytest.raises(ValueError, match=repr(name)):
            TX.quality_features(df.withColumn(name, F.lit(0)),
                                keep_cols=[name])


def test_fingerprint_is_normalization_invariant(spark):
    df = _docs(spark, [(1, "Some  TEXT here"), (2, "some text HERE")])
    fps = [r["fp"] for r in df.select(TX.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_pii_scrub_redacts_all_kinds(spark):
    df = _docs(spark, [
        (1, "mail a@b.io or visit https://x.y/z or call +1 (555) 123-4567 now"),
        (2, "host 10.0.42.7 billed to 4111 1111-1111 1111 today"),
    ])
    out = {r["doc_id"]: r for r in TX.pii_scrub(df).collect()}
    r = out[1]
    assert (r["n_email"], r["n_url"], r["n_phone"]) == (1, 1, 1)
    assert r["scrubbed"] == "mail <EMAIL> or visit <URL> or call <PHONE> now"
    r2 = out[2]
    assert (r2["n_ipv4"], r2["n_card"]) == (1, 1)
    assert r2["scrubbed"] == "host <IPV4> billed to <CARD> today"


def test_stratified_sample_deterministic_and_stable_under_growth(spark):
    rows = [(i, f"doc {i}", "hi" if i % 3 == 0 else ("mid" if i % 3 == 1 else "lo"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q string")
    rates = {"hi": 1.0, "mid": 0.1, "lo": 0.0}
    kept = TX.stratified_sample(df, "q", rates).select("doc_id", "q")
    got = {r["doc_id"]: r["q"] for r in kept.collect()}
    # exact strata behavior at the extremes
    assert sum(1 for q in got.values() if q == "hi") == 1000
    assert sum(1 for q in got.values() if q == "lo") == 0
    # mid keeps ~10% (hash-uniform; generous bounds for n=1000)
    n_mid = sum(1 for q in got.values() if q == "mid")
    assert 50 <= n_mid <= 180
    # deterministic: identical on re-run
    again = {r["doc_id"] for r in kept.collect()}
    assert again == set(got)
    # stable under growth: adding documents never flips existing picks
    bigger = spark.createDataFrame(
        rows + [(i, f"new {i}", "mid") for i in range(3000, 4000)],
        "doc_id long, text string, q string")
    grown = {r["doc_id"] for r in
             TX.stratified_sample(bigger, "q", rates).collect()
             if r["doc_id"] < 3000}
    assert grown == set(got)
    # unknown stratum uses default_rate
    extra = spark.createDataFrame([(9999, "x", "unknown")],
                                  "doc_id long, text string, q string")
    assert TX.stratified_sample(extra, "q", rates,
                                default_rate=1.0).count() == 1
    assert TX.stratified_sample(extra, "q", rates).count() == 0


def test_stratified_sample_md5_method_portable(spark):
    # the engine-portable md5 fixed-point method: same guarantees
    # (extremes exact, deterministic, stable under growth), different
    # hash family — and the 60-bit value must equal what any engine
    # computes from the digest prefix
    rows = [(i, f"doc {i}", "hi" if i % 2 == 0 else "mid")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q string")
    rates = {"hi": 1.0, "mid": 0.25}
    kept = TX.stratified_sample(df, "q", rates, seed=7, method="md5")
    got = {r["doc_id"] for r in kept.collect()}
    assert sum(1 for i in got if i % 2 == 0) == 1000
    n_mid = sum(1 for i in got if i % 2 == 1)
    assert 180 <= n_mid <= 330
    # cross-check the keep rule against pure-Python md5 (the portable
    # fixed-point contract the DuckDB oracle relies on)
    import hashlib
    for i in (1, 3, 5, 7, 9, 11, 13, 15):
        h = int(hashlib.md5(f"{i}:7".encode()).hexdigest()[:15], 16)
        assert (i in got) == (h < int(0.25 * (1 << 60)))
    with pytest.raises(ValueError, match="unknown method"):
        TX.stratified_sample(df, "q", rates, method="sha9000")


# -- boilerplate removal (C4-style corpus-frequency line/chunk dedup) -----


def test_segment_table_delimiter_and_window(spark):
    df = _docs(spark, [(1, "alpha beta\n\n  \ngamma"),
                       (2, "a b c d e")])
    lines = TX.segment_table(df, delimiter="\n").collect()
    assert {(r["doc_id"], r["pos"], r["segment"]) for r in lines} == {
        (1, 0, "alpha beta"), (1, 3, "gamma"),
        (2, 0, "a b c d e")}
    chunks = TX.segment_table(df, window=2).collect()
    assert {(r["doc_id"], r["pos"], r["segment"]) for r in chunks} == {
        (1, 0, "alpha beta"), (1, 1, "gamma"),
        (2, 0, "a b"), (2, 1, "c d"), (2, 2, "e")}


def test_remove_boilerplate_lines(spark):
    banner = "accept all cookies to continue"
    df = _docs(spark, [
        (1, f"{banner}\nreal content one\nshared footer"),
        (2, f"{banner}\nreal content two\nshared footer"),
        (3, "standalone document text"),
    ])
    out = {r["doc_id"]: r for r in
           TX.remove_boilerplate(df, delimiter="\n", min_docs=2,
                                 joiner="\n").collect()}
    assert out[1]["clean_text"] == "real content one"
    assert out[2]["clean_text"] == "real content two"
    assert out[1]["dropped_segments"] == 2 and out[1]["kept_segments"] == 1
    assert out[3]["clean_text"] == "standalone document text"
    assert out[3]["dropped_segments"] == 0


def test_remove_boilerplate_fully_boilerplate_doc_surfaces_empty(spark):
    df = _docs(spark, [(1, "same line"), (2, "same line"),
                       (3, "same line\nunique bit")])
    out = {r["doc_id"]: r for r in
           TX.remove_boilerplate(df, delimiter="\n", min_docs=2).collect()}
    assert out[1]["clean_text"] == "" and out[1]["kept_segments"] == 0
    assert out[3]["clean_text"] == "unique bit"
    assert len(out) == 3


def test_remove_boilerplate_repeat_within_one_doc_not_blocked(spark):
    # corpus frequency counts DISTINCT docs: a segment repeated inside
    # ONE document is repetition (text_repetition's job), not boilerplate
    df = _docs(spark, [(1, "echo line\necho line\nbody"),
                       (2, "other text entirely")])
    out = {r["doc_id"]: r["clean_text"] for r in
           TX.remove_boilerplate(df, delimiter="\n", min_docs=2,
                                 joiner="\n").collect()}
    assert out[1] == "echo line\necho line\nbody"


def test_remove_boilerplate_window_mode_duckdb_parity(spark):
    # full-operator parity against an independent DuckDB formulation
    # over the real documents table (oracle-style evidence for a row
    # outside the driver's capped 50-key window)
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.remove_boilerplate(docs, window=8, min_docs=2)
    K, MIN_DOCS = 8, 2
    sql = f"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ), seg AS (
      SELECT doc_id, gs.i AS pos,
             array_to_string(ws[gs.i*{K}+1 : gs.i*{K}+{K}], ' ') AS segment
      FROM w, LATERAL (SELECT unnest(generate_series(0,
            CAST(ceil(len(ws)/CAST({K} AS double)) AS int) - 1)) AS i) gs
      WHERE trim(array_to_string(ws[gs.i*{K}+1 : gs.i*{K}+{K}], ' ')) != ''
    ), keyed AS (
      SELECT doc_id, pos, segment, md5(segment) AS seg_key FROM seg
    ), block AS (
      SELECT seg_key FROM keyed GROUP BY seg_key
      HAVING count(DISTINCT doc_id) >= {MIN_DOCS}
    ), agg AS (
      SELECT k.doc_id,
             coalesce(string_agg(CASE WHEN b.seg_key IS NULL THEN k.segment END,
                                 ' ' ORDER BY k.pos), '') AS clean_text,
             CAST(count(CASE WHEN b.seg_key IS NULL THEN 1 END) AS BIGINT) AS kept_segments,
             CAST(count(b.seg_key) AS BIGINT) AS dropped_segments
      FROM keyed k LEFT JOIN block b USING (seg_key)
      GROUP BY k.doc_id
    )
    SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.kept_segments, 0) AS kept_segments,
           coalesce(a.dropped_segments, 0) AS dropped_segments
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg
    # and the operator actually does something on this corpus
    assert got.agg(F.sum("dropped_segments")).collect()[0][0] > 0


def test_remove_boilerplate_plan_blocklist_broadcast_no_cartesian(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = TX.remove_boilerplate(docs, window=8, min_docs=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # blocklist side broadcast


# -- token-budget mixing + context-window chunking ------------------------


def test_paragraph_dedup_first_copy_wins(spark):
    """Dolma-style global paragraph dedup: ONE copy survives (smallest
    (doc_id, pos)), later cross- and intra-doc repeats are removed,
    short segments below min_words are exempt."""
    df = spark.createDataFrame([
        (1, "alpha beta\ncommon para here\nshort"),
        (2, "common para here\ngamma delta\ncommon para here"),
        (3, "short\nunique tail"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.paragraph_dedup(
        df, delimiter="\n", min_words=2).collect()}
    # doc 1 keeps everything (first copy of the common para + exempt
    # "short"); doc 2 loses both copies of the common para (pos 0 loses
    # to doc 1, pos 2 loses to doc 1 as well); doc 3 keeps both
    assert out[1]["clean_text"] == "alpha beta\ncommon para here\nshort"
    assert out[2]["clean_text"] == "gamma delta"
    assert out[2]["dropped_segments"] == 2
    assert out[3]["clean_text"] == "short\nunique tail"
    assert out[3]["dropped_segments"] == 0


def test_paragraph_dedup_duckdb_parity(spark):
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.paragraph_dedup(docs, window=8)
    K = 8
    sql = f"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ), seg AS (
      SELECT doc_id, gs.i AS pos,
             array_to_string(ws[gs.i*{K}+1 : gs.i*{K}+{K}], ' ') AS segment
      FROM w, LATERAL (SELECT unnest(generate_series(0,
            CAST(ceil(len(ws)/CAST({K} AS double)) AS int) - 1)) AS i) gs
      WHERE trim(array_to_string(ws[gs.i*{K}+1 : gs.i*{K}+{K}], ' ')) != ''
    ), keyed AS (
      SELECT doc_id, pos, segment, md5(segment) AS seg_key FROM seg
    ), winners AS (
      SELECT seg_key, min(doc_id * 1000000 + pos) AS win
      FROM keyed GROUP BY seg_key
    ), agg AS (
      SELECT k.doc_id,
             coalesce(string_agg(
               CASE WHEN k.doc_id * 1000000 + k.pos = w2.win
                    THEN k.segment END, ' ' ORDER BY k.pos), '') AS clean_text,
             CAST(count(CASE WHEN k.doc_id * 1000000 + k.pos = w2.win
                             THEN 1 END) AS BIGINT) AS kept_segments,
             CAST(count(CASE WHEN k.doc_id * 1000000 + k.pos != w2.win
                             THEN 1 END) AS BIGINT) AS dropped_segments
      FROM keyed k JOIN winners w2 USING (seg_key)
      GROUP BY k.doc_id
    )
    SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.kept_segments, 0) AS kept_segments,
           coalesce(a.dropped_segments, 0) AS dropped_segments
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg
    assert got.agg(F.sum("dropped_segments")).collect()[0][0] > 0


def test_paragraph_dedup_plan_keyed_joins_only(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = TX.paragraph_dedup(docs, window=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # winner selection is an aggregate, not a rank window
    assert "Window" not in plan


def test_perplexity_buckets_explicit_cutoffs_exact(spark):
    df = spark.createDataFrame([
        (1, "the cat sat", "en"), (2, "the cat sat", "en"),
        (3, "zz qq xx", "en"), (4, "der hund lief", "de"),
        (5, "", "de"),
    ], "doc_id long, text string, lang string")
    out = {r["id"]: r["bucket"] for r in TX.perplexity_buckets(
        df, cutoffs=(9000, 1000)).collect()}
    # docs 1/2 share every bigram -> high familiarity -> head;
    # doc 3's bigrams are unique (familiarity ~1/1=e4 10000? no —
    # each bigram occurs once and its w1 occurs once -> P=1 -> head
    # too, so use doc 5 (no bigrams, score 0) for tail
    assert out[1] == "head" and out[2] == "head"
    assert out[5] == "tail"


def test_perplexity_buckets_computed_tertiles(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = TX.perplexity_buckets(docs).cache()
    n = out.count()
    sizes = {r["bucket"]: r["n"] for r in
             out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == {"head", "middle", "tail"}
    # tertile split: each bucket within a loose band of n/3
    for b, c in sizes.items():
        assert 0.08 * n < c < 0.65 * n, (b, c, n)
    # buckets are monotone in score: min(head) >= max(middle) boundary
    agg = {r["bucket"]: (r["lo"], r["hi"]) for r in out.groupBy("bucket")
           .agg(F.min("score_e4").alias("lo"),
                F.max("score_e4").alias("hi")).collect()}
    assert agg["head"][0] >= agg["middle"][1] >= agg["tail"][1] or \
        agg["middle"][0] >= agg["tail"][1]
    # deterministic: a second run buckets identically
    again = TX.perplexity_buckets(docs)
    assert out.select("id", "bucket").exceptAll(
        again.select("id", "bucket")).count() == 0
    # per-language cutoffs partition within each group
    by_lang = TX.perplexity_buckets(docs, by="lang")
    grp = by_lang.groupBy("lang", "bucket").count().collect()
    langs = {r["lang"] for r in grp}
    assert all(any(r["bucket"] == "head" and r["lang"] == g for r in grp)
               for g in langs)
    out.unpersist()


def test_mixture_budgets_alpha_sampling(spark):
    """mT5 alpha-sampling (p_s ∝ t_s^alpha): alpha=1 natural
    proportions, alpha=0 uniform, caps at each domain's actual mass
    with leftover water-filled onto uncapped domains."""
    # web: 8 docs x 10 tokens = 80; code: 2 docs x 10 = 20
    rows = [(i, "t " * 10, "web") for i in range(8)] + \
           [(i + 100, "t " * 10, "code") for i in range(2)]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string")
    # natural proportions
    b1 = TX.mixture_budgets(df, "source", 50, alpha=1.0)
    assert b1 == {"web": 40, "code": 10}
    # flat: uniform split upweights the small domain
    b0 = TX.mixture_budgets(df, "source", 30, alpha=0.0)
    assert b0 == {"web": 15, "code": 15}
    # cap + redistribute: uniform wants 30/30 but code holds only 20;
    # the leftover 10 water-fills back onto web
    bc = TX.mixture_budgets(df, "source", 60, alpha=0.0)
    assert bc == {"code": 20, "web": 40}
    # budget above the corpus: every domain capped at its mass
    ball = TX.mixture_budgets(df, "source", 1000, alpha=0.3)
    assert ball == {"web": 80, "code": 20}
    # composes with sample_to_token_budget end-to-end
    out = TX.sample_to_token_budget(df, "source", b0, seed=7)
    kept = out.groupBy("source").count().collect()
    assert {r["source"] for r in kept} <= {"web", "code"}


def test_sample_to_token_budget_rates_derived_from_totals(spark):
    # web: 4 docs x 5 tokens = 20; code: 2 docs x 5 tokens = 10
    rows = [(i, "w1 w2 w3 w4 w5", "web") for i in range(4)] + \
           [(i + 10, "c1 c2 c3 c4 c5", "code") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # budget 10 web tokens of 20 -> rate 0.5; code budget >= total -> keep all
    out = TX.sample_to_token_budget(df, "source",
                                    {"web": 10, "code": 100}, seed=7)
    got = {(r["doc_id"], r["source"]) for r in out.collect()}
    assert {d for d, s in got if s == "code"} == {10, 11}
    # the web half is whatever the deterministic hash keep selects —
    # assert exact agreement with stratified_sample at the derived rate
    expect = {r["doc_id"] for r in TX.stratified_sample(
        df.filter("source = 'web'"), "source", {"web": 0.5},
        seed=7).collect()}
    assert {d for d, s in got if s == "web"} == expect
    # unbudgeted strata drop by default
    df2 = df.withColumn("source",
                        F.when(F.col("doc_id") == 0, "misc")
                        .otherwise(F.col("source")))
    out2 = TX.sample_to_token_budget(df2, "source", {"code": 100}, seed=7)
    assert {r["source"] for r in out2.collect()} == {"code"}


def test_sample_to_token_budget_is_reproducible(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = TX.sample_to_token_budget(docs, "source", {"src0": 500, "src1": 200})
    b = TX.sample_to_token_budget(docs, "source", {"src0": 500, "src1": 200})
    ra = sorted(r["doc_id"] for r in a.collect())
    assert ra == sorted(r["doc_id"] for r in b.collect())
    assert len(ra) > 0


def test_chunk_documents_disjoint_and_overlapping(spark):
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(1, 11)))])  # 10 words
    disjoint = {(r["chunk_id"], r["chunk_text"], r["n_tokens"])
                for r in TX.chunk_documents(df, max_tokens=4).collect()}
    assert disjoint == {
        (0, "t1 t2 t3 t4", 4), (1, "t5 t6 t7 t8", 4), (2, "t9 t10", 2)}
    sliding = {(r["chunk_id"], r["chunk_text"])
               for r in TX.chunk_documents(df, max_tokens=4,
                                           stride=2).collect()}
    assert sliding == {
        (0, "t1 t2 t3 t4"), (1, "t3 t4 t5 t6"), (2, "t5 t6 t7 t8"),
        (3, "t7 t8 t9 t10")}


def test_chunk_documents_short_and_empty(spark):
    df = _docs(spark, [(1, "only three words"), (2, "   ")])
    out = TX.chunk_documents(df, max_tokens=8).collect()
    assert [(r["id"], r["chunk_id"], r["chunk_text"]) for r in out] == \
        [(1, 0, "only three words")]


def test_chunk_documents_duckdb_parity(spark):
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    K, STRIDE = 32, 24
    got = TX.chunk_documents(docs, max_tokens=K, stride=STRIDE)
    sql = f"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ), c AS (
      SELECT doc_id, gs.i AS chunk_id,
             array_to_string(ws[gs.i*{STRIDE}+1 : gs.i*{STRIDE}+{K}], ' ') AS chunk_text,
             len(ws[gs.i*{STRIDE}+1 : gs.i*{STRIDE}+{K}]) AS n_tokens
      FROM w, LATERAL (SELECT unnest(generate_series(0,
            greatest(CAST(ceil((len(ws) - {K}) / CAST({STRIDE} AS double) + 1) AS int), 1) - 1)) AS i) gs
    )
    SELECT doc_id AS id, chunk_id, chunk_text, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c WHERE trim(chunk_text) != ''
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg


# -- vocabulary + corpus-frequency (rarity) scoring ------------------------


def test_build_vocabulary_counts_and_rank(spark):
    df = _docs(spark, [(1, "a a a b b c"), (2, "a b x")])
    vocab = {r["token"]: (r["count"], r["rank"])
             for r in TX.build_vocabulary(df).collect()}
    assert vocab == {"a": (4, 1), "b": (3, 2), "c": (1, 3), "x": (1, 4)}
    top2 = [r["token"] for r in
            TX.build_vocabulary(df, top_k=2).orderBy("rank").collect()]
    assert top2 == ["a", "b"]
    assert [r["token"] for r in
            TX.build_vocabulary(df, min_count=3).orderBy("rank").collect()] \
        == ["a", "b"]


def test_corpus_frequency_features_exact(spark):
    df = _docs(spark, [(1, "a a b"), (2, "a c")])
    # corpus counts: a=3, b=1, c=1
    out = {r["id"]: r for r in
           TX.corpus_frequency_features(df, rare_threshold=1).collect()}
    # doc 1: freqs [3,3,1] sum=7 mean=7/3=2.3333->23333 rare 1/3->3333
    assert out[1]["n_tokens"] == 3
    assert out[1]["sum_freq"] == 7
    assert out[1]["mean_freq_e4"] == 23333
    assert out[1]["rare_ratio_e4"] == 3333
    # doc 2: freqs [3,1] sum=4 mean 2.0 rare 1/2
    assert out[2]["mean_freq_e4"] == 20000
    assert out[2]["rare_ratio_e4"] == 5000


def test_corpus_frequency_with_bounded_vocab_broadcast(spark):
    df = _docs(spark, [(1, "a a b"), (2, "a z")])
    vocab = TX.build_vocabulary(df, top_k=2)  # a, b only; z is OOV
    got = {r["id"]: r for r in
           TX.corpus_frequency_features(df, vocab=vocab,
                                        rare_threshold=0).collect()}
    # doc 2: a=3, z OOV->0; rare (<=0) = 1 of 2
    assert got[2]["sum_freq"] == 3
    assert got[2]["rare_ratio_e4"] == 5000
    plan = TX.corpus_frequency_features(df, vocab=vocab) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_corpus_frequency_duckdb_parity(spark):
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.corpus_frequency_features(docs, rare_threshold=2)
    sql = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ), t AS (SELECT doc_id, token FROM toks WHERE token != ''),
    counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token),
    j AS (SELECT t.doc_id, counts.cnt FROM t JOIN counts USING (token)),
    agg AS (
      SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(cnt) AS BIGINT) AS sum_freq,
             CAST(sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM j GROUP BY doc_id
    )
    SELECT id, n_tokens, sum_freq,
           (20000 * sum_freq + n_tokens) // (2 * n_tokens) AS mean_freq_e4,
           (20000 * n_rare + n_tokens) // (2 * n_tokens) AS rare_ratio_e4
    FROM agg
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg


# -- URL/domain extraction + blocklist filtering ---------------------------


def test_domain_features_extracts_hosts(spark):
    df = _docs(spark, [
        (1, "see https://Example.COM/page and http://a.b.org/x plus https://example.com/other"),
        (2, "no links here"),
    ])
    out = {r["id"]: r for r in TX.domain_features(df).collect()}
    assert out[1]["n_urls"] == 3
    assert out[1]["domains"] == ["a.b.org", "example.com"]
    assert out[2]["n_urls"] == 0 and out[2]["domains"] == []


def test_filter_blocked_domains_subdomain_semantics(spark):
    df = _docs(spark, [
        (1, "link https://spam.example/x"),
        (2, "link https://sub.spam.example/y"),
        (3, "link https://notspam.example/z"),
        (4, "link https://fine.org/ok"),
        (5, "plain text"),
    ])
    kept = {r["doc_id"] for r in
            TX.filter_blocked_domains(df, ["spam.example"]).collect()}
    # exact host and true subdomains blocked; suffix-similar host kept
    assert kept == {3, 4, 5}
    exact_only = {r["doc_id"] for r in
                  TX.filter_blocked_domains(df, ["spam.example"],
                                            match_subdomains=False).collect()}
    assert exact_only == {2, 3, 4, 5}
    plan = TX.filter_blocked_domains(df, ["spam.example"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # pure map-side predicate


# -- bigram LM familiarity scoring ----------------------------------------

def test_bigram_keys_edges(spark):
    df = spark.createDataFrame(
        [(1, "The  quick\tbrown"), (2, "one"), (3, ""), (4, "A a A")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["bg"] for r in df.select(
        "doc_id", TX.bigram_keys(F.col("text")).alias("bg")).collect()}
    assert got[1] == ["the quick", "quick brown"]
    assert got[2] == [] and got[3] == []
    assert got[4] == ["a a", "a a"]


def test_build_bigram_table_counts_and_rank(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")
    rows = {r["bigram"]: (r["count"], r["rank"])
            for r in TX.build_bigram_table(df).collect()}
    # "a b" appears 3x (twice in doc1, once in doc2)
    assert rows["a b"] == (3, 1)
    assert rows["b a"][0] == 1 and rows["b c"][0] == 1


def test_bigram_lm_features_duckdb_parity(spark):
    """Full-operator parity against an independent DuckDB formulation
    over the real documents table — corpus-trained bigram + unigram
    tables, integer-exact conditionals (oracle-style evidence for a
    row outside the driver's capped 50-key window)."""
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.bigram_lm_features(docs)
    sql = """
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, p[1] || ' ' || p[2] AS bigram, p[1] AS w1
      FROM (SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS p
            FROM w WHERE len(ws) >= 2)
    ), bt AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS bcount FROM bg GROUP BY bigram
    ), uni AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS ucount
      FROM (SELECT unnest(ws) AS w1 FROM w) WHERE w1 != '' GROUP BY w1
    ), j AS (
      SELECT bg.doc_id,
             coalesce(bt.bcount, 0) AS bcount,
             coalesce(uni.ucount, 0) AS ucount,
             CASE WHEN coalesce(uni.ucount, 0) > 0
                  THEN (20000 * coalesce(bt.bcount, 0) + uni.ucount) // (2 * uni.ucount)
                  ELSE 0 END AS p_e4
      FROM bg LEFT JOIN bt USING (bigram) LEFT JOIN uni USING (w1)
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(bcount) AS BIGINT) AS sum_bigram_freq,
             CAST(sum(CASE WHEN bcount <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST(sum(p_e4) AS BIGINT) AS sum_p_e4
      FROM j GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.sum_bigram_freq, 0) AS sum_bigram_freq,
           coalesce((20000 * a.n_novel + a.n_bigrams) // (2 * a.n_bigrams), 0) AS novel_ratio_e4,
           coalesce((2 * a.sum_p_e4 + a.n_bigrams) // (2 * a.n_bigrams), 0) AS cond_familiarity_e4
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg


def test_bigram_lm_features_bounded_tables_broadcast(spark):
    """With pre-trained bounded tables both lookups must be broadcast
    hash joins — the exploded corpus side never shuffles for them."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bt = TX.build_bigram_table(docs, top_k=500)
    vocab = TX.build_vocabulary(docs, top_k=500)
    out = TX.bigram_lm_features(docs, bigram_table=bt, vocab=vocab)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # familiarity is a meaningful signal on the real corpus: bounded
    # tables -> some OOV, but typical prose scores nonzero
    row = out.agg(F.max("cond_familiarity_e4"),
                  F.max("novel_ratio_e4")).collect()[0]
    assert row[0] > 0 and row[1] > 0


def test_token_budget_with_real_bpe_counts(spark):
    """sample_to_token_budget priced in REAL tokenizer tokens: the
    budget maths runs on encode_bpe counts instead of the whitespace
    proxy (sanity: identical keep-decisions when counts are forced
    equal, different totals when BPE inflates short words)."""
    from datahub_spark.operators import bpe as B

    rows = [(i, "web" if i < 40 else "code",
             "alpha beta gamma delta epsilon") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    merges = B.train_bpe(df, n_merges=4)
    counts = B.encode_bpe(df, merges)
    n_bpe = counts.collect()[0]["n_tokens"]
    assert n_bpe > 5  # BPE splits beyond whitespace here

    kept = TX.sample_to_token_budget(
        df, "source", {"web": 20 * n_bpe, "code": 10 ** 9},
        token_counts=counts)
    by = {r["source"]: r["n"] for r in
          kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # code: budget >> total -> all kept; web: ~half the token mass
    assert by.get("code") == 20
    assert 0 < by.get("web", 0) < 40


# -- Gopher quality rules --------------------------------------------------

def test_gopher_rules_unit_cases(spark):
    fifty = " ".join(["the"] * 25 + ["and"] * 25)
    rows = [
        (1, fifty),                                  # passes everything
        (2, "too short of a doc"),                   # word count
        (3, " ".join(["a"] * 60)),                   # mean word len < 3
        (4, " ".join(["the#tag"] * 25 + ["and##"] * 25)),   # hash ratio
        (5, "\n".join(["- item the and"] * 10)),     # bullets >= 90%
        (6, " ".join(["1234"] * 50) + " the and"),   # alpha words < 80%
        (7, " ".join(["lorem"] * 50)),               # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TX.gopher_rules(df).collect()}
    assert got[1]["passes_gopher"]
    assert not got[2]["ok_word_count"]
    assert not got[3]["ok_mean_word_len"]
    assert not got[4]["ok_hash_ratio"]
    assert not got[5]["ok_bullet_lines"]
    assert not got[6]["ok_alpha_words"]
    assert not got[7]["ok_stopwords"]
    for i in (2, 3, 4, 5, 6, 7):
        assert not got[i]["passes_gopher"]


def test_gopher_rules_duckdb_parity(spark):
    """Full-operator parity against an independent DuckDB formulation
    over the real documents table — every rule boolean, value-exact."""
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.gopher_rules(docs)
    stop_terms = " + ".join(
        f"(CASE WHEN ' ' || nrm || ' ' LIKE '% {s} %' THEN 1 ELSE 0 END)"
        for s in TX.GOPHER_STOPWORDS)
    sql = f"""
    WITH base AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nrm,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS nt,
             CAST(length(array_to_string(ws, '')) AS BIGINT) AS tc,
             CAST(len(lines) AS BIGINT) AS nl,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS nhash,
             CAST((length(text) - length(replace(text, '...', ''))) // 3
                  + length(text) - length(replace(text, chr(8230), '')) AS BIGINT) AS nell,
             CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•‣▪]'))) AS BIGINT) AS nbul,
             CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS nelll,
             CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS nalpha,
             CAST({stop_terms} AS BIGINT) AS nstop
      FROM base
    )
    SELECT doc_id,
           nt >= 50 AND nt <= 100000 AS ok_word_count,
           tc >= 3 * nt AND tc <= 10 * nt AS ok_mean_word_len,
           nhash * 10 <= nt AS ok_hash_ratio,
           nell * 10 <= nt AS ok_ellipsis_ratio,
           nbul * 10 < nl * 9 AS ok_bullet_lines,
           nelll * 10 < nl * 3 AS ok_ellipsis_lines,
           nalpha * 5 >= nt * 4 AS ok_alpha_words,
           nstop >= 2 AS ok_stopwords,
           (nt >= 50 AND nt <= 100000) AND (tc >= 3 * nt AND tc <= 10 * nt)
           AND (nhash * 10 <= nt) AND (nell * 10 <= nt)
           AND (nbul * 10 < nl * 9) AND (nelll * 10 < nl * 3)
           AND (nalpha * 5 >= nt * 4) AND (nstop >= 2) AS passes_gopher
    FROM m
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg
    # the rules discriminate on this corpus (the synthetic docs contain
    # no real English stopwords, so the full conjunction is 0 by
    # construction — the word-count rule shows real variance instead)
    n_wc = got.filter(F.col("ok_word_count")).count()
    assert 0 < n_wc < docs.count()


def test_domain_stats_counts_and_mean_quality(spark):
    """Per-domain curation stats: n_docs counts citing documents,
    n_links total occurrences, mean quality over documents exact e4
    (DuckDB-parity checked in-suite)."""
    import duckdb

    rows = [
        (1, "see https://a.io/x and https://a.io/y plus http://b.co", 80),
        (2, "only https://A.IO/z here", 60),
        (3, "nothing linked", 99),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    got = {r["domain"]: r for r in
           TX.domain_stats(df, quality_col="q").collect()}
    assert set(got) == {"a.io", "b.co"}
    assert (got["a.io"]["n_docs"], got["a.io"]["n_links"]) == (2, 3)
    assert got["a.io"]["mean_quality_e4"] == 700000  # mean(80,60)*1e4
    assert (got["b.co"]["n_docs"], got["b.co"]["n_links"]) == (1, 1)
    assert got["b.co"]["mean_quality_e4"] == 800000

    # DuckDB parity on the real documents table (no quality column)
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    mine = sorted((r["domain"], r["n_docs"], r["n_links"]) for r in
                  TX.domain_stats(docs).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_SMALL}/documents.parquet')")
    want = sorted(map(tuple, con.execute(r"""
        WITH h AS (
          SELECT doc_id,
                 lower(x[1]) AS domain
          FROM (SELECT doc_id,
                       unnest(regexp_extract_all(
                         text, 'https?://([A-Za-z0-9.-]+)', 1)) AS u
                FROM documents) t(doc_id, u),
               LATERAL (SELECT [u]) s(x))
        SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM h GROUP BY domain
    """).fetchall()))
    assert mine == want


def test_weighted_sample_duckdb_parity_and_plan(spark):
    """A-ES weighted sampling: the DuckDB oracle reproduces the exact
    selection (same md5-derived u, same -ln(u)/w keys); the global
    variant's plan is TakeOrderedAndProject — per-partition partial
    top-k, no global sort shuffle."""
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.weighted_sample(docs, k=25, weight_col="n_chars", seed=7) \
        .select("doc_id")
    sql = """
    SELECT doc_id FROM (
      SELECT doc_id,
             -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT + 1)
                 / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE) AS k
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
    ORDER BY k, doc_id LIMIT 25
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg
    assert "TakeOrderedAndProject" in got._jdf.queryExecution().executedPlan().toString()


def test_weighted_sample_properties(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # exact k; stable under repartitioning
    a = sorted(r["doc_id"] for r in
               TX.weighted_sample(docs, 10, "n_chars").collect())
    b = sorted(r["doc_id"] for r in
               TX.weighted_sample(docs.repartition(13), 10, "n_chars").collect())
    assert len(a) == 10 and a == b

    # an overwhelming weight is always selected; nonpositive never is
    from pyspark.sql import functions as F
    w = docs.withColumn("w", F.when(F.col("doc_id") == a[0], F.lit(1e12))
                        .when(F.col("doc_id") == a[1], F.lit(-1.0))
                        .otherwise(F.lit(1e-12)))
    picked = {r["doc_id"] for r in TX.weighted_sample(w, 3, "w").collect()}
    assert a[0] in picked and a[1] not in picked

    # per-stratum variant: exactly k per stratum, deterministic
    per = TX.weighted_sample(docs, 5, "n_chars", strata_col="lang")
    counts = {r["lang"]: r["n"] for r in
              per.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts and all(v == 5 for v in counts.values()), counts


def test_assign_splits_duckdb_parity_and_rules(spark):
    from tests.oracle import compare
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = TX.assign_splits(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7, method="md5").select("doc_id", "split")
    sql = """
    SELECT doc_id,
           CASE WHEN u >= 0.9 AND u < 1.0 THEN 'test'
                WHEN u >= 0.8 AND u < 0.9 THEN 'val'
                WHEN u >= 0.0 AND u < 0.8 THEN 'train' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
                 / 1152921504606846976.0 AS u
          FROM documents)
    """
    ok, msg = compare(got, sql, sf)
    assert ok, msg

    # folds are disjoint + exhaustive at sum=1; stable under repartition
    rows = got.collect()
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    again = {r["doc_id"]: r["split"] for r in TX.assign_splits(
        docs.repartition(9), {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7, method="md5").collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)

    # fractions > 1 rejected; sub-1 leaves a null holdout
    import pytest
    with pytest.raises(ValueError):
        TX.assign_splits(docs, {"a": 0.7, "b": 0.4})
    hold = TX.assign_splits(docs, {"train": 0.5}, seed=7)
    assert hold.filter("split IS NULL").count() > 0


def test_split_by_duplicate_cluster_no_leakage(spark):
    # 0-1-2 chained near-dups + 3-4 pair + 5,6 singletons: every
    # cluster must land whole in one fold, for any seed
    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(7)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long")
    for seed in (1, 2, 3):
        out = TX.split_by_duplicate_cluster(
            docs, pairs, {"train": 0.5, "test": 0.5}, seed=seed)
        folds = {r["doc_id"]: r["split"] for r in out.collect()}
        assert len(folds) == 7
        assert folds[0] == folds[1] == folds[2], folds
        assert folds[3] == folds[4], folds


def test_normalize_unicode(spark):
    import unicodedata
    docs = spark.createDataFrame(
        [(1, "ﬁ ｆｕｌｌ​ｗｉｄｔｈ ①"),   # ligature, fullwidth, ZWSP
         (2, "tab\tand\nnewline kept\x07bell dropped"),
         (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in TX.normalize_unicode(docs).collect()}
    assert out[1] == "fi fullwidth 1"       # NFKC folds, Cf (ZWSP) dropped
    assert out[2] == "tab\tand\nnewline keptbell dropped"
    assert out[3] is None

    # NFC keeps compatibility characters; out_col leaves source intact
    kept = TX.normalize_unicode(docs, form="NFC", out_col="norm") \
        .filter("doc_id = 1").collect()[0]
    assert "ﬁ" in kept["norm"] and kept["text"].startswith("ﬁ")

    import pytest
    with pytest.raises(ValueError):
        TX.normalize_unicode(docs, form="NFX")

    # parity with the stdlib model on the documents table (identity on
    # ASCII corpora is itself the invariant worth pinning)
    sf = "/root/testdata/sf0.001"
    real = spark.read.parquet(f"{sf}/documents.parquet").limit(50)
    norm = TX.normalize_unicode(real).collect()
    for r in norm:
        assert r["text"] == unicodedata.normalize("NFKC", r["text"])


def test_text_suite_equals_joined_operators_and_plan(spark):
    """r9: text_suite (one staged projection, zero joins) is value-
    identical to the five per-signal operators joined on doc_id, and
    its plan contains no join and no shuffle at all."""
    from tests.conftest import SF_SMALL
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    suite = TX.text_suite(docs)
    prof = docs.select(
        "doc_id",
        TX.token_count_whitespace(F.col("text")).cast("long")
        .alias("n_ws_tokens"),
        TX.token_count_bpe_ish(F.col("text")).cast("long")
        .alias("n_bpe_tokens"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
    )
    joined = (TX.lang_id_table(docs)
              .join(TX.quality_features(docs), "doc_id")
              .join(prof, "doc_id")
              .join(TX.repetition_features(docs), "doc_id")
              .join(TX.pii_scrub(docs), "doc_id"))
    assert suite.columns == joined.columns
    a = sorted(map(tuple, suite.collect()))
    b = sorted(map(tuple, joined.collect()))
    assert a == b
    plan = suite._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_pii_scrub_null_text_counts_stay_null(spark):
    """r13 review finding: the instr guards must not coerce a NULL
    text's guarded counts to 0 while the unguarded card count stays
    NULL — all five counts and the scrub agree on NULL."""
    df = spark.createDataFrame([(1, None), (2, "mail a@b.io now")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.pii_scrub(df).collect()}
    r = out[1]
    assert all(r[f"n_{k}"] is None
               for k in ("email", "url", "ipv4", "phone", "card")), r
    assert r["scrubbed"] is None
    assert out[2]["n_email"] == 1 and out[2]["scrubbed"].startswith("mail <EMAIL>")


def test_canonicalize_url(spark):
    """r14: URL canonicalization for URL-level dedup — tracking params
    stripped, surviving params sorted, scheme/host lowercased, default
    ports dropped, fragments gone, empty paths normalized; unparseable
    strings pass through unchanged."""
    from pyspark.sql import functions as F

    cases = [
        # (input, expected canonical)
        ("HTTP://Example.COM:80/a/B?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/B?a=1&b=2"),
        ("https://site.org:443/", "https://site.org/"),
        ("https://site.org:8443/x", "https://site.org:8443/x"),
        ("https://Site.org", "https://site.org/"),
        ("http://h/p?fbclid=abc&gclid=1", "http://h/p"),
        ("http://h/p?ref=tw&keep=1&utm_campaign=z",
         "http://h/p?keep=1&ref=tw"),
        # bare ref is CONTENT ROUTING on many sites (r15, r14 ADVICE):
        # kept by default, distinct branches stay distinct URLs
        ("https://github.com/o/r/tree?ref=main",
         "https://github.com/o/r/tree?ref=main"),
        # param VALUES keep case; names sort byte-wise
        ("http://h/P?z=UP&A=low", "http://h/P?A=low&z=UP"),
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", TX.canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)
    # the dedup composition: variants of one page collapse to one key
    variants = spark.createDataFrame(
        [(1, "http://A.com/x?utm_source=a"),
         (2, "HTTP://a.com:80/x#top"),
         (3, "http://a.com/x?utm_medium=b")],
        "doc_id long, url string")
    n = variants.select(
        TX.canonicalize_url(F.col("url")).alias("c")).distinct().count()
    assert n == 1
    # corpora where ?ref= IS a tracking param opt in explicitly
    got_ref = spark.createDataFrame(
        [(1, "http://h/p?ref=tw&keep=1")], "i long, url string").select(
        TX.canonicalize_url(
            F.col("url"),
            tracking_prefixes=TX._TRACKING_PARAM_PREFIXES + ("ref",)
        ).alias("c")).collect()[0]["c"]
    assert got_ref == "http://h/p?keep=1"


def test_compression_ratio_signal(spark):
    """r15: deflate-compressibility quality proxy — repetitive text
    compresses far below prose, the ratio is exact integer e4
    fixed-point against a driver-side zlib recompute, and null/empty
    docs null out."""
    import zlib

    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then "
            "discusses several unrelated topics at considerable length "
            "with varied vocabulary throughout the whole passage"),
        (2, "spam spam spam spam " * 50),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TX.compression_ratio(df).collect()}
    for i, text in rows:
        if not text:
            assert got[i]["compress_ratio_e4"] is None, i
            continue
        raw = text.encode()
        nd = len(zlib.compress(raw, 6))
        assert got[i]["n_bytes"] == len(raw)
        assert got[i]["n_deflate"] == nd
        assert got[i]["compress_ratio_e4"] == 10_000 * nd // len(raw)
    # the discrimination the signal exists for
    assert got[2]["compress_ratio_e4"] < got[1]["compress_ratio_e4"] // 3
    # composes as a filter on any corpus frame
    kept = TX.compression_ratio(df).filter(
        F.col("compress_ratio_e4").between(2000, 9000)).count()
    assert kept == 1


def test_n_word_trigrams_matches_built_array_incl_null_and_short(spark):
    """Null-shape pin (r16, VERDICT r15 'what's wrong' #2): the
    arithmetic trigram count must equal size(word_trigrams(w)) on EVERY
    input shape — including NULL text, where size(words(null)) is null
    and the >= 3 guard falls to the 0 branch exactly like the built
    empty array's size. If a corpus change ever lets the two diverge,
    this pins the contract the text_suite oracle relies on."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (4, "one two"),
         (5, "one two three"), (6, "a b c d e f")],
        "doc_id long, text string")
    w = TX.words(F.col("text"))
    out = df.select(
        "doc_id",
        TX.n_word_trigrams(w).alias("fast"),
        F.size(TX.word_trigrams(w)).cast("long").alias("built"),
    ).collect()
    for r in out:
        assert r["fast"] == r["built"], (r["doc_id"], r["fast"], r["built"])
    vals = {r["doc_id"]: r["fast"] for r in out}
    assert vals == {1: 0, 2: 0, 3: 0, 4: 0, 5: 1, 6: 4}
