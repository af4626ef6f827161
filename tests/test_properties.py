"""Property-based invariants (hypothesis) for the versioned store.

One Spark job per example is too slow, so each property generates a
batch of random logs, runs ONE Spark plan over their union, and checks
every log's invariant against an independent pure-python model.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datahub_spark import store as S
from datahub_spark.model import ENTITY_SCHEMA

# a random version log: list of (id, recorded, seq, deleted, prop-value)
version = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=0, max_value=2),
    st.booleans(),
    st.sampled_from(["x", "y", "z"]),
)
log_strategy = st.lists(version, min_size=1, max_size=12, unique_by=lambda v: (v[0], v[1], v[2]))


def _df(spark, log, dataset):
    rows = [(i, r, s, d, {"p:v": v}, {}, dataset) for (i, r, s, d, v) in log]
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


def _model_latest(log):
    best = {}
    for (i, r, s, d, v) in log:
        if i not in best or (r, s) > (best[i][0], best[i][1]):
            best[i] = (r, s, d, v)
    return {i: t for i, t in best.items() if not t[2]}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(log_strategy, min_size=1, max_size=8))
def test_latest_matches_reference_model(spark, logs):
    union = None
    for n, log in enumerate(logs):
        df = _df(spark, log, f"d{n}")
        union = df if union is None else union.unionByName(df)
    got = S.latest(union).collect()
    by_ds = {}
    for r in got:
        by_ds.setdefault(r["dataset"], {})[r["id"]] = (
            r["recorded"], r["seq"], r["deleted"], r["props"]["p:v"])
    for n, log in enumerate(logs):
        assert by_ds.get(f"d{n}", {}) == _model_latest(log), f"log {n}: {log}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_strategy)
def test_compaction_preserves_all_observable_states(spark, log):
    """Compaction must not change the state visible at ANY point in time
    that differs from the previous state (that's its contract)."""
    df = _df(spark, log, "d")
    compacted = S.compact_deduplicate(df)
    for asof in range(1, 6):
        before = {(r["id"], r["deleted"], r["props"]["p:v"])
                  for r in S.point_in_time(df, asof).collect()}
        after = {(r["id"], r["deleted"], r["props"]["p:v"])
                 for r in S.point_in_time(compacted, asof).collect()}
        assert before == after, f"as_of={asof} log={log}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_strategy)
def test_compaction_is_idempotent(spark, log):
    df = _df(spark, log, "d")
    once = S.compact_deduplicate(df)
    twice = S.compact_deduplicate(once)
    a = sorted((r["id"], r["recorded"], r["seq"]) for r in once.collect())
    b = sorted((r["id"], r["recorded"], r["seq"]) for r in twice.collect())
    assert a == b


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**62), st.integers(min_value=0, max_value=2**52))
def test_user_log_pushdown_rewrite_is_exact(ts, bound_us):
    """ingest.user_log rewrites recorded-range predicates onto the raw ts
    column so they push to the parquet scan. For the LEGACY int64-nanos
    encoding (ingest._ts_bound bigint branch; timestamp encodings are
    exact at micro resolution by construction) the rewrite must be EXACT
    for every int64 ts, including sub-microsecond components:
      recorded >  S  <=>  ts >  S*1000 + 999
      recorded <= U  <=>  ts <= U*1000 + 999
    where recorded = ts div 1000 (truncating division, ts >= 0)."""
    recorded = ts // 1000
    assert (recorded > bound_us) == (ts > bound_us * 1000 + 999)
    assert (recorded <= bound_us) == (ts <= bound_us * 1000 + 999)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_strategy, st.integers(min_value=0, max_value=6))
def test_retention_gc_never_changes_latest(spark, log, horizon):
    df = _df(spark, log, "d")
    kept = S.retention_gc(df, horizon)
    before = sorted((r["id"], r["recorded"], r["seq"])
                    for r in S.latest(df, include_deleted=True).collect())
    after = sorted((r["id"], r["recorded"], r["seq"])
                   for r in S.latest(kept, include_deleted=True).collect())
    assert before == after


# -- script-surface Arrow roundtrip ----------------------------------------
# entities with adversarial content: empty/None maps, unicode, pipes,
# colons-in-ids, empty strings, multi-value refs

_txt = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    min_size=0, max_size=12)
_entity_row = st.tuples(
    st.text(alphabet="abc:|0", min_size=1, max_size=8),   # id (pipes + colons)
    st.integers(min_value=0, max_value=2**40),            # recorded
    st.integers(min_value=0, max_value=2**40),            # seq
    st.booleans(),                                        # deleted
    st.one_of(st.none(), st.dictionaries(_txt.filter(bool), _txt, max_size=3)),
    st.one_of(st.none(), st.dictionaries(
        _txt.filter(bool), st.lists(_txt, min_size=0, max_size=3), max_size=2)),
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_entity_row, min_size=1, max_size=10, unique_by=lambda e: e[0]))
def test_script_identity_roundtrips_arbitrary_entities(spark, rows):
    """The script surface's row->entity-dict->row conversion (Arrow map
    handling, ref list normalization) must be lossless under the identity
    transform for ANY entity content."""
    import datahub_spark.script as SC

    df = spark.createDataFrame(
        [(i, r, s, d, p, f, "ds") for (i, r, s, d, p, f) in rows], ENTITY_SCHEMA)
    out = SC.script_transform(df, "function transform_entities(e) { return e; }")
    got = {r["id"]: r for r in out.collect()}
    assert len(got) == len(rows)
    for (i, r, s, d, p, f) in rows:
        row = got[i]
        assert (row["recorded"], row["seq"], row["deleted"]) == (r, s, d)
        assert (row["props"] or {}) == (p or {})
        assert (row["refs"] or {}) == ({k: list(v) for k, v in f.items()} if f else {})


# -- text-rewrite invariants (r7 operators) vs a pure-python model --------

word = st.sampled_from([f"w{i}" for i in range(8)])
doc_strategy = st.lists(word, min_size=0, max_size=14)


def _model_span_removal(docs: dict, window: int, min_docs: int):
    """Pure-python remove_duplicate_substrings."""
    grams: dict[tuple, set] = {}
    for did, ws in docs.items():
        for s in range(max(0, len(ws) - window + 1)):
            grams.setdefault(tuple(ws[s:s + window]), set()).add(did)
    dup = {g for g, ids in grams.items() if len(ids) >= min_docs}
    out = {}
    for did, ws in docs.items():
        covered = set()
        starts = [s for s in range(max(0, len(ws) - window + 1))
                  if tuple(ws[s:s + window]) in dup]
        for s in starts:
            covered.update(range(s, s + window))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        out[did] = (" ".join(kept), len(ws), len(ws) - len(kept), len(starts))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_strategy, min_size=1, max_size=8))
def test_span_removal_matches_python_model(spark, docs_words):
    from datahub_spark.operators import dedup as DD
    docs = {i: ws for i, ws in enumerate(docs_words)}
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()],
        "doc_id long, text string")
    got = {r["id"]: (r["clean_text"], r["n_words"], r["n_removed_words"],
                     r["n_dup_windows"])
           for r in DD.remove_duplicate_substrings(
               df, window=3, min_docs=2).collect()}
    # split('') on empty normalized text yields [''] — the operator's
    # n_words for an empty doc is 1 (one empty token); align the model
    model = {}
    for did, (ct, nw, nr, nd) in _model_span_removal(docs, 3, 2).items():
        model[did] = (ct, max(nw, 1), nr, nd)
    assert got == model


def _model_boilerplate(docs: dict, window: int, min_docs: int):
    segs: dict[tuple, set] = {}
    per_doc: dict[int, list] = {}
    for did, ws in docs.items():
        chunks = [tuple(ws[i:i + window])
                  for i in range(0, len(ws), window)]
        chunks = [c for c in chunks if c]
        per_doc[did] = chunks
        for c in chunks:
            segs.setdefault(c, set()).add(did)
    blocked = {c for c, ids in segs.items() if len(ids) >= min_docs}
    out = {}
    for did, chunks in per_doc.items():
        kept = [" ".join(c) for c in chunks if c not in blocked]
        n_drop = sum(1 for c in chunks if c in blocked)
        out[did] = (" ".join(kept), len(chunks) - n_drop, n_drop)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_strategy, min_size=1, max_size=8))
def test_boilerplate_window_matches_python_model(spark, docs_words):
    from datahub_spark.operators import text as TX
    docs = {i: ws for i, ws in enumerate(docs_words)}
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["kept_segments"],
                         r["dropped_segments"])
           for r in TX.remove_boilerplate(df, window=3,
                                          min_docs=2).collect()}
    assert got == _model_boilerplate(docs, 3, 2)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_strategy, min_size=1, max_size=6), st.integers(1, 4),
       st.integers(1, 4))
def test_chunking_reassembles_to_normalized_text(spark, docs_words, k, stride):
    from datahub_spark.operators import text as TX
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs_words)],
        "doc_id long, text string")
    out = TX.chunk_documents(df, max_tokens=k, stride=stride).collect()
    by_doc: dict[int, dict[int, str]] = {}
    for r in out:
        by_doc.setdefault(r["id"], {})[r["chunk_id"]] = r["chunk_text"]
    for i, ws in enumerate(docs_words):
        chunks = by_doc.get(i, {})
        if not ws:
            assert chunks == {}
            continue
        # disjoint-stride reassembly covers the doc exactly; general
        # stride: every chunk is the right slice
        for cid, ctext in chunks.items():
            s = cid * stride
            assert ctext == " ".join(ws[s:s + k])
        if stride == k:
            assert " ".join(
                chunks[c] for c in sorted(chunks)) == " ".join(ws)


# -- bigram LM invariants ---------------------------------------------------

_doc_text = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "Aa", "x"]),
    min_size=0, max_size=8).map(" ".join)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc_text, min_size=1, max_size=10))
def test_bigram_lm_matches_python_model(spark, texts):
    """Distributed bigram-LM features == a pure-python reference model:
    counts, e4 novel ratio, e4 mean conditional — exact, every doc."""
    from datahub_spark.operators import text as TX

    def norm(t):
        return " ".join(t.lower().split())

    def bigrams(t):
        w = norm(t).split(" ")
        return [f"{a} {b}" for a, b in zip(w, w[1:])] if len(w) >= 2 else []

    bt, uni = {}, {}
    for t in texts:
        for bg in bigrams(t):
            bt[bg] = bt.get(bg, 0) + 1
        for w in norm(t).split(" "):
            if w:
                uni[w] = uni.get(w, 0) + 1

    expect = {}
    for i, t in enumerate(texts):
        bgs = bigrams(t)
        if not bgs:
            expect[i] = (0, 0, 0, 0)
            continue
        sum_freq = sum(bt[b] for b in bgs)
        n_novel = sum(1 for b in bgs if bt[b] <= 1)
        p_e4s = []
        for b in bgs:
            u = uni.get(b.split(" ")[0], 0)
            p_e4s.append((20000 * bt[b] + u) // (2 * u) if u > 0 else 0)
        n = len(bgs)
        expect[i] = (n, sum_freq,
                     (20000 * n_novel + n) // (2 * n),
                     (2 * sum(p_e4s) + n) // (2 * n))

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["id"]: (r["n_bigrams"], r["sum_bigram_freq"],
                     r["novel_ratio_e4"], r["cond_familiarity_e4"])
           for r in TX.bigram_lm_features(df).collect()}
    assert got == expect


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=2 ** 31), min_size=1,
                max_size=6),
       st.integers(min_value=4000, max_value=16000))
def test_wav_roundtrip_arbitrary_frames(spark, seeds, rate):
    """synthesize_wav -> decode_wav_features round-trips header fields
    exactly for arbitrary payload-deriving texts and sample rates."""
    from datahub_spark.operators import multimodal as MM

    texts = [("s" * (s % 97)) + str(s) for s in seeds]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r for r in MM.decode_wav_features(
        MM.synthesize_wav(df, rate=rate)).collect()}
    for i, t in enumerate(texts):
        r = got[i]
        assert r["sample_rate"] == rate
        assert r["n_frames"] == 64 + (len(t) % 512)
        assert r["n_channels"] == 1 and r["sample_width"] == 2


# -- WAL ingest equivalence -------------------------------------------------

_wal_entity = st.tuples(
    st.sampled_from(["a", "b", "c", "d"]),
    st.booleans(),
    st.sampled_from(["x", "y", ""]),
)
_wal_batches = st.lists(
    st.lists(_wal_entity, min_size=1, max_size=4), min_size=1, max_size=4)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(_wal_batches)
def test_wal_flush_equals_direct_store(spark, tmp_path_factory, batches):
    """Arbitrary append batches through the WAL produce EXACTLY the log
    a single direct store_entities of the concatenation produces (ids,
    order-of-seq, payloads, tombstones) — durability buffering must not
    change observable store semantics."""
    from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA
    from datahub_spark.store import EntityStore, WalIngest

    ents = [{"id": f"e:{i}", "deleted": d,
             "props": ({"p:v": v} if v else {})}
            for batch in batches
            for (i, d, v) in [t for t in batch]]

    root = tmp_path_factory.mktemp("walprop")
    es_wal = EntityStore(spark, str(root / "wal_store"))
    wal = WalIngest(es_wal, "d")
    off = 0
    for batch in batches:
        wal.append(ents[off:off + len(batch)])
        off += len(batch)
    wal.flush(skip_unchanged=False)
    wal.close()

    es_direct = EntityStore(spark, str(root / "direct"))
    rows = [(e["id"], None, seq, e["deleted"], e["props"], {}, "d")
            for seq, e in enumerate(ents)]
    es_direct.store_entities(
        "d", spark.createDataFrame(rows, SCRIPT_OUTPUT_SCHEMA)
        .drop("dataset"), skip_unchanged=False)

    def snap(es):
        return sorted(
            (r["id"], r["seq"], r["deleted"], dict(r["props"] or {}))
            for r in es.log(["d"]).collect())

    assert snap(es_wal) == snap(es_direct)


# -- Gopher rule invariants -------------------------------------------------

_gopher_doc = st.lists(
    st.sampled_from(["the", "and", "a", "####", "...", "12", "lorem",
                     "- item", "\n", "…"]),
    min_size=0, max_size=60).map(" ".join)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_gopher_doc, min_size=1, max_size=6))
def test_gopher_rules_match_python_model(spark, texts):
    """Every rule boolean == an independent pure-python evaluation of
    the same integer-exact formulas, on adversarial random docs."""
    import re

    from datahub_spark.operators.text import GOPHER_STOPWORDS
    from datahub_spark.operators import text as TX

    def model(t):
        w = [x for x in " ".join(t.lower().split()).split(" ")]
        lines = t.split("\n")
        nt = len(w)
        tc = sum(len(x) for x in w)
        nl = len(lines)
        nhash = t.count("#")
        nell = (len(t) - len(t.replace("...", ""))) // 3 \
            + len(t) - len(t.replace("…", ""))
        nbul = sum(1 for l in lines
                   if re.match(r"^[-*•‣▪]", l.strip()))
        nelll = sum(1 for l in lines
                    if re.search(r"(\.\.\.|…)$", l.rstrip()))
        nalpha = sum(1 for x in w if re.search("[a-z]", x))
        padded = " " + " ".join(t.lower().split()) + " "
        nstop = sum(1 for s in GOPHER_STOPWORDS if f" {s} " in padded)
        return {
            "ok_word_count": 50 <= nt <= 100_000,
            "ok_mean_word_len": 3 * nt <= tc <= 10 * nt,
            "ok_hash_ratio": nhash * 10 <= nt,
            "ok_ellipsis_ratio": nell * 10 <= nt,
            "ok_bullet_lines": nbul * 10 < nl * 9,
            "ok_ellipsis_lines": nelll * 10 < nl * 3,
            "ok_alpha_words": nalpha * 5 >= nt * 4,
            "ok_stopwords": nstop >= 2,
        }

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in TX.gopher_rules(df).collect()}
    for i, t in enumerate(texts):
        want = model(t)
        for rule, expect in want.items():
            assert got[i][rule] == expect, (rule, repr(t))
        assert got[i]["passes_gopher"] == all(want.values())


def _model_retention(log, horizon):
    newest = {}
    for (i, r, s, d, v) in log:
        if i not in newest or (r, s) > (newest[i][1], newest[i][2]):
            newest[i] = (i, r, s)
    keep = {(i, r, s) for (i, r, s, d, v) in log if r > horizon}
    keep |= set(newest.values())
    return keep


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_strategy, st.integers(min_value=0, max_value=6))
def test_retention_gc_survivor_set_matches_model(spark, log, horizon):
    """Exact survivor set (not just latest-invariance): rows above the
    horizon plus each entity's newest row, nothing else."""
    df = _df(spark, log, "d")
    got = {(r["id"], r["recorded"], r["seq"])
           for r in S.retention_gc(df, horizon).collect()}
    assert got == _model_retention(log, horizon), f"h={horizon} log={log}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(log_strategy)
def test_clean_deleted_matches_model(spark, log):
    """Cleandeleted property: an entity's entire history survives iff
    its latest version is live; no partial purges, no collateral."""
    df = _df(spark, log, "d")
    got = {(r["id"], r["recorded"], r["seq"])
           for r in S.clean_deleted(df).collect()}
    latest = {}
    for (i, r, s, d, v) in log:
        if i not in latest or (r, s) > (latest[i][0], latest[i][1]):
            latest[i] = (r, s, d)
    live = {i for i, t in latest.items() if not t[2]}
    want = {(i, r, s) for (i, r, s, d, v) in log if i in live}
    assert got == want, f"log={log}"


# --- asof_join vs a bisect reference model (r8) -----------------------------

asof_strategy = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        min_size=1, max_size=12),
    st.lists(  # right: (key, ts, value) with unique (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 40), st.integers(0, 99)),
        min_size=0, max_size=12,
        unique_by=lambda t: (t[0], t[1])),
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(asof_strategy)
def test_asof_join_matches_bisect_model(spark, data):
    import bisect
    from datahub_spark.operators.temporal import asof_join

    lrows, rrows = data
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "lid long, k long, ts long")
    right = (spark.createDataFrame(rrows, "k long, ts long, v long")
             if rrows else
             spark.createDataFrame([], "k long, ts long, v long"))

    by_key: dict = {}
    for k, t, v in sorted(rrows):
        by_key.setdefault(k, []).append((t, v))
    def model(k, t):
        tl = by_key.get(k, [])
        i = bisect.bisect_right([x[0] for x in tl], t)
        return tl[i - 1] if i else (None, None)

    got = {r["lid"]: (r["_asof_ts"], r["v"])
           for r in asof_join(left, right, on="k").collect()}
    assert len(got) == len(lrows)
    for i, (k, t) in enumerate(lrows):
        assert got[i] == model(k, t), (i, k, t)


# --- range_join vs a nested-loop model (r8) ---------------------------------

range_strategy = st.tuples(
    st.lists(st.tuples(st.integers(0, 2), st.integers(-50, 50)),
             min_size=1, max_size=10),          # points: (key, p)
    st.lists(st.tuples(st.integers(0, 2), st.integers(-50, 50),
                       st.integers(0, 60), st.integers(0, 999)),
             min_size=0, max_size=8),           # ranges: (key, lo, width, tag)
    st.sampled_from([1, 3, 7, 25]),             # bin width
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(range_strategy)
def test_range_join_matches_nested_loop_model(spark, data):
    from datahub_spark.operators.temporal import range_join

    prows, rraw, bw = data
    rrows = [(k, lo, lo + wdt, tag) for k, lo, wdt, tag in rraw]
    points = spark.createDataFrame(
        [(i, k, p) for i, (k, p) in enumerate(prows)],
        "pid long, k long, p long")
    ranges = (spark.createDataFrame(rrows, "k long, lo long, hi long, tag long")
              if rrows else
              spark.createDataFrame([], "k long, lo long, hi long, tag long"))
    got = sorted((r["pid"], r["tag"]) for r in
                 range_join(points, ranges, "p", on="k",
                            bin_width=bw).collect())
    want = sorted(
        (i, tag)
        for i, (k, p) in enumerate(prows)
        for (rk, lo, hi, tag) in rrows
        if rk == k and lo <= p <= hi)
    assert got == want


# --- pack_sequences vs a sequential model (r8) ------------------------------


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(0, 300), min_size=1, max_size=25),
       st.sampled_from([1, 64, 1000]),
       st.sampled_from([1, 3, 9]))
def test_pack_sequences_matches_sequential_model(spark, counts, cap, parts):
    from datahub_spark.operators.export import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(counts)], "doc_id long, n long")
    got = sorted(map(tuple, pack_sequences(
        df, cap, count_col="n", partitions=parts).collect()))
    want, s = [], 0
    for i, n in enumerate(counts):
        if n <= 0:
            continue
        for seq in range(s // cap, (s + n - 1) // cap + 1):
            lo, hi = max(s, seq * cap), min(s + n, (seq + 1) * cap)
            want.append((i, seq, lo - s, hi - s, lo - seq * cap))
        s += n
    assert got == sorted(want)
