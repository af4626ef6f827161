"""Text analysis operators for training-data pipelines.

All expressions are built-in pyspark.sql.functions (JVM codegen; no
Python in the hot path) and are deliberately portable: the same logic is
expressible in DuckDB SQL for the correctness oracle. Hashing uses md5
(identical hex output in both engines).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/marker heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "los", "es", "una"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "data", "value"]


def normalize(col: Column) -> Column:
    """Canonical text normalization: lowercase, collapse whitespace, trim.
    (DuckDB oracle: lower + regexp_replace(.., '\\s+', ' ', 'g') + trim.)"""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: Column) -> Column:
    return F.split(normalize(col), " ")


def token_count_whitespace(col: Column) -> Column:
    return F.size(words(col))


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish token estimate: alphabetic runs, digits, and punctuation
    each count as one token (a cheap proxy for byte-pair tokenizers).

    Computed WITHOUT materializing the token array (r11): collapsing
    each [a-z]+ run to one char and deleting spaces leaves exactly one
    character per token (runs -> 'x', digits and other non-space chars
    count themselves), so the count is a length — one regex pass and a
    literal replace instead of regexp_extract_all allocating every
    token (measured ~2x at sf1; value-identical, the DuckDB oracle
    still spells it len(regexp_extract_all(...)))."""
    collapsed = F.replace(F.regexp_replace(normalize(col), r"[a-z]+", "x"),
                          F.lit(" "), F.lit(""))
    return F.length(collapsed)


def _count_in_padded(padded: Column, marker: str) -> Column:
    needle = f" {marker} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(" "))))
        / (len(needle) - 1)
    ).cast("long")


def lang_id_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-frequency language ID. Ties and zero evidence -> 'und';
    deterministic first-match-on-max in sorted language order.

    Staged through projections (normalize once -> score columns -> argmax)
    rather than one nested expression: a single inlined expression tree
    here exceeds janino's 64 KB method limit and silently drops the whole
    stage out of codegen. Catalyst keeps the stages separate because the
    intermediate columns are referenced more than once (CollapseProject
    only inlines cheap or single-use expressions)."""
    langs = sorted(LANG_MARKERS)
    padded = F.concat(F.lit(" "), normalize(F.col(text_col)), F.lit(" "))
    st1 = df.select(F.col(id_col), padded.alias("_p"))
    st2 = st1.select(
        id_col,
        *[
            sum((_count_in_padded(F.col("_p"), m) for m in LANG_MARKERS[lang]),
                F.lit(0).cast("long")).alias(f"_s_{lang}")
            for lang in langs
        ],
    )
    gm = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    pred = F.when(gm == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"_s_{lang}") == gm, F.lit(lang))
    return st2.select(id_col, pred.alias("lang_pred"))


# every column quality_features creates, lower-cased (Spark resolves
# names case-insensitively)
_QUALITY_COLS = frozenset({
    "doc_id", "_t", "_p", "_w", "n_tokens", "_tc", "stopword_hits",
    "n_punct", "_n", "_d", "mean_token_len_e4", "quality_score_centi"})


def quality_features(df: DataFrame, text_col: str = "text",
                     keep_cols: list[str] | None = None) -> DataFrame:
    """Quality-scoring features: token count, mean token length (fixed-point
    e4), stopword ratio, punctuation ratio, and a composite score in
    centi-points [0, 10000]. All arithmetic is exact integer fixed-point:
    float rounding at half-ties (e.g. a true score of 64.975) is resolved
    differently by different engines, so ratios are kept as exact rationals
    N/D and rounded half-up via integer division — bit-identical everywhere.

    score = min(nt/50,1)*40 + min(5*sh/nt,1)*30 + (1-min(10*np/nc,1))*30
    over common denominator D = 5*nt*nc:
    N = 4*min(nt,50)*nt*nc + 5*nc*min(150*sh,30*nt) + 5*nt*max(30*nc-300*np,0)

    ``keep_cols`` names input columns to carry through unchanged, so a
    caller computes the score AND another per-row derivation (e.g. the
    content digest) in ONE corpus scan instead of joining two scans on
    doc_id. Any name is taken literally (spaces, dots); a name that
    collides with an internal or output column raises ValueError.
    """
    for c in keep_cols or []:
        if c.lower() in _QUALITY_COLS:
            raise ValueError(f"quality_features: keep_cols name {c!r} "
                             "collides with an internal column")
    keep = [F.col("`" + c.replace("`", "``") + "`")
            for c in keep_cols or []]
    # stage normalization once (see lang_id_table on the 64 KB codegen limit)
    df = df.select(
        F.col("doc_id"),
        *keep,
        F.col(text_col).alias("_t"),
        F.concat(F.lit(" "), normalize(F.col(text_col)), F.lit(" ")).alias("_p"),
        F.split(normalize(F.col(text_col)), " ").alias("_w"),
    )
    t = F.col("_t")
    w = F.col("_w")
    nt = F.size(w).cast("long")
    tc = F.length(F.array_join(w, "")).cast("long")  # total token chars
    sh = sum((_count_in_padded(F.col("_p"), s) for s in STOPWORDS), F.lit(0).cast("long"))
    np_ = (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("long")
    nc = F.length(t).cast("long")
    num = (
        F.least(nt, F.lit(50)) * 4 * nt * nc
        + nc * 5 * F.least(sh * 150, nt * 30)
        + nt * 5 * F.greatest(nc * 30 - np_ * 300, F.lit(0).cast("long"))
    )
    den = nt * nc * 5
    return df.select(
        F.col("doc_id"),
        *keep,
        nt.alias("n_tokens"),
        tc.alias("_tc"),
        sh.alias("stopword_hits"),
        np_.alias("n_punct"),
        num.alias("_n"),
        den.alias("_d"),
    ).select(
        "doc_id",
        *keep,
        "n_tokens",
        # round-half-up(1e4 * tc / nt) in pure integer arithmetic
        F.expr("(20000 * _tc + n_tokens) div (2 * n_tokens)")
        .alias("mean_token_len_e4"),
        "stopword_hits",
        "n_punct",
        # round-half-up(100 * N / D)
        F.expr("(200 * _n + _d) div (2 * _d)").alias("quality_score_centi"),
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of normalized text (portable; the
    reference category uses content hashes for change detection)."""
    return F.md5(normalize(col))


def word_trigrams(w: Column) -> Column:
    """Token trigrams of a words array via CHAINED zip_with over three
    shifted slices (the dedup.shingles shape) — one concat per gram,
    where the transform(sequence)/array_join/slice formulation
    allocated a 3-element subarray per position and measured ~5x
    slower at sf1 (4.3s -> 0.9s for the suite's trigram stage).
    Identical strings: ((a || ' ' || b) || ' ' || c)."""
    m = F.greatest(F.size(w) - 2, F.lit(0))
    g = F.slice(w, 1, m)
    for j in (2, 3):
        g = F.zip_with(g, F.slice(w, j, m),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(w) >= 3, g) \
        .otherwise(F.array().cast("array<string>"))


def n_word_trigrams(w: Column) -> Column:
    """|word_trigrams(w)| WITHOUT building the gram array (r15
    optimization round): the chained zip_with yields exactly
    size(w)-2 grams when size(w) >= 3 and an empty array otherwise,
    so the count is pure arithmetic. Building the array just to size()
    it measured ~3.8s of text_suite's 10.6s at x100 — the gram strings
    were constructed TWICE (once for the count column, once for the
    distinct count; no common-subexpression elimination across output
    columns). Null input: size(null) is null, the >= 3 guard falls to
    the 0 branch, matching size(empty array) = 0 exactly."""
    return F.when(F.size(w) >= 3, F.size(w) - 2) \
        .otherwise(F.lit(0)).cast("long")


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals for quality filtering: duplicate-line ratio and
    duplicate token-trigram ratio, both exact integer fixed-point e4
    (round-half-up; 0 when there is nothing to repeat). Array ops only —
    no shuffle, no Python."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    w = words(t)
    tri = word_trigrams(w)
    staged = df.select(
        F.col("doc_id"),
        F.size(lines).cast("long").alias("_nl"),
        F.size(F.array_distinct(lines)).cast("long").alias("_dl"),
        n_word_trigrams(w).alias("_nt"),
        F.size(F.array_distinct(tri)).cast("long").alias("_dt"),
    )
    return staged.selectExpr(
        "doc_id",
        "_nl as n_lines",
        "case when _nl = 0 then 0 else (20000 * (_nl - _dl) + _nl) div (2 * _nl) end as dup_line_e4",
        "_nt as n_trigrams",
        "case when _nt = 0 then 0 else (20000 * (_nt - _dt) + _nt) div (2 * _nt) end as dup_trigram_e4",
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    # after url (an address inside a URL is scrubbed as part of the URL;
    # counts are taken on the ORIGINAL text for every kind, so ordering
    # only affects the scrub, identically in both engines)
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9() -]{7,}[0-9]",
    "card": r"\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\b",
}


# trigger substrings a match REQUIRES, checked with one instr before the
# regex runs (r13): email needs '@', url literally starts 'http', ipv4
# needs '.', phone starts '+'. card has NO safe single-substring guard
# (its group separator is space OR dash) and stays unguarded. Guards
# probe the ORIGINAL text — replacement tokens (<EMAIL> etc.) can never
# introduce a trigger, so a doc without one has no match in the
# accumulated scrub either.
_PII_GUARDS = {"email": "@", "url": "http", "ipv4": ".", "phone": "+"}


def _pii_cols(t: Column) -> list[Column]:
    """The PII output columns (n_<kind>..., scrubbed) as per-pattern
    regexp_count + chained regexp_replace, each pass behind a cheap
    instr() trigger guard where one exists (_PII_GUARDS). MEASURED
    decisions: r11 — a single-alternation formulation (one
    regexp_extract_all for spans + one split for segments +
    array-builtin classify/count/rebuild) benchmarked 1.33s vs 0.55s
    for this chain standalone and far worse inside text_suite (Java's
    leftmost-first alternation tries all five alternatives at nearly
    every character, while each simple pattern scan skips via its own
    first-char class); r13 — the instr guards skip the regex scan
    entirely on rows without the trigger substring: 3.08s -> 1.47s
    standalone at sf1, value-identical on the full corpus and inside
    text_suite (bench-harness A/B in SURVEY §6). The when() branches
    duplicate the accumulated scrub expression in CODE (both branches
    are generated) but only one branch executes per row."""
    counts, out = [], t
    for kind, pat in PII_PATTERNS.items():
        g = _PII_GUARDS.get(kind)
        has = (F.instr(t, g) > 0) if g is not None else None
        c = F.regexp_count(t, F.lit(pat)).cast("long")
        if g is not None:
            # NULL text keeps regexp_count's NULL (instr(NULL) is NULL
            # so the when-branch would otherwise coerce it to 0 while
            # the unguarded card column stayed NULL — one row,
            # inconsistent counts)
            c = F.when(t.isNull(), F.lit(None).cast("long")) \
                .when(has, c).otherwise(F.lit(0).cast("long"))
        counts.append(c.alias(f"n_{kind}"))
        rep = F.regexp_replace(out, pat, f"<{kind.upper()}>")
        out = F.when(has, rep).otherwise(out) if g is not None else rep
    return counts + [out.alias("scrubbed")]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / URLs / IPs / phone numbers / card numbers,
    reporting per-kind counts. Pure regexp_count / regexp_replace
    chains — JVM codegen, and the patterns are portable so the
    oracle verifies the exact redaction."""
    return df.select(F.col("doc_id"), *_pii_cols(F.col(text_col)))


def text_suite(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """EVERY per-document text signal in ONE staged projection —
    lang_id_table + quality_features + token counts/fingerprint +
    repetition_features + pii_scrub, value-identical to running the
    five operators and joining on the id (pinned in test_text.py),
    but with ZERO joins and ZERO shuffles: the signals are all
    map-side functions of the same text, so the only correct plan is
    one scan -> staged projections (staging keeps each generated
    method under janino's 64 KB codegen limit, the lang_id_table
    lesson). This is the shape the graded text_signals key and any
    real corpus pipeline should use; the individual operators remain
    the à-la-carte surface."""
    langs = sorted(LANG_MARKERS)
    t = F.col(text_col)
    st1 = df.select(F.col(id_col), t.alias("_t"), normalize(t).alias("_n"))
    st2 = st1.select(
        id_col, "_t", "_n",
        F.concat(F.lit(" "), F.col("_n"), F.lit(" ")).alias("_p"),
        F.split(F.col("_n"), " ").alias("_w"),
    )
    w = F.col("_w")
    tri = word_trigrams(w)
    lines = F.split(F.col("_t"), "\n")
    pii_out = _pii_cols(F.col("_t"))
    st3 = st2.select(
        id_col,
        *[sum((_count_in_padded(F.col("_p"), m) for m in LANG_MARKERS[lang]),
              F.lit(0).cast("long")).alias(f"_s_{lang}") for lang in langs],
        F.size(w).cast("long").alias("_nt"),
        F.length(F.array_join(w, "")).cast("long").alias("_tc"),
        sum((_count_in_padded(F.col("_p"), s) for s in STOPWORDS),
            F.lit(0).cast("long")).alias("_sh"),
        (F.length(F.col("_t"))
         - F.length(F.regexp_replace(F.col("_t"), r"[^\w\s]", "")))
        .cast("long").alias("_npc"),
        F.length(F.col("_t")).cast("long").alias("_nc"),
        # length-of-collapsed instead of regexp_extract_all — see
        # token_count_bpe_ish (value-identical, no token array)
        F.length(F.replace(F.regexp_replace(F.col("_n"), r"[a-z]+", "x"),
                           F.lit(" "), F.lit("")))
        .cast("long").alias("n_bpe_tokens"),
        F.md5(F.col("_n")).alias("fingerprint"),
        F.size(lines).cast("long").alias("_nl"),
        F.size(F.array_distinct(lines)).cast("long").alias("_dl"),
        n_word_trigrams(w).alias("_ntri"),
        F.size(F.array_distinct(tri)).cast("long").alias("_dtri"),
        *pii_out,
    )
    gm = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    pred = F.when(gm == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"_s_{lang}") == gm, F.lit(lang))
    num = (
        F.least(F.col("_nt"), F.lit(50)) * 4 * F.col("_nt") * F.col("_nc")
        + F.col("_nc") * 5 * F.least(F.col("_sh") * 150, F.col("_nt") * 30)
        + F.col("_nt") * 5
        * F.greatest(F.col("_nc") * 30 - F.col("_npc") * 300,
                     F.lit(0).cast("long"))
    )
    den = F.col("_nt") * F.col("_nc") * 5
    st4 = st3.withColumn("_qn", num).withColumn("_qd", den)
    return st4.select(
        id_col,
        pred.alias("lang_pred"),
        F.col("_nt").alias("n_tokens"),
        F.expr("(20000 * _tc + _nt) div (2 * _nt)")
        .alias("mean_token_len_e4"),
        F.col("_sh").alias("stopword_hits"),
        F.col("_npc").alias("n_punct"),
        F.expr("(200 * _qn + _qd) div (2 * _qd)")
        .alias("quality_score_centi"),
        F.col("_nt").alias("n_ws_tokens"),
        "n_bpe_tokens",
        "fingerprint",
        F.col("_nl").alias("n_lines"),
        F.expr("case when _nl = 0 then 0 else "
               "(20000 * (_nl - _dl) + _nl) div (2 * _nl) end")
        .alias("dup_line_e4"),
        F.col("_ntri").alias("n_trigrams"),
        F.expr("case when _ntri = 0 then 0 else "
               "(20000 * (_ntri - _dtri) + _ntri) div (2 * _ntri) end")
        .alias("dup_trigram_e4"),
        *[f"n_{kind}" for kind in PII_PATTERNS],
        "scrubbed",
    )


def stratified_sample(df: DataFrame, strata_col: str, rates: dict[str, float],
                      id_col: str = "doc_id", seed: int = 42,
                      default_rate: float = 0.0,
                      method: str = "xxhash64") -> DataFrame:
    """Deterministic per-stratum sampling — the corpus-mixing step of a
    training-data pipeline (e.g. keep 100% of high-quality docs, 10% of
    mid, drop low). Selection hashes the DOCUMENT ID with a fixed seed
    against the stratum's rate, so it is:
      * reproducible: the same corpus always yields the same sample
        (no RNG state, no partition-order dependence — Spark's
        df.sample is neither stable under repartitioning nor portable);
      * stable under growth: a document's keep/drop never changes when
        other documents are added, so incremental corpus builds don't
        churn;
      * fully map-side: one filter, no shuffle, scales to any size.
    ``rates`` maps stratum value -> keep fraction in [0, 1]; strata
    absent from the map use ``default_rate``.

    ``method``: ``"xxhash64"`` (default — cheapest, JVM codegen) or
    ``"md5"`` (engine-portable: a 60-bit value from the digest prefix,
    reproducible bit-for-bit in any engine with md5, same fixed-point
    trick as minhash_signature; the keep test is an integer compare
    against floor(rate * 2^60), no float arithmetic at all)."""
    if method == "xxhash64":
        bound = F.lit(None).cast("double")
        for value, rate in rates.items():
            bound = F.when(F.col(strata_col) == value,
                           F.lit(float(rate))).otherwise(bound)
        bound = F.coalesce(bound, F.lit(float(default_rate)))
        # uniform in [0, 1): low 52 bits of xxhash64 / 2^52 (exact in double)
        u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 52))
             .cast("double") / F.lit(float(1 << 52)))
        return df.filter(u < bound)
    if method == "md5":
        bound = F.lit(None).cast("long")
        for value, rate in rates.items():
            bound = F.when(F.col(strata_col) == value,
                           F.lit(int(float(rate) * (1 << 60)))).otherwise(bound)
        bound = F.coalesce(bound, F.lit(int(float(default_rate) * (1 << 60))))
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"),
                               F.lit(":"), F.lit(str(seed)))),
                1, 15),
            16, 10,
        ).cast("long")
        return df.filter(h < bound)
    raise ValueError(f"stratified_sample: unknown method {method!r}")


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id", strata_col: str | None = None,
                    seed: int = 42) -> DataFrame:
    """Weighted sampling WITHOUT replacement — pick exactly ``k`` rows
    with inclusion probability proportional to ``weight_col``
    (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    reservoir", in the exponential-clocks form: each row draws
    ``key = -ln(u) / w`` from a uniform u and the k SMALLEST keys win;
    P(row i first) = w_i / sum(w) exactly). The training-data use:
    draw a fixed-size corpus slice biased toward high quality scores /
    DSIR importance weights instead of a hard threshold.

    Deterministic like stratified_sample: u comes from the md5 of the
    document id with a fixed seed (engine-portable — the DuckDB oracle
    reproduces the selection bit-for-bit), so the draw is reproducible
    and growth-stable (adding documents never flips an existing key).
    Rows with null or non-positive weight are excluded outright.

    Scale shape: keys are map-side built-ins; the global variant is
    ``orderBy(key).limit(k)`` which Spark executes as
    TakeOrderedAndProject — per-partition partial top-k then a k-row
    merge on the driver, NO global sort shuffle (plan-pinned).
    ``strata_col`` switches to k-per-stratum via one keyed rank
    window."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(":"), F.lit(str(seed)))),
            1, 15),
        16, 10,
    ).cast("long")
    # u in (0, 1]: (h + 1) / 2^60, exact doubles in both engines
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = -F.log(u) / F.col(weight_col).cast("double")
    keyed = (df.filter(F.col(weight_col).isNotNull()
                       & (F.col(weight_col).cast("double") > 0))
             .withColumn("_wsk", key))
    if strata_col is None:
        return (keyed.orderBy(F.col("_wsk").asc(), F.col(id_col).asc())
                .limit(int(k)).drop("_wsk"))
    w = Window.partitionBy(strata_col).orderBy(
        F.col("_wsk").asc(), F.col(id_col).asc())
    return (keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(k)).drop("_rn", "_wsk"))


def assign_splits(df: DataFrame, fractions: dict[str, float],
                  id_col: str = "doc_id", seed: int = 42,
                  split_col: str = "split",
                  group_col: str | None = None,
                  method: str = "xxhash64") -> DataFrame:
    """Deterministic train/val/test fold assignment. Each row (or each
    GROUP, when ``group_col`` is set) hashes to a uniform u in [0, 1)
    and lands in the fold whose cumulative-fraction interval contains
    u — so folds are disjoint by construction, exactly reproducible,
    and growth-stable (adding documents never moves an existing one
    across folds, unlike any sort- or count-based splitter).
    ``fractions`` maps fold name -> fraction; they must sum to <= 1,
    and rows hashing past the last boundary get null (dropped by the
    caller or used as a holdout).

    ``group_col`` is the leakage guard: hash THE GROUP KEY, so every
    member of a group (same domain, same dup-cluster, same user) lands
    in the same fold — eval leakage via near-duplicate train/test
    siblings is a split-time bug, not just a dedup-time one (Lee et
    al. 2022 measure the inflation). Fully map-side either way; the
    ``method`` options match stratified_sample ("xxhash64" cheapest,
    "md5" engine-portable for the oracle)."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    key = F.col(group_col) if group_col else F.col(id_col)
    if method == "xxhash64":
        u = (F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(1 << 52))
             .cast("double") / F.lit(float(1 << 52)))
    elif method == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(":"),
                               F.lit(str(seed)))),
                1, 15),
            16, 10,
        ).cast("long")
        u = h.cast("double") / F.lit(float(1 << 60))
    else:
        raise ValueError(f"assign_splits: unknown method {method!r}")
    expr = F.lit(None).cast("string")
    hi = 0.0
    for name, frac in fractions.items():
        lo, hi = hi, hi + float(frac)
        expr = F.when((u >= F.lit(lo)) & (u < F.lit(hi)),
                      F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_by_duplicate_cluster(df: DataFrame, pairs: DataFrame,
                               fractions: dict[str, float],
                               id_col: str = "doc_id", seed: int = 42,
                               split_col: str = "split",
                               method: str = "xxhash64") -> DataFrame:
    """Leakage-safe splitting: near-duplicate documents must not
    straddle train/test. ``pairs`` is any candidate-pair frame (MinHash
    LSH, SimHash, embedding near-dup); its connected components become
    the split groups, every clustered document inherits its component's
    fold, and unclustered documents hash on their own id — the
    split-time counterpart of decontamination (which guards against
    EXTERNAL benchmarks; this guards the split against ITSELF).

    Plan: connected_components (bounded pointer-jumping rounds) + one
    broadcast-or-shuffled left join of the component labels, then the
    map-side fold hash on coalesce(component, id)."""
    from datahub_spark.operators.dedup import connected_components

    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    joined = df.join(comp, id_col, "left")         .withColumn("_grp", F.coalesce(F.col("component").cast("string"),
                                       F.col(id_col).cast("string")))
    return assign_splits(joined, fractions, id_col=id_col, seed=seed,
                         split_col=split_col, group_col="_grp",
                         method=method).drop("component", "_grp")


def segment_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, delimiter: str | None = None,
                  window: int | None = None) -> DataFrame:
    """One row per document segment: ``(id, pos, segment)``.

    Two segmentation modes, matching how real corpora differ:
      * ``delimiter`` (e.g. ``"\\n"``) — line/paragraph segments, the
        C4 shape (Raffel et al. 2020 §2.2 cleans at line granularity);
      * ``window=k`` — fixed k-word chunks for flat text without line
        structure (word i*k..i*k+k-1 forms chunk i).
    Empty/whitespace-only segments are dropped in both modes.
    Everything is built-in array/higher-order functions — no Python in
    the plan, so the explode runs inside whole-stage codegen and the
    row count scales with total corpus tokens, never with pairs."""
    if (delimiter is None) == (window is None):
        raise ValueError("segment_table: exactly one of delimiter/window")
    if delimiter is not None:
        parts = F.split(F.col(text_col), F.lit(delimiter), -1)
    else:
        w = words(F.col(text_col))
        n_chunks = F.ceil(F.size(w) / F.lit(int(window))).cast("int")
        parts = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(w, i * F.lit(int(window)) + 1, int(window)), " "),
        )
    out = df.select(F.col(id_col), F.posexplode(parts).alias("pos", "segment"))
    return out.filter(F.trim(F.col("segment")) != "")


def boilerplate_blocklist(segments: DataFrame, min_docs: int = 2,
                          id_col: str = "doc_id") -> DataFrame:
    """Corpus-frequency blocklist: md5 keys of normalized segments that
    occur in >= ``min_docs`` DISTINCT documents (boilerplate: nav bars,
    cookie banners, license headers — text repeated across unrelated
    pages). One narrow HashAggregate over (key, doc): the md5 key keeps
    shuffle rows fixed-width however long the segment is, and
    count-distinct partials combine map-side. The blocklist is small by
    construction (only cross-doc repeats survive), which is what makes
    the removal join broadcast-able."""
    key = F.md5(normalize(F.col("segment"))).alias("seg_key")
    return (segments.select(key, F.col(id_col))
            .groupBy("seg_key")
            .agg(F.countDistinct(id_col).alias("n_docs"))
            .filter(F.col("n_docs") >= int(min_docs))
            .select("seg_key"))


def remove_boilerplate(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *,
                       delimiter: str | None = None,
                       window: int | None = None,
                       min_docs: int = 2,
                       joiner: str = " ") -> DataFrame:
    """C4-style boilerplate removal: drop every segment whose normalized
    form appears in >= ``min_docs`` distinct documents, and reassemble
    the survivors in document order. Returns
    ``(id, clean_text, kept_segments, dropped_segments)``; documents
    whose every segment was boilerplate surface with ``clean_text=''``
    (the caller's quality filter drops empties — same staging as C4).

    Shape at scale: segment explode (map-side) -> blocklist aggregate
    (narrow md5 keys) -> BROADCAST left join of the blocklist onto the
    segments -> ONE per-document groupBy that both filters and
    reassembles (array_sort over collected (pos, blocked, segment)
    structs). Exactly two shuffles — the blocklist aggregate and the
    per-doc reassembly — both keyed, neither pairwise; no self-join of
    the corpus at any point."""
    segs = segment_table(df, text_col, id_col,
                         delimiter=delimiter, window=window)
    block = boilerplate_blocklist(segs, min_docs, id_col)
    marked = (segs.withColumn("seg_key", F.md5(normalize(F.col("segment"))))
              .join(F.broadcast(block.withColumn("blocked", F.lit(True))),
                    "seg_key", "left")
              .withColumn("blocked", F.coalesce("blocked", F.lit(False))))
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("blocked"),
                                F.col("segment"))))
    out = (marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda x: ~x["blocked"]),
                lambda x: x["segment"]),
            joiner).alias("clean_text"),
        F.sum(F.when(~F.col("blocked"), 1).otherwise(0))
         .cast("long").alias("kept_segments"),
        F.sum(F.when(F.col("blocked"), 1).otherwise(0))
         .cast("long").alias("dropped_segments"),
    ))
    # documents that produced zero segments (empty text) still belong
    # in the output contract: left join back over the id spine
    return (df.select(id_col).join(out, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("kept_segments", F.lit(0)).cast("long")
                     .alias("kept_segments"),
                    F.coalesce("dropped_segments", F.lit(0)).cast("long")
                     .alias("dropped_segments")))


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *,
                    delimiter: str | None = None,
                    window: int | None = None,
                    min_words: int = 1,
                    joiner: str | None = None) -> DataFrame:
    """Global paragraph-level deduplication, first-copy-wins (the
    Dolma/RefinedWeb paragraph-dedup stage; C4's three-sentence-span
    analogue). Where ``remove_boilerplate`` drops EVERY occurrence of a
    cross-document repeat, this keeps exactly ONE — the occurrence with
    the lexicographically smallest ``(doc_id, pos)`` — and removes the
    rest, including repeats inside a single document.

    ``min_words`` exempts short segments (headings, "Introduction")
    from global dedup — they repeat naturally and carry no duplication
    signal; exempt segments are always kept.

    Returns ``(doc_id, clean_text, kept_segments, dropped_segments)``
    over the full document spine (empty docs surface with '').

    Scale shape: segment explode (map-side, codegen) -> ONE narrow
    HashAggregate per md5 key computing the winning occurrence with
    ``min_by`` (no sort window) -> keyed equi-join of winners back onto
    the segments (both sides hash-partitioned on seg_key — the winner
    table is corpus-sized, so it is NOT broadcast by design) -> one
    per-document reassembly groupBy. Three keyed shuffles, all linear
    in corpus tokens; no pairwise join anywhere."""
    if joiner is None:
        joiner = delimiter if delimiter is not None else " "
    segs = segment_table(df, text_col, id_col,
                         delimiter=delimiter, window=window)
    segs = segs.withColumn(
        "seg_key", F.md5(normalize(F.col("segment")))
    ).withColumn(
        "exempt", F.size(words(F.col("segment"))) < int(min_words))
    # winner per key: smallest (doc_id, pos) among non-exempt
    # occurrences — min_by over a narrow struct, map-side combinable
    occ = F.struct(F.col(id_col).alias("win_id"),
                   F.col("pos").alias("win_pos"))
    winners = (segs.filter(~F.col("exempt"))
               .groupBy("seg_key")
               .agg(F.min(occ).alias("win"))
               .select("seg_key", "win.win_id", "win.win_pos"))
    marked = (segs.join(winners, "seg_key", "left")
              .withColumn(
                  "keep",
                  F.col("exempt") |
                  ((F.col(id_col) == F.col("win_id")) &
                   (F.col("pos") == F.col("win_pos")))))
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("keep"),
                                F.col("segment"))))
    out = (marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda x: x["keep"]),
                lambda x: x["segment"]),
            joiner).alias("clean_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
         .cast("long").alias("kept_segments"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
         .cast("long").alias("dropped_segments"),
    ))
    return (df.select(id_col).join(out, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("kept_segments", F.lit(0)).cast("long")
                     .alias("kept_segments"),
                    F.coalesce("dropped_segments", F.lit(0)).cast("long")
                     .alias("dropped_segments")))


def perplexity_buckets(df: DataFrame, bigram_table: DataFrame | None = None,
                       vocab: DataFrame | None = None,
                       text_col: str = "text", id_col: str = "doc_id", *,
                       by: str | None = None,
                       cutoffs: dict | tuple | None = None,
                       accuracy: int = 10000) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020 §4.3):
    rank documents by language-model familiarity and split into thirds —
    ``head`` (most LM-familiar, cleanest), ``middle``, ``tail`` (likely
    noise/OCR garbage). The LM signal is ``cond_familiarity_e4`` from
    ``bigram_lm_features`` (integer-exact mean P(w2|w1) — our rational
    stand-in for KenLM perplexity; HIGHER = more familiar, so head is
    the top tertile).

    ``by`` groups the cutoffs (CCNet computes them per language);
    ``cutoffs`` overrides computation with precomputed thresholds —
    a ``(hi, lo)`` tuple globally or ``{group: (hi, lo)}`` with ``by``
    (score >= hi -> head, >= lo -> middle, else tail). When None they
    are derived with ``percentile_approx([2/3, 1/3], accuracy)`` —
    the sketch-based single-pass cutoff estimate that holds at corpus
    scale where exact per-group percentiles would need a full sort.

    Returns ``(id, [group], score_e4, bucket)``. Scale shape: the LM
    scoring shuffles (see bigram_lm_features); cutoffs are one tiny
    aggregate collected to a broadcast map; bucketing itself is a
    map-only expression."""
    feats = bigram_lm_features(df, bigram_table, vocab, text_col, id_col) \
        .select("id", F.col("cond_familiarity_e4").alias("score_e4"))
    cols = [F.col(id_col).alias("id")] + ([F.col(by)] if by else [])
    scored = df.select(*cols).join(feats, "id", "left") \
        .withColumn("score_e4", F.coalesce("score_e4", F.lit(0).cast("long")))

    if cutoffs is None:
        pct = F.percentile_approx("score_e4", [2.0 / 3.0, 1.0 / 3.0],
                                  int(accuracy))
        if by:
            cut_rows = scored.groupBy(by).agg(pct.alias("c")).collect()
            cutoffs = {r[by]: (r["c"][0], r["c"][1]) for r in cut_rows}
        else:
            c = scored.agg(pct.alias("c")).collect()[0]["c"]
            cutoffs = (c[0], c[1])

    if by:
        if not isinstance(cutoffs, dict):
            raise ValueError("per-group bucketing needs {group: (hi, lo)}")
        hi = F.create_map(*[F.lit(x) for g, (h, _) in sorted(cutoffs.items())
                            for x in (g, int(h))])[F.col(by)]
        lo = F.create_map(*[F.lit(x) for g, (_, l) in sorted(cutoffs.items())
                            for x in (g, int(l))])[F.col(by)]
    else:
        hi, lo = F.lit(int(cutoffs[0])), F.lit(int(cutoffs[1]))
    return scored.withColumn(
        "bucket",
        F.when(F.col("score_e4") >= hi, F.lit("head"))
         .when(F.col("score_e4") >= lo, F.lit("middle"))
         .otherwise(F.lit("tail")))


def sample_to_token_budget(df: DataFrame, strata_col: str,
                           budgets: dict[str, int],
                           id_col: str = "doc_id",
                           text_col: str = "text", seed: int = 42,
                           default_rate: float = 0.0,
                           token_counts: DataFrame | None = None,
                           method: str = "xxhash64") -> DataFrame:
    """Corpus mixing against per-domain TOKEN budgets (the knob LLM
    data recipes are actually written in — "300B web tokens, 50B code
    tokens" — rather than keep fractions): measure each stratum's total
    whitespace-token count, derive keep_rate = min(1, budget / total),
    and apply the deterministic hash-keyed keep from
    ``stratified_sample``. Two stages:
      1. one narrow groupBy(strata).sum(tokens) aggregate, collected to
         the driver — bounded by the number of strata (domains), never
         by corpus size;
      2. the same fully map-side filter as stratified_sample —
         reproducible, stable under corpus growth, no shuffle of data.
    Kept token mass per stratum converges to the budget with sampling
    variance O(sqrt(N_docs)); exact-budget packing would need a
    sequential knapsack and is deliberately out of scope. Strata
    without a budget entry use ``default_rate``.

    ``token_counts`` (id -> n_tokens frame, e.g. ``bpe.encode_bpe``
    output) prices the budget in REAL tokenizer tokens instead of the
    whitespace proxy — the unit training recipes are actually written
    in. One extra keyed join onto the (narrow) id column.
    ``method`` passes through to ``stratified_sample`` ("md5" for the
    engine-portable graded surface, "xxhash64" production default)."""
    if token_counts is not None:
        counted = df.select(F.col(id_col), F.col(strata_col)).join(
            token_counts.select(F.col("id").alias(id_col),
                                F.col("n_tokens")),
            id_col)
        grouped = counted.groupBy(F.col(strata_col).alias("s")) \
            .agg(F.sum("n_tokens").alias("t"))
    else:
        grouped = df.groupBy(F.col(strata_col).alias("s")) \
            .agg(F.sum(token_count_whitespace(F.col(text_col))).alias("t"))
    totals = {r["s"]: r["t"] for r in grouped.collect()}
    rates = {
        stratum: min(1.0, float(budget) / float(totals[stratum]))
        for stratum, budget in budgets.items()
        if totals.get(stratum)
    }
    return stratified_sample(df, strata_col, rates, id_col=id_col,
                             seed=seed, default_rate=default_rate,
                             method=method)


def mixture_budgets(df: DataFrame, strata_col: str, total_tokens: int,
                    alpha: float = 1.0, text_col: str = "text",
                    id_col: str = "doc_id",
                    token_counts: DataFrame | None = None) -> dict[str, int]:
    """Temperature-scaled domain mixture (the mT5/XLM-R alpha-sampling
    rule, Xue et al. 2021 §3.3: p_s ∝ t_s^alpha): turn ONE corpus-level
    token budget into per-domain budgets for ``sample_to_token_budget``.
    ``alpha=1`` keeps natural proportions; ``alpha -> 0`` flattens
    toward uniform (upweighting low-resource domains — the reason the
    rule exists); published recipes use 0.3 (mT5) / 0.7 (XLM-R).

    One narrow groupBy(strata) aggregate collected to the driver
    (bounded by domain count, never corpus size); the power/normalize
    arithmetic is driver-side over that tiny table. A domain's budget
    is capped at its actual token mass — alpha-flattening cannot
    up-sample beyond what a domain has (the standard no-replacement
    reading) — and leftover budget from capped domains is
    redistributed over the uncapped ones in proportion to their
    scaled weights, iterating until stable (<= n_domains rounds)."""
    if token_counts is not None:
        counted = df.select(F.col(id_col), F.col(strata_col)).join(
            token_counts.select(F.col("id").alias(id_col), "n_tokens"),
            id_col)
        grouped = counted.groupBy(F.col(strata_col).alias("s")) \
            .agg(F.sum("n_tokens").alias("t"))
    else:
        grouped = df.groupBy(F.col(strata_col).alias("s")) \
            .agg(F.sum(token_count_whitespace(F.col(text_col))).alias("t"))
    totals = {r["s"]: int(r["t"]) for r in grouped.collect() if r["t"]}
    if not totals:
        return {}
    weights = {s: float(t) ** float(alpha) for s, t in totals.items()}
    budgets: dict[str, int] = {}
    remaining, pool = int(total_tokens), dict(weights)
    while pool and remaining > 0:
        wsum = sum(pool.values())
        share = {s: remaining * w / wsum for s, w in pool.items()}
        capped = {s for s in pool if share[s] >= totals[s]}
        if not capped:  # water level below every cap: final split
            for s in pool:
                budgets[s] = int(share[s])
            break
        for s in capped:  # fill to cap, re-level the rest
            budgets[s] = totals[s]
            remaining -= totals[s]
            del pool[s]
    return budgets


def chunk_documents(df: DataFrame, max_tokens: int, stride: int | None = None,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Context-window chunking for training prep: split each document
    into windows of ``max_tokens`` words starting every ``stride``
    words (stride < max_tokens ⇒ overlapping windows, the standard
    sliding-window tokenizer prep; default stride = max_tokens ⇒
    disjoint). Emits ``(id, chunk_id, chunk_text, n_tokens)`` with
    chunk_id numbering windows in order. Pure array built-ins — the
    explode is linear in output tokens, fully map-side, no shuffle."""
    stride = int(max_tokens if stride is None else stride)
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("chunk_documents: max_tokens and stride must be > 0")
    w = words(F.col(text_col))
    # windows start at 0, stride, 2*stride ... while start < n_words
    n_chunks = F.greatest(
        F.ceil((F.size(w) - F.lit(max_tokens)) / F.lit(stride) + 1),
        F.lit(1)).cast("int")
    starts = F.when(F.size(w) > 0,
                    F.transform(F.sequence(F.lit(0), n_chunks - 1),
                                lambda i: i * F.lit(stride))) \
             .otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.slice(w, s + 1, int(max_tokens)))
    return (df.select(F.col(id_col).alias("id"),
                      F.posexplode(chunks).alias("chunk_id", "_cw"))
            .filter(F.trim(F.array_join("_cw", " ")) != "")
            .select("id", "chunk_id",
                    F.array_join("_cw", " ").alias("chunk_text"),
                    F.size("_cw").cast("long").alias("n_tokens")))


def build_vocabulary(df: DataFrame, text_col: str = "text",
                     top_k: int | None = None,
                     min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: ``(token, count, rank)`` by descending
    frequency (rank 1 = most frequent; ties break lexicographically for
    determinism) — the tokenizer-training / frequency-analysis
    primitive. One explode (linear in corpus tokens) + one narrow
    HashAggregate with map-side partials; ``top_k``/``min_count`` bound
    the result so it stays broadcastable downstream."""
    counts = (df.select(F.explode(words(F.col(text_col))).alias("token"))
              .filter(F.col("token") != "")
              .groupBy("token")
              .agg(F.count(F.lit(1)).cast("long").alias("count"))
              .filter(F.col("count") >= int(min_count)))
    from pyspark.sql import Window
    if top_k is not None:
        # orderBy().limit() compiles to TakeOrderedAndProject — a
        # distributed partial top-k, never a full sort of the count
        # table; only the top_k survivors see the rank window
        counts = counts.orderBy(F.desc("count"), F.asc("token")) \
                       .limit(int(top_k))
    # without top_k this window IS a global sort of the vocabulary —
    # acceptable for bounded vocabularies, bound it with top_k otherwise
    return counts.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("count"), F.asc("token"))).cast("long"))


def corpus_frequency_features(df: DataFrame, vocab: DataFrame | None = None,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              rare_threshold: int = 2) -> DataFrame:
    """Corpus-trained rarity scoring — the integer-exact core of a
    CCNet-style LM quality filter: documents made of tokens the corpus
    itself considers rare (OCR garbage, gibberish, boilerplate hashes)
    score low; typical prose scores high. Per document:
    ``(id, n_tokens, sum_freq, mean_freq_e4, rare_ratio_e4)`` where
    sum_freq sums each token's corpus count, mean_freq_e4 is the e4
    fixed-point round-half-up mean, and rare_ratio_e4 the e4 fraction
    of tokens with count <= rare_threshold (out-of-vocabulary counts as
    0). All integer arithmetic — engine-portable and oracle-exact,
    deliberately avoiding float log-probs whose last-ulp behavior
    differs across engines.

    Scale shape: with a bounded ``vocab`` (build_vocabulary top_k) the
    frequency lookup is a BROADCAST left join — the big side never
    shuffles for it; the only corpus-wide shuffle is the per-doc
    groupBy. Without a vocab the full count table is computed and
    joined by token (two keyed shuffles, still linear)."""
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(words(F.col(text_col))).alias("token")) \
             .filter(F.col("token") != "")
    if vocab is None:
        vocab_df = (toks.groupBy("token")
                    .agg(F.count(F.lit(1)).cast("long").alias("count")))
        joined = toks.join(vocab_df, "token", "left")
    else:
        joined = toks.join(F.broadcast(vocab.select("token", "count")),
                           "token", "left")
    joined = joined.withColumn("count",
                               F.coalesce("count", F.lit(0).cast("long")))
    agg = (joined.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("count").cast("long").alias("sum_freq"),
        F.sum(F.when(F.col("count") <= int(rare_threshold), 1)
              .otherwise(0)).cast("long").alias("_n_rare")))
    return agg.selectExpr(
        "id", "n_tokens", "sum_freq",
        "(20000 * sum_freq + n_tokens) div (2 * n_tokens) as mean_freq_e4",
        "(20000 * _n_rare + n_tokens) div (2 * n_tokens) as rare_ratio_e4")


# URL pattern shared with PII_PATTERNS' url entry in spirit but anchored
# to capture the host: scheme://host[/rest]. Java-regex ∩ RE2 safe (no
# backrefs/lookaround) so a DuckDB oracle can reuse it verbatim.
URL_HOST_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def domain_features(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document URL/domain signals for crawl cleaning:
    ``(id, n_urls, domains)`` where domains is the sorted distinct list
    of lowercased hosts linked from the document. Map-side regexes
    only; the registrable-domain reduction (PSL) is out of scope — the
    raw host is what blocklists key on in practice."""
    hosts = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(URL_HOST_PATTERN), 1),
        F.lower)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit(URL_HOST_PATTERN), 0))
        .cast("long").alias("n_urls"),
        F.array_sort(F.array_distinct(hosts)).alias("domains"))


def filter_blocked_domains(df: DataFrame, blocklist: list[str],
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           match_subdomains: bool = True) -> DataFrame:
    """Drop documents linking to any blocklisted domain (spam/SEO-farm
    filtering, the UT1/DMOZ-blocklist step of crawl pipelines). The
    blocklist is a driver-side list folded into ONE map-side exists()
    predicate over the extracted hosts — no join, no shuffle; with
    ``match_subdomains`` a host matches ``d`` when it equals d or ends
    with ``.d``. For blocklists too large to fold into a literal
    expression, explode domain_features and anti-join instead."""
    bl = [d.lower().lstrip(".") for d in blocklist]
    hosts = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(URL_HOST_PATTERN), 1),
        F.lower)

    def _blocked(h):
        cond = F.lit(False)
        for d in bl:
            hit = (h == d)
            if match_subdomains:
                hit = hit | h.endswith("." + d)
            cond = cond | hit
        return cond

    return df.filter(~F.exists(hosts, _blocked))


# NOTE: bare "ref" is deliberately NOT in the default set (r15, r14
# ADVICE): many sites use ?ref= for CONTENT ROUTING rather than
# referral tracking (github's ?ref=<branch> selects a different page),
# so stripping it by default would collapse genuinely distinct URLs
# and make downstream URL-level dedup drop distinct content. Callers
# whose corpora use ?ref= as a tracking param can opt in via
# ``tracking_prefixes=_TRACKING_PARAM_PREFIXES + ("ref",)``.
_TRACKING_PARAM_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid",
                            "mc_cid", "mc_eid", "igshid")


def canonicalize_url(col: Column,
                     tracking_prefixes: tuple[str, ...]
                     = _TRACKING_PARAM_PREFIXES) -> Column:
    """Canonical URL form for URL-level dedup — the step crawl
    pipelines run BEFORE content dedup (the same page arrives under
    thousands of tracking-param/fragment/case variants): scheme and
    host lowercased, default ports stripped (http:80/https:443),
    fragment dropped, tracking params removed (name-prefix match) and
    the surviving query params SORTED, empty path normalized to '/'.
    Path and param values keep their case (case-sensitive by spec).
    Pure ``try_parse_url`` built-ins (the non-try form RAISES on any
    invalid URL in Spark 4) — JVM-side, map-side, no UDF; a
    string it cannot parse (no scheme/host) passes through
    unchanged rather than nulling out. Compose with dedup_exact or a
    groupBy on the result for URL dedup."""
    scheme = F.lower(F.try_parse_url(col, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(col, F.lit("HOST")))
    auth = F.try_parse_url(col, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    default_port = ((scheme == "http") & (port == "80")) | \
        ((scheme == "https") & (port == "443"))
    port_part = F.when((port == "") | default_port, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path = F.try_parse_url(col, F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")) \
        .otherwise(path)
    query = F.try_parse_url(col, F.lit("QUERY"))
    parts = F.filter(F.split(F.coalesce(query, F.lit("")), "&"),
                     lambda p: p != "")

    def _tracked(p):
        cond = F.lit(False)
        for pre in tracking_prefixes:
            # prefix families (utm_*) and exact names (ref, ref=v)
            cond = cond | p.startswith(pre + "=") | (p == pre) \
                | (p.startswith(pre) if pre.endswith("_") else F.lit(False))
        return cond

    kept = F.array_sort(F.filter(parts, lambda p: ~_tracked(p)))
    query_part = F.when(F.size(kept) > 0,
                        F.concat(F.lit("?"), F.array_join(kept, "&"))) \
        .otherwise(F.lit(""))
    rebuilt = F.concat(scheme, F.lit("://"), host, port_part, path,
                       query_part)
    return F.when(scheme.isNull() | host.isNull() | (host == ""),
                  col).otherwise(rebuilt)


def bigram_keys(col: Column) -> Column:
    """Space-joined consecutive word pairs of the normalized text (words
    cannot contain spaces post-normalization, so ``w1 || ' ' || w2`` is
    an injective bigram key). Pure array built-ins: two slices zipped —
    linear, map-side. Documents under two words yield an empty array."""
    ws = words(col)
    n = F.size(ws)
    return F.when(
        n >= 2,
        F.zip_with(F.slice(ws, 1, n - 1), F.slice(ws, F.lit(2), n - 1),
                   lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))


def build_bigram_table(df: DataFrame, text_col: str = "text",
                       top_k: int | None = None,
                       min_count: int = 1) -> DataFrame:
    """Corpus bigram statistics ``(bigram, count, rank)`` — the
    training step of the bigram LM quality signal. Same plan shape as
    build_vocabulary: one explode (linear in corpus tokens) + one
    narrow HashAggregate with map-side partials; ``top_k`` keeps the
    table broadcastable (TakeOrderedAndProject, never a full sort)."""
    counts = (df.select(F.explode(bigram_keys(F.col(text_col))).alias("bigram"))
              .groupBy("bigram")
              .agg(F.count(F.lit(1)).cast("long").alias("count"))
              .filter(F.col("count") >= int(min_count)))
    from pyspark.sql import Window
    if top_k is not None:
        counts = counts.orderBy(F.desc("count"), F.asc("bigram")) \
                       .limit(int(top_k))
    return counts.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("count"), F.asc("bigram"))).cast("long"))


def bigram_lm_features(df: DataFrame, bigram_table: DataFrame | None = None,
                       vocab: DataFrame | None = None,
                       text_col: str = "text", id_col: str = "doc_id",
                       novel_threshold: int = 1) -> DataFrame:
    """Bigram-LM familiarity scoring — the conditional-probability step
    beyond corpus_frequency_features' unigram rarity, in the same
    integer-exact formulation (a CCNet/KenLM-style perplexity filter
    without float log-probs, whose last-ulp behavior differs across
    engines). Per document:

      * ``n_bigrams``
      * ``sum_bigram_freq``  — total corpus count of its bigrams
        (out-of-table = 0)
      * ``novel_ratio_e4``   — e4 fixed-point fraction of bigrams the
        corpus has seen <= ``novel_threshold`` times: gibberish and
        OCR noise score high, templated boilerplate scores 0
      * ``cond_familiarity_e4`` — e4 fixed-point mean over bigrams of
        P(w2|w1) = count(w1 w2)/count(w1), each conditional computed
        by exact integer division (round half up), OOV w1 scoring 0.
        This IS the bigram LM probability signal, kept rational.

    Scale shape: with bounded tables (build_bigram_table/-vocabulary
    top_k) both lookups are BROADCAST left joins — the exploded corpus
    side never shuffles for them; the only corpus-wide shuffle is the
    per-doc groupBy. Untrained (None) tables are computed from the
    corpus itself (two extra keyed shuffles, still linear)."""
    pairs = df.select(
        F.col(id_col).alias("id"),
        F.explode(bigram_keys(F.col(text_col))).alias("bigram"),
    ).withColumn("w1", F.split(F.col("bigram"), " ")[0])

    if bigram_table is None:
        bt = (pairs.groupBy("bigram")
              .agg(F.count(F.lit(1)).cast("long").alias("bcount")))
        joined = pairs.join(bt, "bigram", "left")
    else:
        joined = pairs.join(
            F.broadcast(bigram_table.select(
                "bigram", F.col("count").alias("bcount"))),
            "bigram", "left")
    if vocab is None:
        uni = (df.select(F.explode(words(F.col(text_col))).alias("w1"))
               .filter(F.col("w1") != "")
               .groupBy("w1")
               .agg(F.count(F.lit(1)).cast("long").alias("ucount")))
        joined = joined.join(uni, "w1", "left")
    else:
        joined = joined.join(
            F.broadcast(vocab.select(F.col("token").alias("w1"),
                                     F.col("count").alias("ucount"))),
            "w1", "left")

    joined = (joined
              .withColumn("bcount", F.coalesce("bcount", F.lit(0).cast("long")))
              .withColumn("ucount", F.coalesce("ucount", F.lit(0).cast("long")))
              .withColumn(
                  "p_e4",
                  F.when(F.col("ucount") > 0,
                         F.expr("(20000 * bcount + ucount) div (2 * ucount)"))
                  .otherwise(F.lit(0).cast("long"))))
    agg = joined.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("bcount").cast("long").alias("sum_bigram_freq"),
        F.sum(F.when(F.col("bcount") <= int(novel_threshold), 1)
              .otherwise(0)).cast("long").alias("_n_novel"),
        F.sum("p_e4").cast("long").alias("_sum_p_e4"),
    )
    feats = agg.selectExpr(
        "id", "n_bigrams", "sum_bigram_freq",
        "(20000 * _n_novel + n_bigrams) div (2 * n_bigrams) AS novel_ratio_e4",
        "(2 * _sum_p_e4 + n_bigrams) div (2 * n_bigrams) AS cond_familiarity_e4",
    )
    # docs with < 2 words have no bigrams: surface them with zeros so
    # the output covers the corpus (a filter consumer must see them)
    base = df.select(F.col(id_col).alias("id"))
    return (base.join(feats, "id", "left")
            .select("id",
                    F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
                    F.coalesce("sum_bigram_freq", F.lit(0).cast("long")).alias("sum_bigram_freq"),
                    F.coalesce("novel_ratio_e4", F.lit(0).cast("long")).alias("novel_ratio_e4"),
                    F.coalesce("cond_familiarity_e4", F.lit(0).cast("long")).alias("cond_familiarity_e4")))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, app. A —
    the standard pre-filter MassiveText/RefinedWeb-family pipelines
    start from), each rule an integer-exact boolean column plus the
    conjunction:

      * ``ok_word_count``    — 50 <= words <= 100,000
      * ``ok_mean_word_len`` — mean word length in [3, 10] chars
        (compared as exact rationals: 3*nt <= chars <= 10*nt)
      * ``ok_hash_ratio``    — '#' symbols <= 0.1 per word
      * ``ok_ellipsis_ratio``— '...'/'…' count <= 0.1 per word
      * ``ok_bullet_lines``  — < 90% of lines start with a bullet
      * ``ok_ellipsis_lines``— < 30% of lines end with an ellipsis
      * ``ok_alpha_words``   — >= 80% of words contain a letter
      * ``ok_stopwords``     — >= 2 distinct common-English stopwords

    No floats anywhere (ratio thresholds are cross-multiplied), so the
    verdicts are engine-portable — DuckDB-parity tested. One projection,
    no shuffle."""
    t = F.col(text_col)
    w = words(t)
    lines = F.split(t, "\n")
    padded = F.concat(F.lit(" "), normalize(t), F.lit(" "))
    nt = F.size(w).cast("long")
    tc = F.length(F.array_join(w, "")).cast("long")
    n_lines = F.size(lines).cast("long")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    n_ell = ((F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
             + F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
             ).cast("long")
    bullet = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^[-*•‣▪]"))).cast("long")
    ell_end = F.size(F.filter(
        lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))).cast("long")
    alpha_w = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long")
    n_stop = sum(
        (F.when(F.contains(padded, F.lit(f" {s} ")), 1).otherwise(0)
         for s in GOPHER_STOPWORDS),
        F.lit(0),
    ).cast("long")
    rules = {
        "ok_word_count": (nt >= 50) & (nt <= 100_000),
        "ok_mean_word_len": (tc >= 3 * nt) & (tc <= 10 * nt),
        "ok_hash_ratio": n_hash * 10 <= nt,
        "ok_ellipsis_ratio": n_ell * 10 <= nt,
        "ok_bullet_lines": bullet * 10 < n_lines * 9,
        "ok_ellipsis_lines": ell_end * 10 < n_lines * 3,
        "ok_alpha_words": alpha_w * 5 >= nt * 4,
        "ok_stopwords": n_stop >= 2,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return df.select(
        F.col(id_col),
        *[v.alias(k) for k, v in rules.items()],
        passes.alias("passes_gopher"),
    )


def domain_stats(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 quality_col: str | None = None) -> DataFrame:
    """Per-domain corpus statistics — the curation view crawl pipelines
    rank and cap sources with: for every linked host, how many
    documents reference it, how many links it receives, and (when a
    quality column is provided) the mean quality of the documents that
    cite it, as exact integer fixed-point e4 (sum*10000 div n — no
    float, engine-portable ties).

    One explode of the per-doc distinct host list (linear in links) ->
    one HashAggregate keyed on host. Returns ``(domain, n_docs,
    n_links, [mean_quality_e4])`` — n_docs counts citing documents,
    n_links total occurrences across the corpus."""
    hosts_all = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(URL_HOST_PATTERN), 1),
        F.lower)
    cols = [F.col(id_col).alias("id"), hosts_all.alias("_hs")]
    if quality_col is not None:
        cols.append(F.col(quality_col).cast("long").alias("_q"))
    ex = df.select(*cols).select(
        "id", *(["_q"] if quality_col is not None else []),
        F.explode("_hs").alias("domain"))
    aggs = [
        F.countDistinct("id").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_links"),
    ]
    if quality_col is not None:
        # mean over CITING DOCUMENTS (distinct ids), not link
        # occurrences: aggregate per (domain, id) first
        per_doc = ex.groupBy("domain", "id").agg(
            F.first("_q").alias("_q"), F.count(F.lit(1)).alias("_links"))
        return per_doc.groupBy("domain").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_links").cast("long").alias("n_links"),
            F.sum("_q").cast("long").alias("_qs"),
        ).selectExpr(
            "domain", "n_docs", "n_links",
            # round-half-up(1e4 * sum(q) / n_docs), pure integers
            "(20000 * _qs + n_docs) div (2 * n_docs) as mean_quality_e4",
        )
    return ex.groupBy("domain").agg(*aggs)


def normalize_unicode(df: DataFrame, text_col: str = "text",
                      out_col: str | None = None,
                      form: str = "NFKC",
                      strip_controls: bool = True) -> DataFrame:
    """Unicode normalization for crawl text: apply a stdlib
    ``unicodedata`` normal form (NFKC by default — folds fullwidth
    forms, ligatures, compatibility variants the way C4/CCNet
    pipelines do before tokenization) and optionally drop
    control/format characters (Cc/Cf except tab and newline). Runs as
    ONE Arrow-batched pandas UDF — the documented slow path, because
    no Spark built-in exposes normal forms; everything around it stays
    JVM-side. Deterministic: same stdlib tables on every executor."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_unicode: unknown form {form!r}")

    def clean(s: str) -> str:
        s = unicodedata.normalize(form, s)
        if strip_controls:
            s = "".join(
                ch for ch in s
                if ch in "\t\n" or unicodedata.category(ch) not in ("Cc", "Cf"))
        return s

    @pandas_udf("string")
    def norm(col: pd.Series) -> pd.Series:
        return col.map(lambda s: clean(s) if s is not None else None)

    return df.withColumn(out_col or text_col, norm(F.col(text_col)))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      level: int = 6) -> DataFrame:
    """Deflate-compressibility quality signal (r15): adds
    ``(n_bytes, n_deflate, compress_ratio_e4)`` per document — the
    cheap redundancy proxy corpus-curation recipes use beside the
    dup-line/dup-trigram ratios (a doc whose zlib ratio sits far
    below the natural-language band is templated/repetitive spam; far
    above ~1.0 is binary junk or already-compressed noise; both are
    drop candidates the repetition REGEX features can miss, e.g.
    long-period boilerplate beyond the trigram horizon).

    ``compress_ratio_e4`` = floor(1e4 * deflate_bytes / utf8_bytes)
    in exact integer fixed-point (engine-portable convention);
    empty/null text gets NULLs. ONE Arrow-batched pandas UDF — the
    documented slow path (no Spark built-in exposes deflate), same
    contract as normalize_unicode; zlib level 6 default (the
    signal's discrimination, not its speed, is the point — use
    level=1 when throughput matters, the BAND shifts but ordering is
    stable)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    lvl = int(level)

    @pandas_udf("n_bytes long, n_deflate long, compress_ratio_e4 long")
    def comp(col: pd.Series) -> pd.DataFrame:
        rows = []
        for s in col:
            if s is None or s == "":
                rows.append((None, None, None))
                continue
            raw = s.encode("utf-8")
            nd = len(zlib.compress(raw, lvl))
            rows.append((len(raw), nd, 10_000 * nd // len(raw)))
        return pd.DataFrame(rows,
                            columns=["n_bytes", "n_deflate",
                                     "compress_ratio_e4"])

    out = df.withColumn("_cr", comp(F.col(text_col)))
    return (out.select("*", "_cr.n_bytes", "_cr.n_deflate",
                       "_cr.compress_ratio_e4").drop("_cr"))
