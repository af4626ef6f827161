"""The ``batch`` workload: the engine's operators and jobs over generated
tables, each leg timed as one action.

Operator legs keep the plan shapes and names of the repository's
headliner legs (so their times read against the BENCH history), but
are defined here, and are timed as noop writes. Entity-analytics legs
go through ``store.latest`` and ``operators.graph``/``temporal``;
corpus legs through ``operators.text``, ``dedup`` and ``similarity``;
job legs time ``Job.run`` of a ``JavascriptTransform`` (``script``,
``js``, mapInPandas) and of an enrichment (``transforms.enrich_via``,
``query.related``). The warmup pass runs every timed action once. After
the measured window, every leg's output is collected once more through
the same call (the jobs through ``Job.run`` into a collecting sink) and
checked against DuckDB SQL or Python written independently of the
program. Nothing the legs leave persisted is freed between legs.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from collections import defaultdict

import pyarrow.parquet as pq

import gen
import spans
from harness import Report
from layers import BATCH_LEGS, CORPUS_LEGS, ENTITY_LEGS, JOB_LEGS, PYTHON_LEGS
from stats import median, tail

SF = 0.02
JS = """function transform_entities(entities) {
    for (e of entities) {
        SetProperty(e, "p", "label",
                    GetProperty(e, "p", "name") + "/" + GetProperty(e, "p", "mktsegment"));
    }
    return entities;
}"""


class CollectSink:
    """A job sink that keeps what it receives as a pandas frame."""

    frame = None

    def write(self, df) -> None:
        self.frame = df.toPandas()


def _jobs(spark, inputs: str) -> dict:
    """The jobs-engine legs: a fullsync ``Job`` from the generated
    entities into the noop sink, per leg."""
    from datahub_spark import ingest
    from datahub_spark.jobs import DevNullSink, Job, VirtualDatasetSource
    from datahub_spark.script import make_script_transform
    from datahub_spark.transforms import enrich_via

    ents = ingest.tpch_entities(spark, inputs)

    def source(ds):
        return VirtualDatasetSource(spark, lambda spark, params, since, limit: ents[ds])

    def enrich(df):
        return enrich_via(df, "p:customer", "p:mktsegment", "p:cust_segment",
                          via=ents["customer"])

    return {"js_job": Job("customer_js", source("customer"), DevNullSink(),
                          transform=make_script_transform(JS), job_type="fullsync"),
            "enrich_job": Job("orders_enrich", source("orders"), DevNullSink(),
                              transform=enrich, job_type="fullsync")}


def _leg_fns():
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datahub_spark import ingest
    from datahub_spark import store as S
    from datahub_spark.operators import dedup as DD
    from datahub_spark.operators import similarity as SIM
    from datahub_spark.operators import text as TX
    from datahub_spark.operators.graph import pagerank
    from datahub_spark.operators.temporal import asof_join
    from datahub_spark.queries import q_query_aggregate

    def parts_per_nation(spark, sf_dir):
        ds = ingest.tpch_entities(spark, sf_dir)
        li = S.latest(ds["lineitem"], single_version=True).select(
            F.explode(F.col("refs")["p:part"]).alias("part_id"),
            F.col("refs")["p:supplier"][0].alias("supplier_id"))
        sup = S.latest(ds["supplier"], single_version=True).select(
            F.col("id").alias("supplier_id"),
            F.col("refs")["p:nation"][0].alias("nation_id"))
        return (li.join(F.broadcast(sup), "supplier_id")
                .groupBy("nation_id", "part_id").agg(F.count(F.lit(1)).alias("_c"))
                .groupBy("nation_id").agg(F.count(F.lit(1)).alias("n_parts"),
                                          F.sum("_c").alias("n_lineitems")))

    def asof_enrich(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        su = ev.filter(F.col("event_type") == "signup").select(
            "user_id", "ts", F.col("value").alias("signup_value"))
        return asof_join(ev.select("event_id", "user_id", "ts"), su,
                         on="user_id", value_cols=["signup_value"])

    def pagerank_orders(spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return pagerank(orders.selectExpr("o_orderkey AS src", "o_custkey AS dst"),
                        rounds=3)

    def text_suite(spark, sf_dir):
        return TX.text_suite(ingest.load_tables(spark, sf_dir)["documents"])

    def dedup_minhash(spark, sf_dir):
        docs = ingest.load_tables(spark, sf_dir)["documents"]
        return DD.lsh_candidates(DD.minhash_signature(docs, k=12, n=3),
                                 bands=4, rows_per_band=3)

    def ann_topk(spark, sf_dir):
        emb = ingest.load_tables(spark, sf_dir)["embeddings"]
        scored = SIM.brute_scores(emb.filter(F.col("vec_id") < 10), emb,
                                  top_k=5, exclude_self=True)
        w = Window.partitionBy("query_id").orderBy(F.col("dot_fp").desc(),
                                                   F.col("neighbor_id"))
        return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= 5)
                .select("query_id", "rank", "neighbor_id", "dot_fp"))

    return {"query_aggregate": q_query_aggregate,
            "parts_per_nation": parts_per_nation, "asof_enrich": asof_enrich,
            "pagerank_orders": pagerank_orders, "text_suite": text_suite,
            "dedup_minhash": dedup_minhash, "ann_topk": ann_topk}


def _oracles() -> dict[str, str]:
    """DuckDB SQL per leg over views named like the tables."""
    from datahub_spark.operators.graph import pagerank_oracle_sql
    from datahub_spark.operators.similarity import DOT_FIXED_SQL
    from datahub_spark.queries import ORACLES

    return {
        "query_aggregate": ORACLES["query_aggregate"],
        "parts_per_nation": """
            SELECT nation_id, CAST(count(*) AS BIGINT) AS n_parts,
                   CAST(sum(c) AS BIGINT) AS n_lineitems
            FROM (SELECT 'nat:' || s.s_nationkey AS nation_id, l.l_partkey, count(*) AS c
                  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                  GROUP BY 1, 2) GROUP BY 1""",
        "asof_enrich": """
            WITH su AS (SELECT user_id, ts, value AS signup_value FROM events
                        WHERE event_type = 'signup')
            SELECT e.event_id, su.signup_value
            FROM events e ASOF LEFT JOIN su ON e.user_id = su.user_id AND e.ts >= su.ts""",
        "pagerank_orders": "WITH e AS (SELECT o_orderkey AS src, o_custkey AS dst FROM orders), "
                           + pagerank_oracle_sql(rounds=3).removeprefix("WITH "),
        "text_suite": ORACLES["text_signals"],
        "ann_topk": f"""
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
            s AS (SELECT q.qid, e.vec_id AS nid,
                         {DOT_FIXED_SQL.format(a='q.qv', b='e.embedding')} AS d
                  FROM q, embeddings e WHERE e.vec_id <> q.qid),
            r AS (SELECT qid, nid, d, row_number() OVER (PARTITION BY qid
                                                         ORDER BY d DESC, nid) AS rnk FROM s)
            SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, nid AS neighbor_id,
                   d AS dot_fp FROM r WHERE rnk <= 5""",
    }


# columns compared per leg (the leg's own output may carry more)
_COMPARED = {"asof_enrich": ["event_id", "signup_value"],
             "pagerank_orders": ["id", "rank_e9"]}


def digest(pdf, cols=None) -> str:
    """Order-independent digest of a pandas frame's values."""
    cols = sorted(cols or pdf.columns)
    p = pdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
    return hashlib.md5(p.to_csv(index=False).encode()).hexdigest()


def check_outputs(outputs: dict, inputs: str, report: Report) -> None:
    """Each leg's collected output against its DuckDB oracle; the
    minhash leg against the exact duplicates planted in the corpus."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, t)}.parquet')")
        for leg, sql in _oracles().items():
            got = outputs[leg]
            want = con.execute(sql).df()
            cols = _COMPARED.get(leg, list(want.columns))
            got = got[cols].copy()
            for c in cols:
                if str(want[c].dtype).startswith(("int", "Int")) and got[c].notna().all():
                    got[c] = got[c].astype("int64")
                    want[c] = want[c].astype("int64")
            report.check(len(got) == len(want) and digest(got, cols) == digest(want, cols),
                         f"{leg}: output differs from the DuckDB oracle "
                         f"({len(got)} vs {len(want)} rows)")
    finally:
        con.close()
    docs = pq.read_table(os.path.join(inputs, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    by_text = defaultdict(list)
    for d, t in zip(docs["doc_id"], docs["text"]):
        by_text[t].append(d)
    planted = {(a, b) for ids in by_text.values() for a in ids for b in ids if a < b}
    got = set(zip(outputs["dedup_minhash"]["id_a"], outputs["dedup_minhash"]["id_b"]))
    report.check(bool(planted) and planted <= got,
                 f"dedup_minhash: {len(planted - got)} of {len(planted)} exact duplicate pairs missed")
    cust = pq.read_table(os.path.join(inputs, "customer.parquet")).to_pydict()
    seg = {f"cust:{k}": s for k, s in zip(cust["c_custkey"], cust["c_mktsegment"])}
    label = {f"cust:{k}": f"{n}/{s}" for k, n, s in
             zip(cust["c_custkey"], cust["c_name"], cust["c_mktsegment"])}
    js = outputs["js_job"]
    got = {i: p.get("p:label") for i, p in zip(js["id"], js["props"])}
    report.check(got == label, "js_job: labels differ from the JS transform of the customers")
    orders = pq.read_table(os.path.join(inputs, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey"]).to_pydict()
    want = {f"ord:{o}": seg[f"cust:{c}"] for o, c in zip(orders["o_orderkey"], orders["o_custkey"])}
    en = outputs["enrich_job"]
    got = {i: p.get("p:cust_segment") for i, p in zip(en["id"], en["props"])}
    report.check(got == want, "enrich_job: orders do not carry their customer's segment")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(action, into: list, leg: str, report: Report) -> None:
    """Run one leg; its time goes into ``into`` unless it failed."""
    report.attempted += 1
    t0 = time.perf_counter()
    try:
        action()
    except Exception as exc:  # a failed leg is counted, not fatal
        report.failed += 1
        report.errors.append(f"{leg}: {exc!r}")
        return
    into.append(time.perf_counter() - t0)


def run(cfg, report: Report, setup_clock, rss) -> None:
    from datahub_spark.jobs import JobState
    from datahub_spark.session import get_spark

    inputs = gen.write(os.path.join(cfg.work_dir, "inputs"), cfg.seed, SF)
    setup_clock.start()
    rss.start()
    spark = get_spark("perfbench-batch")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    setup_clock.phase("boot")
    plans = _leg_fns()
    jobs = _jobs(spark, inputs)
    state = JobState(os.path.join(cfg.work_dir, "jobstate.json"))
    actions = {leg: (lambda fn=fn: _noop(fn(spark, inputs))) for leg, fn in plans.items()}
    actions.update({leg: (lambda job=job: job.run(state)) for leg, job in jobs.items()})
    actions = {leg: actions[leg] for leg in BATCH_LEGS}
    for action in actions.values():
        action()
    setup_clock.stop()

    tracer = spans.Tracer(sc) if cfg.trace else None
    profile = spans.SparkProfile(spark) if cfg.trace else None
    times = defaultdict(list)
    # traced run: the untraced twin of every traced leg run
    untraced = defaultdict(list)
    # traced run: (RDDs, bytes) each traced leg run left persisted
    leaks: dict[str, list] = defaultdict(list)
    # traced run: the most (RDDs, bytes) held persisted after a leg
    peak_persisted = (0, 0)
    t_start = time.perf_counter()
    deadline = t_start + cfg.seconds
    # whole passes only, so every leg has the same number of samples
    passes = 0
    while passes == 0 or time.perf_counter() < deadline:
        for i, (leg, action) in enumerate(actions.items()):
            if not cfg.trace:
                _timed(action, times[leg], leg, report)
                continue
            # an untraced and a traced run of the leg, in an order that
            # alternates by leg, pass and seed, so that which of the two
            # runs second favours neither side
            for traced in ((False, True) if (i + passes + cfg.seed) % 2 == 0
                           else (True, False)):
                if not traced:
                    _timed(action, untraced[leg], leg, report)
                    continue
                before = spans.persisted(spark)
                profile.open()
                with tracer.span(f"batch.{leg}", f"batch.{leg}"):
                    _timed(action, times[leg], leg, report)
                profile.close()
                after = spans.persisted(spark)
                leaks[leg].append((after[0] - before[0], after[1] - before[1]))
                peak_persisted = max(peak_persisted, after)
        passes += 1
    rss.stop()

    runs = [s for leg in actions for s in times[leg]]
    if runs:
        t = tail(runs)
        report.e2e["ops_per_s"] = (len(runs) / sum(runs), "1/s")
        report.e2e["p50_ms"] = (median(runs) * 1e3, "ms")
        report.e2e["tail_ms"] = (t["value"] * 1e3, "ms")
        report.detail["leg_tail_pct"] = t["percentile"]
        report.detail["leg_runs"] = t["n"]
        medians = {leg: median(times[leg]) for leg in actions if times[leg]}
        report.detail["entity_analytics_s"] = (sum(medians.get(g, 0) for g in ENTITY_LEGS), "s")
        report.detail["jobs_s"] = (sum(medians.get(g, 0) for g in JOB_LEGS), "s")
        report.detail["corpus_s"] = (sum(medians.get(g, 0) for g in CORPUS_LEGS), "s")
        report.detail["passes"] = passes
        for leg, m in medians.items():
            report.detail[f"{leg}_s"] = (m, "s")

    if cfg.trace and runs:
        _layer_report(report, spark, profile, actions, times, untraced, leaks,
                      peak_persisted)
        tracer.close()

    outputs = {leg: fn(spark, inputs).toPandas() for leg, fn in plans.items()}
    for leg, job in jobs.items():
        job.sink = CollectSink()
        job.run(state)
        outputs[leg] = job.sink.frame
    check_outputs(outputs, inputs, report)


def _layer_report(report, spark, profile, actions, times, untraced, leaks,
                  peak_persisted) -> None:
    """Per-leg Spark counters per traced run; the leak report by leg; the
    tracing overhead as the geometric mean over legs of traced over
    untraced time."""
    groups = profile.by_group()
    for leg in actions:
        n = max(len(times[leg]), 1)
        g = groups.get(f"batch.{leg}", {})
        report.layers[f"batch.{leg}_s"] = median(times[leg]) if times[leg] else 0.0
        for c in ("stages", "tasks", "executor_cpu_ms", "gc_ms", "deserialize_ms",
                  "shuffle_write_bytes", "spill_bytes"):
            report.layers[f"batch.{leg}.{c}"] = g.get(c, 0.0) / n
        if leg in PYTHON_LEGS:
            report.layers[f"batch.{leg}.python_worker_ms"] = g.get("python_worker_ms", 0.0) / n
            report.layers[f"batch.{leg}.arrow_bytes"] = (
                g.get("arrow_bytes_sent", 0.0) + g.get("arrow_bytes_returned", 0.0)) / n
    # legs that left RDDs persisted when they returned, with the most
    # one run of the leg left
    report.detail["persisted_by_leg"] = {
        leg: {"rdds": max(v)[0], "bytes": max(v)[1]}
        for leg, v in leaks.items() if max(v)[0] > 0}
    ratios = [median(times[leg]) / median(untraced[leg])
              for leg in actions if times[leg] and untraced[leg]]
    rdds, size = max(peak_persisted, spans.persisted(spark))
    report.layers.update({
        "spark.unattributed_jobs": groups.get(None, {}).get("jobs", 0.0),
        "jvm.persisted_rdds": rdds,
        "jvm.persisted_bytes": size,
        "trace.overhead_pct": (100.0 * (math.exp(sum(map(math.log, ratios)) / len(ratios)) - 1.0)
                               if ratios else 0.0),
    })
