"""The ``serve`` workload: a closed loop of HTTP clients against a
served hub booted the way ``python -m datahub_spark`` wires it (app
defaults: direct writes, no auth).

The store holds region, nation, supplier, customer, customer.balance
and part. Each client sends the next request of its seeded stream only
after the previous reply, repeating a fixed block of ten requests:
changes pages, entities pages, entityId lookups, inverse ``p:nation``
traversals and 1000-entity customer writes (half changed, half
unchanged). Clients write disjoint customer ids, so the benchmark knows
exactly which rows the store must keep.

The shares in ``BLOCK`` are an assumption; no trace of real hub traffic
backs them:

- 4 changes pages: sync consumers, which poll ``/changes`` with their
  last token, are taken to be the most frequent callers;
- 3 entities pages: full-set readers (bootstraps, fullsync jobs) come
  next;
- 1 lookup and 1 traversal: so that both ``/query`` modes are timed in
  every block;
- 1 write: every write invalidates the ``/query`` lookup index, so the
  first traversal after it rebuilds the index. The write share thus
  sets how many traversals pay a rebuild, and with it the traversal
  figures.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from collections import defaultdict
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

import gen
import spans
from harness import Report, cores, in_parallel
from layers import LogFiles
from stats import median, tail

SF = 0.02
# closed-loop clients; at most the core count (checked at start)
CLIENTS = 2
DATASETS = ("region", "nation", "supplier", "customer", "customer.balance", "part")
# request types per block of 10; client i starts its blocks at offset
# 3 * i, so clients write at different times
BLOCK = ("changes", "lookup", "entities", "changes", "traverse", "entities",
         "write", "changes", "entities", "changes")
WRITE_SIZE = 1000
KIND_CLASS = {"changes": "read", "entities": "read", "lookup": "lookup",
              "traverse": "traverse", "write": "write"}
# a traced run's rounds repeat untraced, traced, traced, untraced, so a
# drift over the run (the store grows with every write) falls on both
# halves alike
TRACE_ORDER = (False, True, True, False)
# job group of the Spark jobs the traced run adds to split a request
# into its layers; they count toward no request
SPLIT_GROUP = "trace.split"
# DataFrame attribute naming the span a traced frame's collect runs in
SPAN_MARK = "_perfbench_span"


def request_stream(seed: int, client: int, n: int, n_customers: int,
                   owned: list[int]) -> list[tuple]:
    """The first ``n`` requests of a client's stream: ``(kind,
    parameter)`` where the seeded parameter is a customer key (lookup),
    a nation key (traverse) or the customer keys a write touches,
    changed ones first. The kinds follow ``BLOCK`` in a fixed order, so
    every seed offers the same mix."""
    rng = np.random.default_rng([seed, 2000 + client])
    out = []
    start = 3 * client % len(BLOCK)
    while len(out) < n:
        for kind in BLOCK[start:] + BLOCK[:start]:
            if kind == "lookup":
                out.append((kind, int(rng.integers(0, n_customers))))
            elif kind == "traverse":
                out.append((kind, int(rng.integers(0, 25))))
            elif kind == "write":
                size = min(WRITE_SIZE, len(owned))
                keys = rng.choice(owned, size, replace=False)
                out.append((kind, tuple(int(k) for k in keys)))
            else:
                out.append((kind, None))
    return out[:n]


class Hub:
    """What the clients know about the served data: the generated rows
    and the customer names each client has written."""

    def __init__(self, inputs: str, clients: int):
        c = pq.read_table(os.path.join(inputs, "customer.parquet")).to_pydict()
        self.n_customers = len(c["c_custkey"])
        self.name = {k: [n] for k, n in zip(c["c_custkey"], c["c_name"])}
        self.seg = dict(zip(c["c_custkey"], c["c_mktsegment"]))
        self.nation = dict(zip(c["c_custkey"], c["c_nationkey"]))
        self.balance = {k: f"{b:.2f}" for k, b in zip(c["c_custkey"], c["c_acctbal"])}
        s = pq.read_table(os.path.join(inputs, "supplier.parquet")).to_pydict()
        self.suppliers = defaultdict(set)
        for k, nk in zip(s["s_suppkey"], s["s_nationkey"]):
            self.suppliers[nk].add(f"sup:{k}")
        self.customers_of = defaultdict(int)
        for nk in self.nation.values():
            self.customers_of[nk] += 1
        self.n_parts = pq.ParquetFile(os.path.join(inputs, "part.parquet")).metadata.num_rows
        self.owned = [list(range(i, self.n_customers, clients)) for i in range(clients)]
        self.lock = threading.Lock()
        self.changed_rows = 0

    def entity(self, key: int) -> dict:
        return {"id": f"cust:{key}",
                "props": {"p:name": self.name[key][-1], "p:mktsegment": self.seg[key]},
                "refs": {"p:nation": f"nat:{self.nation[key]}"}}


class Client:
    def __init__(self, url: str, hub: Hub, idx: int, report: Report, stream):
        u = urlparse(url)
        self.host, self.port = u.hostname, u.port
        self.hub, self.idx, self.report = hub, idx, report
        self.stream = stream
        self.tokens = {"changes": "", "entities": ""}
        self.drains = defaultdict(int)
        self.samples: list[tuple[str, float, object]] = []
        self.writes = 0
        self.done = 0.0

    def call(self, method: str, path: str, body=None) -> tuple[int, object]:
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            data = None if body is None else json.dumps(body).encode()
            headers = {"Content-Type": "application/json"} if data else {}
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
            return resp.status, (json.loads(raw) if raw else None)
        finally:
            conn.close()

    def one(self, kind: str, param) -> None:
        hub, rep = self.hub, self.report
        if kind in ("changes", "entities"):
            tok = self.tokens[kind]
            if kind == "changes":
                path = "/datasets/customer/changes" + (f"?since={tok}" if tok else "")
            else:
                path = "/datasets/part/entities" + (f"?from={tok}" if tok else "")
            status, body = self.call("GET", path)
            if status != 200:
                raise RuntimeError(f"{kind} page: HTTP {status}")
            ents = [o for o in body if o.get("id") not in ("@context", "@continuation")]
            nxt = body[-1]["token"]
            if ents:
                rep.check(nxt != tok, f"{kind} token did not advance past a full page")
                self.tokens[kind] = nxt
            else:
                rep.check(nxt == tok, f"{kind} drained page changed the token")
                self.tokens[kind] = ""
                self.drains[kind] += 1
        elif kind == "lookup":
            with hub.lock:
                names = list(hub.name[param])
            status, body = self.call("POST", "/query", {"entityId": f"cust:{param}"})
            if status != 200:
                raise RuntimeError(f"lookup: HTTP {status}")
            ent = body[1]
            props = ent.get("props", {})
            rep.check(ent.get("id") == f"cust:{param}", f"lookup cust:{param} returned {ent.get('id')}")
            rep.check(props.get("p:acctbal") == hub.balance[param],
                      f"lookup cust:{param}: balance partial not merged")
            with hub.lock:
                names = set(names) | set(hub.name[param])
            rep.check(props.get("p:name") in names, f"lookup cust:{param}: unknown name")
        elif kind == "traverse":
            status, body = self.call("POST", "/query", {
                "startingEntities": [f"nat:{param}"], "predicate": "p:nation",
                "inverse": True, "limit": 100_000})
            if status != 200:
                raise RuntimeError(f"traverse: HTTP {status}")
            related = {t[2]["id"] for t in body[1]}
            sup = hub.suppliers[param]
            rep.check(sup <= related, f"traverse nat:{param}: suppliers missing")
            rep.check(len(related) <= len(sup) + hub.customers_of[param],
                      f"traverse nat:{param}: {len(related)} related, more than exist")
        else:  # write
            keys = param
            half = len(keys) // 2
            with hub.lock:
                for k in keys[:half]:
                    hub.name[k].append(f"{hub.name[k][0]}~c{self.idx}w{self.writes}")
                payload = [hub.entity(k) for k in keys]
            self.writes += 1
            status, _ = self.call("POST", "/datasets/customer/entities", payload)
            if status != 200:
                raise RuntimeError(f"write: HTTP {status}")
            with hub.lock:
                hub.changed_rows += half

    def block(self, b: int, tag=None) -> None:
        """Send block ``b`` of the stream; every reply's latency goes
        into ``samples`` as (kind, seconds, tag)."""
        n = len(BLOCK)
        for kind, param in self.stream[b * n:(b + 1) * n]:
            t0 = time.perf_counter()
            with self.hub.lock:
                self.report.attempted += 1
            try:
                self.one(kind, param)
            except Exception as exc:  # a failed request is counted, not fatal
                with self.hub.lock:
                    self.report.failed += 1
                    self.report.errors.append(f"client {self.idx} {kind}: {exc!r}")
                continue
            self.samples.append((kind, time.perf_counter() - t0, tag))

    def loop(self, t_start: float, seconds: float) -> None:
        """Whole blocks of ``BLOCK``: a client starts another block while
        the window lasts and finishes every block it starts, so the
        sample always holds the exact mix."""
        for b in range(len(self.stream) // len(BLOCK)):
            if b and time.perf_counter() >= t_start + seconds:
                break
            self.block(b)
        self.done = time.perf_counter()


def traced_rounds(clients: list[Client], seconds: float, on, off) -> None:
    """The traced run's loop: every client sends one block per round,
    and a round starts when all clients have finished the previous one.
    Rounds follow ``TRACE_ORDER``; ``on()`` instruments the program
    before a traced round and ``off()`` restores it after, while no
    request is in flight. Whole groups of ``len(TRACE_ORDER)`` rounds
    start while the window lasts. Each sample is tagged with whether its
    round was traced."""
    n_order = len(TRACE_ORDER)
    most = len(clients[0].stream) // len(BLOCK) // n_order * n_order
    t_start = time.perf_counter()
    st = {"next": 0, "round": -1, "go": True}

    def between_rounds():
        r = st["next"]
        if r and r % n_order == 0:
            if r >= most or time.perf_counter() >= t_start + seconds:
                st["go"] = False
        was = r > 0 and TRACE_ORDER[(r - 1) % n_order]
        traced = st["go"] and TRACE_ORDER[r % n_order]
        if was and not traced:
            off()
        if traced and not was:
            on()
        st["round"], st["next"] = r, r + 1

    barrier = threading.Barrier(len(clients), action=between_rounds)

    def client_loop(c: Client) -> None:
        try:
            while True:
                barrier.wait()
                if not st["go"]:
                    break
                r = st["round"]
                c.block(r, TRACE_ORDER[r % n_order])
        except Exception as exc:  # a failed on/off breaks the barrier for all
            with c.hub.lock:
                c.report.errors.append(f"client {c.idx}: traced rounds broke off: {exc!r}")
        c.done = time.perf_counter()

    threads = [threading.Thread(target=client_loop, args=(c,)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def run(cfg, report: Report, setup_clock, rss) -> None:
    from datahub_spark import ingest, script, uda
    from datahub_spark import store as S
    from datahub_spark.app import DatahubInstance
    from datahub_spark.config import load_config

    inputs = gen.write(os.path.join(cfg.work_dir, "inputs"), cfg.seed, SF,
                       ("region", "nation", "supplier", "customer", "part"))
    if CLIENTS > cores():
        raise RuntimeError(f"{CLIENTS} clients need at least as many cores")
    hub = Hub(inputs, CLIENTS)
    streams = [request_stream(cfg.seed, i, 20 * len(BLOCK), hub.n_customers, hub.owned[i])
               for i in range(CLIENTS)]
    setup_clock.start()
    rss.start()
    config = load_config(env={"STORE_LOCATION": os.path.join(cfg.work_dir, "store"),
                              "SERVER_PORT": "0", "LOG_LEVEL": "WARNING"})
    inst = DatahubInstance(config)
    spark = inst.spark
    spark.sparkContext.setLogLevel("ERROR")
    setup_clock.phase("boot")
    ents = ingest.tpch_entities(spark, inputs)
    in_parallel([lambda ds=ds: inst.store.execute_transaction({ds: ents[ds].drop("dataset")})
                 for ds in DATASETS])
    setup_clock.phase("seed")
    url = inst.start()
    setup_clock.phase("start")
    tracer = spans.Tracer(spark.sparkContext) if cfg.trace else None
    try:
        warm = [Client(url, hub, -1, report, []) for _ in range(2)]
        for kinds in ((("changes", None), ("entities", None)),
                      (("lookup", 0), ("traverse", 0)),
                      (("lookup", 1), ("traverse", 1))):
            in_parallel([lambda c=c, k=k: c.one(*k) for c, k in zip(warm, kinds)])
        setup_clock.stop()
        report.check(not report.errors, "warmup requests failed")
        files = LogFiles(inst.store)
        before = set(files.files("customer"))

        clients = [Client(url, hub, i, report, streams[i]) for i in range(CLIENTS)]
        t_start = time.perf_counter()
        if cfg.trace:
            profile = spans.SparkProfile(spark)
            index_rows: list[int] = []
            # (RDDs, bytes) held persisted after each traced stretch
            persisted: list[tuple[int, int]] = []
            # the class that defines collect (a subclass of
            # pyspark.sql.DataFrame in classic sessions)
            frame_cls = type(spark.range(0))

            def on():
                _instrument(tracer, inst.server, S, script, uda, frame_cls, index_rows)
                profile.open()

            def off():
                profile.close()
                tracer.close()
                persisted.append(spans.persisted(spark))

            traced_rounds(clients, cfg.seconds, on, off)
        else:
            threads = [threading.Thread(target=c.loop, args=(t_start, cfg.seconds))
                       for c in clients]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        elapsed = max(c.done for c in clients) - t_start
        rss.stop()

        samples = [s for c in clients for s in c.samples]
        by_class = defaultdict(list)
        for kind, sec, _tag in samples:
            by_class[KIND_CLASS[kind]].append(sec)
        all_s = [sec for _, sec, _ in samples]
        if all_s:
            t = tail(all_s)
            report.e2e["ops_per_s"] = (len(all_s) / elapsed, "1/s")
            report.e2e["p50_ms"] = (median(all_s) * 1e3, "ms")
            report.e2e["tail_ms"] = (t["value"] * 1e3, "ms")
            report.detail["serve_ops_per_s"] = (len(all_s) / elapsed, "1/s")
            report.detail["request_tail_pct"] = t["percentile"]
            report.detail["requests"] = t["n"]
        for cls in ("read", "lookup", "traverse", "write"):
            report.latency(cls, by_class[cls])
        report.detail["drains"] = {k: sum(c.drains[k] for c in clients)
                                   for k in ("changes", "entities")}

        if cfg.trace and all_s:
            _layer_report(report, spark, tracer, profile, files, before, samples,
                          index_rows, persisted)
        _check(inst, hub, report, files, before, url)
    finally:
        if tracer is not None:
            tracer.close()
        inst.stop()


def _instrument(tracer, server, S, script, uda, frame_cls, index_rows: list[int]) -> None:
    """Spans around the store, UDA and lookup-index calls; each request
    thread gets job group ``serve.request`` and a root span named by
    its request class. Each lookup-index build appends its row count to
    ``index_rows``.

    The store and UDA functions return lazy frames that the server runs
    later in one action, so a span around the call alone would time
    only the planning. The lookup's frame is therefore marked, and its
    ``collect`` runs inside the ``store.get_entity`` span. A page is
    split in two: its entity rows are materialized (persisted and
    counted) inside ``store.read`` before ``to_uda_json`` encodes them,
    and the encoding's collect runs inside ``uda.encode``. A write's
    kept rows are materialized the same way inside ``store.dedup`` before
    ``execute_transaction`` writes them. The split jobs run under
    ``SPLIT_GROUP``."""
    tracer.wrap(S.EntityStore, "log", "store.log")
    tracer.wrap(S, "latest", "store.latest")
    get_entity = S.EntityStore.get_entity

    def traced_get_entity(self, *a, **kw):
        with tracer.span("store.get_entity"):
            df = get_entity(self, *a, **kw)
        df.__dict__[SPAN_MARK] = ("store.get_entity", None)
        return df

    tracer.patch(S.EntityStore, "get_entity", traced_get_entity)
    split = threading.local()
    store_entities = S.EntityStore.store_entities
    commit = S.EntityStore.execute_transaction

    def traced_store_entities(self, *a, **kw):
        split.dedup = True
        try:
            with tracer.span("store.store_entities"):
                return store_entities(self, *a, **kw)
        finally:
            split.dedup = False

    def traced_commit(self, dataset_entities, *a, **kw):
        kept = {}
        if getattr(split, "dedup", False):
            split.dedup = False
            with tracer.span("store.dedup", SPLIT_GROUP):
                kept = {ds: df.persist() for ds, df in dataset_entities.items()}
                for df in kept.values():
                    df.count()
            dataset_entities = kept
        try:
            with tracer.span("store.commit"):
                return commit(self, dataset_entities, *a, **kw)
        finally:
            for df in kept.values():
                df.unpersist()

    tracer.patch(S.EntityStore, "store_entities", traced_store_entities)
    tracer.patch(S.EntityStore, "execute_transaction", traced_commit)
    build_index = script.build_lookup_index

    def build(*frames, **kw):
        index = build_index(*frames, **kw)
        index_rows.append(sum(len(v) for v in index["changes"].values()))
        return index

    tracer.patch(script, "build_lookup_index", build)
    tracer.wrap(script, "build_lookup_index", "script.build_lookup_index")
    encode = uda.to_uda_json

    def traced_encode(df, *a, **kw):
        with tracer.span("store.read", SPLIT_GROUP):
            page = df.persist()
            page.count()
        with tracer.span("uda.encode"):
            out = encode(page, *a, **kw)
        out.__dict__[SPAN_MARK] = ("uda.encode", page)
        return out

    tracer.patch(uda, "to_uda_json", traced_encode)
    collect = frame_cls.collect

    def traced_collect(self):
        mark = self.__dict__.get(SPAN_MARK)
        if mark is None:
            return collect(self)
        name, source = mark
        try:
            with tracer.span(name):
                return collect(self)
        finally:
            if source is not None:
                source.unpersist()

    tracer.patch(frame_cls, "collect", traced_collect)
    observed = server._observed

    def traced_observed(rq, dispatch):
        path = urlparse(rq.path).path
        kind = ("write" if path.endswith("/entities") and rq.command == "POST"
                else "query" if path == "/query" else "read")
        with tracer.span(f"request.{kind}", "serve.request"):
            return observed(rq, dispatch)

    tracer.patch(server, "_observed", traced_observed)


def _layer_report(report, spark, tracer, profile, files, before, samples,
                  index_rows, persisted) -> None:
    """Per-layer values, per traced request of the class they belong
    to; the tracing overhead compares the traced rounds' summed request
    latency with the untraced rounds'."""
    traced = defaultdict(int)
    for kind, _sec, tag in samples:
        if tag:
            traced[KIND_CLASS[kind]] += 1
    n_read, n_lookup, n_trav, n_write = (max(traced[c], 1) for c in
                                         ("read", "lookup", "traverse", "write"))
    roots = _root_totals(tracer.spans)
    read = roots.get("request.read", {})
    query = roots.get("request.query", {})
    write = roots.get("request.write", {})

    def ms(spans_of, name):
        return 1e3 * spans_of.get(name, (0, 0.0))[1]

    builds = query.get("script.build_lookup_index", (0, 0.0))
    groups = profile.by_group(operators=False)
    # rows the store kept per write, over every write of the run
    writes = max(sum(1 for kind, _, _ in samples if kind == "write"), 1)
    rows_written = files.rows(set(files.files("customer")) - before) / writes
    commit = ms(write, "store.commit")
    rdds, size = max(persisted + [spans.persisted(spark)])
    on = sum(sec for _, sec, tag in samples if tag)
    off = sum(sec for _, sec, tag in samples if not tag)
    report.layers.update({
        "server.spark_jobs_per_request":
            groups.get("serve.request", {}).get("jobs", 0.0) / max(sum(traced.values()), 1),
        "store.read_ms": (ms(read, "store.log") + ms(read, "store.latest")
                          + ms(read, "store.read")) / n_read,
        "uda.encode_ms": ms(read, "uda.encode") / n_read,
        "store.log_files": sum(len(files.files(ds)) for ds in files.store.list_datasets()),
        "store.get_entity_ms": ms(query, "store.get_entity") / n_lookup,
        "script.index_builds": builds[0] / n_trav,
        "script.index_build_ms": 1e3 * builds[1] / max(builds[0], 1),
        "script.index_rows": sum(index_rows) / max(len(index_rows), 1),
        "store.commit_ms": commit / n_write,
        "store.dedup_ms": max(ms(write, "store.store_entities") - commit, 0.0) / n_write,
        "store.rows_written": rows_written,
        "store.rows_offered": float(WRITE_SIZE),
        "spark.unattributed_jobs": groups.get(None, {}).get("jobs", 0.0),
        "jvm.persisted_rdds": rdds,
        "jvm.persisted_bytes": size,
        "trace.overhead_pct": 100.0 * (on / off - 1.0) if off else 0.0,
    })


def _root_totals(span_list) -> dict[str, dict[str, tuple]]:
    """Per root span name: (count, seconds) of every span name beneath
    it, the root's own included."""
    parent = {sid: (name, par) for name, _s, _e, par, sid in span_list}

    def root(sid):
        name, par = parent[sid]
        while par in parent:
            name, par = parent[par]
        return name

    out: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(lambda: [0, 0.0]))
    for name, start, end, _par, sid in span_list:
        acc = out[root(sid)][name]
        acc[0] += 1
        acc[1] += end - start
    return {r: {n: tuple(v) for n, v in d.items()} for r, d in out.items()}


def _check(inst, hub: Hub, report: Report, files, before, url) -> None:
    """After the loop: a full entities walk drains at the part count,
    every customer carries the name its owner last wrote, and the store
    kept exactly the changed rows of every write."""
    from pyspark.sql import functions as F

    from datahub_spark.store import latest as store_latest

    walker = Client(url, hub, -1, report, [])
    seen, pages, tok = 0, 0, ""
    while pages <= hub.n_parts:
        status, body = walker.call("GET", "/datasets/part/entities" + (f"?from={tok}" if tok else ""))
        if status != 200:
            report.check(False, f"entities walk: HTTP {status}")
            break
        ents = [o for o in body if o.get("id") not in ("@context", "@continuation")]
        if not ents:
            break
        seen += len(ents)
        pages += 1
        tok = body[-1]["token"]
    report.check(seen == hub.n_parts, f"entities walk saw {seen} parts, expected {hub.n_parts}")
    latest = {r["id"]: r["name"] for r in store_latest(inst.store.log(["customer"]))
              .select("id", F.col("props")["p:name"].alias("name")).collect()}
    bad = sum(1 for k, names in hub.name.items() if latest.get(f"cust:{k}") != names[-1])
    report.check(bad == 0, f"{bad} customers do not carry their last written name")
    report.check(len(latest) == hub.n_customers,
                 f"customer holds {len(latest)} entities, expected {hub.n_customers}")
    written = files.rows(set(files.files("customer")) - before)
    report.check(written == hub.changed_rows,
                 f"store kept {written} written rows, expected {hub.changed_rows} changed")

