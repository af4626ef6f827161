"""Jobs engine: source → optional transform → sink pipelines.

Reference parity (internal/jobs/):
  job.go / pipeline.go  — job = source + transform + sink; incremental
                          (continuation tokens) and fullsync modes
  runner.go/scheduler.go — cron & onchange triggers, run history
  source/               — DatasetSource (+LatestOnly), UnionDatasetSource,
                          MultiSource (dependency tracking), SampleSource,
                          HttpDatasetSource
  sink.go               — DatasetSink, HttpDatasetSink, DevNullSink,
                          ConsoleSink
  error_handler.go      — log / reRun handlers
  DOCUMENTATION.md:1857 — lineage graph derived from job definitions

Spark re-expression: a source yields a DataFrame (a declarative view of
the store's change-log — nothing is materialized until the sink runs);
transforms are DataFrame→DataFrame callables; sinks write.

Continuation: each job keeps one token, a JSON value in JobState. Every
source implements ``read(token) -> (frame, next_token)``, where ``token``
is what the job stored last, or None on a fullsync or first run; an
incremental run stores ``next_token`` after a successful write.
  - log-backed sources (DatasetSource, UnionDatasetSource, MultiSource)
    take ``next_token`` BEFORE building the frame, as the max
    ``recorded`` in the log files' parquet footers (driver-side, no
    Spark job); a producer committing during the run stays above it and
    flows through the next run, where a re-delivered row dies in the
    sink's write-time dedup. MultiSource's token is one watermark per
    involved dataset. The range filter ``recorded > token`` pushes down
    into the log scan instead of re-reading history;
  - eager sources (HttpDatasetSource, script.ScriptVirtualSource) return
    what their read produced: the max ``recorded`` fetched, or the
    script's own return value, kept verbatim;
  - log-less sources (VirtualDatasetSource, SampleSource, TabularSource)
    hand back the token they were given.
"""

from __future__ import annotations

import functools
import itertools
import json
import logging
import os
import threading
import time
import uuid
from collections.abc import Callable
from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT
from datahub_spark import uda
from datahub_spark.session import local_frame
from datahub_spark.store import EntityStore, changes, latest

Transform = Callable[[DataFrame], DataFrame]


# --------------------------------------------------------------------------
# sources
# --------------------------------------------------------------------------

class DatasetSource:
    """jobs/source DatasetSource (+LatestOnly flag)."""

    def __init__(self, store: EntityStore, name: str, latest_only: bool = False):
        self.store, self.name, self.latest_only = store, name, latest_only

    @property
    def dataset_reads(self) -> list[tuple[str, bool]]:
        """(dataset, read through a dependency join) for each dataset the
        source reads: what its token covers, what lineage names and what
        orders the scheduler's levels."""
        return [(self.name, False)]

    def read(self, token: int | None = None) -> tuple[DataFrame, int]:
        since = token or 0
        next_token = max(self.store.max_recorded(
            [ds for ds, _hop in self.dataset_reads]), since)
        return (self.store.changes(self.name, since=since,
                                   latest_only=self.latest_only), next_token)


class UnionDatasetSource:
    """jobs/source UnionDatasetSource: datasets read as if concatenated."""

    def __init__(self, sources: list[DatasetSource]):
        self.sources = sources

    @property
    def dataset_reads(self) -> list[tuple[str, bool]]:
        return [r for s in self.sources for r in s.dataset_reads]

    def read(self, token: int | None = None) -> tuple[DataFrame, int]:
        frames, tokens = zip(*(s.read(token) for s in self.sources))
        return (functools.reduce(lambda a, b: a.unionByName(b), frames),
                max(tokens))


@dataclass
class Join:
    """One reverse-join step in a MultiSource dependency chain."""
    dataset: str
    predicate: str
    inverse: bool


@dataclass
class Dependency:
    dataset: str
    joins: list[Join]


class MultiSource:
    """jobs/source MultiSource: emits main-dataset entities affected by
    changes in dependency datasets, found by walking the registered join
    chain (DOCUMENTATION.md:647-777).

    Spark plan: changed dependency ids (range filter on the dep log) are
    joined hop-by-hop through the ref indexes back to the main dataset —
    each hop is one equi-join, start sets stay small and broadcast."""

    def __init__(self, store: EntityStore, name: str, dependencies: list[Dependency],
                 latest_only: bool = True):
        self.store, self.name, self.dependencies = store, name, dependencies
        self.latest_only = latest_only

    @property
    def dataset_reads(self) -> list[tuple[str, bool]]:
        return [(self.name, False)] + [(d.dataset, True)
                                       for d in self.dependencies]

    def affected_ids(self, tokens: dict[str, int]) -> DataFrame:
        """Ids of main-dataset entities needing reprocessing because a
        dependency dataset changed after its entry in ``tokens``."""
        out = None
        for dep in self.dependencies:
            ids = (
                self.store.changes(dep.dataset, since=tokens.get(dep.dataset, 0))
                .select("id").distinct()
            )
            for j in dep.joins:
                log = self.store.log([j.dataset])
                edge = latest(log, include_deleted=True).select(
                    F.col("id").alias("_src"),
                    F.explode(F.col("refs")[j.predicate]).alias("_dst"),
                )
                if j.inverse:
                    # entities in j.dataset pointing AT the current set
                    ids = edge.join(ids.withColumnRenamed("id", "_dst"), "_dst").select(
                        F.col("_src").alias("id")
                    ).distinct()
                else:
                    # follow refs of the current set INTO j.dataset
                    ids = edge.join(ids.withColumnRenamed("id", "_src"), "_src").select(
                        F.col("_dst").alias("id")
                    ).distinct()
            out = ids if out is None else out.unionByName(ids).distinct()
        return out

    def read(self, token: dict[str, int] | None = None
             ) -> tuple[DataFrame, dict[str, int]]:
        """The token is one watermark per involved dataset
        (pipeline_test.go 'Should store dependency watermarks...'), as
        datasets may use different ``recorded`` scales, where a shared
        token silently skips or re-reads changes. Any other token reads
        from the start.

        Reprocessed rows (emitted because a DEPENDENCY changed, not the
        entity itself) carry a NULL version key: the sink's transaction
        stamps them at commit time, like the reference's StoreEntities
        stamps store time (dataset.go:216). Re-emitting them under their
        original (recorded, seq) would tie exactly with the previously
        sinked version and make latest()'s max_by pick the winner by row
        order — nondeterministic."""
        tokens = token if isinstance(token, dict) else {}
        next_token = {ds: max(self.store.max_recorded([ds]), tokens.get(ds, 0))
                      for ds, _hop in self.dataset_reads}
        main = self.store.changes(self.name, since=tokens.get(self.name, 0),
                                  latest_only=self.latest_only)
        affected = self.affected_ids(tokens)
        main_all = latest(self.store.log([self.name]), include_deleted=True)
        reprocess = (
            main_all.join(affected, "id")
            # already flowing through this run as a direct change: skip
            .join(main.select("id").distinct(), "id", "left_anti")
            .withColumn("recorded", F.lit(None).cast("long"))
            .withColumn("seq", F.lit(None).cast("long"))
        )
        return main.unionByName(reprocess), next_token


class DependencyRegistry:
    """The object a transform's ``track_queries(reg)`` receives
    (multi_source_dep_builder.go:23-26, scheduler.go:744
    MultiSourceCodeRegistration): each ``hop``/``iHop`` call appends one
    query step; a call on the ROOT registry starts a new chain, calls on
    the returned registry extend that chain — mirroring the reference's
    DependencyRegistryJoin linked list. Method names are lowercase like
    the reference's goja field mapping (``reg.hop(...)``,
    ``reg.iHop(...)``)."""

    def __init__(self, chains: list | None = None, _chain: list | None = None):
        self.chains = chains if chains is not None else []
        self._chain = _chain

    def hop(self, dataset: str, predicate: str) -> "DependencyRegistry":
        return self._add(dataset, predicate, False)

    def iHop(self, dataset: str, predicate: str) -> "DependencyRegistry":
        return self._add(dataset, predicate, True)

    def _add(self, dataset, predicate, inverse):
        link = (str(dataset), str(predicate), inverse)
        if self._chain is None:
            chain = [link]
            self.chains.append(chain)
        else:
            chain = self._chain
            chain.append(link)
        return DependencyRegistry(self.chains, chain)


def parse_multi_source_dependencies(
        main_dataset: str, dependencies_config=None,
        transform_code: str | None = None) -> list[Dependency]:
    """MultiSource dependency derivation — explicit JSON config plus
    ``track_queries`` hop/iHop registrations extracted from the
    transform source (multi_source_dep_builder.go:29-191: reverse-walk
    each chain into joins, then add implicit dependencies for every
    intermediate hop dataset, then dedup).

    ``transform_code`` is a JavaScript string (base64 accepted); a
    script without a ``track_queries`` function contributes nothing,
    like the reference (scheduler.go:755-757)."""
    import json as _json

    deps: list[Dependency] = []

    # 1. explicit config (JSON string or already-parsed list)
    cfg = dependencies_config
    if isinstance(cfg, str):
        cfg = _json.loads(cfg)
    for dep in cfg or []:
        if not isinstance(dep, dict) or "dataset" not in dep:
            raise ValueError("MultiSource 'Dependencies' entries need key "
                             "'dataset'")
        joins = dep.get("joins", [])
        if not all(isinstance(j, dict) and {"dataset", "predicate",
                                            "inverse"} <= j.keys()
                   for j in joins):
            raise ValueError("MultiSource dependency 'joins' entries need "
                             "keys 'dataset', 'predicate' and 'inverse'")
        deps.append(Dependency(
            dataset=dep["dataset"],
            joins=[Join(j["dataset"], j["predicate"], bool(j["inverse"]))
                   for j in joins]))

    # 2. track_queries registrations from the transform source
    if transform_code is not None:
        chains = _track_queries_chains(transform_code)
        for chain in chains:
            joins: list[Join] = []
            prev = main_dataset
            for ds, pred, inv in chain:
                # dependency tracking is the REVERSE of the query chain
                joins.insert(0, Join(prev, pred, not inv))
                prev = ds
            deps.append(Dependency(dataset=chain[-1][0], joins=joins))

    # 3. implicit dependencies: every intermediate hop dataset must also
    # trigger reprocessing, with the remaining suffix of the chain
    for dep in list(deps):
        for i, join in enumerate(dep.joins):
            if join.dataset == main_dataset:
                continue
            deps.append(Dependency(dataset=join.dataset,
                                   joins=dep.joins[i + 1:]))

    # 4. dedup, preserving first-seen order
    seen, out = set(), []
    for dep in deps:
        key = dep.dataset + ">" + "".join(
            f"{j.dataset}|{j.predicate}|{j.inverse}" for j in dep.joins)
        if key not in seen:
            seen.add(key)
            out.append(dep)
    return out


def parse_job_config(store: EntityStore, config: dict | str, *,
                     allow_network: bool = False,
                     spark=None) -> tuple[Job, list[dict]]:
    """Build a Job from the reference's JobConfiguration JSON
    (scheduler.go:79-90; source registry scheduler.go:613-731, sink
    registry sink.go:45-106, transform registry transform.go
    parseTransform) so existing job definitions run VERBATIM. Returns
    (job, triggers) — triggers are the raw trigger dicts; cron ones
    carry ``schedule`` (robfig descriptors like ``@every 2s`` are
    accepted by the scheduler), onchange ones ``monitoredDataset``.

    Source Types: DatasetSource (+LatestOnly), UnionDatasetSource,
    MultiSource (explicit Dependencies + track_queries derivation from
    the transform Code), SampleSource, HttpDatasetSource.
    Sink Types: DatasetSink, DevNullSink, ConsoleSink, HttpDatasetSink.
    Transform Types: JavascriptTransform (base64 or raw JavaScript
    Code — script.load_entry; optional engine extension
    ``LookupDatasets`` names the store datasets backing Query/FindById),
    HttpTransform (Url, TimeOut, SupportContext).

    The first trigger's ``jobType`` ("incremental"/"fullsync") becomes
    the job type, and its ``onError`` list maps to the job's
    ErrorHandler — reference error-handler kinds reRun/log/reQueue with
    maxRetries/retryDelay/maxItems."""
    if isinstance(config, str):
        config = json.loads(config)
    spark = spark or store.spark
    job_id = config.get("id") or "job"

    def _bool(v) -> bool:
        return v if isinstance(v, bool) else str(v).lower() == "true"

    def need(d: dict, key: str):
        if key not in d:
            raise ValueError(f"{d.get('Type')} needs key {key!r}")
        return d[key]

    # -- source -----------------------------------------------------------
    def parse_source(sc: dict):
        t = sc.get("Type")
        if t == "DatasetSource":
            return DatasetSource(store, need(sc, "Name"),
                                 latest_only=_bool(sc.get("LatestOnly", False)))
        if t == "UnionDatasetSource":
            entries = need(sc, "DatasetSources")
            if not entries or not isinstance(entries, list) \
                    or not all(isinstance(d, dict) for d in entries):
                raise ValueError(
                    f"{t} needs 'DatasetSources': a non-empty list of objects")
            subs = [parse_source({**d, "Type": "DatasetSource"})
                    for d in entries]
            return UnionDatasetSource(subs)
        if t == "MultiSource":
            tc = config.get("transform") or config.get("Transform") or {}
            code = tc.get("Code") \
                if tc.get("Type") == "JavascriptTransform" else None
            name = need(sc, "Name")
            deps = parse_multi_source_dependencies(
                name, sc.get("Dependencies"), code)
            return MultiSource(store, name, deps,
                               latest_only=_bool(sc.get("LatestOnly", True)))
        if t == "SampleSource":
            return SampleSource(spark, int(sc.get("NumberOfEntities", 10)))
        if t == "HttpDatasetSource":
            return HttpDatasetSource(spark, need(sc, "Url"),
                                     allow_network=allow_network)
        raise ValueError(f"unknown source type: {t}")

    # -- sink -------------------------------------------------------------
    def parse_sink(sc: dict):
        t = sc.get("Type")
        if t == "DatasetSink":
            return DatasetSink(store, need(sc, "Name"))
        if t == "DevNullSink":
            return DevNullSink()
        if t == "ConsoleSink":
            return ConsoleSink()
        if t == "HttpDatasetSink":
            return HttpDatasetSink(need(sc, "Url"), allow_network=allow_network)
        raise ValueError(f"unknown sink type: {t}")

    # -- transform --------------------------------------------------------
    def parse_transform(tc: dict | None):
        if not tc:
            return None
        t = tc.get("Type")
        if t == "JavascriptTransform":
            from datahub_spark.script import make_script_transform

            lookup = [store.log([name])
                      for name in tc.get("LookupDatasets", [])] or None
            return make_script_transform(need(tc, "Code"), lookup=lookup)
        if t == "HttpTransform":
            return make_http_transform(
                need(tc, "Url"), allow_network=allow_network,
                support_context=_bool(tc.get("SupportContext", False)),
                timeout_s=float(tc.get("TimeOut") or 30.0))
        raise ValueError(f"unknown transform type: {t}")

    # -- triggers / error handlers ---------------------------------------
    # accept both Go-marshalled (capitalized) and json-tag (camelCase)
    # key spellings, like the reference's tolerant config loader
    def g(d: dict, *names, default=None):
        for n in names:
            if n in d:
                return d[n]
        return default

    triggers = [dict(t) for t in g(config, "triggers", "Triggers",
                                   default=[]) or []]
    job_type = "incremental"
    handler = ErrorHandler()
    if triggers:
        first = triggers[0]
        job_type = g(first, "jobType", "JobType", default="incremental")
        on_error = g(first, "onError", "ErrorHandlers", default=[]) or []
        if on_error:
            e = on_error[0]
            handler = ErrorHandler(
                kind=g(e, "errorHandler", "Type", default="reRun"),
                max_retries=int(g(e, "maxRetries", "MaxRetries", default=3)),
                retry_delay_s=float(g(e, "retryDelay", "RetryDelay",
                                      default=0) or 0),
                max_items=int(g(e, "maxItems", "MaxItems", default=10)))

    job = Job(
        job_id,
        parse_source(g(config, "source", "Source") or {}),
        parse_sink(g(config, "sink", "Sink") or {}),
        transform=parse_transform(g(config, "transform", "Transform")),
        job_type=job_type,
        on_error=handler,
        paused=_bool(g(config, "paused", "Paused", default=False)),
    )
    return job, triggers


def _track_queries_chains(transform_code: str) -> list:
    """Run the transform source far enough to call its ``track_queries``
    function with a DependencyRegistry; returns the registered chains.
    Driver-side, compile-time — no Spark work."""
    from datahub_spark import script as _script
    from datahub_spark.namespaces import DEFAULT_NAMESPACES

    fn = _script.load_entry(transform_code, "track_queries",
                            _script.make_builtins(DEFAULT_NAMESPACES),
                            required=False)
    if fn is None:
        return []
    reg = DependencyRegistry()
    fn(reg)
    return reg.chains


class VirtualDatasetSource:
    """internal/server/virtualdataset.go: a read-only dataset whose
    entities are produced by a script. Here: a python callable
    (spark, params, since, limit) -> DataFrame. It keeps no log, so a
    read hands back the token it was given."""

    def __init__(self, spark, build_entities, params=None):
        self.spark, self.build_entities, self.params = spark, build_entities, params

    def read(self, token=None, limit: int | None = None) -> tuple[DataFrame, object]:
        since = 0 if token is None else token
        return self.build_entities(self.spark, self.params, since, limit), token


class SampleSource:
    """jobs/source SampleSource: emits N generated sample entities (used
    by the reference for wiring tests). Distributed via spark.range; a
    read hands back the token it was given."""

    def __init__(self, spark, n: int = 10):
        self.spark, self.n = spark, n

    def read(self, token=None) -> tuple[DataFrame, object]:
        return self.spark.range(self.n).select(
            F.concat(F.lit("sample:"), F.col("id")).alias("id"),
            F.lit(1).cast("long").alias("recorded"),
            F.col("id").alias("seq"),
            F.lit(False).alias("deleted"),
            F.create_map(F.lit("p:index"), F.col("id").cast("string")).alias("props"),
            F.lit(None).cast("map<string,array<string>>").alias("refs"),
            F.lit("sample").alias("dataset"),
        ), token


class HttpDatasetSource:
    """jobs/source HttpDatasetSource: reads a remote dataset's UDA
    /changes feed (internal/jobs/source/http_dataset_source.go:1-182).

    The wire is the UDA JSON array: an ``@context`` head, entity objects,
    and an optional ``@continuation`` tail whose token drives paging —
    pages are fetched until the server stops advancing the token (the
    reference's readChanges loop). The fetched objects are decoded by
    ``uda.decode_entities`` and enter Spark through ``local_frame``; the
    fetch is driver-side urllib, mirroring the reference's single-reader
    pull. Gated behind ``allow_network`` (this sandbox has loopback
    only); at scale, shard the feed by page-range and fetch inside
    mapInPandas workers instead.

    The ``@continuation`` token is an opaque server contract used only
    for paging within one read; the token a read returns is the max
    ``recorded`` of the rows it fetched (or the one it was given), which
    a later read passes back as ``since``.
    """

    def __init__(self, spark, url: str, dataset: str = "remote",
                 token_provider=None, allow_network: bool = False,
                 max_pages: int = 10_000, timeout_s: float = 30.0):
        self.spark, self.url, self.dataset = spark, url, dataset
        self.token_provider = token_provider
        self.allow_network = allow_network
        self.max_pages = max_pages
        self.timeout_s = timeout_s

    def _fetch(self, url: str) -> list:
        import urllib.request

        req = urllib.request.Request(url)
        if self.token_provider is not None:
            req.add_header("Authorization", f"Bearer {self.token_provider()}")
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            return json.loads(resp.read().decode("utf-8"))

    def read(self, token: int | None = None) -> tuple[DataFrame, int]:
        if not self.allow_network:
            raise NotImplementedError(
                "network fetch disabled: pass allow_network=True, or feed "
                "fetched payloads through uda.decode_entities directly"
            )
        max_recorded = cursor = token or 0
        objs = []
        for _ in range(self.max_pages):
            page = self._fetch(f"{self.url}/changes?since={cursor}")
            next_cursor = cursor
            for obj in page:
                oid = obj.get("id")
                if oid == "@context":
                    continue
                if oid == "@continuation":
                    next_cursor = obj.get("token", cursor)
                    continue
                rec = obj.get("recorded")
                if isinstance(rec, (int, float)):
                    max_recorded = max(max_recorded, int(rec))
                objs.append(obj)
            if next_cursor == cursor:
                break  # no continuation advancement: feed drained
            cursor = next_cursor
        from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA

        return local_frame(
            self.spark,
            [row + (self.dataset,) for row in uda.decode_entities(objs)],
            SCRIPT_OUTPUT_SCHEMA), max_recorded


# --------------------------------------------------------------------------
# sinks
# --------------------------------------------------------------------------

class DatasetSink:
    def __init__(self, store: EntityStore, name: str):
        self.store, self.name = store, name

    def write(self, df: DataFrame) -> None:
        self.store.store_entities(self.name, df.drop("dataset"))


class DevNullSink:
    """jobs/sink.go devNullSink: executes the plan, discards rows (used
    with transforms whose effect is ExecuteTransaction). The built-in
    noop writer materializes every partition JVM-side — no per-row
    Python eval in the sink stage."""

    def write(self, df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()


class ConsoleSink:
    def write(self, df: DataFrame) -> None:
        df.show(50, truncate=False)


def make_http_transform(url: str, token_provider=None,
                        allow_network: bool = False,
                        support_context: bool = False,
                        context: dict | None = None,
                        timeout_s: float = 30.0):
    """HttpTransform (transform.go:676-760): POST each batch of entities
    as a JSON array (``{id, recorded, deleted, props, refs}`` objects,
    optionally with the ``@context`` head when SupportContext) to a
    remote service; the response array IS the transformed batch. The
    request is encoded by ``uda.to_uda_json`` and the response decoded
    by ``uda.decode_entities``.

    Runs inside ``mapInPandas`` so every executor posts its own
    partitions concurrently — the distributed analogue of the
    reference's single-threaded batch loop (its getParallelism()==1 is a
    process-model limit, not a semantic one). Gated behind
    ``allow_network`` (loopback-only sandbox). At-least-once like the
    HTTP sink: a retried task reposts its partition — the remote service
    must be idempotent per entity id, which the reference's contract
    already demands."""
    ctx = json.dumps(context or {"id": "@context", "namespaces": {}})

    def transform(df: DataFrame) -> DataFrame:
        if not allow_network:
            raise NotImplementedError(
                "network post disabled: pass allow_network=True, or use "
                "make_script_transform / python_transform for local "
                "batch logic")
        from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA

        token = token_provider() if token_provider is not None else None
        columns = [f.name for f in SCRIPT_OUTPUT_SCHEMA.fields]

        def run(batches):
            import urllib.request

            import pandas as pd

            for pdf in batches:
                objs = ([ctx] if support_context else []) + list(pdf["json"])
                req = urllib.request.Request(
                    url, data=("[" + ",".join(objs) + "]").encode("utf-8"),
                    method="POST",
                    headers={"Content-Type": "application/json"})
                if token is not None:
                    req.add_header("Authorization", f"Bearer {token}")
                with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                    back = json.loads(resp.read().decode("utf-8"))
                yield pd.DataFrame(
                    [row + (None,) for row in uda.decode_entities(back)],
                    columns=columns)

        return uda.to_uda_json(df).mapInPandas(run, schema=SCRIPT_OUTPUT_SCHEMA)

    return transform


class HttpDatasetSink:
    """jobs/sink.go httpDatasetSink: POSTs UDA batches to a remote
    dataset's /entities endpoint.

    Serialization is the tested JVM-side uda codec; the POST runs INSIDE
    ``foreachPartition`` so each executor ships its own partition in
    ``batch_size`` chunks — the distributed shape (no driver collect; at
    1000 executors each posts its slice concurrently, which is exactly
    how the reference's sink scales out when jobs shard). Each payload is
    a full UDA array: ``@context`` head + entity objects. Gated behind
    ``allow_network`` (loopback-only sandbox).

    Delivery is AT-LEAST-ONCE: a task that fails mid-partition is retried
    by Spark and reposts that partition's earlier batches. A UDA server
    with write-time payload dedup (this repo's EntityStore, the
    reference's StoreEntities) makes the re-delivery idempotent; servers
    without it will record duplicate versions."""

    def __init__(self, url: str, token_provider=None, allow_network: bool = False,
                 batch_size: int = 1000, context: dict | None = None,
                 timeout_s: float = 30.0):
        self.url = url
        self.token_provider = token_provider
        self.allow_network = allow_network
        self.batch_size = batch_size
        self.context = context or {"id": "@context", "namespaces": {}}
        self.timeout_s = timeout_s

    def write(self, df: DataFrame) -> None:
        if not self.allow_network:
            raise NotImplementedError(
                "network post disabled: pass allow_network=True, or "
                "serialize with uda.to_uda_json"
            )
        url, batch_size, ctx = self.url, self.batch_size, self.context
        timeout_s = self.timeout_s
        token = self.token_provider() if self.token_provider is not None else None
        wire = uda.to_uda_json(df)

        def post_partition(rows):
            import urllib.request

            def post(batch):
                payload = "[" + ",".join([json.dumps(ctx)] + batch) + "]"
                req = urllib.request.Request(
                    f"{url}/entities", data=payload.encode("utf-8"), method="POST",
                    headers={"Content-Type": "application/json"},
                )
                if token is not None:
                    req.add_header("Authorization", f"Bearer {token}")
                urllib.request.urlopen(req, timeout=timeout_s).read()

            batch = []
            for row in rows:
                batch.append(row["json"])
                if len(batch) >= batch_size:
                    post(batch)
                    batch = []
            if batch:
                post(batch)

        wire.foreachPartition(post_partition)


class ProxyDataset:
    """internal/server/proxydataset.go:1-358: a dataset whose reads
    delegate to a remote datahub — entities/changes surface locally but
    the data never lands in the local store. Reads come back through the
    UDA codec as ordinary entity DataFrames, so traversal/merge/latest
    compose over them unchanged."""

    def __init__(self, spark, remote_url: str, name: str,
                 token_provider=None, allow_network: bool = False):
        self.name = name
        self._source = HttpDatasetSource(
            spark, remote_url, dataset=name,
            token_provider=token_provider, allow_network=allow_network,
        )

    def changes(self, since: int = 0) -> DataFrame:
        return self._source.read(since)[0]

    def entities(self) -> DataFrame:
        return latest(self.changes(), include_deleted=False,
                      key=("dataset", "id"))


# --------------------------------------------------------------------------
# job + error handling + lineage
# --------------------------------------------------------------------------

@dataclass
class ErrorHandler:
    """error_handler.go: 'reRun' (job-level retry, maxRetries/retryDelay),
    'log' (tolerate up to max_items failing entities, drop + record), or
    'reQueue' (divert failing entities to a `<job_id>.errors` dataset for
    later reprocessing). The entity-level kinds act on the ``_error``
    column produced by transforms.safe_python_transform."""
    kind: str = "reRun"
    max_retries: int = 3
    retry_delay_s: float = 0.0
    max_items: int = 10


@dataclass
class Job:
    job_id: str
    source: object
    sink: object
    transform: Transform | None = None
    job_type: str = "incremental"  # or "fullsync"
    on_error: ErrorHandler = field(default_factory=ErrorHandler)
    paused: bool = False
    # set by JobRunner.kill (KillJob, scheduler.go:402), cleared when
    # the runner starts a run: a cancelled run must not retry through
    # its reRun handler
    cancelled: bool = False
    # optional metrics.Metrics — jobs.count on start, jobs.success /
    # jobs.error with the run's wall-time on completion (job.go:114-144)
    metrics: object = None

    def _metric(self, name: str, started: float | None = None) -> None:
        if self.metrics is None:
            return
        tags = {"job": self.job_id, "jobtype": self.job_type}
        if started is None:
            self.metrics.count(name, 1, tags)
        else:
            self.metrics.timing(name, (time.perf_counter() - started) * 1000,
                                tags)

    def run(self, state: "JobState") -> dict:
        """Execute once (the scheduler analogue triggers this). An
        incremental run reads from the job's stored token and, after a
        successful write, stores the token its source's read returned; a
        fullsync run reads from None and stores nothing."""
        incremental = self.job_type == "incremental"
        token = state.token(self.job_id) if incremental else None
        attempts = 0
        started = time.perf_counter()
        self._metric("jobs.count")
        while True:
            attempts += 1
            try:
                df, next_token = self.source.read(token)
                # reQueue drain (reQueue.go reQueuePrependingSource): every
                # `<job>.errors.*` dataset written by a previous run is
                # PREPENDED to the source stream so failed entities retry
                # through the full transform; drained datasets are deleted
                # after a successful sink write. Failures during THIS run
                # land in a fresh uuid-suffixed dataset (the reference's
                # timestamped `_requeue_` names), so they are never
                # deleted by the drain that is in flight.
                drained: list[str] = []
                rq_store = getattr(self.sink, "store", None)
                if self.on_error.kind == "reQueue" and rq_store is not None:
                    prefix = f"{self.job_id}.errors"
                    drained = [d for d in rq_store.list_datasets()
                               if d == prefix or d.startswith(prefix + ".")]
                if drained:
                    # replay EVERY requeued row as-is (the reference wraps
                    # each failed entity individually): version multiplicity
                    # and tombstones are part of the failed payload, and the
                    # ORIGINAL (recorded, seq) keeps replayed versions
                    # ordered before anything sinked since — identical
                    # re-deliveries die in write-time dedup
                    rq = rq_store.log(drained).select(
                        "id", "recorded", "seq", "deleted",
                        F.map_filter(
                            F.coalesce(F.col("props"),
                                       F.create_map().cast("map<string,string>")),
                            lambda k, v: k != F.lit("p:__error"),
                        ).alias("props"),
                        "refs",
                        F.lit("__requeue__").alias("dataset"),
                    )
                    df = rq.unionByName(df, allowMissingColumns=True)
                if self.transform is not None:
                    df = self.transform(df)
                if "_error" in df.columns:
                    df = self._route_failing_entities(df)
                # transaction routing (reference Store.ExecuteTransaction
                # called mid-transform): script-staged rows carry an
                # "@txn:<dataset>" marker — they commit to THEIR datasets;
                # returned entities flow to the job sink as usual. Only
                # engaged for scripts that can stage transactions
                # (may_stage_transactions) — the split re-executes the
                # plan, so the frame is persisted for the duration.
                txn_df = None
                txn_cached = None
                if getattr(self.transform, "may_stage_transactions", False) \
                        and "dataset" in df.columns:
                    txn_cached = LT.cached(df)
                    is_txn = F.col("dataset").startswith("@txn:")
                    txn_df = txn_cached.filter(is_txn)
                    df = txn_cached.filter(~F.coalesce(is_txn, F.lit(False)))
                try:
                    if txn_df is not None:
                        # commit transaction targets first — the reference
                        # executes them mid-transform, before the sink
                        # sees the batch; one atomic multi-dataset commit
                        stripped = txn_df.withColumn(
                            "dataset", F.expr("substring(dataset, 6)"))
                        targets = [r["dataset"] for r in
                                   stripped.select("dataset").distinct().collect()]
                        if targets:
                            tstore = getattr(self.sink, "store", None) \
                                or getattr(self.source, "store", None)
                            if tstore is None:
                                raise ValueError(
                                    "ExecuteTransaction output needs a "
                                    "store-backed source or sink to route to")
                            tstore.execute_transaction({
                                t: stripped.filter(F.col("dataset") == t)
                                           .drop("dataset")
                                for t in targets})
                    if self.job_type == "fullsync" and isinstance(self.sink, DatasetSink):
                        # CompleteFullSync contract: the source snapshot
                        # replaces the dataset's live set; missing
                        # entities tombstone
                        fs = FullSyncSession(self.sink.store, self.sink.name)
                        fs.append(df)
                        fs.complete()
                    else:
                        self.sink.write(df)
                finally:
                    LT.free(txn_cached)
                if incremental:
                    state.set_token(self.job_id, next_token)
                for d in drained:  # requeue datasets processed: retire them
                    rq_store.delete_dataset(d)
                result = {"id": self.job_id, "attempts": attempts,
                          "token": next_token if incremental else None}
                state.record_run(self.job_id, result)
                self._metric("jobs.success", started)
                return result
            except Exception:
                if not self.cancelled and self.on_error.kind == "reRun" \
                        and attempts <= self.on_error.max_retries:
                    if self.on_error.retry_delay_s:
                        time.sleep(self.on_error.retry_delay_s)
                    continue
                self._metric("jobs.error", started)
                raise

    def _route_failing_entities(self, df: DataFrame) -> DataFrame:
        """Split a safe_python_transform output on the _error marker and
        apply the entity-level error handler (error_handler.go's
        failingEntityHandler): 'log' drops up to max_items (then fails),
        'reQueue' appends failures to the `<job_id>.errors` dataset."""
        errs = df.filter(F.col("_error").isNotNull())
        ok = df.filter(F.col("_error").isNull()).drop("_error")
        if self.on_error.kind == "reQueue":
            store = getattr(self.sink, "store", None)
            if store is None:
                raise ValueError("reQueue handler needs a store-backed sink")
            requeue = errs.withColumn(
                "props",
                F.map_concat(
                    F.coalesce(F.col("props"), F.create_map().cast("map<string,string>")),
                    F.create_map(F.lit("p:__error"), F.col("_error")),
                ),
            ).drop("_error", "dataset")
            # fresh generation per run (reference: `_requeue_<unixnano>`):
            # the in-flight drain never deletes this run's failures. An
            # all-rows-succeeded run leaves an empty dataset — retire it
            # from COMMITTED state (no re-execution of the transform)
            gen = f"{self.job_id}.errors.{uuid.uuid4().hex[:12]}"
            store.store_entities(gen, requeue)
            if store.log([gen]).isEmpty():  # committed files, not a re-run
                store.delete_dataset(gen)
            return ok
        n_failed = errs.limit(self.on_error.max_items + 1).count()
        if n_failed > self.on_error.max_items:
            raise RuntimeError(
                f"job {self.job_id}: more than {self.on_error.max_items} failing entities"
            )
        return ok


class JobState:
    """Continuation tokens per job (runner.go run-state), JSON on disk.

    Mutations are read-modify-write on one file; the JobRunner executes
    jobs from several threads against ONE shared JobState, so every RMW
    holds ``_mu`` — without it two concurrent set_token calls lose one
    update, and colliding writes to the shared ``.tmp`` staging file can
    raise mid-commit (which the reRun handler then turns into a full —
    double-writing — job retry)."""

    def __init__(self, path: str):
        self.path = path
        self._mu = threading.Lock()
        if not os.path.exists(path):
            self._write({})

    def _read(self) -> dict:
        with open(self.path) as f:
            return json.load(f)

    def _write(self, d: dict) -> None:
        tmp = f"{self.path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, self.path)

    def token(self, job_id: str):
        """The job's continuation token as its source returned it (any
        JSON value), or None before the job's first incremental run."""
        # reads hold the same lock as RMW writes: os.replace makes the
        # file swap atomic on POSIX, but a lock-free read interleaved
        # with set_token on another runner thread could still observe
        # the pre-RMW value and base a job run on a stale continuation
        with self._mu:
            v = self._read().get(job_id)
        return v["token"] if isinstance(v, dict) else v

    def set_token(self, job_id: str, token) -> None:
        with self._mu:
            d = self._read()
            self._entry(d, job_id)["token"] = token
            self._write(d)

    def record_run(self, job_id: str, result: dict, keep: int = 50) -> None:
        """Run history (runner.go jobs/_/history analogue), newest first,
        capped at ``keep`` entries."""
        with self._mu:
            d = self._read()
            history = self._entry(d, job_id).setdefault("history", [])
            history.insert(0, result)
            del history[keep:]
            self._write(d)

    @staticmethod
    def _entry(d: dict, job_id: str) -> dict:
        cur = d.get(job_id)
        if not isinstance(cur, dict):  # absent, or a bare token
            cur = d[job_id] = {"token": cur, "history": []}
        return cur

    def history(self, job_id: str) -> list[dict]:
        with self._mu:
            v = self._read().get(job_id)
        return list(v.get("history", [])) if isinstance(v, dict) else []


class FullSyncSession:
    """Full-sync protocol (internal/server/dataset.go:81-207): batches
    accumulate under a session lease; ``complete`` atomically writes the
    snapshot plus tombstones for entities that existed before but are
    absent from it. One left-anti join — no per-entity diffing."""

    def __init__(self, store: EntityStore, dataset: str):
        self.store, self.dataset = store, dataset
        self._batches: list[DataFrame] = []
        self.open = True

    def append(self, df: DataFrame) -> None:
        if not self.open:
            raise RuntimeError("full-sync session already closed")
        self._batches.append(df)

    def abandon(self) -> None:
        self._batches, self.open = [], False

    def complete(self) -> int:
        if not self.open:
            raise RuntimeError("full-sync session already closed")
        if not self._batches:
            raise RuntimeError("full-sync session has no batches")
        snapshot = self._batches[0]
        for b in self._batches[1:]:
            snapshot = snapshot.unionByName(b)
        tombstones = None
        if self.store.has_data(self.dataset):
            old = latest(self.store.log([self.dataset]), include_deleted=False)
            tombstones = fullsync_tombstones(old, snapshot).drop("dataset")
        combined = snapshot if tombstones is None else (
            snapshot.select(*[c for c in snapshot.columns if c != "dataset"])
            .unionByName(tombstones, allowMissingColumns=True)
        )
        self.open = False
        return self.store.store_entities(self.dataset, combined)


class Scheduler:
    """runner.go/scheduler.go analogue: jobs, lineage levels, state and
    ``runner``, the one JobRunner every trigger runs a job through:

    - cron: a job registered with a 5-field ``schedule`` fires on
      matching minutes via ``run_due(now)`` (the hosting system supplies
      the clock tick — deterministic and testable, like scheduler.go's
      injected clock);
    - onchange: a commit to a dataset in ``watches`` notifies the runner
      (wire_onchange; Structured Streaming drains are the other shape);
    - on demand: the served ``PUT /job/{id}/run`` submits the job."""

    def __init__(self, state: "JobState", metrics=None,
                 raffle: "Raffle | None" = None):
        self.state = state
        self.jobs: dict[str, Job] = {}
        self.schedules: dict[str, "CronSpec"] = {}
        # job_id -> datasets whose commits trigger it (onchange)
        self.watches: dict[str, set[str]] = {}
        self._last_fired: dict[str, object] = {}
        # metrics.Metrics threaded onto every registered job (the
        # reference threads its statsd client through the runner into
        # each job, runner.go:55-70)
        self.metrics = metrics
        self.runner = JobRunner(state, raffle)

    def register(self, job: Job, schedule: str | None = None) -> None:
        """Register (or replace) ``job``; a replaced job's schedule and
        watches are dropped with it."""
        from datahub_spark.cron import CronSpec

        spec = CronSpec.parse(schedule) if schedule is not None else None
        self.unregister(job.job_id)
        self.jobs[job.job_id] = job
        if job.metrics is None and self.metrics is not None:
            job.metrics = self.metrics
        if spec is not None:
            self.schedules[job.job_id] = spec

    def unregister(self, job_id: str) -> None:
        """Forget the job, its schedule and its watches."""
        self.jobs.pop(job_id, None)
        self.schedules.pop(job_id, None)
        self.watches.pop(job_id, None)

    def register_config(self, store: EntityStore, config: dict | str,
                        allow_network: bool = False) -> Job:
        """Register a job from a reference JobConfiguration JSON
        (parse_job_config): its cron trigger schedules it, and each
        onchange trigger's ``monitoredDataset`` is watched on ``store``
        (wire_onchange), so a commit there submits the job."""
        job, triggers = parse_job_config(store, config,
                                         allow_network=allow_network)

        def pick(t: dict, key: str):  # json-tag or Go-marshalled spelling
            return t.get(key) or t.get(key[0].upper() + key[1:])

        kinds = [(pick(t, "triggerType"), t) for t in triggers]
        self.register(job, next((s for k, t in kinds if k == "cron"
                                 and (s := pick(t, "schedule"))), None))
        wire_onchange(self, store, {ds: [job.job_id] for k, t in kinds
                                    if k == "onchange"
                                    and (ds := pick(t, "monitoredDataset"))})
        return job

    def on_commit(self, dataset: str, recorded: int) -> None:
        """Store listener (wire_onchange): notify the runner of every
        unpaused job watching ``dataset``. Runs on the writer's thread
        and never runs a job there."""
        for job_id, datasets in list(self.watches.items()):
            job = self.jobs.get(job_id)
            if dataset in datasets and job is not None and not job.paused:
                self.runner.notify(job)

    def due_jobs(self, now) -> list[Job]:
        """Unpaused jobs due at ``now`` in lineage order: grid specs
        fire on a matching minute not yet fired; ``@every`` interval
        specs fire when the full interval has elapsed since their last
        firing (CronSpec.due — robfig fixed-interval cadence, so
        ``@every 90m`` means 90 minutes, never "hourly")."""
        levels = self._levels(self._dep_graph())
        return [j for j in sorted(self.jobs.values(),
                                  key=lambda j: (levels[j.job_id], j.job_id))
                if not j.paused and j.job_id in self.schedules
                and self.schedules[j.job_id].due(
                    now, self._last_fired.get(j.job_id))]

    def run_due(self, now) -> list[dict]:
        """One clock tick: submit every due scheduled job to the runner
        and return the results of the runs its raffle granted; a denied
        job isn't marked fired and retries on the next matching tick.

        Dispatch honors lineage: due jobs are submitted one lineage level
        at a time, waiting on each level's runs before the next, so a
        consumer never scans its source dataset while this tick's
        producer is still writing it; jobs within a level run
        concurrently. (Token safety does not depend on this — log-backed
        sources take their token before the scan — the barrier is what
        makes "consumers see this tick's producer output" true.)"""
        minute = now.replace(second=0, microsecond=0)
        deps = self._dep_graph()
        levels = self._levels(deps)
        results: list[dict] = []
        starved: set[str] = set()
        for _, level in itertools.groupby(self.due_jobs(now),
                                          key=lambda j: levels[j.job_id]):
            runs = []
            for j in level:
                # a consumer whose producer was denied a ticket this tick
                # would scan a STALE source and mark the run consumed:
                # leave it unfired so both retry on the next matching tick
                run = None if deps[j.job_id] & starved else self.runner.submit(j)
                if run is None:
                    starved.add(j.job_id)
                    continue
                self._last_fired[j.job_id] = minute
                runs.append(run)
            results.extend(run.result() for run in runs)
        return results

    def _dep_graph(self) -> dict[str, set[str]]:
        """job_id -> producer job_ids it consumes from (dataset lineage)."""
        produces: dict[str, str] = {}
        for j in self.jobs.values():
            sink_name = getattr(j.sink, "name", None)
            if sink_name:
                produces[sink_name] = j.job_id
        deps: dict[str, set[str]] = {jid: set() for jid in self.jobs}
        for j in self.jobs.values():
            for ds, _hop in getattr(j.source, "dataset_reads", ()):
                if ds in produces and produces[ds] != j.job_id:
                    deps[j.job_id].add(produces[ds])
        return deps

    def _levels(self, deps: dict[str, set[str]]) -> dict[str, int]:
        """job_id -> lineage level: 0 for a job that consumes no other
        job's sink, else one more than its deepest producer. Raises
        ValueError naming the path of a dependency cycle."""
        levels: dict[str, int] = {}

        def visit(jid: str, path: tuple[str, ...] = ()) -> int:
            if jid in levels:
                return levels[jid]
            if jid in path:
                raise ValueError(
                    f"job dependency cycle: {' -> '.join(path + (jid,))}")
            levels[jid] = 1 + max((visit(d, path + (jid,))
                                   for d in sorted(deps[jid])), default=-1)
            return levels[jid]

        for jid in sorted(self.jobs):
            visit(jid)
        return levels


class Raffle:
    """Job-run ticketing (raffle.go:65-131): caps concurrently running
    fullsync vs incremental jobs and refuses a second ticket for a job
    that is already running. Ticket counts are config in the reference;
    defaults here follow its test/deployment shape (few expensive
    fullsyncs, more incrementals)."""

    def __init__(self, tickets_full: int = 2, tickets_incr: int = 5):
        self._tickets_full = tickets_full
        self._tickets_incr = tickets_incr
        self._running: dict[str, dict] = {}
        self._mu = threading.Lock()

    def borrow(self, job: "Job") -> bool:
        """True = ticket granted and the job is marked running. False =
        already running, or no tickets left in its class (the caller
        skips this run; the next scheduler tick retries — reference
        runner behavior)."""
        with self._mu:
            if job.job_id in self._running:
                return False
            is_full = job.job_type == "fullsync"
            if is_full:
                if self._tickets_full <= 0:
                    return False
                self._tickets_full -= 1
            else:
                if self._tickets_incr <= 0:
                    return False
                self._tickets_incr -= 1
            self._running[job.job_id] = {
                "id": job.job_id, "started": time.time(), "isFull": is_full,
            }
            return True

    def give_back(self, job: "Job") -> None:
        """returnTicket (raffle.go:115): frees the slot."""
        with self._mu:
            state = self._running.pop(job.job_id, None)
            if state is None:
                return
            if state["isFull"]:
                self._tickets_full += 1
            else:
                self._tickets_incr += 1

    def running_jobs(self) -> dict[str, dict]:
        with self._mu:
            return {k: dict(v) for k, v in self._running.items()}


class JobRunner:
    """The one place a job runs (runner.go + raffle.go); each Scheduler
    owns one. A run starts on a worker thread only when the raffle
    grants the job a ticket:

    - ``submit`` returns a Future for that run alone, resolving to its
      result dict or ``{"id", "error"}``; None when the ticket is denied;
    - ``notify`` (onchange) submits too, and when the job already holds
      a ticket it queues exactly one more run after the current one, so
      no event is lost;
    - ``kill`` cancels a running job; ``join`` waits for every run.

    Concurrent Spark actions from multiple Python threads are the
    supported multi-job model — stages interleave on the shared executor
    pool (pair with spark.scheduler.mode=FAIR so a long fullsync can't
    starve incrementals)."""

    def __init__(self, state: "JobState", raffle: Raffle | None = None):
        self.state = state
        self.raffle = raffle or Raffle()
        self._mu = threading.Lock()
        # job_id -> (job, its worker thread), while it holds a ticket
        self._running: dict[str, tuple[Job, threading.Thread]] = {}
        # ids of running jobs owed one more run (notify)
        self._again: set[str] = set()

    @staticmethod
    def _job_spark(job: "Job"):
        for path in (("sink", "store", "spark"), ("source", "store", "spark"),
                     ("source", "spark")):
            obj = job
            for attr in path:
                obj = getattr(obj, attr, None)
                if obj is None:
                    break
            else:
                return obj
        return None

    def submit(self, job: "Job") -> Future | None:
        with self._mu:
            return self._start(job)

    def notify(self, job: "Job") -> None:
        with self._mu:
            if self._start(job) is None and job.job_id in self._running:
                self._again.add(job.job_id)

    def _start(self, job: "Job") -> Future | None:
        if not self.raffle.borrow(job):
            return None
        job.cancelled = False
        done: Future = Future()
        t = threading.Thread(target=self._work, args=(job, done),
                             name=f"job-{job.job_id}", daemon=True)
        self._running[job.job_id] = (job, t)
        t.start()
        return done

    def _work(self, job: "Job", done: Future) -> None:
        # tag this worker thread's Spark actions with a per-job group so
        # kill() can cancel them mid-run (PySpark pins Python threads to
        # JVM threads, so the group is job-local)
        spark = self._job_spark(job)
        if spark is not None:
            spark.sparkContext.setJobGroup(
                f"job-{job.job_id}", f"datahub job {job.job_id}", True)
        while True:
            try:
                res = job.run(self.state)
            except Exception as e:  # noqa: BLE001 — reported on the future
                res = {"id": job.job_id, "error": f"{type(e).__name__}: {e}"}
                logging.getLogger("datahub").exception("job %s failed",
                                                       job.job_id)
            with self._mu:
                again = job.job_id in self._again
                if again:
                    self._again.discard(job.job_id)
                    job.cancelled = False
                else:
                    del self._running[job.job_id]
                    self.raffle.give_back(job)
            done.set_result(res)
            if not again:
                return
            done = Future()  # the queued run has no caller waiting on it

    def kill(self, job_id: str) -> bool:
        """KillJob (scheduler.go:402): cancel a RUNNING job's Spark
        actions via its job group and drop its queued run; the
        interrupted action raises in the worker thread and the run
        reports as errored (the cancelled flag suppresses reRun
        retries). Returns False when the job is not currently running —
        the reference returns 200 either way, so callers treat this as
        best-effort."""
        with self._mu:
            self._again.discard(job_id)
            if job_id not in self._running:
                return False
            job, _ = self._running[job_id]
            job.cancelled = True
        spark = self._job_spark(job)
        if spark is not None:
            spark.sparkContext.cancelJobGroup(f"job-{job_id}")
        return True

    def join(self) -> None:
        """Wait for every run started so far, queued reruns included."""
        with self._mu:
            threads = [t for _, t in self._running.values()]
        for t in threads:
            t.join()


def fullsync_tombstones(old_latest: DataFrame, new_snapshot: DataFrame) -> DataFrame:
    """CompleteFullSync semantics (internal/server/dataset.go:159): after a
    fullsync, entities present before but absent from the new snapshot are
    appended as deleted tombstones. One left-anti join.

    The copied (recorded, seq) version key is DROPPED: the reference records
    tombstones as new changes at fullsync time, and keeping the old key would
    tie exactly with the live row, making latest()'s max_by resolve deletion
    nondeterministically. execute_transaction stamps the new tick instead."""
    missing = old_latest.join(new_snapshot.select("id"), "id", "left_anti")
    return missing.drop("recorded", "seq").withColumn("deleted", F.lit(True))


def lineage(jobs: list[Job]) -> list[dict]:
    """Lineage edges from job definitions (DOCUMENTATION.md:1857-1892).

    Output is sorted by (From, To, Type) like the reference's
    ``LineageBuilder.ForAll`` (service/dataset/lineage.go:106-159,
    sort at 163-183)."""
    edges = []
    for j in jobs:
        sink_name = getattr(j.sink, "name", None)
        if sink_name is None:
            continue
        kind = "transform" if j.transform is not None else "copy"
        edges.extend({"From": ds, "To": sink_name,
                      "Type": "transform-hop" if hop else kind}
                     for ds, hop in getattr(j.source, "dataset_reads", ()))
    edges.sort(key=lambda e: (e["From"], e["To"], e["Type"]))
    return edges


def lineage_for_dataset(jobs: list[Job], dataset: str) -> list[dict]:
    """Per-dataset lineage view (lineage.go:25-103 ``ForDataset``): the
    subset of the full lineage graph whose edges touch ``dataset`` on
    either end — direct copy/transform edges where it is the source or
    the sink, and ``*-hop`` edges from tracked dependencies. Same
    (From, To, Type) sort as the full graph."""
    return [e for e in lineage(jobs)
            if e["From"] == dataset or e["To"] == dataset]


class TabularSource:
    """Generic external-format connector (the reference's data-layer role):
    read any Spark-supported format (csv/json/parquet/orc/jdbc...) and map
    columns into entity datasets. ``id_col`` becomes the entity id via a
    CURIE prefix; remaining mapped columns become props. Declarative all
    the way down — format readers keep pushdown/pruning where the source
    supports it."""

    def __init__(self, spark, fmt: str, path_or_options, id_col: str, id_prefix: str,
                 prop_cols: list[str] | None = None, dataset: str = "external",
                 reader_options: dict | None = None):
        self.spark, self.fmt, self.path = spark, fmt, path_or_options
        self.id_col, self.id_prefix = id_col, id_prefix
        self.prop_cols, self.dataset = prop_cols, dataset
        self.reader_options = reader_options or {}

    def read(self, token=None) -> tuple[DataFrame, object]:
        """A read hands back the token it was given: the format reader
        has no change log to resume from."""
        reader = self.spark.read.format(self.fmt)
        for k, v in self.reader_options.items():
            reader = reader.option(k, v)
        raw = reader.load(self.path)
        props = self.prop_cols or [c for c in raw.columns if c != self.id_col]
        prop_items = []
        for c in props:
            prop_items.extend([F.lit(f"p:{c}"), F.col(c).cast("string")])
        return raw.select(
            F.concat(F.lit(f"{self.id_prefix}:"), F.col(self.id_col).cast("string")).alias("id"),
            F.lit(1).cast("long").alias("recorded"),
            F.monotonically_increasing_id().alias("seq"),
            F.lit(False).alias("deleted"),
            F.create_map(*prop_items).alias("props"),
            F.lit(None).cast("map<string,array<string>>").alias("refs"),
            F.lit(self.dataset).alias("dataset"),
        ), token


def wire_onchange(scheduler: Scheduler, store: EntityStore,
                  watched: dict[str, list[str]]) -> None:
    """events_test.go analogue: onchange triggering. ``watched`` maps
    dataset -> [job_id, ...]; the jobs join ``scheduler.watches`` and
    the scheduler listens to ``store``, so a committed write to a watched
    dataset notifies its runner (Scheduler.on_commit). The job runs on a
    worker thread, never on the writer's, so a job failure cannot escape
    the committed write; an event that arrives during a run causes one
    more run after it."""
    for dataset, job_ids in watched.items():
        for job_id in job_ids:
            scheduler.watches.setdefault(job_id, set()).add(dataset)
    store.add_listener(scheduler.on_commit)


class TabularSink:
    """Data-layer egress (the outbound counterpart of TabularSource,
    beyond the reference's four sinks): write an entity frame to any
    Spark-supported tabular format with props flattened to columns —
    `id`, `recorded`, `deleted`, then one column per property key.

    ``prop_cols`` pins the schema (the scale path: no discovery pass);
    ``None`` discovers the key set with one distinct-keys aggregate
    (bounded by the vocabulary of property names, driver-collected).
    The write itself is the format writer's parallel path — partitioned
    parquet/orc/csv/json or a JDBC batch, with the engine's
    partitioning preserved."""

    def __init__(self, path: str, fmt: str = "parquet",
                 prop_cols: list[str] | None = None,
                 mode: str = "overwrite",
                 writer_options: dict | None = None):
        self.path, self.fmt, self.mode = path, fmt, mode
        self.prop_cols = prop_cols
        self.writer_options = writer_options or {}

    def write(self, df: DataFrame) -> None:
        keys = self.prop_cols
        if keys is None:
            keys = sorted(
                r["k"] for r in df.select(
                    F.explode(F.map_keys("props")).alias("k")).distinct()
                .collect())
        cols = [F.col("id"), F.col("recorded"), F.col("deleted")]
        for k in keys:
            # strip the CURIE prefix for the column name (p:name -> name)
            cols.append(F.col("props")[k].alias(k.split(":", 1)[-1]))
        out = df.select(*cols)
        writer = out.write.format(self.fmt).mode(self.mode)
        for k, v in self.writer_options.items():
            writer = writer.option(k, v)
        writer.save(self.path)
