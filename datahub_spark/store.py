"""Entity store: immutable versioned change-logs + declarative read views.

Reference parity:
  - StoreEntities / append versions   internal/server/dataset.go:216
  - GetEntities (latest view)         internal/server/dataset.go:891
  - GetChanges(since, latestOnly)     internal/server/dataset.go:1005,1100
  - GetEntityAtPointInTime            internal/server/store.go:695
  - mergePartials across datasets     internal/server/store.go:634
  - ExecuteTransaction (multi-dataset atomic write)  store.go:1707
  - compaction 'deduplicate' strategy DOCUMENTATION.md:2349-2372
  - statistics endpoint               internal/server/statistics.go

Commit protocol (Delta Lake's numbered commit files, VLDB 2020): every
mutation publishes one entry ``root/commits/<n>.json``, hard-linked from a
temp file so it appears whole and is never overwritten. It holds the tick,
the registry changes (dataset configs, ``core.Dataset`` events) and per
dataset the log files it adds (with their highest ``recorded``) and
removes. The store's state is the fold of entries ``0..n``; a file under
``log/`` is visible exactly while the fold lists it. Writers hold a lock
from tick allocation to publish, so ticks become visible in order.

Scale notes:
  * latest/point-in-time views are ONE aggregation using
    ``max_by(struct(...), (recorded, seq))`` — map-side partial agg
    collapses to one row per key per partition before the single shuffle
    on the entity key; no global sort-window. (Physically a SortAggregate:
    struct-valued buffers are not hash-aggregable — the partial-agg
    reduction is what bounds shuffle volume.)
  * changes-since is a plain pushed-down range filter on ``recorded``.
  * the persistent store is parquet partitioned by ``dataset`` so
    dataset-scoped reads prune partitions; appends are new files inside
    the dataset partition (immutable, like the reference's LSM log).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass, field

try:  # POSIX cross-process lock; absent on some platforms
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datahub_spark import uda
from datahub_spark.model import ENTITY_SCHEMA
from datahub_spark.session import local_frame

# per-store-root in-process locks (threads sharing a driver); see
# EntityStore._writer
_ROOT_LOCKS: dict[str, threading.Lock] = {}
_ROOT_LOCKS_GUARD = threading.Lock()
# the roots whose writer locks the current thread holds
_WRITING = threading.local()


def _root_lock(root: str) -> threading.Lock:
    key = os.path.abspath(root)
    with _ROOT_LOCKS_GUARD:
        if key not in _ROOT_LOCKS:
            _ROOT_LOCKS[key] = threading.Lock()
        return _ROOT_LOCKS[key]

_VERSION_ORDER = ("recorded", "seq")

# the dataset-catalog meta-dataset (dsmanager.go:31): every dataset
# lifecycle event is an entity version in this dataset, so catalog
# metadata is queryable and syncable like any other dataset
CORE_DATASET = "core.Dataset"

_SAFE_DATASET_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9._~-]*")


def check_dataset_name(name: str) -> None:
    """Raise ValueError unless ``name`` can name a dataset: a dataset's
    log partition and WAL spool are paths under the store root, so a
    name is one path segment of a fixed, unescaped alphabet."""
    if not _SAFE_DATASET_NAME.fullmatch(name):
        raise ValueError(f"invalid dataset name: {name!r}")


def _dataset_event(name: str, cfg: dict, tick: int, deleted: bool = False) -> dict:
    """A dataset lifecycle event, published in the entry of the registry
    change it describes. The ``core.Dataset`` log is materialized from
    these events on read (core_dataset_log); the catalog is driver-bounded
    by nature, so the event list stays tiny at any corpus scale."""
    return {"name": name, "recorded": tick, "deleted": bool(deleted),
            "cfg": {k: v for k, v in cfg.items() if v}}


def _dataset_event_row(ev: dict, seq: int) -> tuple:
    """One core.Dataset entity version (NewDatasetEntity,
    dsmanager.go:60-93): id ``core:{name}``, rdf:type of dataset /
    proxy-dataset / virtual-dataset, config mirrored into props."""
    cfg = ev.get("cfg") or {}
    props = {"core:name": ev["name"], "core:items": "0"}
    ds_type = "core:dataset"
    proxy = cfg.get("ProxyDatasetConfig") or {}
    if proxy.get("remoteUrl") or proxy.get("RemoteUrl"):
        ds_type = "core:proxy-dataset"
        for k, v in proxy.items():
            props[f"core:{k[0].lower()}{k[1:]}"] = str(v)
    virtual = cfg.get("VirtualDatasetConfig") or {}
    if virtual.get("transform") or virtual.get("Transform"):
        ds_type = "core:virtual-dataset"
        props["core:transform"] = str(
            virtual.get("transform") or virtual.get("Transform"))
    public = cfg.get("publicNamespaces") or []
    if public:
        props["core:publicNamespaces"] = json.dumps(public)
    return (f"core:{ev['name']}", int(ev["recorded"]), int(seq),
            bool(ev["deleted"]), props, {"rdf:type": [ds_type]},
            CORE_DATASET)

# NULL-seq rows backfill above this base (callers are expected to use
# small explicit seqs; the driver data's event ids are far below it)
_SEQ_NULL_BASE = 1 << 33


def _order_key(df: DataFrame):
    return F.struct(*[F.col(c) for c in _VERSION_ORDER])


def latest(df: DataFrame, include_deleted: bool = False, key: tuple[str, ...] = ("dataset", "id"),
           single_version: bool = False) -> DataFrame:
    """Latest version per entity (dataset.go:891 semantics): pick the row
    with max (recorded, seq) per key; optionally drop tombstones.

    ``single_version=True`` is a dataset-statistics fast path: when the
    caller knows every entity has exactly one version (a freshly ingested
    snapshot; the store tracks this per dataset), the per-key aggregation
    — a full shuffle of the widest columns — is provably the identity and
    is skipped."""
    if single_version:
        return df if include_deleted else df.filter(~F.col("deleted"))
    row = F.max_by(F.struct(*[F.col(c) for c in df.columns]), _order_key(df))
    out = df.groupBy(*key).agg(row.alias("_r")).select("_r.*")
    if not include_deleted:
        out = out.filter(~F.col("deleted"))
    return out


def changes(df: DataFrame, since: int = 0, latest_only: bool = False) -> DataFrame:
    """Changes with recorded > since (dataset.go:1005). ``since`` maps to
    the reference's continuation token. With latest_only (dataset.go:1100)
    only the newest change per entity among the filtered set is emitted."""
    out = df.filter(F.col("recorded") > F.lit(int(since)))
    if latest_only:
        out = latest(out, include_deleted=True)
    return out


def point_in_time(df: DataFrame, as_of: int, include_deleted: bool = False,
                  single_version: bool = False) -> DataFrame:
    """Entity state as of a moment (store.go:695): restrict the log to
    versions recorded <= as_of (pushed-down range filter), then latest."""
    return latest(df.filter(F.col("recorded") <= F.lit(int(as_of))),
                  include_deleted=include_deleted, single_version=single_version)


_EMPTY_PROPS = lambda: F.map_from_arrays(
    F.array().cast("array<string>"), F.array().cast("array<string>")
)
_EMPTY_REFS = lambda: F.map_from_arrays(
    F.array().cast("array<string>"), F.array().cast("array<array<string>>")
)

# array_sort with an explicit comparator: structs holding maps are not
# natively orderable, but we only order by (recorded, seq, dataset).
_partial_cmp = lambda l, r: (
    F.when(l["recorded"] != r["recorded"], F.when(l["recorded"] < r["recorded"], F.lit(-1)).otherwise(F.lit(1)))
    .when(l["seq"] != r["seq"], F.when(l["seq"] < r["seq"], F.lit(-1)).otherwise(F.lit(1)))
    .when(l["dataset"] < r["dataset"], F.lit(-1))
    .when(l["dataset"] > r["dataset"], F.lit(1))
    .otherwise(F.lit(0))
)


def fold_props(ps):
    """Fold partials' props maps in list order; later entries win on key
    conflicts. (The reference concatenates conflicting values into lists,
    mergeInto store.go:567; with canonical-string props we take the
    later-recorded value — deterministic, and identical whenever partials
    carry disjoint keys, which is the documented partial-entity pattern.)"""
    return F.aggregate(
        ps, _EMPTY_PROPS(),
        lambda acc, p: F.map_zip_with(
            acc, F.coalesce(p["props"], _EMPTY_PROPS()),
            lambda k, v1, v2: F.coalesce(v2, v1),
        ),
    )


def fold_refs(ps):
    return F.aggregate(
        ps, _EMPTY_REFS(),
        lambda acc, p: F.map_zip_with(
            acc, F.coalesce(p["refs"], _EMPTY_REFS()),
            lambda k, v1, v2: F.coalesce(v2, v1),
        ),
    )


def collect_partials(df: DataFrame, key: str = "id") -> DataFrame:
    """Latest version per (dataset, id) collected into one sorted partial
    list per id — the input shape for reference-style entity resolution
    (GetEntityAtPointInTimeWithInternalID, store.go:695)."""
    lat = latest(df, include_deleted=True)
    parts = lat.select(
        F.col("id").alias(key),
        F.struct("recorded", "seq", "dataset", "deleted", "props", "refs").alias("_p"),
    )
    return parts.groupBy(key).agg(F.array_sort(F.collect_list("_p"), _partial_cmp).alias("_ps"))


def merge_partials(df: DataFrame, include_deleted: bool = False) -> DataFrame:
    """Merge an entity's partials across datasets into one entity
    (store.go:634 mergePartials + store.go:695 resolution rules):
    DELETED partials contribute nothing; an entity whose every partial is
    tombstoned resolves to a bare tombstone row. Partials fold in
    deterministic (recorded, seq, dataset) order. Output key: id."""
    agg = collect_partials(df)
    alive = F.filter(F.col("_ps"), lambda p: ~p["deleted"])
    n_alive = F.size(alive)
    last = F.element_at(alive, -1)
    out = agg.select(
        "id",
        F.when(n_alive > 0, last["recorded"]).otherwise(F.lit(0)).cast("long").alias("recorded"),
        F.when(n_alive > 0, last["seq"]).otherwise(F.lit(0)).cast("long").alias("seq"),
        (n_alive == 0).alias("deleted"),
        F.when(n_alive > 0, fold_props(alive)).otherwise(F.lit(None).cast("map<string,string>")).alias("props"),
        F.when(n_alive > 0, fold_refs(alive)).otherwise(F.lit(None).cast("map<string,array<string>>")).alias("refs"),
        F.lit("*merged*").alias("dataset"),
    )
    if not include_deleted:
        out = out.filter(~F.col("deleted"))
    return out


# separators of the payload digest, and the text of a NULL ref element
_KV, _ENTRY, _ELEM, _PART, _NULL_ELEM = "\x01", "\x02", "\x03", "\x04", "\x05"


def payload_digest(deleted="deleted", props="props", refs="refs"):
    """Canonical string digest of an entity version's payload. Spark can't
    compare map columns directly, so equality checks go through this
    deterministic serialization (sorted entries). A NULL prop value or
    ref list leaves its key alone; a NULL ref element is written as a
    marker, so ``["x"]`` and ``["x", null]`` differ."""
    props_s = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(F.coalesce(F.col(props), F.map_from_arrays(
                    F.array().cast("array<string>"), F.array().cast("array<string>")))),
                lambda e: F.concat_ws(_KV, e["key"], e["value"]),
            )
        ),
        _ENTRY,
    )
    refs_s = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(F.coalesce(F.col(refs), F.map_from_arrays(
                    F.array().cast("array<string>"), F.array().cast("array<array<string>>")))),
                lambda e: F.concat_ws(_KV, e["key"], F.array_join(e["value"], _ELEM, _NULL_ELEM)),
            )
        ),
        _ENTRY,
    )
    return F.concat_ws(_PART, F.col(deleted).cast("string"), props_s, refs_s)


def payload_text(deleted: bool, props: dict | None, refs: dict | None) -> str:
    """``payload_digest`` of one row held by the driver: the same string
    (same separators, NULLs written the same way), so a write deduplicated
    on the driver keeps exactly the rows the Spark dedup keeps."""
    props_s = _ENTRY.join(sorted(
        k if v is None else k + _KV + v for k, v in (props or {}).items()))
    refs_s = _ENTRY.join(sorted(
        k if v is None else k + _KV + _ELEM.join(_NULL_ELEM if x is None else x for x in v)
        for k, v in (refs or {}).items()))
    return _PART.join(("true" if deleted else "false", props_s, refs_s))


def compact_deduplicate(df: DataFrame) -> DataFrame:
    """Compaction strategy 'deduplicate' (DOCUMENTATION.md:2349): drop a
    version when the previous version of the same entity has identical
    (deleted, props, refs) — successive duplicates — keeping timeline
    correctness. Window is per-entity, ordered by the version key."""
    w = Window.partitionBy("dataset", "id").orderBy(*_VERSION_ORDER)
    digest = payload_digest()
    prev = F.lag(digest).over(w)
    return (
        df.withColumn("_digest", digest)
        .withColumn("_prev", prev)
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("_digest")))
        .drop("_prev", "_digest")
    )


def retention_gc(df: DataFrame, horizon: int) -> DataFrame:
    """Garbage collection (internal/server/garbagecollector.go analogue):
    drop versions recorded <= horizon unless they are the entity's newest
    version (the current state must survive).

    Survivors decompose exactly into (a) rows above the horizon — a
    pushed-down filter, no shuffle — and (b) each entity's newest row
    when that row itself is at/below the horizon — the codebase's own
    ``latest`` max_by HashAggregate, with no Window sort."""
    horizon = int(horizon)
    fresh = df.filter(F.col("recorded") > F.lit(horizon))
    newest_old = latest(df, include_deleted=True) \
        .filter(F.col("recorded") <= F.lit(horizon))
    return fresh.unionByName(newest_old)


def clean_deleted(df: DataFrame) -> DataFrame:
    """``Cleandeleted`` (garbagecollector.go:60; scheduler/gc_update.go):
    purge EVERY version of entities whose latest state is a tombstone —
    nothing remains to serve for them, so their history is garbage.
    (The reference's dataset-level purge — entities of datasets in
    ``store.deletedDatasets`` — is handled eagerly by
    ``EntityStore.delete_dataset``, which removes the dataset's files.)

    max_by aggregation over a NARROW (key + deleted flag) projection,
    then a co-partitioned left_anti join back onto the log — no window
    sort, and the shuffled aggregate carries 4 small columns, not full
    rows."""
    gone = (
        df.groupBy("dataset", "id")
        .agg(F.max_by("deleted", _order_key(df)).alias("_latest_deleted"))
        .filter(F.col("_latest_deleted"))
        .select("dataset", "id")
    )
    return df.join(gone, ["dataset", "id"], "left_anti")


def dataset_stats(df: DataFrame) -> DataFrame:
    """Statistics endpoint analogue (statistics.go): per-dataset change and
    entity counts plus an 'all' rollup row."""
    per = df.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.countDistinct("id").alias("n_entities"),
    )
    allrow = df.agg(
        F.lit("all").alias("dataset"),
        F.count(F.lit(1)).alias("n_changes"),
        F.countDistinct("id").alias("n_entities"),
    )
    return per.unionByName(allrow)


# staging directories under the root, for commits and compactions alike
_STAGING = "_staging-"


@dataclass(frozen=True)
class StoreState:
    """The fold of entries 0..version: the registry (name -> config), the
    ``core.Dataset`` events, and each dataset's visible log files (name ->
    highest ``recorded``). Never mutated, so readers can hold one."""

    version: int = -1
    tick: int = 0
    datasets: dict = field(default_factory=dict)
    events: tuple = ()
    files: dict = field(default_factory=dict)


def _fold(state: StoreState, entries: list[dict]) -> StoreState:
    """``state`` advanced by ``entries``; an entry marked ``reset`` (a
    restore or a backup) replaces the state instead of changing it."""
    datasets, files, events = dict(state.datasets), dict(state.files), list(state.events)
    for entry in entries:
        if entry.get("reset"):
            datasets, files, events = {}, {}, []
        for name, cfg in entry["registry"].items():
            if cfg is None:
                datasets.pop(name, None)
            else:
                datasets[name] = cfg
        events.extend(entry["events"])
        for ds, names in entry["remove"].items():
            gone = set(names)
            files[ds] = {fn: top for fn, top in files.get(ds, {}).items() if fn not in gone}
        for ds, added in entry["add"].items():
            files[ds] = {**files.get(ds, {}), **added}
    return StoreState(state.version + len(entries),
                      entries[-1]["tick"] if entries else state.tick,
                      datasets, tuple(events), {ds: f for ds, f in files.items() if f})


def _read_entries(commits_dir: str, start: int) -> list[dict]:
    """The entries numbered ``start`` on, up to the first number not
    published yet."""
    out: list[dict] = []
    while True:
        try:
            with open(os.path.join(commits_dir, f"{start + len(out)}.json")) as f:
                out.append(json.load(f))
        except FileNotFoundError:
            return out


def _write_entry(path: str, put, **entry) -> None:
    """Write ``entry`` to a temp file beside ``path`` and ``put`` it there:
    ``os.link`` publishes and fails if the number is taken, ``os.replace``
    overwrites. Either way the entry appears whole."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(entry, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        put(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def _max_recorded_in(path: str) -> int:
    """Highest ``recorded`` in a parquet log file, from the column
    statistics in its footer. A row group written without statistics
    counts as nothing, which can only lower the value."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    col = meta.schema.names.index("recorded")
    best = 0
    for i in range(meta.num_row_groups):
        stats = meta.row_group(i).column(col).statistics
        if stats is not None and stats.has_min_max:
            best = max(best, stats.max)
    return best


# the registry file of a store written before the commit log
_LEGACY_REGISTRY = "datasets.json"


def _legacy_entry(root: str) -> dict:
    """Entry 0 of a store (or backup) at ``root`` written before the
    commit log: the registry file (a tick-0 create per dataset without
    events) and every file under ``log/``. A rename or compaction stopped
    midway there is refused."""
    registry_path, log_dir = os.path.join(root, _LEGACY_REGISTRY), os.path.join(root, "log")
    with open(registry_path) as f:
        meta = json.load(f)
    for name, cfg in meta["datasets"].items():
        if "renamedFrom" in cfg:
            raise ValueError(f"{registry_path}: the rename to {name} did not finish")
    files = {}
    for part in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, part)
        if ".old-" in part:
            raise ValueError(f"{path}: left by a compaction that did not finish")
        if part.startswith("dataset="):
            files[part[len("dataset="):]] = {
                fn: _max_recorded_in(os.path.join(path, fn))
                for fn in sorted(os.listdir(path)) if fn.endswith(".parquet")}
    events = list(meta.get("dataset_events") or [])
    seen = {ev["name"] for ev in events}
    events += [{"name": name, "recorded": 0, "deleted": False, "cfg": cfg}
               for name, cfg in sorted(meta["datasets"].items()) if name not in seen]
    return {"tick": meta["counter"], "registry": meta["datasets"], "events": events,
            "add": {ds: f for ds, f in files.items() if f}, "remove": {}}


class EntityStore:
    """Persistent parquet-backed store (dataset partition per dataset).

    Layout: ``root/log/dataset=<name>/*.parquet`` plus the commit entries
    ``root/commits/<n>.json`` (the registry of the reference's dsmanager,
    internal/server/dsmanager.go, is folded from them). Every read takes
    one ``state()``, so it sees each commit whole or not at all.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "log")
        self.commits_dir = os.path.join(root, "commits")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.commits_dir, exist_ok=True)
        self._state = StoreState()
        self._state_mu = threading.Lock()
        # event bus (internal/server/events_test.go): listeners fire after
        # a committed write, with (dataset, recorded); the scheduler wires
        # onchange jobs here. In-process analogue of the dataset topics.
        self._listeners: list = []
        if os.path.exists(os.path.join(root, _LEGACY_REGISTRY)) and self.state().version < 0:
            with self._writer() as state:
                if state.version < 0:
                    self._publish(state, **_legacy_entry(root))

    def add_listener(self, fn) -> None:
        """Register fn(dataset: str, recorded: int), called after commit;
        registering an equal fn again is a no-op."""
        if fn not in self._listeners:
            self._listeners.append(fn)

    def _emit(self, datasets: list[str], recorded: int) -> None:
        for fn in list(self._listeners):
            for ds in datasets:
                fn(ds, recorded)

    # -- commit log ------------------------------------------------------------

    def state(self) -> StoreState:
        """The cached fold, extended by any entries published since."""
        with self._state_mu:
            new = _read_entries(self.commits_dir, self._state.version + 1)
            if new:
                self._state = _fold(self._state, new)
            return self._state

    @contextlib.contextmanager
    def _writer(self):
        """Hold the writer locks and yield the current state, like the
        reference's store-wide lock (concurrent_contextual_store_test.go):
        a per-root process lock plus flock on a lockfile, so threads and
        driver processes publish one at a time. Re-entrant per thread:
        ``store_entities`` holds them across its dedup and the
        ``execute_transaction`` it hands the kept rows to."""
        held = getattr(_WRITING, "roots", frozenset())
        key = os.path.abspath(self.root)
        if key in held:  # this thread holds them already
            yield self.state()
            return
        with _root_lock(self.root):
            fd = os.open(os.path.join(self.root, ".lock"), os.O_CREAT | os.O_RDWR)
            try:
                if fcntl is not None:
                    fcntl.flock(fd, fcntl.LOCK_EX)
                _WRITING.roots = held | {key}
                yield self.state()
            finally:
                _WRITING.roots = held
                os.close(fd)  # releases the flock

    @contextlib.contextmanager
    def _stage(self):
        """A fresh staging directory under the root, removed after use.
        It is flocked while in use, and ``vacuum`` removes only one it can
        lock, so a live write's stage survives a concurrent vacuum."""
        while True:
            path = os.path.join(self.root, f"{_STAGING}{uuid.uuid4().hex}")
            os.makedirs(path)
            fd = os.open(path, os.O_RDONLY)
            if fcntl is not None:
                fcntl.flock(fd, fcntl.LOCK_SH)
            if os.path.isdir(path):
                break
            os.close(fd)  # a vacuum removed it before the flock
        try:
            yield path
        finally:
            shutil.rmtree(path, ignore_errors=True)
            os.close(fd)

    def _publish(self, state: StoreState, tick: int, registry: dict | None = None,
                 events=(), add: dict | None = None, remove: dict | None = None,
                 reset: bool = False) -> StoreState:
        """Publish entry ``state.version + 1`` under ``_writer`` (which
        yielded ``state``); the files in ``add`` are already placed."""
        _write_entry(os.path.join(self.commits_dir, f"{state.version + 1}.json"), os.link,
                     tick=tick, registry=registry or {}, events=list(events),
                     add=add or {}, remove=remove or {}, reset=reset)
        return self.state()

    def _partition(self, dataset: str) -> str:
        return os.path.join(self.log_dir, f"dataset={dataset}")

    def _place(self, stage: str, dataset: str, prefix: str = "") -> dict[str, int]:
        """Move a staged write's parquet files into the dataset's partition,
        unlisted until published; returns the entry's ``add``."""
        dest = self._partition(dataset)
        os.makedirs(dest, exist_ok=True)
        placed = {}
        for fn in sorted(os.listdir(stage)):
            if fn.endswith(".parquet"):
                placed[prefix + fn] = _max_recorded_in(os.path.join(stage, fn))
                os.replace(os.path.join(stage, fn), os.path.join(dest, prefix + fn))
        return placed

    def _unlink(self, dataset: str, names) -> None:
        """Unlink files an entry removed, and the partition once empty."""
        part = self._partition(dataset)
        for fn in names:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(part, fn))
        with contextlib.suppress(OSError):
            os.rmdir(part)

    # -- registry ------------------------------------------------------------

    def create_dataset(self, name: str, public_namespaces: list[str] | None = None,
                       config: dict | None = None) -> None:
        """Register a dataset; ``config`` carries the reference's
        CreateDatasetConfig extras (ProxyDatasetConfig /
        VirtualDatasetConfig, dsmanager.go:102-106) in the registry.
        A NEW registration also appends a create event to the
        ``core.Dataset`` meta-log (dsmanager.go:150-160)."""
        check_dataset_name(name)
        entry = {"publicNamespaces": public_namespaces or []}
        if config:
            entry.update(config)
        with self._writer() as state:
            if name in state.datasets or name == CORE_DATASET:
                return
            tick = state.tick + 1
            self._publish(state, tick, registry={name: entry},
                          events=[_dataset_event(name, entry, tick)])
        self._emit([CORE_DATASET], tick)

    def dataset_config(self, name: str) -> dict | None:
        """The registry entry for ``name`` (None when unknown)."""
        return self.state().datasets.get(name)

    def delete_dataset(self, name: str) -> None:
        """Unregister the dataset and remove its files in one entry, which
        tombstones its ``core.Dataset`` entity (dsmanager.go:280-289).
        The meta-dataset itself is refused (dsmanager.go:242-244)."""
        if name == CORE_DATASET:
            raise ValueError(f"cannot delete {CORE_DATASET}")
        with self._writer() as state:
            cfg = state.datasets.get(name)
            if cfg is None:
                return
            files = state.files.get(name, {})
            tick = state.tick + 1
            self._publish(state, tick, registry={name: None},
                          events=[_dataset_event(name, cfg, tick, deleted=True)],
                          remove={name: sorted(files)})
            self._unlink(name, files)
        self._emit([CORE_DATASET], tick)

    def rename_dataset(self, name: str, new_name: str) -> None:
        """UpdateDataset with a new ID (dsmanager.go:108-110): the files
        are hard-linked under the new partition, then one entry moves
        them and the registry entry."""
        new_name = (new_name or "").strip()
        check_dataset_name(new_name)
        if name == CORE_DATASET:
            raise ValueError(f"cannot update {CORE_DATASET}")
        with self._writer() as state:
            cfg = state.datasets.get(name)
            if cfg is None:
                raise KeyError(name)
            if new_name in state.datasets or new_name == CORE_DATASET:
                raise ValueError(f"dataset {new_name} already exists")
            files = state.files.get(name, {})
            moved = {}
            for fn, top in files.items():
                # a fresh name: a file name is never listed twice in the log
                link = f"{uuid.uuid4().hex}.parquet"
                os.makedirs(self._partition(new_name), exist_ok=True)
                os.link(os.path.join(self._partition(name), fn),
                        os.path.join(self._partition(new_name), link))
                moved[link] = top
            # core entity follows the rename: tombstone the old id, then
            # recreate under the new one (dsmanager.go:209-233)
            tick = state.tick + 2
            self._publish(state, tick, registry={name: None, new_name: cfg},
                          events=[_dataset_event(name, cfg, tick - 1, deleted=True),
                                  _dataset_event(new_name, cfg, tick)],
                          add={new_name: moved}, remove={name: sorted(files)})
            self._unlink(name, files)
        self._emit([CORE_DATASET], tick)

    def list_datasets(self) -> list[str]:
        return sorted(self.state().datasets)

    def has_data(self, dataset: str) -> bool:
        """True iff the dataset has visible log files. Consumers that gate
        on prior state (fullsync tombstones, write-time dedup) use this."""
        return dataset in self.state().files

    def dataset_context(self, name: str, nsmgr=None) -> dict:
        """The dataset's ``@context`` object (DOCUMENTATION.md:187-245):
        restricted to the dataset's publicNamespaces when configured,
        otherwise the full registry."""
        from datahub_spark.namespaces import NamespaceManager

        nsmgr = nsmgr or NamespaceManager()
        meta = self.state().datasets.get(name, {})
        public = meta.get("publicNamespaces") or []
        namespaces = nsmgr.context()
        if public:
            namespaces = {p: e for p, e in namespaces.items() if e in public}
        return {"id": "@context", "namespaces": namespaces}

    # -- writes ----------------------------------------------------------------

    def store_entities(self, dataset: str, df: DataFrame, recorded: int | None = None,
                       skip_unchanged: bool = True) -> int:
        """Append a batch as one new version tick (dataset.go:216).

        ``skip_unchanged`` mirrors StoreEntities' write-time dedup
        (store_test.go:627 'Should only update entities if they are
        different'): rows whose (deleted, props, refs) payload equals the
        entity's current version are dropped before the append — one
        left-join against the latest view's digests, so repeated
        idempotent syncs don't grow the version log. The writer locks are
        held from the dedup's read to the commit, so it compares against
        the versions the commit lands on; ``df`` is written to a staging
        directory before them, so the caller's pipeline (a job's source
        reads and transforms) does not run under them."""
        if not skip_unchanged:
            return self.execute_transaction({dataset: df}, recorded)
        with self._stage() as stage:
            df.write.parquet(os.path.join(stage, "batch"))
            batch = self.spark.read.parquet(os.path.join(stage, "batch"))
            with self._writer():
                return self.execute_transaction({dataset: self._changed(dataset, batch)}, recorded)

    def _changed(self, dataset: str, df: DataFrame) -> DataFrame:
        """The rows of ``df`` whose payload differs from their entity's
        current version in ``dataset``."""
        if self.has_data(dataset):
            # Digest only the log rows whose ids appear in the incoming
            # batch (semi-join BEFORE latest/digest): an append of K
            # entities against an N-entity log reads/aggregates O(K)
            # rather than O(N). No broadcast hint on purpose — AQE
            # converts the semi-join to broadcast when the batch id set
            # is small (the common incremental case) and keeps a shuffle
            # join for bulk loads where broadcasting the batch would be
            # the mistake. A semi-join emits each log row at most once,
            # so a batch repeating an id needs no distinct first.
            scoped = self.log([dataset]).join(df.select("id"), "id", "left_semi")
            current = latest(scoped, include_deleted=True).select(
                "id", payload_digest().alias("_cur")
            )
            norm = df if "deleted" in df.columns else df.withColumn("deleted", F.lit(False))
            df = (
                norm.withColumn("_new", payload_digest())
                .join(current, "id", "left")
                .filter(F.col("_cur").isNull() | (F.col("_cur") != F.col("_new")))
                .drop("_cur", "_new")
            )
        return df

    def execute_transaction(self, dataset_entities: dict[str, DataFrame], recorded: int | None = None) -> int:
        """Multi-dataset write (store.go:1707 ExecuteTransaction), visible
        whole or not at all: under the writer locks it allocates the tick,
        stages every dataset's files, places them and publishes one entry
        that adds them and registers new datasets. A crash before the
        publish leaves only unlisted files for ``vacuum``. An explicit
        ``recorded`` keeps the tick. The frames are evaluated under the
        locks, so they should hold rows already computed (driver-held,
        cached or staged), not a job's pipeline.

        Rows with NULL recorded/seq/deleted (e.g. from
        ``unionByName(allowMissingColumns=True)``) are coalesced to the
        transaction tick / a fresh seq / False — a null version key would
        make the row invisible to changes(since) and watermark aggregates."""
        if CORE_DATASET in dataset_entities:
            # the meta-log is derived from registry lifecycle events;
            # physical appends would be invisible to its reads
            raise ValueError(
                f"{CORE_DATASET} is maintained by the store and cannot "
                "be written directly")
        for ds_name in dataset_entities:
            check_dataset_name(ds_name)
        with self._stage() as stage:
            with self._writer() as state:
                tick = state.tick if recorded is not None else state.tick + 1
                rec = tick if recorded is None else recorded
                for ds_name, df in dataset_entities.items():
                    # one SQL projection, because each Column-API call is a
                    # JVM round trip that waits for the interpreter lock
                    # while a server answers other requests; ds_name passed
                    # check_dataset_name, so it is safe as a SQL literal
                    cols = df.columns
                    out = df.selectExpr(
                        "id",
                        f"coalesce(cast(recorded as bigint), {rec}L) as recorded"
                        if "recorded" in cols else f"{rec}L as recorded",
                        "cast(seq as bigint) as seq" if "seq" in cols else "cast(null as bigint) as seq",
                        "coalesce(deleted, false) as deleted" if "deleted" in cols else "false as deleted",
                        "props", "refs", f"'{ds_name}' as dataset")
                    # NULL seq backfill: deterministic (content-hashed, fixed
                    # xxhash64 seed — identical across runs and shuffle
                    # schedules, unlike monotonically_increasing_id) and
                    # ABOVE _SEQ_NULL_BASE, so backfilled rows order after
                    # every caller-provided seq in the batch instead of
                    # winning latest()'s tie-break by accident. Fully
                    # map-side: no window/agg pass over the batch. A seq
                    # column declared non-nullable needs none.
                    if "seq" not in cols or df.schema["seq"].nullable:
                        out = out.withColumn("seq", F.coalesce(F.col("seq"), (
                            F.lit(_SEQ_NULL_BASE)
                            + F.pmod(F.xxhash64(F.col("id"), F.col("recorded"), payload_digest()),
                                     F.lit(1 << 31))
                        ).cast("long")))
                    out.write.parquet(os.path.join(stage, ds_name))
                add = {ds_name: self._place(os.path.join(stage, ds_name), ds_name, f"{rec}-")
                       for ds_name in dataset_entities}
                created = {ds_name: {"publicNamespaces": []} for ds_name in dataset_entities
                           if ds_name not in state.datasets}
                self._publish(state, tick, registry=created, add=add,
                              events=[_dataset_event(n, cfg, rec) for n, cfg in created.items()])
        if created:
            self._emit([CORE_DATASET], rec)
        self._emit(list(dataset_entities), rec)
        return rec

    # -- reads -----------------------------------------------------------------

    def core_dataset_log(self, at: StoreState | None = None) -> DataFrame:
        """The ``core.Dataset`` meta-log as an entity change DataFrame:
        one version per recorded lifecycle event (create / rename
        tombstone+create / delete tombstone). Composes with
        latest()/changes()/paging/jobs like any dataset."""
        rows = [_dataset_event_row(ev, i) for i, ev in enumerate((at or self.state()).events)]
        return local_frame(self.spark, rows, ENTITY_SCHEMA)

    def log(self, datasets: list[str] | None = None, at: StoreState | None = None) -> DataFrame:
        """The versions of ``datasets`` (all when empty) visible in state
        ``at`` (default: current): the partition directories filtered on
        ``_metadata.file_name``, which prunes the listing at planning, so
        an unlisted file is never opened. Names are unique in the log."""
        # the meta-dataset is served from the registry's event list when
        # addressed explicitly; whole-log scans stay purely physical so
        # analytics over the stored corpus never mix in catalog rows
        state = at or self.state()
        if datasets and CORE_DATASET in datasets:
            phys = [d for d in datasets if d != CORE_DATASET]
            core = self.core_dataset_log(state)
            return core.unionByName(self.log(phys, state)) if phys else core
        df = (
            self.spark.read.schema(ENTITY_SCHEMA)
            .option("basePath", self.log_dir)
            .parquet(self.log_dir)
        )
        if datasets:
            df = df.filter(F.col("dataset").isin(datasets))  # partition pruning
        names = [fn for ds in (datasets or state.files) for fn in state.files.get(ds, ())]
        return df.filter(F.col("_metadata.file_name").isin(names))

    def log_files(self, datasets: list[str] | None = None,
                  at: StoreState | None = None) -> set[str]:
        """Absolute paths of the log files of ``datasets`` (all when None)
        visible in state ``at`` (default: current)."""
        state = at or self.state()
        log_dir = os.path.abspath(self.log_dir)
        return {os.path.join(log_dir, f"dataset={ds}", fn)
                for ds in (state.files if datasets is None else datasets)
                for fn in state.files.get(ds, ())}

    def log_rows(self, paths):
        """The rows of exactly the log files ``paths`` (as log_files
        returns them), read on the driver with pyarrow one file at a
        time, as dicts keyed by entity column; ``dataset`` is the file's
        partition. For driver-held indexes: a few new files read this
        way cost less than a Spark job's fixed overhead."""
        import pyarrow.parquet as pq

        for path in sorted(paths):
            ds = os.path.basename(os.path.dirname(path))[len("dataset="):]
            for row in pq.ParquetFile(path).read().to_pylist():
                row["dataset"] = ds
                yield row

    def max_recorded(self, datasets: list[str]) -> int:
        """Highest ``recorded`` committed to ``datasets`` (0: none), from
        the state's per-file maxima and events; it reads no file."""
        state = self.state()
        best = max((int(ev["recorded"]) for ev in state.events), default=0) \
            if CORE_DATASET in datasets else 0
        return max([best, *(top for ds in datasets for top in state.files.get(ds, {}).values())])

    def entities(self, dataset: str) -> DataFrame:
        return latest(self.log([dataset]))

    def changes(self, dataset: str, since: int = 0, latest_only: bool = False) -> DataFrame:
        return changes(self.log([dataset]), since, latest_only)

    def get_entity(self, entity_id: str, datasets: list[str] | None = None, merge: bool = True) -> DataFrame:
        """GetEntity (store.go:666): one id's live latest partials merged
        across datasets, or with ``merge=False`` the newest of them in
        ``_partial_cmp`` order (greatest recorded, seq, dataset)."""
        df = self.log(datasets).filter(F.col("id") == entity_id)
        if merge:
            return merge_partials(df)
        newest = [F.col(c).desc() for c in ("recorded", "seq", "dataset")]
        return latest(df).orderBy(*newest).limit(1)

    # -- snapshot materialization ----------------------------------------------

    def materialize_latest(self, dataset: str, buckets: int = 16,
                           shred_props: list[str] | None = None) -> str:
        """Materialize the dataset's latest view as an id-bucketed,
        id-sorted table, and register it in the session catalog.

        The scale rationale: repeated traversal/enrichment joins key on
        ``id``; a bucketed snapshot makes every such join shuffle-free on
        the snapshot side (SortMergeJoin reads co-located buckets, no
        Exchange). This is the batch analogue of the reference's
        compaction — pay the shuffle once at write, not per query.

        ``shred_props`` lists hot property keys to SHRED into top-level
        columns (``p:name`` -> ``prop_name``): a parquet map column is a
        single physical column, so map-keyed reads always scan every
        prop of every entity; shredded columns restore per-column
        pruning, page statistics, and predicate pushdown for the listed
        keys. The full map stays alongside for schemaless access.
        Returns the catalog table name."""
        table = f"snap_{dataset.replace('.', '_').replace('-', '_')}"
        snap = latest(self.log([dataset]), include_deleted=True)
        for key in shred_props or []:
            col_name = "prop_" + key.split(":", 1)[-1].replace(":", "_").replace(".", "_")
            snap = snap.withColumn(col_name, F.col("props")[key])
        (
            snap.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "id")
            .sortBy("id")
            .option("path", os.path.join(self.root, "snapshots", table))
            .saveAsTable(table)
        )
        return table

    def snapshot(self, dataset: str) -> DataFrame:
        """Read a previously materialized bucketed snapshot."""
        table = f"snap_{dataset.replace('.', '_').replace('-', '_')}"
        return self.spark.table(table)

    # -- maintenance -----------------------------------------------------------

    def vacuum(self) -> list[str]:
        """Startup garbage collection (GC_ON_STARTUP, app.go's
        GarbageCollector): under the writer locks, remove what no entry
        makes visible — staging directories of crashed writes (not the
        flocked ones of live writes), entry temp files, and log files no
        entry lists. Returns the removed paths."""
        removed: list[str] = []
        with self._writer() as state:
            for name in os.listdir(self.root):
                if name.startswith(_STAGING) and _remove_abandoned(os.path.join(self.root, name)):
                    removed.append(os.path.join(self.root, name))
            for name in os.listdir(self.commits_dir):
                if name.startswith(".tmp-"):
                    removed.append(os.path.join(self.commits_dir, name))
                    os.unlink(removed[-1])
            removed += _sweep(self.log_dir, state)
        return removed

    def compact(self, dataset: str, gc_horizon: int | None = None,
                clean_deleted_entities: bool = False) -> None:
        """Physical compaction (DOCUMENTATION.md:2349): apply the
        'deduplicate' strategy view to the dataset's log and replace its
        files with the rewritten ones. It drops successive identical
        versions; a gc_horizon additionally drops non-newest versions
        recorded at or before the horizon; ``clean_deleted_entities``
        additionally purges every version of entities whose latest state
        is a tombstone (garbagecollector.go Cleandeleted, run by the
        reference's scheduled_gc). The rewrite of one state's files is
        staged without the writer locks; one entry then swaps exactly
        those files, so a commit landing meanwhile stays. When another
        entry removed any of them first, the rewrite is dropped."""
        state = self.state()
        read = state.files.get(dataset)
        if not read:
            return
        compacted = compact_deduplicate(self.log([dataset], state))
        if gc_horizon is not None:
            compacted = retention_gc(compacted, gc_horizon)
        if clean_deleted_entities:
            compacted = clean_deleted(compacted)
        with self._stage() as stage:
            compacted.drop("dataset").write.parquet(os.path.join(stage, dataset))
            with self._writer() as state:
                if not read.keys() <= state.files.get(dataset, {}).keys():
                    return
                # no version is added: listeners get the store's current tick
                self._publish(state, state.tick, remove={dataset: sorted(read)},
                              add={dataset: self._place(os.path.join(stage, dataset), dataset)})
                self._unlink(dataset, read)
        self._emit([dataset], state.tick)

    def backup(self, dest: str) -> None:
        """Backup (internal/server/backup.go analogue): the state as one
        ``reset`` entry, ``dest/commits/0.json``, and the files it lists,
        hard-linked into a stage under the writer locks and copied after
        them. Files ``dest`` already holds are kept, unlisted ones removed;
        ``dest`` holds a whole backup, the old or the new, at every step."""
        with self._stage() as pinned:
            with self._writer() as state:
                _copy_files(self.log_dir, pinned, state, os.link)
            _copy_files(pinned, os.path.join(dest, "log"), state, shutil.copy2)
        commits = os.path.join(dest, "commits")
        for d in (commits, os.path.join(dest, "log")):
            os.makedirs(d, exist_ok=True)
        for name in os.listdir(commits):
            if name != "0.json":
                os.unlink(os.path.join(commits, name))
        _write_entry(os.path.join(commits, "0.json"), os.replace, reset=True, tick=state.tick,
                     registry=state.datasets, events=list(state.events), add=state.files,
                     remove={})
        _sweep(os.path.join(dest, "log"), state)

    @classmethod
    def restore(cls, spark: SparkSession, backup_dir: str, root: str) -> "EntityStore":
        """The store at ``root`` set to the backup's state by one ``reset``
        entry (the tick never goes back) once the files it lists are
        copied in; the rest is vacuumed. The backup, in either layout, is
        read before the root is touched."""
        commits = os.path.join(backup_dir, "commits")
        if os.path.isdir(commits):
            saved = _fold(StoreState(), _read_entries(commits, 0))
        elif os.path.exists(os.path.join(backup_dir, _LEGACY_REGISTRY)):
            saved = _fold(StoreState(), [_legacy_entry(backup_dir)])
        else:
            raise FileNotFoundError(f"{backup_dir}: not a store backup")
        store = cls(spark, root)
        with store._writer() as state:
            _copy_files(os.path.join(backup_dir, "log"), store.log_dir, saved, shutil.copy2)
            store._publish(state, max(state.tick, saved.tick), reset=True, registry=saved.datasets,
                           events=saved.events, add=saved.files)
        store.vacuum()
        return store


def _copy_files(src_log: str, dest_log: str, state: StoreState, copy) -> None:
    """``copy`` each log file ``state`` lists from one log directory to
    another through a temp name, so a file under its own name is whole.
    One already there with the same size is kept: names are unique and
    files immutable."""
    for ds, files in state.files.items():
        part = os.path.join(dest_log, f"dataset={ds}")
        os.makedirs(part, exist_ok=True)
        for fn in files:
            src, dst = os.path.join(src_log, f"dataset={ds}", fn), os.path.join(part, fn)
            if not os.path.exists(dst) or os.path.getsize(dst) != os.path.getsize(src):
                # a dot name: Spark's listing skips it, vacuum's sweep removes it
                tmp = os.path.join(part, f".{uuid.uuid4().hex}.parquet")
                copy(src, tmp)
                os.replace(tmp, dst)


def _sweep(log_dir: str, state: StoreState) -> list[str]:
    """Remove the parquet files under ``log_dir`` that ``state`` does not
    list; returns their paths."""
    removed = []
    for part in os.listdir(log_dir):
        listed = state.files.get(part[len("dataset="):], {})
        for fn in os.listdir(os.path.join(log_dir, part)):
            if fn.endswith(".parquet") and fn not in listed:
                removed.append(os.path.join(log_dir, part, fn))
                os.unlink(removed[-1])
    return removed


def _remove_abandoned(stage: str) -> bool:
    """Remove the staging directory ``stage`` unless a live write holds
    its flock (see EntityStore._stage); True when removed."""
    fd = os.open(stage, os.O_RDONLY)
    try:
        if fcntl is not None:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return False
        shutil.rmtree(stage, ignore_errors=True)
        return True
    finally:
        os.close(fd)


class WalIngest:
    """LSM-style write-ahead ingest for high-frequency small commits —
    the reference's own storage architecture (BadgerDB = WAL + LSM)
    re-expressed for a Spark-backed store.

    The engine's transactional append pays Spark's fixed per-job cost,
    which makes the reference's OLTP loop shape (a 1000-entity commit
    every few ms, dataset_benchmark_test.go) ~100x slower than its
    design-point bulk path. The WAL closes it the way every LSM does:
    ``append()`` makes a batch DURABLE in milliseconds (fsync'd
    JSON-lines spool under the store root), ``flush()`` folds everything
    pending into ONE atomic Spark transaction that makes it QUERYABLE.
    Durability is per-append; visibility is per-flush; the caller picks
    the flush cadence (count, time, or job boundary).

    Crash behavior: an un-flushed spool (or a ``.flushing`` file left
    by a crash mid-flush) is picked up by the next ``flush()`` on ANY
    instance over the same root — at-least-once across a crash between
    commit and spool removal, where ``store_entities``'s write-time
    payload dedup (skip_unchanged) collapses the replay to a no-op.
    """

    def __init__(self, store: "EntityStore", dataset: str):
        check_dataset_name(dataset)
        self.store, self.dataset = store, dataset
        wal_dir = os.path.join(store.root, "wal")
        os.makedirs(wal_dir, exist_ok=True)
        self.path = os.path.join(wal_dir, f"{dataset}.jsonl")
        self._flushing = self.path + ".flushing"
        self._fh = open(self.path, "a", encoding="utf-8")
        self._seq = 0
        self._mu = threading.Lock()
        # serializes whole flushes (rotation + fold + removal) without
        # blocking appends: two concurrent flush() calls would list the
        # same rotated spools, double-read them, and race on os.remove
        # (the served path can trigger this — a reader's
        # read-your-writes flush racing the autoflush threshold)
        self._flush_mu = threading.Lock()

    def append(self, entities: list[dict]) -> int:
        """Durably append a batch of UDA wire objects: one buffered
        write + one fsync. Objects are decoded here (uda.decode_entities)
        so the spool holds entity rows; ``seq`` is the append order, so
        within one flush a later append of an id wins. Returns the
        number of rows appended."""
        rows = list(uda.decode_entities(entities))
        if not rows:
            return 0
        with self._mu:
            lines = []
            for eid, recorded, _seq, deleted, props, refs in rows:
                lines.append(json.dumps({
                    "id": eid, "recorded": recorded, "seq": self._seq,
                    "deleted": deleted, "props": props, "refs": refs,
                }, separators=(",", ":")))
                self._seq += 1
            self._fh.write("\n".join(lines) + "\n")
            self._fh.flush()
            os.fsync(self._fh.fileno())
        return len(rows)

    def flush(self, skip_unchanged: bool = True) -> int | None:
        """Fold the pending spool (plus any crash-left ``.flushing``
        file) into one atomic store transaction. Returns the commit's
        ``recorded`` tick, or None when nothing was pending.
        Thread-safe against concurrent flushes AND concurrent appends
        (appends only block for the brief rotation window)."""
        with self._flush_mu:
            return self._flush_locked(skip_unchanged)

    def _flush_locked(self, skip_unchanged: bool) -> int | None:
        with self._mu:
            self._fh.close()
            # crash recovery: ANY leftover rotated spool from an earlier
            # interrupted flush (.flushing, .flushing.now, ...) re-enters
            wal_dir = os.path.dirname(self.path)
            base = os.path.basename(self._flushing)
            paths = sorted({
                os.path.join(wal_dir, fn) for fn in os.listdir(wal_dir)
                if fn.startswith(base)})
            if os.path.getsize(self.path) > 0:
                # rotation suffix = max(existing indices)+1, NOT the
                # count of leftovers: after a crash that removed only
                # some flushed files, len(paths) could re-target a
                # surviving name — os.replace would clobber it and the
                # same spool would enter the read list twice.
                nxt = 0
                for fn in paths:
                    m = re.fullmatch(
                        re.escape(base) + r"\.(\d+)\.now",
                        os.path.basename(fn))
                    if m:
                        nxt = max(nxt, int(m.group(1)) + 1)
                rotated = f"{self._flushing}.{nxt}.now"
                os.replace(self.path, rotated)
                paths.append(rotated)
            self._fh = open(self.path, "a", encoding="utf-8")
        if not paths:
            return None
        df = self.store.spark.read.schema(uda.ROW_SCHEMA).json(paths)
        recorded = self.store.store_entities(
            self.dataset, df, skip_unchanged=skip_unchanged)
        for p in paths:
            os.remove(p)
        return recorded

    def close(self) -> None:
        self._fh.close()
