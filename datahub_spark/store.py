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

import json
import os
import re
import shutil
import threading
import uuid

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
# EntityStore._mutate_meta
_ROOT_LOCKS: dict[str, threading.Lock] = {}
_ROOT_LOCKS_GUARD = threading.Lock()


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


def _append_dataset_event(meta: dict, name: str, entry: dict,
                          tick: int, deleted: bool = False) -> None:
    """Record a dataset lifecycle event in the registry sidecar (inside
    the _mutate_meta critical section — atomic with the registry change
    it describes). The ``core.Dataset`` log is materialized from these
    events on read (core_dataset_log); the catalog is driver-bounded by
    nature, so the event list stays tiny at any corpus scale."""
    cfg = {k: v for k, v in (entry or {}).items()
           if k != "renamedFrom" and v}
    meta.setdefault("dataset_events", []).append({
        "name": name, "recorded": tick, "deleted": bool(deleted),
        "cfg": cfg,
    })


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
    is skipped. At 100 TB of static reference data this removes the
    biggest shuffle in every read."""
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
    ``latest`` max_by HashAggregate. No Window: the previous
    formulation's max-over-partition shuffled AND sorted every full-width
    row, the last full-sort in a maintenance path."""
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
    ``EntityStore.delete_dataset``, which removes the log partition.)

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


class EntityStore:
    """Persistent parquet-backed store (dataset partition per dataset).

    Layout: ``root/log/dataset=<name>/*.parquet`` plus a JSON sidecar for
    dataset registry + namespace context, mirroring the reference's
    dsmanager (internal/server/dsmanager.go) at file granularity.
    Appends are new parquet files: immutable, concurrent-reader safe.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "log")
        self.meta_path = os.path.join(root, "datasets.json")
        os.makedirs(self.log_dir, exist_ok=True)
        if not os.path.exists(self.meta_path):
            self._write_meta({"datasets": {}, "counter": 0})
        else:
            self._recover_renames()
        # event bus (internal/server/events_test.go): listeners fire after
        # a committed write, with (dataset, recorded); the scheduler wires
        # onchange jobs here. In-process analogue of the dataset topics.
        self._listeners: list = []

    def add_listener(self, fn) -> None:
        """Register fn(dataset: str, recorded: int), called after commit;
        registering an equal fn again is a no-op."""
        if fn not in self._listeners:
            self._listeners.append(fn)

    def _emit(self, datasets: list[str], recorded: int) -> None:
        for fn in list(self._listeners):
            for ds in datasets:
                fn(ds, recorded)

    # -- registry ------------------------------------------------------------

    def _read_meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)

    def _mutate_meta(self, fn):
        """Serialized read-modify-write of the registry sidecar. The
        reference holds a store-wide lock for registry/tick mutations
        (concurrent_contextual_store_test.go is its pin); here the
        critical section is guarded by a per-root process lock (all
        EntityStore instances over the same root share it) plus flock on
        a sidecar lockfile, so concurrent jobs in one driver — or two
        driver processes on a shared filesystem that honors flock —
        can't lose a dataset registration or share a transaction tick.
        Returns fn's result."""
        with _root_lock(self.root):
            lockfile = os.path.join(self.root, ".meta.lock")
            fd = os.open(lockfile, os.O_CREAT | os.O_RDWR)
            try:
                if fcntl is not None:
                    fcntl.flock(fd, fcntl.LOCK_EX)
                meta = self._read_meta()
                result = fn(meta)
                self._write_meta(meta)
                return result
            finally:
                os.close(fd)  # releases the flock

    def create_dataset(self, name: str, public_namespaces: list[str] | None = None,
                       config: dict | None = None,
                       _tick: int | None = None) -> None:
        """Register a dataset; ``config`` carries the reference's
        CreateDatasetConfig extras (ProxyDatasetConfig /
        VirtualDatasetConfig, dsmanager.go:102-106) in the registry.
        A NEW registration also appends a create event to the
        ``core.Dataset`` meta-log (dsmanager.go:150-160). ``_tick``
        (internal) records the event at an already-allocated
        transaction tick — a dataset implicitly created by a data write
        shares that write's tick, like the reference's single txn —
        instead of allocating a fresh one."""
        check_dataset_name(name)
        entry = {"publicNamespaces": public_namespaces or []}
        if config:
            entry.update(config)

        def step(meta):
            if name in meta["datasets"] or name == CORE_DATASET:
                return None
            meta["datasets"][name] = entry
            if _tick is None:
                meta["counter"] += 1
                tick = meta["counter"]
            else:
                tick = _tick
            _append_dataset_event(meta, name, entry, tick)
            return tick

        tick = self._mutate_meta(step)
        if tick is not None:
            self._emit([CORE_DATASET], tick)

    def dataset_config(self, name: str) -> dict | None:
        """The registry entry for ``name`` (None when unknown)."""
        return self._read_meta()["datasets"].get(name)

    def delete_dataset(self, name: str) -> None:
        """Unregister + drop the log partition; tombstones the dataset's
        ``core.Dataset`` entity (dsmanager.go:280-289). Deleting the
        meta-dataset itself is refused (dsmanager.go:242-244)."""
        if name == CORE_DATASET:
            raise ValueError(f"cannot delete {CORE_DATASET}")

        def step(meta):
            entry = meta["datasets"].pop(name, None)
            if entry is None:
                return None
            meta["counter"] += 1
            _append_dataset_event(meta, name, entry, meta["counter"],
                                  deleted=True)
            return meta["counter"]

        tick = self._mutate_meta(step)
        shutil.rmtree(os.path.join(self.log_dir, f"dataset={name}"), ignore_errors=True)
        if tick is not None:
            self._emit([CORE_DATASET], tick)

    def rename_dataset(self, name: str, new_name: str) -> None:
        """UpdateDataset with a new ID (dsmanager.go:108-110).

        Crash-safe ordering: the registry is committed FIRST (with a
        ``renamedFrom`` marker), the log partition is moved second, and
        the marker is cleared last. A crash between the steps leaves the
        marker in place; ``_recover_renames`` (run on every store open)
        completes the move from it. Moving before the registry write
        would strand the data under a name the registry doesn't know."""
        new_name = (new_name or "").strip()
        check_dataset_name(new_name)

        if name == CORE_DATASET:
            raise ValueError(f"cannot update {CORE_DATASET}")

        def step1(meta):
            if name not in meta["datasets"]:
                raise KeyError(name)
            if new_name in meta["datasets"] or new_name == CORE_DATASET:
                raise ValueError(f"dataset {new_name} already exists")
            entry = meta["datasets"].pop(name)
            entry["renamedFrom"] = name
            meta["datasets"][new_name] = entry
            # core entity follows the rename: tombstone the old id, then
            # recreate under the new one (dsmanager.go:209-233)
            meta["counter"] += 1
            _append_dataset_event(meta, name, entry, meta["counter"],
                                  deleted=True)
            meta["counter"] += 1
            _append_dataset_event(meta, new_name, entry, meta["counter"])
            return meta["counter"]

        tick = self._mutate_meta(step1)
        src = os.path.join(self.log_dir, f"dataset={name}")
        dst = os.path.join(self.log_dir, f"dataset={new_name}")
        if os.path.isdir(src) and not os.path.isdir(dst):
            shutil.move(src, dst)
        self._mutate_meta(
            lambda meta: meta["datasets"].get(new_name, {}).pop(
                "renamedFrom", None))
        self._emit([CORE_DATASET], tick)

    def _recover_renames(self) -> None:
        """Finish any rename whose directory move was interrupted: an
        entry still carrying ``renamedFrom`` moves its old partition
        under the new name (if not already moved), then drops the
        marker. Idempotent; runs under the registry lock."""
        def fix(meta):
            for new_name, entry in meta["datasets"].items():
                old = entry.pop("renamedFrom", None)
                if not old:
                    continue
                src = os.path.join(self.log_dir, f"dataset={old}")
                dst = os.path.join(self.log_dir, f"dataset={new_name}")
                if os.path.isdir(src) and not os.path.isdir(dst):
                    shutil.move(src, dst)

        self._mutate_meta(fix)

    def list_datasets(self) -> list[str]:
        return sorted(self._read_meta()["datasets"])

    def has_data(self, dataset: str) -> bool:
        """True iff committed log files exist for the dataset — robust to
        the crash window between the commit renames and the registry
        write (execute_transaction): data can be readable while the
        dataset is briefly absent from list_datasets(). Consumers that
        gate on prior state (fullsync tombstones, write-time dedup) must
        use this, not registry membership, or a crash in that window
        silently skips their diff against the existing data."""
        part = os.path.join(self.log_dir, f"dataset={dataset}")
        try:
            return any(fn.endswith(".parquet") for fn in os.listdir(part))
        except FileNotFoundError:
            return False

    def dataset_context(self, name: str, nsmgr=None) -> dict:
        """The dataset's ``@context`` object (DOCUMENTATION.md:187-245):
        restricted to the dataset's publicNamespaces when configured,
        otherwise the full registry."""
        from datahub_spark.namespaces import NamespaceManager

        nsmgr = nsmgr or NamespaceManager()
        meta = self._read_meta()["datasets"].get(name, {})
        public = meta.get("publicNamespaces") or []
        namespaces = nsmgr.context()
        if public:
            namespaces = {p: e for p, e in namespaces.items() if e in public}
        return {"id": "@context", "namespaces": namespaces}

    def next_recorded(self) -> int:
        """Monotonic txn-time analogue. Allocation is serialized
        (_mutate_meta), so concurrent transactions get distinct ticks."""
        def bump(meta):
            meta["counter"] += 1
            return meta["counter"]
        return self._mutate_meta(bump)

    # -- writes ----------------------------------------------------------------

    def store_entities(self, dataset: str, df: DataFrame, recorded: int | None = None,
                       skip_unchanged: bool = True) -> int:
        """Append a batch as one new version tick (dataset.go:216).

        ``skip_unchanged`` mirrors StoreEntities' write-time dedup
        (store_test.go:627 'Should only update entities if they are
        different'): rows whose (deleted, props, refs) payload equals the
        entity's current version are dropped before the append — one
        left-join against the latest view's digests, so repeated
        idempotent syncs don't grow the version log."""
        if skip_unchanged and self.has_data(dataset):
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
        return self.execute_transaction({dataset: df}, recorded)

    def execute_transaction(self, dataset_entities: dict[str, DataFrame], recorded: int | None = None) -> int:
        """Multi-dataset write (store.go:1707 ExecuteTransaction): stage
        every dataset's files (all Spark work happens here), then commit
        with fast per-file atomic renames in one tight loop, and only then
        update the registry. A failure during staging leaves no visible
        state; the commit window itself is metadata-only renames — a crash
        inside it can expose a subset of datasets' new files (the reference
        holds a store-wide lock for true cross-dataset atomicity; a
        distributed analogue would use a table format's commit protocol).

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
        rec = recorded if recorded is not None else self.next_recorded()
        staged: list[tuple[str, str]] = []
        stage_root = os.path.join(self.root, f"_staging-{uuid.uuid4().hex}")
        try:
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
                stage = os.path.join(stage_root, ds_name)
                out.write.mode("overwrite").parquet(stage)
                staged.append((ds_name, stage))
            for ds_name, stage in staged:
                dest = os.path.join(self.log_dir, f"dataset={ds_name}")
                os.makedirs(dest, exist_ok=True)
                for fn in os.listdir(stage):
                    if fn.endswith(".parquet"):
                        os.replace(os.path.join(stage, fn), os.path.join(dest, f"{rec}-{fn}"))
            for ds_name in dataset_entities:
                self.create_dataset(ds_name, _tick=rec)
        finally:
            shutil.rmtree(stage_root, ignore_errors=True)
        self._emit(list(dataset_entities), rec)
        return rec

    # -- reads -----------------------------------------------------------------

    def core_dataset_log(self) -> DataFrame:
        """The ``core.Dataset`` meta-log as an entity change DataFrame:
        one version per recorded lifecycle event (create / rename
        tombstone+create / delete tombstone), plus synthesized tick-0
        creates for datasets registered before event tracking existed.
        Composes with latest()/changes()/paging/jobs like any dataset."""
        meta = self._read_meta()
        events = list(meta.get("dataset_events") or [])
        seen = {ev["name"] for ev in events}
        for name in sorted(meta["datasets"]):
            if name not in seen and name != CORE_DATASET:
                events.append({"name": name, "recorded": 0,
                               "deleted": False,
                               "cfg": meta["datasets"][name]})
        rows = [_dataset_event_row(ev, i) for i, ev in enumerate(events)]
        return local_frame(self.spark, rows, ENTITY_SCHEMA)

    def log(self, datasets: list[str] | None = None) -> DataFrame:
        # the meta-dataset is served from the registry's event list when
        # addressed explicitly; whole-log scans stay purely physical so
        # analytics over the stored corpus never mix in catalog rows
        if datasets and CORE_DATASET in datasets:
            phys = [d for d in datasets if d != CORE_DATASET]
            core = self.core_dataset_log()
            return core.unionByName(self.log(phys)) if phys else core
        df = (
            self.spark.read.schema(ENTITY_SCHEMA)
            .option("basePath", self.log_dir)
            .parquet(self.log_dir)
        )
        if datasets:
            df = df.filter(F.col("dataset").isin(datasets))  # partition pruning
        return df

    def log_files(self, datasets: list[str]) -> set[str]:
        """Absolute paths of the committed log files of ``datasets``, one
        directory listing each. A commit only adds files; compaction,
        delete and rename replace or remove them, so a path still listed
        holds the rows it held when it was first read."""
        out: set[str] = set()
        for ds in datasets:
            part = os.path.join(os.path.abspath(self.log_dir), f"dataset={ds}")
            try:
                names = os.listdir(part)
            except FileNotFoundError:
                continue
            out.update(os.path.join(part, fn) for fn in names
                       if fn.endswith(".parquet"))
        return out

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
        """Highest ``recorded`` committed to ``datasets``, 0 when nothing
        is: read on the driver from the column statistics in the log
        files' parquet footers (``core.Dataset`` from the registry's
        events), so it runs no Spark job. A row group written without
        statistics counts as nothing, which can only lower the value."""
        import pyarrow.parquet as pq

        best = 0
        if CORE_DATASET in datasets:
            events = self._read_meta().get("dataset_events") or []
            best = max((int(ev["recorded"]) for ev in events), default=0)
        for path in self.log_files(datasets):
            meta = pq.read_metadata(path)
            col = meta.schema.names.index("recorded")
            for i in range(meta.num_row_groups):
                stats = meta.row_group(i).column(col).statistics
                if stats is not None and stats.has_min_max:
                    best = max(best, stats.max)
        return best

    def log_frame(self, paths) -> DataFrame:
        """The rows of exactly the log files ``paths`` (as log_files
        returns them) as one frame, like ``log()``'s: the Spark twin of
        log_rows."""
        return (self.spark.read.schema(ENTITY_SCHEMA)
                .option("basePath", os.path.abspath(self.log_dir))
                .parquet(*sorted(paths)))

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
        GarbageCollector over Badger's value log). The parquet analog of
        "reclaim dead space without changing visible data" is removing
        the leftovers of compactions that crashed between staging and
        swap: ``_compact-*`` staging dirs under the root and
        ``dataset=X.old-*`` rollback dirs under the log. Both are
        invisible to readers (never listed in the registry, never
        matched by the ``dataset=`` partition glob), so deleting them is
        semantically a no-op — except where a compaction crashed between
        its two renames: a registered dataset whose partition is missing
        gets its newest ``.old-*`` back first. Returns the removed
        paths."""
        removed: list[str] = []
        registered = set(self.list_datasets())
        with _root_lock(self.root):
            olds = sorted((os.path.join(self.log_dir, n) for n in os.listdir(self.log_dir)
                           if n.startswith("dataset=") and ".old-" in n),
                          key=os.path.getmtime, reverse=True)
            for old in olds:
                part = old[:old.rindex(".old-")]
                ds = os.path.basename(part)[len("dataset="):]
                if ds in registered and not os.path.isdir(part):
                    os.replace(old, part)
            for name in os.listdir(self.root):
                if name.startswith("_compact-"):
                    path = os.path.join(self.root, name)
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
            for name in os.listdir(self.log_dir):
                if ".old-" in name and name.startswith("dataset="):
                    path = os.path.join(self.log_dir, name)
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed

    def compact(self, dataset: str, gc_horizon: int | None = None,
                clean_deleted_entities: bool = False) -> None:
        """Physical compaction (DOCUMENTATION.md:2349): apply the
        'deduplicate' strategy view to the dataset's log and atomically
        swap the rewritten files in. It drops successive identical
        versions; a gc_horizon additionally drops non-newest versions
        recorded at or before the horizon; ``clean_deleted_entities``
        additionally purges every version of entities whose latest state
        is a tombstone (garbagecollector.go Cleandeleted, run by the
        reference's scheduled_gc). Readers are never exposed to partial
        state: the new files are staged, then the partition directory is
        swapped with two renames."""
        log = self.log([dataset])
        compacted = compact_deduplicate(log)
        if gc_horizon is not None:
            compacted = retention_gc(compacted, gc_horizon)
        if clean_deleted_entities:
            compacted = clean_deleted(compacted)
        part = os.path.join(self.log_dir, f"dataset={dataset}")
        stage = os.path.join(self.root, f"_compact-{uuid.uuid4().hex}")
        compacted.drop("dataset").write.mode("overwrite").parquet(stage)
        old = part + f".old-{uuid.uuid4().hex}"
        with _root_lock(self.root):  # vacuum() never sees the gap between
            os.replace(part, old)
            try:
                os.replace(stage, part)
            except OSError:
                os.replace(old, part)  # roll back
                raise
        shutil.rmtree(old, ignore_errors=True)
        # no version is added: listeners get the store's current tick
        self._emit([dataset], self._read_meta()["counter"])

    def backup(self, dest: str) -> None:
        """Backup (internal/server/backup.go analogue): the store is an
        immutable file log + one registry sidecar, so a consistent backup
        is a plain copy — files are never rewritten after commit."""
        os.makedirs(dest, exist_ok=True)
        shutil.copy2(self.meta_path, os.path.join(dest, "datasets.json"))
        dst_log = os.path.join(dest, "log")
        shutil.copytree(self.log_dir, dst_log, dirs_exist_ok=True)

    @classmethod
    def restore(cls, spark: SparkSession, backup_dir: str, root: str) -> "EntityStore":
        os.makedirs(root, exist_ok=True)
        shutil.copy2(os.path.join(backup_dir, "datasets.json"), os.path.join(root, "datasets.json"))
        shutil.copytree(os.path.join(backup_dir, "log"), os.path.join(root, "log"), dirs_exist_ok=True)
        return cls(spark, root)


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
