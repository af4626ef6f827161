"""Script-string transform surface — the reference's JavascriptTransform
(internal/jobs/transform.go:46-123 helper functions, :230-255 host
functions; DOCUMENTATION.md:1138-1812) as a *source-code string* entry
point for the jobs engine.

The reference accepts base64 ES6 defining ``transform_entities(entities)``
and executes it per batch in a goja sandbox with a fixed built-in
vocabulary (GetId/SetProperty/Query/...). This engine runs the same
JavaScript, raw or base64, so existing job configs run verbatim. Scripts
run on a bundled interpreter for the transform dialect (datahub_spark.js;
no JS runtime ships with Spark or pyspark) over dict entities
(``{ID, Recorded, IsDeleted, Properties, References}``,
entity.go/DOCUMENTATION.md:47-107). Every script source — transforms,
query scripts, virtual datasets and ``track_queries`` — goes through one
loader, ``load_entry``. Python code plugs in as a callable instead
(``transforms.python_transform``).

Execution model (the 100 TB design):
- The script runs ONCE per Arrow batch inside ``mapInPandas`` — batch
  granularity like the reference's ``transformEntities`` call, but
  parallel across executors with no driver round-trip. Declarative
  transforms (datahub_spark.transforms) remain the hot path; this is the
  escape hatch with a stable user-facing contract.
- ``Query``/``FindById`` run against BROADCAST lookup indexes built from
  dimension-sized datasets declared up front (``lookup=...``). The
  reference executes these against its local Badger store per call;
  distributed executors have no store, and per-row RPCs would be the
  classic scale killer. Joining against a big dataset belongs in
  ``transforms.enrich_via`` (a real shuffle join), and the docstring of
  ``lookup`` says so.
- ``AssertNamespacePrefix`` must return the same prefix on every
  executor with no coordination, so unknown expansions derive a
  content-addressed prefix (``ns_<md5[:8]>``) instead of the reference's
  sequential counter (store.go:289) — deterministic everywhere, stable
  across runs.

Scripts reach the host only through the built-in vocabulary, like the
reference's goja sandbox, so a script posted over HTTP cannot run Python.
"""

from __future__ import annotations

import base64
import binascii
import bisect
import hashlib
import uuid as _uuid
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from datahub_spark.model import ENTITY_COLUMNS, ENTITY_SCHEMA
from datahub_spark.namespaces import DEFAULT_NAMESPACES
from datahub_spark.session import local_frame

# script output schema: entity columns, all nullable — NewEntity rows
# carry NULL id-until-SetId and NULL (recorded, seq), which the sink
# stamps at commit time (jobs.py sink-commit stamping)
SCRIPT_OUTPUT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in ENTITY_SCHEMA.fields]
)


# --------------------------------------------------------------------------
# entity dict <-> row conversion
# --------------------------------------------------------------------------

def _as_dict(v):
    """Arrow hands MapType values to pandas as list-of-(k,v)-tuples; user
    code wants dicts. None -> {}."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return dict(v)
    return {k: val for k, val in v}


def _row_to_entity(row: dict | None) -> dict | None:
    """An entity row as the dict entity the built-ins hand to scripts: a
    fresh copy, so a script's edits stay in the script."""
    if row is None:
        return None
    refs = _as_dict(row.get("refs"))
    return {
        "ID": row.get("id"),
        "Recorded": row.get("recorded"),
        "Seq": row.get("seq"),
        "IsDeleted": bool(row.get("deleted")) if row.get("deleted") is not None else False,
        "Properties": _as_dict(row.get("props")),
        "References": {k: list(v) if v is not None else [] for k, v in refs.items()},
        "Dataset": row.get("dataset"),
    }


def _entity_to_row(e: dict) -> dict:
    from datahub_spark.js import UNDEFINED, js_to_string

    props = e.get("Properties") or {}
    refs = e.get("References") or {}

    def canon(v):
        # JS-sourced values: undefined -> NULL, numbers JS-stringified
        # (integral floats print bare — goja's int64 behavior)
        if v is None or v is UNDEFINED:
            return None
        return js_to_string(v) if isinstance(v, (bool, int, float)) else str(v)

    def _get(key):
        v = e.get(key)
        return None if v is UNDEFINED else v

    return {
        "id": _get("ID"),
        "recorded": _get("Recorded"),
        "seq": _get("Seq"),
        "deleted": bool(_get("IsDeleted") or False),
        # canonicalize: props values to strings, ref values to lists
        "props": {str(k): canon(v) for k, v in props.items()},
        "refs": {
            str(k): ([canon(x) for x in v] if isinstance(v, (list, tuple))
                     else [canon(v)])
            for k, v in refs.items()
        },
        "dataset": _get("Dataset"),
    }


# --------------------------------------------------------------------------
# built-in vocabulary (transform.go:46-123 JS helpers + :230-255 host fns)
# --------------------------------------------------------------------------

def make_builtins(namespaces: dict[str, str], index: dict | None = None,
                  log_sink: list | None = None,
                  txn_sink: list | None = None,
                  query_result_sink: list | None = None) -> dict:
    """The reference's transform built-ins over dict entities. ``index``
    is the broadcast lookup index (``build_lookup_index``); its rows are
    handed to the script as dict entities (``_row_to_entity``).

    ``txn_sink``: batch-buffered transaction shim. The reference's
    NewTransaction/ExecuteTransaction (transform.go:359-372,
    store.go:1687-1705) write to OTHER datasets mid-transform against the
    local store; distributed executors have no store, and a per-row write
    RPC is the classic scale killer — so ExecuteTransaction BUFFERS
    (dataset, entity) pairs into txn_sink and script_transform emits them
    with the batch output (the `dataset` column routes them; one sink
    commit per batch keeps the reference's transaction granularity).
    ``query_result_sink``: same shape for WriteQueryResult
    (transform.go:322) — objects buffer and surface as rows."""
    ns = dict(namespaces)
    index = index or _EMPTY_INDEX
    scopes: dict = {}

    def _key(prefix, name):
        return f"{prefix}:{name}"

    def GetId(entity):
        return None if entity is None else entity.get("ID")

    def SetId(entity, eid):
        if entity is not None:
            entity["ID"] = eid

    def GetProperty(entity, prefix, name, default=None):
        if entity is None or entity.get("Properties") is None:
            return default
        v = entity["Properties"].get(_key(prefix, name))
        return default if v is None else v

    def SetProperty(entity, prefix, name, value):
        if entity is None or entity.get("Properties") is None:
            return
        entity["Properties"][_key(prefix, name)] = value

    def RemoveProperty(entity, prefix, name):
        if entity is None or entity.get("Properties") is None:
            return
        entity["Properties"].pop(_key(prefix, name), None)

    def RenameProperty(entity, old_prefix, old_name, new_prefix, new_name):
        # reference composes Get+Set+Remove (transform.go:122-129)
        if entity is None:
            return
        value = GetProperty(entity, old_prefix, old_name)
        SetProperty(entity, new_prefix, new_name, value)
        RemoveProperty(entity, old_prefix, old_name)

    def GetReference(entity, prefix, name, default=None):
        if entity is None or entity.get("References") is None:
            return default
        v = entity["References"].get(_key(prefix, name))
        return default if v is None else v

    def AddReference(entity, prefix, name, value):
        if entity is None or entity.get("References") is None:
            return
        entity["References"][_key(prefix, name)] = value

    def GetDeleted(entity):
        return None if entity is None else entity.get("IsDeleted")

    def SetDeleted(entity, deleted):
        if entity is not None:
            entity["IsDeleted"] = bool(deleted)

    def PrefixField(prefix, field):
        return f"{prefix}:{field}"

    def NewEntity():
        return {"ID": None, "Recorded": None, "Seq": None, "IsDeleted": False,
                "Properties": {}, "References": {}, "Dataset": None}

    def NewEntityFrom(entity, add_type=False, copy_props=False,
                      copy_refs=False):
        """Helper-JS NewEntityFrom (transform.go:138-166): new entity
        carrying the source's ID and IsDeleted; optionally the rdf:type
        reference and/or copies of all props/refs."""
        out = NewEntity()
        if entity is None:
            return out
        out["ID"] = entity.get("ID")
        out["IsDeleted"] = entity.get("IsDeleted", False)
        if add_type:
            try:
                rdf = GetNamespacePrefix(
                    "http://www.w3.org/1999/02/22-rdf-syntax-ns#")
            except KeyError:
                rdf = None
            if rdf is not None:
                t = GetReference(entity, rdf, "type")
                if t is not None:
                    AddReference(out, rdf, "type", t)
        if copy_props:
            out["Properties"].update(entity.get("Properties") or {})
        if copy_refs:
            for k, v in (entity.get("References") or {}).items():
                out["References"][k] = list(v) if isinstance(v, (list, tuple)) else v
        return out

    def NewTransaction():
        """Reference Transaction (store.go:1687): user code fills
        txn["DatasetEntities"][dataset] = [entities] and may call
        txn.AssertDataset(name). AssertDataset records the name for
        parity but needs no action here — this engine's store creates
        datasets on first write (store.store_entities), so assertion is
        implicit."""
        txn = {"DatasetEntities": {}, "_asserted": []}
        txn["AssertDataset"] = txn["_asserted"].append
        return txn

    def ExecuteTransaction(txn):
        """Batch-buffered (see make_builtins docstring): stages every
        (dataset, entity) pair for emission with the batch output. In
        the emitted rows the target dataset carries an ``@txn:`` prefix
        so the jobs engine can route them to their own datasets (the
        reference's Store.ExecuteTransaction semantics) while returned
        entities flow to the job sink — Job.run strips the marker and
        commits per target dataset."""
        if txn_sink is None:
            raise RuntimeError(
                "ExecuteTransaction is only available inside a "
                "script_transform batch (entities staged there commit "
                "with the batch); driver-side code should use "
                "store.execute_transaction")
        for ds, ents in (txn.get("DatasetEntities") or {}).items():
            for e in ents or []:
                txn_sink.append((ds, e))
        return None

    def WriteQueryResult(obj):
        if query_result_sink is None:
            raise RuntimeError(
                "WriteQueryResult is only available under "
                "run_query_script, which collects the written objects")
        query_result_sink.append(obj)
        return None

    def AsEntity(obj):
        # rows are dict entities already; pass through dict-shaped input
        return obj if isinstance(obj, dict) else None

    def ToString(obj):
        if obj is None:
            return None
        return str(obj)

    def Log(msg, *args):
        if log_sink is not None:
            log_sink.append(str(msg))

    def UUID():
        # reference: uuid.NewV4 (nondeterministic there too)
        return str(_uuid.uuid4())

    def Timing(name, *a, **kw):  # statsd no-op (reference uses NoOpClient in tests)
        return None

    def GetNamespacePrefix(expansion):
        for prefix, exp in ns.items():
            if exp == expansion:
                return prefix
        raise KeyError(expansion)

    def AssertNamespacePrefix(expansion):
        # deterministic, coordination-free (see module docstring)
        for prefix, exp in ns.items():
            if exp == expansion:
                return prefix
        prefix = "ns_" + hashlib.md5(expansion.encode()).hexdigest()[:8]
        ns[prefix] = expansion
        return prefix

    def FindById(entity_id):
        """ByID (transform.go): latest entity from the declared lookup
        datasets, or None."""
        return _row_to_entity(index["by_id"].get(entity_id))

    def Query(starting_entities, predicate, inverse_flag=False, datasets=None):
        """transform.Query: [start, predicate, relatedEntity] triples
        (``related``)."""
        return [[start, p, _row_to_entity(row)] for start, p, row in related(
            index, starting_entities, predicate, inverse_flag, datasets, scopes)]

    def GetDatasetChanges(dataset, since=0, limit=None):
        """DatasetChanges host fn: the declared lookup dataset's change
        rows with recorded > since, in version order. NOT carried over:
        NewTransaction/ExecuteTransaction/WriteQueryResult — per-row
        store writes from inside a distributed transform are the classic
        scale anti-pattern; this engine's equivalent is returning the
        entities (the sink commits one transaction per batch) or
        driver-side store.execute_transaction."""
        view = index["changes"].get(dataset, EMPTY_VIEW)
        rows = [_row_to_entity(e) for e in view.versions
                if (e["recorded"] or 0) > since]
        return rows[:limit] if limit is not None else rows

    def PagedQuery(params, page_size=None, callback=None):
        """transform.go:462-534 PagedQuery(query, pageSize, forEach).
        params: StartURIs (reference name; StartingEntities accepted),
        Via (or Predicate; ``"*"`` = any), Inverse, Datasets, and
        Continuations to RESUME an earlier stopped query. Pages of
        ``page_size`` go to the callback; a falsy callback return stops
        iteration and the un-delivered remainder comes back as the
        continuation value (pass it as params.Continuations to resume).
        Fully drained returns [] — which stringifies to "" like the
        reference's nil cursor slice does in JS ("cont:"+r fixtures).
        Called with only params, returns the full triple list (legacy
        two-arg shim shape)."""
        conts = params.get("Continuations")
        if conts:
            pending = list(conts)
        else:
            pending = Query(
                params.get("StartURIs",
                           params.get("StartingEntities", [])),
                params.get("Via", params.get("Predicate")),
                params.get("Inverse", False),
                params.get("Datasets"),
            )
        if callback is None:
            return pending
        size = int(page_size) if page_size else max(len(pending), 1)
        while pending:
            page, pending = pending[:size], pending[size:]
            keep_going = callback(page)
            if not keep_going:  # falsy (false/undefined/None) stops
                return pending
        return []

    return {
        "GetId": GetId, "SetId": SetId,
        "GetProperty": GetProperty, "SetProperty": SetProperty,
        "RemoveProperty": RemoveProperty, "RenameProperty": RenameProperty,
        "GetReference": GetReference, "AddReference": AddReference,
        "GetDeleted": GetDeleted, "SetDeleted": SetDeleted,
        "PrefixField": PrefixField, "NewEntity": NewEntity,
        "NewEntityFrom": NewEntityFrom,
        "NewTransaction": NewTransaction,
        "ExecuteTransaction": ExecuteTransaction,
        "WriteQueryResult": WriteQueryResult,
        "AsEntity": AsEntity, "ToString": ToString, "Log": Log,
        "UUID": UUID, "Timing": Timing,
        "GetNamespacePrefix": GetNamespacePrefix,
        "AssertNamespacePrefix": AssertNamespacePrefix,
        "FindById": FindById, "Query": Query, "PagedQuery": PagedQuery,
        "GetDatasetChanges": GetDatasetChanges,
    }


# --------------------------------------------------------------------------
# compilation + execution
# --------------------------------------------------------------------------

def maybe_b64_decode(code: str) -> str:
    """The reference's job configs carry the transform source base64-
    encoded (``{"Type": "JavascriptTransform", "Code": <b64>}``,
    transform.go:parseTransform/NewJavascriptTransform). Decode if the
    string is valid base64 of utf-8 text; raw source passes through
    (source always contains characters outside the base64 alphabet)."""
    stripped = "".join(code.split())
    try:
        return base64.b64decode(stripped, validate=True).decode("utf-8")
    except (binascii.Error, ValueError, UnicodeDecodeError):
        return code


def load_entry(code: str, name: str, host: dict, required: bool = True):
    """The one script loader: decode ``code`` (raw or base64), run it on
    the bundled JS interpreter with ``host`` bound as globals, and return
    its top-level function ``name``. Raises ValueError naming the JS
    error (a parse error or a top-level throw) or the missing entry
    point; an absent entry that is not ``required`` returns None."""
    from datahub_spark import js as _js

    try:
        fn = _js.run_program(maybe_b64_decode(code), host=host).get(name)
    except _js.JSError as exc:
        raise ValueError(f"script does not load as JavaScript: {exc}") from exc
    if fn is None and required:
        raise ValueError(f"script must define function {name}")
    return fn


def compile_script(code: str, namespaces: dict[str, str] | None = None,
                   index: dict | None = None, log_sink: list | None = None,
                   txn_sink: list | None = None,
                   query_result_sink: list | None = None):
    """Load ``code`` with the built-in vocabulary bound and return its
    ``transform_entities`` callable. Raises ValueError on a script that
    does not load or lacks the entry point — validation happens
    driver-side, before any task runs."""
    return load_entry(code, "transform_entities", make_builtins(
        namespaces or DEFAULT_NAMESPACES, index, log_sink, txn_sink,
        query_result_sink))


# Hard cap on the lookup index: Query/FindById indexes are collected to
# the driver and broadcast — past this size the job belongs on the
# shuffle-join path (transforms.enrich_via), not in driver memory.
LOOKUP_INDEX_MAX_ROWS = 200_000


def build_lookup_index(*frames: DataFrame,
                       max_rows: int = LOOKUP_INDEX_MAX_ROWS) -> dict:
    """Collect dimension-sized entity frames into the Query/FindById
    index. DIMENSION-SIZED ONLY: this is a driver collect + broadcast,
    the batch analogue of the reference resolving queries against its
    local store. Enriching against a large dataset is a join — use
    transforms.enrich_via, which shuffles properly. Enforced: more than
    ``max_rows`` total rows raises instead of silently OOMing the driver
    (the limit+1 probe never materializes the oversized frame). Each
    frame is read as one partition: the rows go to the driver anyway,
    and a limit over many partitions scales its scan up one Spark job
    at a time, where one partition collects in one job. Rows cross as
    Arrow, which keeps each map's entry order as stored, as
    ``EntityStore.log_rows`` does for folded files."""
    rows: list = []
    for df in frames:
        cols = [c for c in ENTITY_COLUMNS if c in df.columns]
        rows.extend(df.select(*cols).coalesce(1)
                    .limit(max_rows - len(rows) + 1).toArrow().to_pylist())
        if len(rows) > max_rows:
            raise IndexTooBig(max_rows)
    return fold_lookup_index(_EMPTY_INDEX, rows, max_rows)


def fold_lookup_index(index: dict, rows,
                      max_rows: int = LOOKUP_INDEX_MAX_ROWS) -> dict:
    """``index`` with the entity versions ``rows`` (dicts keyed by entity
    column) folded in — equal to build_lookup_index over the rows
    ``index`` came from plus ``rows``. Returns a new index and leaves
    ``index`` as it is, so a reader still holding it sees no change;
    untouched entities, edge lists and dataset views are shared, not
    copied. The cap counts the versions ``index`` already holds, and
    ``rows`` is read no further than one row past it.

    An index is ``{"by_id": {id: row}, "inverse": {(predicate, target):
    [id, ...]}, "changes": {dataset: DatasetView}}``; every row in it is
    a ``stored_row``."""
    remaining = max_rows - sum(len(v) for v in index["changes"].values())
    ents: list = []
    for row in rows:
        if len(ents) >= remaining:
            raise IndexTooBig(max_rows)
        ents.append(stored_row(row))
    added: dict = {}
    for ent in ents:
        added.setdefault(ent["dataset"], []).append(ent)
    changes = dict(index["changes"])
    for ds, new in added.items():
        changes[ds] = DatasetView.of(
            sorted(changes.get(ds, EMPTY_VIEW).versions + new, key=_position))
    by_id, inverse = _fold_latest(index["by_id"], index["inverse"], ents)
    return {"by_id": by_id, "inverse": inverse, "changes": changes}


class IndexTooBig(ValueError):
    """The lookup index would hold more than its row cap."""

    def __init__(self, max_rows: int):
        super().__init__(
            f"lookup index exceeds {max_rows} rows: Query/FindById "
            "lookups are for dimension-sized datasets only — join "
            "large datasets with transforms.enrich_via (a distributed "
            "shuffle join) instead, or raise max_rows explicitly")


def stored_row(row: dict) -> dict:
    """An entity row read from Spark or parquet as the lookup index and
    the served routes hold it: keyed by entity column, maps as dicts
    (Arrow hands them over as lists of key/value pairs) in their stored
    entry order, NULLs as stored."""
    out = {c: row.get(c) for c in ENTITY_COLUMNS}
    for c in ("props", "refs"):
        if out[c] is not None:
            out[c] = dict(out[c])
    return out


def _version(row: dict) -> tuple:
    return (row["recorded"] or 0, row["seq"] or 0)


def _position(row: dict) -> tuple:
    return (*_version(row), row["id"] or "")


@dataclass(frozen=True)
class DatasetView:
    """One dataset's versions in the lookup index, with the orders the
    served pages read them in."""
    versions: list  # every version, by (recorded, seq, id)
    latest: dict    # id -> its newest version, tombstones included
    newest: list    # latest's values, by (recorded, seq, id)
    alive: list     # latest's live values, by id

    @classmethod
    def of(cls, versions: list) -> "DatasetView":
        latest = {e["id"]: e for e in versions}
        newest = [e for e in versions if latest[e["id"]] is e]
        alive = sorted((e for e in newest if not e["deleted"]), key=lambda e: e["id"] or "")
        return cls(versions, latest, newest, alive)

    def __len__(self) -> int:
        return len(self.versions)

    def changes(self, since, limit: int, reverse: bool, latest_only: bool) -> list:
        """One /changes page of versions after ``since`` (None, a recorded
        watermark or a (recorded, seq, id) position; before it when
        ``reverse``), found by bisection."""
        versions = self.newest if latest_only else self.versions
        key = (lambda e: e["recorded"] or 0) if isinstance(since, int) else _position
        if reverse:
            hi = len(versions) if since is None else bisect.bisect_left(versions, since, key=key)
            return versions[max(hi - limit, 0):hi][::-1]
        lo = 0 if since is None else bisect.bisect_right(versions, since, key=key)
        return versions[lo:lo + limit]

    def entities(self, from_id: str | None, limit: int) -> list:
        """One /entities page of live latest versions after ``from_id``."""
        lo = 0 if from_id is None else \
            bisect.bisect_right(self.alive, from_id, key=lambda e: e["id"] or "")
        return self.alive[lo:lo + limit]


EMPTY_VIEW = DatasetView.of([])
_EMPTY_INDEX = {"by_id": {}, "inverse": {}, "changes": {}}


def related(index: dict, starts, predicate, inverse: bool = False,
            datasets=None, scopes: dict | None = None) -> list:
    """transform.Query over the lookup index: ``[start, predicate, row]``
    triples. Outgoing: follow refs[predicate] of each start to the
    target's row, or a row holding only the id when the index does not
    hold the target (the reference returns open-world URIs the same
    way). Inverse: the rows whose refs[predicate] contains the start id.
    A predicate of ``"*"`` (or None) traverses EVERY predicate, like the
    reference's Via ``*`` (store.go ToRelatedFrom). ``datasets`` scopes
    both the start entities and the related ones to those datasets, like
    the served traversal: their latest versions are folded on first use
    and kept in ``scopes``."""
    if datasets:
        key = tuple(sorted(set(datasets)))
        scopes = {} if scopes is None else scopes
        if key not in scopes:
            views = index["changes"]
            scopes[key] = _fold_latest({}, {}, (
                e for ds in key for e in views.get(ds, EMPTY_VIEW).latest.values()))
        ids, edges = scopes[key]
    else:
        ids, edges = index["by_id"], index["inverse"]
    wildcard = predicate in (None, "*")
    out = []
    for start in starts:
        if inverse:
            if wildcard:
                hits = sorted((p, src) for (p, tgt), srcs in edges.items()
                              if tgt == start for src in srcs)
            else:
                hits = [(predicate, src) for src in edges.get((predicate, start), [])]
            out.extend([start, p, ids[src]] for p, src in hits)
            continue
        refs = (ids.get(start) or {}).get("refs") or {}
        for p, targets in sorted(refs.items()):
            if wildcard or p == predicate:
                out.extend([start, p, ids.get(t) or stored_row({"id": t})]
                           for t in targets or ())
    return out


def lookup_entity(views: dict, eid: str, datasets=None, merge: bool = True) -> dict | None:
    """``eid`` looked up in an index's dataset ``views`` (its
    ``changes``) as ``EntityStore.get_entity`` finds it: its live latest
    partials folded in ``store._partial_cmp`` order with
    ``merge_partials``' rules (a later non-NULL value wins a key), or
    without ``merge`` the newest of them; None when none is live."""
    alive = sorted((v.latest[eid] for ds, v in views.items()
                    if eid in v.latest and not v.latest[eid]["deleted"]
                    and (not datasets or ds in datasets)),
                   key=lambda e: (*_version(e), e["dataset"]))
    if not alive:
        return None
    if not merge:
        return alive[-1]
    props: dict = {}
    refs: dict = {}
    for ent in alive:
        for acc, part in ((props, ent["props"]), (refs, ent["refs"])):
            for k, v in (part or {}).items():
                if v is not None or k not in acc:
                    acc[k] = v
    return dict(alive[-1], deleted=False, props=props, refs=refs, dataset="*merged*")


def _edges(ent: dict | None):
    for pred, targets in ((ent or {}).get("refs") or {}).items():
        for t in targets or ():
            yield (pred, t)


def _fold_latest(by_id: dict, inverse: dict, ents) -> tuple[dict, dict]:
    """``(by_id, inverse)`` with ``ents`` folded in, as new dicts. Per id
    the version with the greatest (recorded, seq, dataset) wins — the
    order store.merge_partials folds partials in — and a later ent wins
    a full tie. ``inverse`` maps (predicate, target) to the sorted ids
    whose winning version references the target."""
    by_id = dict(by_id)
    replaced: dict = {}
    for ent in ents:
        prev = by_id.get(ent["id"])
        if prev is None or (*_version(ent), ent["dataset"] or "") >= \
                (*_version(prev), prev["dataset"] or ""):
            replaced.setdefault(ent["id"], prev)
            by_id[ent["id"]] = ent
    added: dict = {}
    touched = set()
    for eid, prev in replaced.items():
        touched.update(_edges(prev))
        for edge in _edges(by_id[eid]):
            added.setdefault(edge, []).append(eid)
    touched.update(added)
    inverse = dict(inverse)
    for edge in touched:
        srcs = [s for s in inverse.get(edge, ()) if s not in replaced]
        srcs.extend(added.get(edge, ()))
        if srcs:
            inverse[edge] = sorted(srcs)  # deterministic result order
        else:
            inverse.pop(edge, None)
    return by_id, inverse


# Per-worker-process compiled-script cache: tasks in the same Python
# worker reuse the loaded entry point instead of re-running the
# source per batch-iterator. Keyed by a CONTENT hash of
# (code, namespaces, index) — repeat script_transform calls with the
# same binding hit the same entry (a uuid-per-call key grew one
# permanently-retained env, broadcast index included, per invocation in
# every long-lived worker) — and bounded LRU so distinct scripts can't
# accumulate without limit either.
_FN_CACHE: "dict[str, object]" = {}
_FN_CACHE_MAX = 16


def _cache_get(key: str, build):
    fn = _FN_CACHE.pop(key, None)
    if fn is None:
        fn = build()
    _FN_CACHE[key] = fn  # (re)insert at LRU tail
    while len(_FN_CACHE) > _FN_CACHE_MAX:
        _FN_CACHE.pop(next(iter(_FN_CACHE)))
    return fn


def _index_digest(code: str, ns: dict, index: dict | None) -> str:
    """Content key for the worker fn-cache. Deterministic over equal
    content; an equal-content index that happens to repr differently
    only costs a recompile (false-sharing is impossible)."""
    h = hashlib.md5()
    h.update(code.encode())
    h.update(repr(sorted(ns.items())).encode())
    if index is not None:
        versions = {ds: v.versions for ds, v in index["changes"].items()}
        for part in (index["by_id"], index["inverse"], versions):
            # keys by repr: an edge to a NULL ref element has a None target
            h.update(repr(sorted(part.items(), key=lambda kv: repr(kv[0]))).encode())
    return h.hexdigest()


def script_transform(df: DataFrame, code: str, *,
                     lookup: list[DataFrame] | None = None,
                     namespaces: dict[str, str] | None = None) -> DataFrame:
    """Run a user script string over an entity DataFrame, batch-at-a-time
    (JavascriptTransform analogue; see module docstring). The script may
    mutate, drop, or emit entities — the returned list IS the output
    batch. Output schema is the canonical entity schema; recorded/seq
    left None by the script are stamped by the sink at commit time
    (jobs.py sink-commit stamping), matching the reference's StoreEntities
    store-time stamp."""
    compile_script(code, namespaces)  # fail fast, driver-side
    ns = dict(namespaces or DEFAULT_NAMESPACES)
    index = build_lookup_index(*lookup) if lookup else None
    sc = df.sparkSession.sparkContext
    token = _index_digest(code, ns, index)
    bc = sc.broadcast({"ns": ns, "index": index, "code": code, "token": token})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payload = bc.value

        def build():
            sink: list = []
            return (compile_script(payload["code"], payload["ns"],
                                   payload["index"], txn_sink=sink), sink)

        fn, txn_sink = _cache_get(payload["token"], build)
        for pdf in batches:
            ents = [_row_to_entity(r) for r in pdf.to_dict("records")]
            txn_sink.clear()
            out = fn(ents)
            rows = [_entity_to_row(e) for e in (out or [])]
            # transaction-staged entities ride along, marked for routing
            # (see make_builtins ExecuteTransaction)
            for ds, ent in txn_sink:
                row = _entity_to_row(ent)
                row["dataset"] = f"@txn:{ds}"
                rows.append(row)
            txn_sink.clear()
            yield pd.DataFrame(rows, columns=ENTITY_COLUMNS)

    return df.mapInPandas(run, schema=SCRIPT_OUTPUT_SCHEMA)


def make_script_transform(code: str, *, lookup: list[DataFrame] | None = None,
                          namespaces: dict[str, str] | None = None):
    """A jobs-engine Transform (DataFrame -> DataFrame callable) from a
    JavaScript string (raw or base64, the reference job-config wire
    format; see load_entry) — the analogue of a job
    config's ``{"Type": "JavascriptTransform", "Code": ...}`` block.
    Validates the script immediately (driver-side), not at first job
    run. The returned callable carries ``may_stage_transactions`` so
    Job.run only pays the transaction-routing split (an extra plan
    execution) for scripts that can actually call ExecuteTransaction."""
    decoded = maybe_b64_decode(code)
    compile_script(decoded, namespaces)

    def transform(df: DataFrame) -> DataFrame:
        return script_transform(df, decoded, lookup=lookup,
                                namespaces=namespaces)

    transform.may_stage_transactions = "ExecuteTransaction" in decoded
    return transform


def run_query_script(spark: SparkSession, code: str, *,
                     lookup: list[DataFrame] | None = None,
                     index: dict | None = None,
                     namespaces: dict[str, str] | None = None,
                     entry: str = "do_query") -> list:
    """Driver-side script-query runner — the reference's javascript
    query endpoint (transform.go:561 ExecuteQuery; WriteQueryResult
    writes objects to the response stream). The script defines
    ``do_query()`` and calls WriteQueryResult(obj)
    per result; returns the written objects in order. Runs DRIVER-side
    against the broadcast lookup index — built from ``lookup`` frames or
    passed pre-built via ``index`` (query scripts are interactive,
    bounded-output by construction); set-oriented querying over big data
    belongs in datahub_spark.query / queries."""
    results: list = []
    if index is None:
        index = build_lookup_index(*lookup) if lookup else None
    load_entry(code, entry, make_builtins(
        namespaces or DEFAULT_NAMESPACES, index, query_result_sink=results))()
    return results


# --------------------------------------------------------------------------
# script-built virtual datasets (BuildEntities + Emit host contract,
# transform.go:578-600)
# --------------------------------------------------------------------------

class ScriptVirtualSource:
    """A virtual dataset whose pages are produced by a user script
    defining ``build_entities(params, since, limit)`` that calls
    ``Emit(entity)`` and returns the next continuation token — the
    reference's script-backed proxy dataset contract (transform.go
    BuildEntities / Runtime.Set("Emit", ...)).

    The script runs DRIVER-side per read: this surface exists for
    API-backed incremental feeds (the reference's use), which are
    small-per-page by construction — paging is the scale mechanism, via
    the since/limit/token loop the jobs engine already drives.
    Generating a LARGE dataset belongs in VirtualDatasetSource with a
    distributed (spark.range-based) builder, not a per-entity Emit loop.

    A read returns the script's return value as the next token, verbatim
    (a number, a string cursor, any JSON value; ``undefined`` becomes
    None): it derives from the page the script emitted, so the jobs
    engine stores it as is.
    """

    def __init__(self, spark: SparkSession, code: str, params: dict | None = None,
                 namespaces: dict[str, str] | None = None, dataset: str = "virtual"):
        self.spark = spark
        self.code = code
        self.params = params or {}
        self.dataset = dataset
        env = make_builtins(namespaces or DEFAULT_NAMESPACES)
        self._emitted: list[dict] = []
        env["Emit"] = self._emitted.append
        self._fn = load_entry(code, "build_entities", env)

    def read(self, token=None, limit: int | None = None) -> tuple[DataFrame, object]:
        from datahub_spark.js import UNDEFINED

        self._emitted.clear()
        next_token = self._fn(self.params, 0 if token is None else token, limit)
        rows = [_entity_to_row(e) for e in self._emitted]
        for r in rows:
            if r["dataset"] is None:
                r["dataset"] = self.dataset
        return local_frame(
            self.spark, [tuple(r[c] for c in ENTITY_COLUMNS) for r in rows],
            SCRIPT_OUTPUT_SCHEMA), None if next_token is UNDEFINED else next_token
