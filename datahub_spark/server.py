"""Serve the UDA protocol from an EntityStore — the reference's dataset
HTTP surface (internal/web/datasethandler.go; fullsync lease:
internal/server/dataset.go:81-207), so a peer datahub (or this repo's
own jobs.HttpDatasetSource) can sync datasets OUT of this engine.

Endpoints (wire format: JSON array ``[@context, entity...,
{"id":"@continuation","token":...}]``):

  GET  /datasets                                   dataset list
  GET  /datasets/{ds}/entities?from=&limit=        latest view, paged
  GET  /datasets/{ds}/changes?since=&limit=&latestOnly=
                                                   change log, paged
  POST /datasets/{ds}/entities                     store batch; honors the
       fullsync lease headers (universal-data-api-full-sync-start /
       -id / -end, datasethandler.go:778-780) with 409/410 semantics

Execution model / scale: pages are key-set paginated (strictly after the
token's position, never a global offset). While the store holds at most
``index_max_rows`` versions, pages, ``entityId`` lookups, traversals and
the dedup of plain writes are answered from the driver-held lookup index
that follows the store's commits (``UdaServer._query_index``), with no
Spark job: ``script.fold_lookup_index`` keeps each version as its stored
row (``script.stored_row``) and each dataset's pages in a
``script.DatasetView``. Past the cap each is ONE bounded Spark job
(order-by + strictly-after filter + limit) whose rows ``_collect`` turns
into the same stored rows. Either way ``uda.encode_entity`` writes them.
The HTTP pipe itself is the reference's own egress model (single-reader
pull with continuation tokens); bulk 100 TB egress belongs on shared
storage (parquet handoff), which peers on the same platform get for
free — this server exists for protocol interop with peers that speak
only UDA.

Tokens are opaque to clients (the UDA contract): /entities tokens are
base64url of the last id served; /changes tokens are base64url of the
(recorded, seq, id) position triple. ``since`` also accepts a bare
integer (recorded watermark) — the format this repo's own incremental
jobs persist in JobState.
"""

from __future__ import annotations

import base64
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import functions as F

from datahub_spark import script
from datahub_spark import store as S
from datahub_spark import uda
from datahub_spark.namespaces import NamespaceManager
from datahub_spark.session import local_frame


# one element may legitimately be large (a fat props map), but a parser
# that buffers past this without completing an element is being fed
# something that is not an entity array — fail loudly, don't OOM
_MAX_ELEMENT_BYTES = 64 * 1024 * 1024


def iter_json_array(stream, nbytes: int, chunk_bytes: int = 64 * 1024):
    """Incrementally parse a top-level JSON array from a byte stream,
    yielding one decoded element at a time — the reference's streaming
    request-body parser (internal/server/streamparser.go:1-486)
    re-expressed over ``json.JSONDecoder.raw_decode``: the buffer only
    ever holds the current chunk plus one partial element, so a multi-GB
    ``/entities`` POST parses in flat memory instead of one
    ``json.loads`` of the whole body.

    ``raw_decode`` does the per-element scanning at C speed; an
    incremental UTF-8 decoder handles multi-byte characters split across
    chunk boundaries. Raises ``ValueError`` on malformed input (including
    a single element exceeding _MAX_ELEMENT_BYTES)."""
    import codecs

    utf8 = codecs.getincrementaldecoder("utf-8")()
    dec = json.JSONDecoder()
    buf, pos = "", 0
    remaining = nbytes
    started = done = False

    def refill() -> bool:
        nonlocal buf, pos, remaining
        if remaining <= 0:
            return False
        data = stream.read(min(chunk_bytes, remaining))
        if not data:
            remaining = 0
            return False
        remaining -= len(data)
        buf = buf[pos:] + utf8.decode(data)
        pos = 0
        if len(buf) > _MAX_ELEMENT_BYTES:
            raise ValueError("JSON element exceeds the streaming buffer cap")
        return True

    def skip_ws() -> bool:
        nonlocal pos
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n":
                pos += 1
            if pos < len(buf):
                return True
            if not refill():
                return False

    if not skip_ws():
        return  # empty body == empty batch (UDA tolerates it)
    if buf[pos] != "[":
        raise ValueError("request body is not a JSON array")
    pos += 1
    while not done:
        if not skip_ws():
            raise ValueError("unterminated JSON array")
        if buf[pos] == "]":
            done = True
            break
        if buf[pos] == ",":
            pos += 1
            continue
        while True:
            try:
                obj, end = dec.raw_decode(buf, pos)
                pos = end
                yield obj
                break
            except ValueError:
                # incomplete element in the buffer — pull more bytes;
                # if the wire is exhausted it really is malformed
                if not refill():
                    raise


def _tok_encode(payload) -> str:
    raw = json.dumps(payload, separators=(",", ":")).encode()
    return base64.urlsafe_b64encode(raw).decode().rstrip("=")


def _tok_decode(token: str):
    pad = "=" * (-len(token) % 4)
    return json.loads(base64.urlsafe_b64decode(token + pad).decode())


_MAX_LIMIT = 2**31 - 1  # a Spark limit is an int


def _limit(q: dict, default: int) -> int:
    raw = q.get("limit")
    try:
        limit = default if raw is None else int(raw)
    except ValueError:
        limit = -1
    if not 0 <= limit <= _MAX_LIMIT:
        raise ValueError(f"limit must be an integer from 0 to {_MAX_LIMIT}")
    return limit


def _paging(q: dict, default_limit: int) -> tuple[int, object, str | None]:
    """A dataset read's ``(limit, since, from)``, parsed once for both the
    index and the Spark path: ``since`` is None, a bare recorded
    watermark (int) or a ``(recorded, seq, id)`` position; ``from`` is
    None or the last id served. Raises ValueError naming the bad
    parameter."""
    since, from_id = q.get("since") or None, q.get("from") or None
    if since is not None:
        try:
            since = int(since)
        except ValueError:
            try:
                since = tuple(_tok_decode(since))
            except (ValueError, TypeError):
                since = ()
            if [type(v) for v in since] != [int, int, str]:
                raise ValueError("bad since token") from None
    if from_id is not None:
        try:
            from_id = _tok_decode(from_id)
        except ValueError:
            from_id = None
        if not isinstance(from_id, str):
            raise ValueError("bad from token")
    return _limit(q, default_limit), since, from_id


def _collect(df) -> list[dict]:
    """A frame's rows as stored rows. They cross as Arrow, which keeps
    each map's entries in their stored order, as the index's rows do, so
    both paths serve the same bytes."""
    return [script.stored_row(r) for r in df.toArrow().to_pylist()]


def _differs(cur: dict | None, row: tuple) -> bool:
    """Whether a decoded row (``uda.DECODED_SCHEMA`` order) differs from the
    entity's current version ``cur`` (None: it has none)."""
    _id, _rec, _seq, deleted, props, refs = row
    return cur is None or S.payload_text(deleted, props, refs) != S.payload_text(
        cur["deleted"], cur["props"], cur["refs"])


@dataclass(frozen=True)
class _IndexState:
    index: dict | None  # None: the store holds more than the cap
    version: int        # the store entry it is current with
    files: set          # the log files it covers


def _parse_acls(raw):
    """AccessControl list from a request body value, shared by the
    per-client ACL route and the legacy clientclaims/clientacl
    aliases. Returns None on any malformed shape (non-list value,
    non-dict entries) so callers answer 400 instead of leaking a 500
    from the comprehension."""
    from datahub_spark.security import AccessControl

    if not isinstance(raw, list):
        return None
    out = []
    for a in raw:
        if not isinstance(a, dict):
            return None
        out.append(AccessControl(
            str(a.get("Resource", a.get("resource", ""))),
            str(a.get("Action", a.get("action", "read"))),
            bool(a.get("Deny", a.get("deny", False)))))
    return out


def _query(rq) -> dict[str, str]:
    """The request's query-string parameters, first value each."""
    return {k: v[0] for k, v in parse_qs(urlparse(rq.path).query).items()}


class FullSyncLease:
    """The reference's fullsync lease (dataset.go:81-207):
    StartFullSyncWithLease / RefreshFullSyncLease / ReleaseFullSyncLease
    with a wall-clock expiry. One active sync per dataset; batches with
    a mismatched id conflict (409); refreshing an expired lease is Gone
    (410)."""

    def __init__(self, lease_seconds: float = 3600.0):
        self.lease_seconds = lease_seconds
        self._sessions: dict[str, dict] = {}  # dataset -> {id, session, t}
        self._lock = threading.Lock()

    def start(self, dataset: str, sync_id: str, session) -> None:
        with self._lock:
            cur = self._sessions.get(dataset)
            if cur is not None and not self._expired(cur):
                raise ConflictError("fullsync is ongoing")
            if cur is not None:  # expired: abandon the stale session
                cur["session"].abandon()
            self._sessions[dataset] = {
                "id": sync_id, "session": session, "t": time.monotonic()}

    def refresh(self, dataset: str, sync_id: str):
        with self._lock:
            cur = self._sessions.get(dataset)
            if cur is None:
                raise ConflictError("no fullsync in progress")
            if cur["id"] != sync_id:
                raise ConflictError("fullsync is ongoing")
            if self._expired(cur):
                raise GoneError("fullsync lease expired")
            cur["t"] = time.monotonic()
            return cur["session"]

    def release(self, dataset: str, sync_id: str):
        with self._lock:
            cur = self._sessions.get(dataset)
            if cur is None or cur["id"] != sync_id:
                raise GoneError("no such fullsync lease")
            del self._sessions[dataset]
            return cur["session"]

    def active(self, dataset: str) -> bool:
        with self._lock:
            cur = self._sessions.get(dataset)
            return cur is not None and not self._expired(cur)

    def _expired(self, cur: dict) -> bool:
        return time.monotonic() - cur["t"] > self.lease_seconds


class ConflictError(Exception):
    pass


class GoneError(Exception):
    pass


class UdaServer:
    """Loopback ThreadingHTTPServer over an EntityStore. ``start()``
    returns the base URL; requests run on the server's (driver) thread
    pool, and those that need Spark jobs submit them from there — the
    SparkSession is thread-safe for job submission. ``index_max_rows``
    (``script.LOOKUP_INDEX_MAX_ROWS``) caps the driver-held lookup index
    (``_query_index``); a store past it is served by Spark jobs."""

    def __init__(self, store: S.EntityStore,
                 nsmgr: NamespaceManager | None = None,
                 host: str = "127.0.0.1", port: int = 0,
                 default_limit: int = 1000,
                 lease_seconds: float = 3600.0,
                 scheduler=None, content=None, security=None,
                 metrics=None, providers=None,
                 wal_writes: bool = False,
                 wal_flush_entities: int = 10_000):
        self.store = store
        # WAL-backed served writes (store.WalIngest): plain POST
        # /entities appends to a per-dataset fsync-durable spool and
        # returns — the LSM answer to Spark's fixed per-commit job cost
        # on high-frequency small writes. Visibility: pending rows are
        # folded into ONE store transaction when (a) the pending count
        # reaches wal_flush_entities, (b) the dataset is read over HTTP
        # or any /query runs (read-your-writes), (c) a fullsync starts,
        # or (d) the server stops. Durability is per-POST either way.
        self.wal_writes = bool(wal_writes)
        self.wal_flush_entities = int(wal_flush_entities)
        self._wals: dict[str, object] = {}
        self._wal_pending: dict[str, int] = {}
        self._wal_lock = threading.Lock()
        self.nsmgr = nsmgr or NamespaceManager()
        self.default_limit = default_limit
        self.leases = FullSyncLease(lease_seconds)
        # optional security.SecurityManager: when set, every endpoint
        # except POST /security/token requires a Bearer token
        # (middlewares/authentication.go + authorization.go); when None
        # the server is loopback/trusted-network only, which stays the
        # default for the in-process analytics mission
        self.security = security
        # optional metrics.Metrics: per-request http.count / http.time /
        # http.size with method/path/status tags (loggerfilter.go:64-74)
        self.metrics = metrics
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._host, self._port = host, port
        # the lookup index and the log files it covers (_query_index)
        self.index_max_rows = script.LOOKUP_INDEX_MAX_ROWS
        self._index: _IndexState | None = None
        self._index_lock = threading.Lock()  # one fold or build at a time
        # jobs API (jobshandler.go / joboperationhandler.go): attach a
        # jobs.Scheduler to serve /jobs CRUD + /job/{id} operations
        self.scheduler = scheduler
        self._job_configs: dict[str, dict] = {}
        # content API (contenthandler.go:44-48): attach a ContentService
        self.content = content
        # login providers for outgoing connections
        # (providerhandler.go:44-48): attach a providers.ProviderStore
        self.providers = providers

    # -- lifecycle --------------------------------------------------------

    def start(self) -> str:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test logs
                pass

            def do_GET(self):
                outer._observed(self, outer._dispatch)

            def do_POST(self):
                outer._observed(self, outer._dispatch)

            def do_PUT(self):
                outer._observed(self, outer._dispatch)

            def do_DELETE(self):
                outer._observed(self, outer._dispatch)

            def do_PATCH(self):
                outer._observed(self, outer._dispatch)

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return f"http://{self._host}:{self._httpd.server_address[1]}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        self.flush_wal()
        with self._wal_lock:
            for w in self._wals.values():
                w.close()
            self._wals.clear()
        with self._index_lock:
            self._index = None

    # -- WAL-backed served writes ------------------------------------------

    def _wal_for(self, ds: str):
        from datahub_spark.store import WalIngest

        with self._wal_lock:
            w = self._wals.get(ds)
            if w is None:
                w = self._wals[ds] = WalIngest(self.store, ds)
                self._wal_pending[ds] = 0
            return w

    def flush_wal(self, ds: str | None = None) -> dict[str, int]:
        """Fold pending served writes into store transactions (one per
        dataset). Returns {dataset: recorded} for datasets that had
        pending rows."""
        with self._wal_lock:
            names = [ds] if ds is not None else list(self._wals)
            wals = [(n, self._wals[n]) for n in names if n in self._wals]
        out: dict[str, int] = {}
        for name, w in wals:
            recorded = w.flush()
            with self._wal_lock:
                self._wal_pending[name] = 0
            if recorded is not None:
                out[name] = recorded
        return out

    def _ensure_visible(self, ds: str) -> None:
        """Read-your-writes for WAL-backed serving: any HTTP read of a
        dataset first flushes its pending spool (no-op when empty)."""
        if self.wal_writes and ds in self._wals:
            self.flush_wal(ds)

    # -- helpers ----------------------------------------------------------

    @staticmethod
    def _send(rq, code: int, data: bytes, ctype: str = "application/json") -> None:
        rq.send_response(code)
        rq.send_header("Content-Type", ctype)
        rq.send_header("Content-Length", str(len(data)))
        rq.end_headers()
        rq.wfile.write(data)

    def _reply(self, rq, code: int, payload) -> None:
        self._send(rq, code, json.dumps(payload).encode())

    def _error(self, rq, code: int, message: str) -> None:
        self._reply(rq, code, {"message": message})

    # -- routing ----------------------------------------------------------

    def _observed(self, rq, dispatch) -> None:
        """Per-request telemetry (loggerfilter.go:64-74): http.count +
        http.time (ms) + http.size (response bytes), tagged with
        method/path/status. With no Metrics attached, dispatch runs
        untouched."""
        if self.metrics is None:
            return dispatch(rq)
        t0 = time.perf_counter()
        seen = {"status": 0, "size": 0}
        orig_response, orig_header = rq.send_response, rq.send_header

        def send_response(code, *a, **k):
            seen["status"] = code
            return orig_response(code, *a, **k)

        def send_header(name, value, *a, **k):
            if name.lower() == "content-length":
                try:
                    seen["size"] = int(value)
                except (TypeError, ValueError):
                    pass
            return orig_header(name, value, *a, **k)

        rq.send_response, rq.send_header = send_response, send_header
        try:
            return dispatch(rq)
        finally:
            tags = {"method": rq.command,
                    "path": urlparse(rq.path).path,
                    "status": seen["status"]}
            self.metrics.count("http.count", 1, tags)
            self.metrics.timing(
                "http.time", (time.perf_counter() - t0) * 1000, tags)
            self.metrics.gauge("http.size", seen["size"], tags)

    def _authorize(self, rq) -> bool:
        """Bearer-token gate (middlewares/authentication.go:208-215 +
        authorization.go doAclCheck). Writes 401/403 and returns False
        on refusal; True when no SecurityManager is attached."""
        if self.security is None:
            return True
        from datahub_spark.security import AuthError, ForbiddenError

        try:
            self.security.authorize(rq.headers.get("Authorization"),
                                    rq.command, urlparse(rq.path).path)
            return True
        except AuthError as exc:
            self._error(rq, 401, str(exc))
            return False
        except ForbiddenError as exc:
            self._error(rq, 403, str(exc))
            return False

    def _dispatch(self, rq) -> None:
        """Serve ``rq`` by the first ROUTES entry that matches its method
        and path. Every request but an auth-exempt route's passes the
        Bearer-token gate first, a route miss included, so a secured
        server answers 401 before 404. A route whose service is not
        attached answers 503 (scheduler, providers) or the route-miss
        404 (content, security); a handler that raises answers 500."""
        segments = [p for p in urlparse(rq.path).path.split("/") if p]
        for route in ROUTES:
            params = route.match(rq.command, segments)
            if params is not None:
                break
        else:
            route = None
        if not (route and route.open) and not self._authorize(rq):
            return
        if route is None:
            return self._error(rq, 404, "not found")
        if route.service and getattr(self, route.service) is None:
            return self._error(rq, *_DETACHED.get(route.service,
                                                  (404, "not found")))
        try:
            route.handler(self, rq, *params)
        except Exception as exc:  # a handler bug must not kill the server
            self._error(rq, 500, str(exc))

    # -- server, namespaces, statistics -----------------------------------

    def _health(self, rq) -> None:
        # NewStatusHandler (web.go:136): plain "UP", and the auth
        # middleware skips /health (middleware.go:43-44)
        self._send(rq, 200, b"UP", "text/plain")

    def _service_info(self, rq) -> None:
        # ServiceInfo (web.go:139-143)
        port = self._httpd.server_address[1] if self._httpd else 0
        self._reply(rq, 200, {"name": "DataHub", "location": f"server:{port}"})

    def _api(self, rq) -> None:
        # machine-readable API description: the reference publishes
        # api/datahub.oas3.yml in-repo; serving the generated equivalent
        # makes it discoverable
        from datahub_spark.openapi import openapi_document

        self._reply(rq, 200, openapi_document(self))

    def _namespace_prefix(self, rq) -> None:
        # queryNamespacePrefix (queryhandler.go:94-109): expansion URI ->
        # its registered prefix, 404 when absent
        expansion = _query(rq).get("expansion", "")
        try:
            prefix = self.nsmgr.get_prefix(expansion)
        except Exception:
            return self._error(rq, 404, "problem mapping namespace prefix")
        self._reply(rq, 200, {"prefix": prefix, "expansion": expansion})

    def _namespaces(self, rq) -> None:
        # namespacehandler.go:37 — prefix -> expansion map
        self._reply(rq, 200, self.nsmgr.context())

    def _statistics(self, rq, ds: str | None = None) -> None:
        """statisticshandler.go:14-18 — per-dataset counts. ?cached=true
        serves the maintenance updater's snapshot (statistics_update.go
        caches its walk under a store meta key; here it is
        statistics.json in the store root, refreshed at 02:00 + instance
        start) — no Spark job, storage-level numbers."""
        if _query(rq).get("cached", "false").lower() in ("1", "true"):
            snap_path = os.path.join(self.store.root, "statistics.json")
            try:
                with open(snap_path) as f:
                    snap = json.load(f)
            except FileNotFoundError:
                return self._error(
                    rq, 404,
                    "no cached statistics snapshot yet — the "
                    "updater writes one at start and on its "
                    "schedule")
            if ds is not None:
                ds_snap = snap.get("datasets", {}).get(ds)
                if ds_snap is None:
                    return self._error(rq, 404, f"dataset {ds} not found")
                return self._reply(rq, 200, {ds: ds_snap})
            return self._reply(rq, 200, snap)
        log = self.store.log([ds] if ds is not None else None)
        rows = S.dataset_stats(log).collect()
        self._reply(rq, 200, {
            r["dataset"]: {"changes": r["n_changes"],
                           "entities": r["n_entities"]}
            for r in rows})

    # -- datasets (datasethandler.go) --------------------------------------

    def _list_datasets(self, rq) -> None:
        names = sorted(self.store.list_datasets())
        self._reply(rq, 200, [{"Name": n} for n in names])

    def _dataset_info(self, rq, ds: str) -> None:
        # datasethandler.go:212-225 GetDatasetDetails: the dataset's core
        # registry entity (items = entity count)
        self._ensure_visible(ds)
        cfg = self.store.dataset_config(ds)
        if cfg is None:
            return self._error(rq, 404, f"dataset {ds} not found")
        views = self._served_views(ds)
        if views is not None:
            n_items = len(views.get(ds, script.EMPTY_VIEW).alive)
        else:
            n_items = S.latest(self.store.log([ds])).count() \
                if self.store.has_data(ds) else 0
        self._reply(rq, 200, {
            "id": f"core:{ds}",
            "props": {"core:name": ds, "core:items": n_items},
            "refs": {},
        })

    def _read_page(self, rq, ds: str, verb: str) -> None:
        """GET /datasets/{ds}/entities | /changes: a UDA page, read
        through for proxy datasets and built by the script for virtual
        ones."""
        q = _query(rq)
        # read-your-writes: commit any pending WAL spool first (also
        # registers a dataset whose first writes are still WAL-only)
        self._ensure_visible(ds)
        if ds not in self.store.list_datasets() and ds != S.CORE_DATASET:
            return self._error(rq, 404, f"dataset {ds} not found")
        cfg = self.store.dataset_config(ds) or {}
        if "ProxyDatasetConfig" in cfg:
            return self._proxy_read(rq, cfg["ProxyDatasetConfig"], verb, q)
        if "VirtualDatasetConfig" in cfg:
            return self._virtual_read(rq, ds, cfg["VirtualDatasetConfig"], q)
        if verb == "entities" and "since" in q:
            # datasethandler.go:283
            return self._error(
                rq, 400, "since parameter only supported for changes")
        if verb == "entities" and q.get("reverse"):
            # datasethandler.go:286-288
            return self._error(
                rq, 400, "reverse parameter only supported for changes")
        try:
            limit, since, from_id = _paging(q, self.default_limit)
        except ValueError as exc:
            return self._error(rq, 400, str(exc))
        views = self._served_views(ds)
        if verb == "changes":
            # ?reverse=true walks the change-log newest-first
            # (datasethandler.go:551,702-731): the same key-set
            # continuation protocol, with the comparisons flipped
            reverse = q.get("reverse", "") == "true"
            latest_only = q.get("latestOnly", "") == "true"
            if views is not None:
                rows = views.get(ds, script.EMPTY_VIEW).changes(
                    since, limit, reverse, latest_only)
            else:
                rows = self._spark_changes(ds, since, limit, reverse, latest_only)
            # continuation: the last served position; an empty page
            # echoes the request token (no advancement = drained)
            token = _tok_encode([rows[-1]["recorded"], rows[-1]["seq"], rows[-1]["id"]]) \
                if rows else q.get("since", "")
        else:
            if views is not None:
                rows = views.get(ds, script.EMPTY_VIEW).entities(from_id, limit)
            else:
                rows = self._spark_entities(ds, from_id, limit)
            token = _tok_encode(rows[-1]["id"]) if rows else q.get("from", "")
        self._write_page(rq, ds, [uda.encode_entity(r) for r in rows], token,
                         jsonld=self._wants_jsonld(rq, q))

    def _context(self, ds: str) -> dict:
        return self.store.dataset_context(ds, self.nsmgr)

    # -- JSON-LD content negotiation (datasethandler.go:246-340) ----------

    @staticmethod
    def _wants_jsonld(rq, q: dict) -> bool:
        """``?format=jsonld`` or ``Accept: application/ld+json`` selects
        JSON-LD output on dataset reads (the reference negotiates on the
        Accept header, datasethandler.go:303-305; the query param is the
        curl-friendly alias)."""
        if q.get("format") == "jsonld":
            return True
        return "application/ld+json" in (rq.headers.get("Accept") or "")

    @staticmethod
    def _jsonld_context(ctx: dict) -> dict:
        # convertContextToJSONLD (datasethandler.go:247-259): the UDA
        # namespace map plus the fixed core/rdf prefixes
        namespaces = dict(ctx.get("namespaces") or {})
        namespaces["core"] = "http://data.mimiro.io/core/uda/"
        namespaces["rdf"] = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        return {"@context": namespaces}

    @staticmethod
    def _jsonld_entity(obj: dict) -> dict:
        """UDA entity object -> JSON-LD node (toJSONLD,
        datasethandler.go:492-530): ``@id`` + prop keys verbatim (CURIEs
        resolve through the @context) + refs as ``{"@id": ...}`` nodes.
        Deliberate deviation: the reference's ref-array branch
        (datasethandler.go:519-524) preallocates AND appends, emitting
        len(refs) empty nodes before the real ones — we emit exactly the
        refs."""
        node: dict = {"@id": obj.get("id")}
        for key, value in (obj.get("props") or {}).items():
            node[key] = value
        for key, value in (obj.get("refs") or {}).items():
            if isinstance(value, list):
                node[key] = [{"@id": r} for r in value]
            else:
                node[key] = {"@id": value}
        return node

    def _spark_entities(self, ds: str, from_id: str | None, limit: int) -> list[dict]:
        view = S.latest(self.store.log([ds]), include_deleted=False)
        if from_id is not None:
            view = view.filter(F.col("id") > F.lit(from_id))
        return _collect(view.orderBy("id").limit(limit))

    def _spark_changes(self, ds: str, since, limit: int, reverse: bool,
                       latest_only: bool) -> list[dict]:
        log = self.store.log([ds])
        if latest_only:
            log = S.latest(log, include_deleted=True)
        if isinstance(since, int):
            log = log.filter(F.col("recorded") < since if reverse
                             else F.col("recorded") > since)
        elif since is not None:
            r, s, i = since
            after = (lambda c, v: c < v) if reverse else (lambda c, v: c > v)
            log = log.filter(
                after(F.col("recorded"), r)
                | ((F.col("recorded") == r) & after(F.col("seq"), s))
                | ((F.col("recorded") == r) & (F.col("seq") == s)
                   & after(F.col("id"), i)))
        order = [F.col(c).desc() if reverse else F.col(c)
                 for c in ("recorded", "seq", "id")]
        return _collect(log.orderBy(*order).limit(limit))

    def _write_page(self, rq, ds: str, objs: list[str], token,
                    jsonld: bool = False) -> None:
        if jsonld:
            ctx = self._jsonld_context(self._context(ds))
            ents = [json.dumps(self._jsonld_entity(json.loads(o)))
                    for o in objs]
            # makeJsonLdContinuationToken (datasethandler.go:767-773)
            cont = json.dumps({"rdf:type": {"@id": "core:continuation"},
                               "core:token": token})
            body = "[" + ",".join([json.dumps(ctx)] + ents + [cont]) + "]"
            ctype = "application/ld+json"
        else:
            body = "[" + ",".join(
                [json.dumps(self._context(ds))] + objs
                + [json.dumps({"id": "@continuation", "token": token})]
            ) + "]"
            ctype = "application/json"
        self._send(rq, 200, body.encode(), ctype)

    def _compact(self, rq) -> None:
        # compactionhandler.go:22-45
        n = int(rq.headers.get("Content-Length", "0"))
        r = json.loads(rq.rfile.read(n).decode()) if n else {}
        if not r.get("dataset"):
            return self._error(rq, 400, "dataset not provided")
        if not r.get("strategy"):
            return self._error(rq, 400, "strategy not provided")
        if r["strategy"] not in ("deduplication", "deduplicate"):
            return self._error(
                rq, 400, "strategy not supported. allowed "
                "values: deduplication")
        if r["dataset"] not in self.store.list_datasets():
            return self._error(rq, 404, "no such dataset")
        # engine extras beyond the reference's single strategy:
        # gcHorizon folds retention GC into the rewrite,
        # cleanDeleted purges latest-tombstoned entities
        # (garbagecollector.go Cleandeleted) in the same pass
        gc_h = r.get("gcHorizon")
        self.store.compact(
            r["dataset"],
            gc_horizon=int(gc_h) if gc_h is not None else None,
            clean_deleted_entities=bool(r.get("cleanDeleted")))
        self._reply(rq, 200, {})

    def _proxy_read(self, rq, proxy_cfg: dict, verb: str, q: dict) -> None:
        """Read-through for proxy datasets (proxydataset.go:200-300 +
        datasethandler.go:600-640): /entities and /changes forward to
        the remote's same endpoint with the query passed through, the
        outgoing Authorization coming from the configured login provider
        (authProviderName -> ProviderStore), and the remote's UDA page —
        context, entities, continuation — relayed verbatim (tokens are
        the remote's, so the client's next call pages the remote)."""
        import urllib.parse
        import urllib.request

        remote = proxy_cfg.get("remoteUrl", "").rstrip("/")
        passthrough = {k: v for k, v in q.items()
                       if k in ("limit", "from", "since", "latestOnly",
                                "reverse")}
        url = f"{remote}/{verb}"
        if passthrough:
            url += "?" + urllib.parse.urlencode(passthrough)
        req = urllib.request.Request(url)
        auth_name = proxy_cfg.get("authProviderName")
        if auth_name and self.providers is not None:
            try:
                self.providers.provider(auth_name).authorize(req)
            except KeyError:
                return self._error(
                    rq, 500, f"unknown auth provider {auth_name!r}")
        timeout = float(proxy_cfg.get("timeoutSeconds") or 30)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                data = resp.read()
        except Exception as exc:
            return self._error(rq, 502, f"proxy fetch failed: {exc}")
        self._send(rq, 200, data)

    def _virtual_read(self, rq, ds: str, vcfg: dict, q: dict) -> None:
        """Served virtual dataset (virtualdataset.go; DOCUMENTATION.md:
        288-325): the stored (base64) transform's build_entities(params,
        since, limit) runs on the bundled JS interpreter per request,
        Emit()ed entities become the UDA page, and the script's return
        value is the page's continuation token. ``params`` is an
        optional JSON body on the GET (the reference forwards any
        request JSON as the params argument); ``since`` is forwarded
        verbatim."""
        code = vcfg.get("Transform") or vcfg.get("transform") or ""
        n = int(rq.headers.get("Content-Length", "0"))
        try:
            params = json.loads(rq.rfile.read(n).decode()) if n else {}
        except json.JSONDecodeError:
            return self._error(rq, 400, "malformed params body")
        since_raw = q.get("since", "0")
        try:
            since = int(since_raw)
        except ValueError:
            since = since_raw
        try:
            limit = _limit(q, self.default_limit)
        except ValueError as exc:
            return self._error(rq, 400, str(exc))
        try:
            src = script.ScriptVirtualSource(self.store.spark, code,
                                             params=params, dataset=ds)
        except ValueError as exc:
            return self._error(rq, 400, f"virtual dataset script: {exc}")
        try:
            page, token = src.read(since, limit)
        except Exception as exc:
            return self._error(rq, 500, f"virtual dataset script: {exc}")
        self._write_page(rq, ds, [uda.encode_entity(r) for r in _collect(page)], token,
                         jsonld=self._wants_jsonld(rq, q))

    def _dataset_create(self, rq, ds: str) -> None:
        """datasetCreate (datasethandler.go:256-300): 400 on existing
        name; ?proxy=true requires a ProxyDatasetConfig with remoteUrl;
        a VirtualDatasetConfig requires a transform; the config rides in
        the registry entry (CreateDatasetConfig, dsmanager.go:102-106)."""
        if ds in self.store.list_datasets():
            return self._error(rq, 400, "Dataset already exist")
        q = _query(rq)
        n = int(rq.headers.get("Content-Length", "0"))
        try:
            cfg = json.loads(rq.rfile.read(n).decode()) if n else {}
        except json.JSONDecodeError:
            return self._error(rq, 400, "malformed dataset config")
        extra = {}
        if q.get("proxy") == "true":
            pc = cfg.get("ProxyDatasetConfig") or {}
            if not pc.get("remoteUrl"):
                return self._error(
                    rq, 400, "invalid proxy configuration provided")
            extra["ProxyDatasetConfig"] = pc
        elif cfg.get("VirtualDatasetConfig") is not None:
            vc = cfg["VirtualDatasetConfig"]
            code = vc.get("Transform") or vc.get("transform")
            if not code:
                return self._error(
                    rq, 400, "invalid virtual dataset configuration provided")
            try:  # a transform that does not load is refused at create
                script.ScriptVirtualSource(self.store.spark, code)
            except ValueError as exc:
                return self._error(rq, 400, f"virtual dataset script: {exc}")
            extra["VirtualDatasetConfig"] = vc
        try:
            self.store.create_dataset(
                ds, public_namespaces=cfg.get("publicNamespaces"),
                config=extra or None)
        except ValueError as exc:  # a name the store refuses
            return self._error(rq, 400, str(exc))
        return self._reply(rq, 200, {})

    def _rename_dataset(self, rq, ds: str) -> None:
        """PATCH /datasets/{name} = datasetUpdate (datasethandler.go:
        the UpdateDatasetConfig carries the new ID/name)."""
        if self.store.dataset_config(ds) is None:
            return self._error(rq, 400, "Dataset does not exist")
        n = int(rq.headers.get("Content-Length", "0"))
        try:
            cfg = json.loads(rq.rfile.read(n).decode()) if n else {}
        except json.JSONDecodeError:
            return self._error(
                rq, 400, "Could not parse update dataset payload")
        new_name = cfg.get("ID") or cfg.get("id")
        if not new_name:
            return self._error(
                rq, 400, "update dataset request without payload")
        try:
            self.store.rename_dataset(ds, new_name)
        except (KeyError, ValueError) as exc:
            return self._error(rq, 400, str(exc))
        self._reply(rq, 200, {})

    def _delete_dataset(self, rq, ds: str) -> None:
        # deleteDatasetHandler (datasethandler.go:227-235)
        if self.store.dataset_config(ds) is None:
            return self._error(rq, 400, f"dataset {ds} not found")
        self.store.delete_dataset(ds)
        self._reply(rq, 200, {})

    def _delete_datasets(self, rq) -> None:
        # deleteAllDatasets (datasethandler.go:237-244)
        for ds in self.store.list_datasets():
            self.store.delete_dataset(ds)
        self._reply(rq, 200, {})

    def _post_transaction(self, rq) -> None:
        """POST /transactions (txnhandler.go:54; wire format
        streamparser.go:53: ``{"@context": {...}, "<dataset>":
        [entities], ...}``) — one atomic multi-dataset commit via the
        store's staged-rename transaction."""
        n = int(rq.headers.get("Content-Length", "0"))
        payload = json.loads(rq.rfile.read(n).decode()) if n else {}
        if not isinstance(payload, dict):
            return self._error(rq, 400, "transaction body must be an object")
        dataset_entities = {}
        for ds, objs in payload.items():
            if ds == "@context":
                continue
            try:
                rows = list(uda.decode_entities(objs or []))
            except ValueError as exc:
                return self._error(rq, 400, f"malformed entity batch: {exc}")
            if rows:
                dataset_entities[ds] = local_frame(
                    self.store.spark, rows, uda.DECODED_SCHEMA)
        if dataset_entities:
            try:
                self.store.execute_transaction(dataset_entities)
            except ValueError as exc:  # a name the store refuses
                return self._error(rq, 400, str(exc))
        self._reply(rq, 200, {})

    # -- security (securityhandler.go) ------------------------------------

    def _list_clients(self, rq) -> None:
        # securityhandler.go:80-83
        self._reply(rq, 200, self.security.list_clients())

    def _register_client(self, rq) -> None:
        # securityhandler.go:118-132 client registration
        n = int(rq.headers.get("Content-Length", "0"))
        info = json.loads(rq.rfile.read(n).decode()) if n else {}
        try:
            self.security.register_client(info)
        except ValueError as exc:
            return self._error(rq, 400, str(exc))
        self._reply(rq, 200, {})

    def _client_acl(self, rq, cid: str) -> None:
        # securityhandler.go:134-140
        self._reply(rq, 200, [
            {"Resource": a.resource, "Action": a.action, "Deny": a.deny}
            for a in self.security.get_acls(cid)])

    def _set_client_acl(self, rq, cid: str) -> None:
        # securityhandler.go:151-168 set client ACLs
        n = int(rq.headers.get("Content-Length", "0") or 0)
        acls = _parse_acls(
            json.loads(rq.rfile.read(n).decode()) if n else [])
        if acls is None:
            return self._error(rq, 400, "malformed ACL list")
        self.security.set_acls(cid, acls)
        self._reply(rq, 200, {})

    def _clear_client_acl(self, rq, cid: str) -> None:
        # securityhandler.go:142-149
        self.security.set_acls(cid, [])
        self._reply(rq, 200, {})

    def _post_token(self, rq) -> None:
        from datahub_spark.security import AuthError

        n = int(rq.headers.get("Content-Length", "0"))
        body = rq.rfile.read(n).decode() if n else ""
        ctype = (rq.headers.get("Content-Type") or "").split(";")[0].strip()
        if ctype == "application/x-www-form-urlencoded":
            # the reference token endpoint is OAuth2 form-encoded
            # (securityhandler.go:85-116): grant_type=client_credentials
            # + client_id/client_secret
            form = {k: v[0] for k, v in parse_qs(body).items()}
            if form.get("grant_type") != "client_credentials":
                return self._error(rq, 400, "unsupported grant_type")
            creds = {"client_id": form.get("client_id", ""),
                     "client_secret": form.get("client_secret", "")}
            # node-to-node JWT-bearer assertion (securityhandler.go:
            # 85-116 / nodeprovider.go:87-90): client_assertion_type +
            # client_assertion instead of id/secret
            if form.get("client_assertion_type") == \
                    "urn:ietf:params:oauth:grant-type:jwt-bearer":
                creds = {"client_assertion": form.get(
                    "client_assertion", "")}
        else:
            try:
                creds = json.loads(body) if body else {}
            except json.JSONDecodeError:
                return self._error(rq, 400, "malformed credentials")
        try:
            if creds.get("client_assertion"):
                token = self.security.exchange_client_assertion(
                    creds["client_assertion"])
            else:
                token = self.security.issue_token(
                    creds.get("client_id", ""),
                    creds.get("client_secret", ""))
        except AuthError as exc:
            return self._error(rq, 401, str(exc))
        self._reply(rq, 200, {"access_token": token,
                              "token_type": "Bearer"})

    def _post_legacy_client_acl(self, rq) -> None:
        """POST /security/clientclaims | /security/clientacl — the
        legacy admin-gated aliases of the per-client ACL setter
        (securityhandler.go:61-66; the reference keeps both routes in
        its legacy registration block wired through
        MakeRoleCheckMiddleware("admin")). No ``:clientid`` path param
        on these routes, so the client is named in the body:
        ``{"clientId": str, "acls"|"claims": [AccessControl...]}``
        (case-tolerant). Routes to the same ``set_acls`` as
        POST /security/clients/{clientid}/acl."""
        try:
            claims = self.security.authorize(
                rq.headers.get("Authorization"), rq.command,
                urlparse(rq.path).path)
        except Exception:
            claims = {}
        if "admin" not in (claims.get("roles") or []):
            # jwtMiddleware + MakeRoleCheckMiddleware("admin")
            return self._error(rq, 403, "admin role required")
        n = int(rq.headers.get("Content-Length", "0") or 0)
        try:
            obj = json.loads(rq.rfile.read(n).decode()) if n else {}
        except json.JSONDecodeError:
            return self._error(rq, 400, "malformed body")
        if not isinstance(obj, dict):
            return self._error(rq, 400, "malformed body")
        cid = obj.get("clientId") or obj.get("client_id") \
            or obj.get("ClientId") or obj.get("clientid")
        if not cid:
            return self._error(rq, 400, "missing client id")
        acls = _parse_acls(obj.get("acls") or obj.get("claims")
                           or obj.get("Acls") or obj.get("Claims") or [])
        if acls is None:
            return self._error(rq, 400, "malformed ACL list")
        self.security.set_acls(str(cid), acls)
        return self._reply(rq, 200, {})

    # -- login providers (providerhandler.go) ------------------------------

    def _list_providers(self, rq) -> None:
        # providerhandler.go:81-94 (secrets masked)
        self._reply(rq, 200, self.providers.list(mask=True))

    def _add_provider(self, rq) -> None:
        # providerhandler.go:51-62 create
        from datahub_spark.providers import ProviderConfig
        n = int(rq.headers.get("Content-Length", "0"))
        obj = json.loads(rq.rfile.read(n).decode()) if n else {}
        try:
            self.providers.add(ProviderConfig.from_json(obj))
        except ValueError as exc:
            return self._error(rq, 400, str(exc))
        self._reply(rq, 200, {})

    def _get_provider(self, rq, name: str) -> None:
        # providerhandler.go:104-114
        try:
            cfg = self.providers.get_config(name, mask=True)
        except KeyError:
            return self._error(rq, 404, "no such login provider")
        self._reply(rq, 200, cfg)

    def _update_provider(self, rq, name: str) -> None:
        # providerhandler.go:64-79 update (path name wins)
        from datahub_spark.providers import ProviderConfig
        n = int(rq.headers.get("Content-Length", "0"))
        obj = json.loads(rq.rfile.read(n).decode()) if n else {}
        obj.setdefault("name", name)  # path name wins
        try:
            self.providers.update(name, ProviderConfig.from_json(obj))
        except KeyError:
            return self._error(rq, 404, "no such login provider")
        except ValueError as exc:
            return self._error(rq, 400, str(exc))
        self._reply(rq, 200, {})

    def _delete_provider(self, rq, name: str) -> None:
        # providerhandler.go:116-127
        try:
            self.providers.delete(name)
        except KeyError:
            return self._error(rq, 404, "no such login provider")
        self._reply(rq, 200, {})

    # -- content (contenthandler.go) ---------------------------------------

    def _list_content(self, rq) -> None:
        self._reply(rq, 200, self.content.list())

    def _add_content(self, rq) -> None:
        n = int(rq.headers.get("Content-Length", "0"))
        data = json.loads(rq.rfile.read(n).decode())
        cid = data.get("id")
        if not cid:
            return self._error(rq, 400, "content needs an id")
        self._reply(rq, 201, self.content.upsert(cid, data.get("data", {})))

    def _get_content(self, rq, cid: str) -> None:
        item = self.content.get(cid)
        if item is None:
            return self._error(rq, 404, "no such content")
        self._reply(rq, 200, item)

    def _put_content(self, rq, cid: str) -> None:
        n = int(rq.headers.get("Content-Length", "0"))
        data = json.loads(rq.rfile.read(n).decode())
        self._reply(rq, 200, self.content.upsert(cid, data.get("data", data)))

    def _delete_content(self, rq, cid: str) -> None:
        if not self.content.delete(cid):
            return self._error(rq, 404, "no such content")
        self._reply(rq, 200, {})

    # -- jobs API (jobshandler.go:48-61, joboperationhandler.go:41-47) ----

    def _jobs_add(self, rq) -> None:
        """POST /jobs — a reference JobConfiguration JSON registers (or
        replaces) a job; cron triggers schedule it."""
        n = int(rq.headers.get("Content-Length", "0"))
        try:
            cfg = json.loads(rq.rfile.read(n).decode())
            job = self.scheduler.register_config(self.store, cfg)
        except ValueError as exc:  # malformed config or a script that does not load
            return self._error(rq, 400, f"invalid job configuration: {exc}")
        self._job_configs[job.job_id] = cfg
        self._reply(rq, 201, {"id": job.job_id})

    def _list_jobs(self, rq) -> None:
        self._reply(rq, 200, list(self._job_configs.values()))

    def _get_job(self, rq, job_id: str) -> None:
        cfg = self._job_configs.get(job_id)
        if cfg is None:
            return self._error(rq, 404, "no such job")
        self._reply(rq, 200, cfg)

    def _delete_job(self, rq, job_id: str) -> None:
        self.scheduler.unregister(job_id)
        self._job_configs.pop(job_id, None)
        self._reply(rq, 200, {})

    def _job_schedules(self, rq) -> None:
        self._reply(rq, 200, {
            jid: spec.spec for jid, spec in self.scheduler.schedules.items()})

    def _job_history(self, rq) -> None:
        sched = self.scheduler
        self._reply(rq, 200, {
            jid: sched.state.history(jid) for jid in sched.jobs})

    def _running_jobs(self, rq) -> None:
        # jobsListStatus (jobshandler.go:109-111): JobStatus rows for
        # every currently-running job (scheduler.go:328-348)
        running = self.scheduler.runner.raffle.running_jobs()
        self._reply(rq, 200, [
            {"jobId": jid,
             "jobTitle": (self._job_configs.get(jid) or {}).get("title", jid),
             "started": datetime.fromtimestamp(
                 st["started"], timezone.utc).isoformat()}
            for jid, st in sorted(running.items())])

    def _job_state(self, rq, job_id: str) -> None:
        running = job_id in self.scheduler.runner.raffle.running_jobs()
        self._reply(rq, 200, {"state": "Running" if running else "Stopped"})

    def _lineage(self, rq) -> None:
        from datahub_spark.jobs import lineage

        self._reply(rq, 200, lineage(list(self.scheduler.jobs.values())))

    def _dataset_lineage(self, rq, ds: str) -> None:
        # GET /lineage/{dataset} (lineagehandler.go:14-29): per-dataset
        # view; 404 when the dataset is not registered (the handler
        # checks DsManager.GetDataset before building)
        from datahub_spark.jobs import lineage_for_dataset

        if ds not in self.store.list_datasets():
            return self._error(rq, 404, "dataset is not found")
        self._reply(rq, 200, lineage_for_dataset(
            list(self.scheduler.jobs.values()), ds))

    def _job_operate(self, rq, job_id: str, op: str) -> None:
        """PUT /job/{id}/run|pause|resume|reset|reset_meta|kill
        (joboperationhandler.go:41-46). ``run`` submits the job to the
        scheduler's runner — the same raffle cron and onchange runs draw
        tickets from — and waits on that run: 409 when no ticket is
        granted, 500 with the error when the run fails. Long pipelines
        belong on cron triggers."""
        sched = self.scheduler
        job = sched.jobs.get(job_id)
        if job is None:
            return self._error(rq, 404, "no such job")
        if op == "pause":
            job.paused = True
        elif op == "resume":
            job.paused = False
        elif op == "reset":
            sched.state.set_token(job_id, None)
        elif op == "reset_meta":
            # jobsResetMeta (joboperationhandler.go:102): clear the
            # job's tracked-dependency metadata; our analogue is a
            # MultiSource job's per-dataset token
            if isinstance(sched.state.token(job_id), dict):
                sched.state.set_token(job_id, None)
        elif op == "kill":
            # jobsKill (joboperationhandler.go:59): best-effort cancel
            # of a running job's Spark actions; 200 either way, like
            # the reference
            sched.runner.kill(job_id)
        elif op == "run":
            run = sched.runner.submit(job)
            if run is None:
                return self._error(
                    rq, 409, "job is already running or out of run tickets")
            err = run.result().get("error")
            if err:
                return self._error(rq, 500, err)
        self._reply(rq, 200, {"id": job_id, "operation": op})

    # -- /query (queryhandler.go) -----------------------------------------

    def _query_index(self) -> dict:
        """The lookup index over the store's datasets — the analogue of the
        reference answering queries, entity pages and GetEntity merges
        from its local Badger indexes (store.go:666-1022, dataset.go:891
        and 1005). It holds every version as its stored row, with each
        dataset's page orders in a ``script.DatasetView``
        (``script.fold_lookup_index``). It serves /query traversals and
        query scripts, and through ``_served_views``: /changes and
        /entities pages, entityId lookups, the dedup of plain /entities
        POSTs and the item count of GET /datasets/{ds}. Raises
        ``script.IndexTooBig`` when the store holds more than
        ``index_max_rows`` versions; the pages, lookups and dedup then
        run as Spark jobs, and a traversal fails as it does in a query
        script: interactive graph queries are dimension-scale by
        construction, and set-oriented querying over big data belongs in
        the engine's query operators, not an HTTP endpoint."""
        index = self._fresh_index().index
        if index is None:
            raise script.IndexTooBig(self.index_max_rows)
        return index

    def _fresh_index(self) -> _IndexState:
        """The index as of the store's newest entry (``EntityStore.state``),
        so commits through any store on the root, another process's
        included, show with the next request. When entries added files
        only, the files not covered yet are read on the driver without a
        Spark job and folded in (script.fold_lookup_index), so several
        commits fold in one pass. When a covered file is gone (compaction,
        dataset delete or rename) the index is built afresh from the
        state's ``log``. A store past the cap stays past it until a
        covered file is gone, so it is not re-collected per request. One
        fold or build runs at a time."""
        with self._index_lock:
            snap = self.store.state()
            state = self._index
            if state is not None and state.version == snap.version:
                return state
            files = self.store.log_files(at=snap)
            if state is not None and state.files <= files:
                index = state.index
                if index is not None:
                    try:
                        index = script.fold_lookup_index(
                            index, self.store.log_rows(files - state.files),
                            self.index_max_rows)
                    except script.IndexTooBig:
                        index = None
            else:
                frames = [self.store.log(at=snap)] if files else []
                try:
                    index = script.build_lookup_index(
                        *frames, max_rows=self.index_max_rows)
                except script.IndexTooBig:
                    index = None
            self._index = state = _IndexState(index, snap.version, files)
            return state

    def _served_views(self, ds: str | None = None) -> dict | None:
        """The index's per-dataset views, or None where a Spark job
        serves instead: past the cap, and for the ``core.Dataset``
        meta-log, which the index does not hold."""
        if ds == S.CORE_DATASET:
            return None
        index = self._fresh_index().index
        return None if index is None else index["changes"]

    def _post_query(self, rq) -> None:
        """POST /query (queryhandler.go:142-265): three modes —
        Content-Type application/x-javascript-query runs a do_query
        script whose WriteQueryResult objects stream back as a JSON
        array; a body with entityId returns [@context, merged-entity];
        startingEntities/predicate/inverse returns [@context, triples]
        plus a continuation token when a limit was given (resumable via
        Continuations, stateless offset re-run)."""
        n = int(rq.headers.get("Content-Length", "0"))
        body = rq.rfile.read(n).decode() if n else "{}"
        ctype = rq.headers.get("Content-Type", "")
        if self.wal_writes:
            self.flush_wal()
        if "application/x-javascript-query" in ctype:
            q = json.loads(body)
            index = self._query_index()
            try:
                results = script.run_query_script(
                    None, q.get("query", ""),
                    namespaces=dict(self.nsmgr.context()), index=index)
            except ValueError as exc:
                return self._error(rq, 400, f"query script: {exc}")
            return self._reply(rq, 200, results)

        q = json.loads(body)
        ctx = json.dumps({"id": "@context", "namespaces": self.nsmgr.context()})
        if q.get("entityId"):
            eid = q["entityId"]
            datasets = q.get("datasets") or None
            merge = not q.get("noPartialMerging", False)
            views = None if datasets and S.CORE_DATASET in datasets \
                else self._served_views()
            if views is not None:
                row = script.lookup_entity(views, eid, datasets, merge)
            else:
                rows = _collect(self.store.get_entity(eid, datasets, merge=merge))
                row = rows[0] if rows else None
            ent = json.dumps({"id": eid}) if row is None else uda.encode_entity(row)
            return self._send(rq, 200, f"[{ctx},{ent}]".encode())

        limit = int(q.get("limit") or 0)
        offset = 0
        if q.get("continuations"):
            resume = _tok_decode(q["continuations"][0])
            q = resume["q"]
            offset = resume["off"]
            limit = int(q.get("limit") or 0)
        triples = script.related(self._query_index(),
                                 q.get("startingEntities") or [],
                                 q.get("predicate"),
                                 bool(q.get("inverse", False)),
                                 q.get("datasets"))
        page = triples[offset:offset + limit] if limit else triples[:100]
        parts = [ctx, "[" + ",".join(
            f"[{json.dumps(s)},{json.dumps(p)},{uda.encode_entity(e)}]"
            for s, p, e in page) + "]"]
        if limit > 0:
            nxt = offset + len(page)
            parts.append(json.dumps(
                [_tok_encode({"q": q, "off": nxt})] if nxt < len(triples) else []))
        self._send(rq, 200, ("[" + ",".join(parts) + "]").encode())

    # -- entity writes (datasethandler.go:778-860) -------------------------

    # rows per DataFrame chunk cut from a streamed /entities POST body:
    # bounds the Python-side row list; each chunk ships to the JVM as a
    # LocalRelation before the next is accumulated
    BODY_CHUNK_ROWS = 10_000

    def _body_chunks(self, rq):
        """Streamed body -> lists of at most BODY_CHUNK_ROWS parsed wire
        objects. The server process never holds the whole body, the
        whole decoded object tree, or the whole row list — the
        reference's streamparser.go contract."""
        n = int(rq.headers.get("Content-Length", "0"))
        chunk: list = []
        for obj in iter_json_array(rq.rfile, n):
            chunk.append(obj)
            if len(chunk) >= self.BODY_CHUNK_ROWS:
                yield chunk
                chunk = []
        if chunk:
            yield chunk

    def _post_entities(self, rq, ds: str) -> None:
        from datahub_spark.jobs import FullSyncSession

        fs_id = rq.headers.get("universal-data-api-full-sync-id", "")
        fs_start = rq.headers.get(
            "universal-data-api-full-sync-start", "") == "true"
        fs_end = rq.headers.get(
            "universal-data-api-full-sync-end", "") == "true"
        try:  # refused before a lease, a WAL spool or the body is touched
            S.check_dataset_name(ds)
        except ValueError as exc:
            return self._error(rq, 400, str(exc))
        try:
            # mirror processEntities (datasethandler.go:785-860): start a
            # lease on fsStart; while a sync is started, every write must
            # present the lease id (plain writes 409); with no sync
            # started, writes store directly — and fsEnd then fails the
            # release with 410 Gone. The lease check runs BEFORE the body
            # is consumed, so a rejected writer is refused without
            # parsing its (possibly huge) payload.
            session = None
            if fs_start:
                # pending WAL rows must commit BEFORE the fullsync's
                # tombstone diff sees the prior state
                self._ensure_visible(ds)
                session = FullSyncSession(self.store, ds)
                self.leases.start(ds, fs_id, session)
            elif self.leases.active(ds):
                if fs_id == "" and not fs_end:
                    return self._error(rq, 409, "fullsync is ongoing")
                session = self.leases.refresh(ds, fs_id)
            elif self.wal_writes and not fs_end:
                # WAL fast path for plain writes: raw dicts straight to
                # the fsync-durable spool — no DataFrame, no Spark job
                # on the request path (reference OLTP shape,
                # dataset_benchmark_test.go)
                wal = self._wal_for(ds)
                count = 0
                try:
                    for objs in self._body_chunks(rq):
                        count += wal.append(objs)
                except ValueError as exc:
                    # whole-request atomicity is per-flush; a malformed
                    # tail leaves prior chunks spooled but unflushed —
                    # same at-least-once contract as WAL crash replay
                    return self._error(
                        rq, 400, f"malformed entity batch: {exc}")
                with self._wal_lock:
                    self._wal_pending[ds] = \
                        self._wal_pending.get(ds, 0) + count
                    pending = self._wal_pending[ds]
                if pending >= self.wal_flush_entities:
                    self.flush_wal(ds)
                return self._reply(rq, 200, {})
            # streamed chunks: a fullsync session appends each chunk as
            # it parses (its complete() unions them); a plain write
            # unions the chunk plans and commits ONCE — one atomic
            # commit, flat parse memory; NULL recorded is stamped then.
            # Under the index cap a plain write drops the rows equal to
            # the dataset's current version here, as store_entities'
            # Spark dedup would (store.payload_text)
            plain: list = []
            views = self._served_views() if session is None else None
            current = None if views is None else views.get(ds, script.EMPTY_VIEW).latest
            try:
                for objs in self._body_chunks(rq):
                    rows = list(uda.decode_entities(objs))
                    if not rows:
                        continue
                    if current is not None:
                        rows = [r for r in rows if _differs(current.get(r[0]), r)]
                    # one partition: the commit writes one file per chunk
                    chunk = local_frame(self.store.spark, rows, uda.DECODED_SCHEMA).coalesce(1)
                    if session is not None:
                        session.append(chunk)
                    else:
                        plain.append(chunk)
            except ValueError as exc:
                # malformed body mid-stream: a lease we just started
                # must not survive the failed request
                if fs_start and session is not None:
                    self.leases.release(ds, fs_id).abandon()
                return self._error(rq, 400, f"malformed entity batch: {exc}")
            if plain:
                batch = plain[0]
                for b in plain[1:]:
                    batch = batch.unionByName(b)
                self.store.store_entities(ds, batch, skip_unchanged=current is None)
            if fs_end:
                session = self.leases.release(ds, fs_id)
                session.complete()
            self._reply(rq, 200, {})
        except ConflictError as exc:
            self._error(rq, 409, str(exc))
        except GoneError as exc:
            self._error(rq, 410, str(exc))


@dataclass
class Route:
    """One served operation. ``UdaServer._dispatch`` serves a request by
    the first route whose method and path template match it, calling
    ``handler(server, rq, *params)`` with the template's ``{name}``
    segments percent-decoded; ``openapi.openapi_document`` describes the
    same routes. ``service`` names the UdaServer attribute the route
    needs attached; an ``open`` route skips the Bearer-token gate;
    ``request``/``response`` name openapi component schemas."""
    method: str
    path: str
    handler: Callable
    tag: str
    summary: str
    service: str | None = None
    request: str | None = None
    response: str | None = None
    open: bool = False
    segments: tuple[str, ...] = field(init=False)

    def __post_init__(self):
        self.segments = tuple(p for p in self.path.split("/") if p)

    def match(self, method: str, segments: list[str]) -> list[str] | None:
        """The decoded path parameters when this route serves ``method``
        on the path ``segments``, else None."""
        if method != self.method or len(segments) != len(self.segments):
            return None
        params = []
        for template, segment in zip(self.segments, segments):
            if template.startswith("{"):
                params.append(unquote(segment))
            elif template != segment:
                return None
        return params


# the answer of a route whose service is not attached; content and
# security routes are then a plain route miss
_DETACHED = {"scheduler": (503, "no job scheduler attached"),
             "providers": (503, "no provider store attached")}

_U = UdaServer
_QUERY = "Entity lookup / graph traversal"
_LEGACY_ACL = "Legacy admin-gated alias: set client ACL (client named in body)"
_JOB_OPS = (("run", "Run now (waits for completion)"), ("pause", "Pause"),
            ("resume", "Resume"), ("reset", "Reset continuation token"),
            ("reset_meta", "Reset tracked-dependency watermarks"),
            ("kill", "Cancel a running job"))

ROUTES: tuple[Route, ...] = (
    Route("GET", "/", _U._service_info, "server", "ServiceInfo",
          response="ServiceInfo"),
    Route("GET", "/health", _U._health, "server",
          "Liveness (plain 'UP', no auth)", open=True),
    Route("GET", "/api", _U._api, "server", "This OpenAPI document"),
    Route("GET", "/namespaces", _U._namespaces, "namespaces",
          "Namespace context", response="Context"),
    Route("GET", "/query/namespace", _U._namespace_prefix, "namespaces",
          "Prefix for an expansion URI (?expansion=)"),
    Route("POST", "/query", _U._post_query, "query", _QUERY,
          request="Query", response="QueryResponse"),
    Route("GET", "/query", _U._post_query, "query",
          _QUERY + " (same protocol as POST — the reference registers one "
          "handler for both verbs)", request="Query", response="QueryResponse"),
    Route("GET", "/datasets", _U._list_datasets, "dataset", "List datasets",
          response="Datasets"),
    Route("GET", "/datasets/{dataset}", _U._dataset_info, "dataset",
          "Dataset info", response="DatasetInfo"),
    Route("POST", "/datasets/{dataset}", _U._dataset_create, "dataset",
          "Create dataset (?proxy=true / virtual via body)"),
    Route("PATCH", "/datasets/{dataset}", _U._rename_dataset, "dataset",
          "Rename dataset"),
    Route("DELETE", "/datasets/{dataset}", _U._delete_dataset, "dataset",
          "Delete dataset"),
    Route("DELETE", "/datasets", _U._delete_datasets, "dataset",
          "Delete ALL datasets"),
    Route("GET", "/datasets/{dataset}/entities",
          partial(_U._read_page, verb="entities"), "dataset",
          "UDA entities page (?from=&limit=)", response="Entities"),
    Route("POST", "/datasets/{dataset}/entities", _U._post_entities,
          "dataset",
          "Append entity batch (fullsync via universal-data-api headers)",
          request="Entities"),
    Route("GET", "/datasets/{dataset}/changes",
          partial(_U._read_page, verb="changes"), "dataset",
          "UDA changes page (?since=&limit=&latestOnly=&reverse=)",
          response="Entities"),
    Route("POST", "/transactions", _U._post_transaction, "dataset",
          "Multi-dataset atomic write", request="TransactionRequest"),
    Route("POST", "/compact", _U._compact, "operations",
          "Compact a dataset (deduplication strategy)",
          request="CompactionRequest"),
    Route("GET", "/statistics", _U._statistics, "server", "Store statistics",
          response="Statistics"),
    Route("GET", "/statistics/{dataset}", _U._statistics, "server",
          "Per-dataset statistics", response="Statistics"),
    # jobs engine
    Route("GET", "/jobs", _U._list_jobs, "jobs", "List job configurations",
          "scheduler", response="Jobs"),
    Route("POST", "/jobs", _U._jobs_add, "jobs", "Add or update a job",
          "scheduler", request="Job", response="JobResponse"),
    Route("GET", "/jobs/{jobid}", _U._get_job, "jobs", "Job configuration",
          "scheduler", response="Job"),
    Route("DELETE", "/jobs/{jobid}", _U._delete_job, "jobs", "Delete job",
          "scheduler"),
    Route("GET", "/jobs/_/schedules", _U._job_schedules, "jobs",
          "Trigger schedules", "scheduler"),
    Route("GET", "/jobs/_/history", _U._job_history, "jobs", "Run history",
          "scheduler"),
    Route("GET", "/jobs/_/status", _U._running_jobs, "jobs", "Running jobs",
          "scheduler"),
    Route("GET", "/job/{jobid}/status", _U._job_state, "operations",
          "Running/Stopped state", "scheduler", response="JobStatus"),
    *(Route("PUT", f"/job/{{jobid}}/{op}", partial(_U._job_operate, op=op),
            "operations", summary, "scheduler") for op, summary in _JOB_OPS),
    Route("GET", "/lineage", _U._lineage, "jobs", "Dataset lineage graph",
          "scheduler"),
    Route("GET", "/lineage/{dataset}", _U._dataset_lineage, "jobs",
          "Per-dataset lineage view (edges touching the dataset)",
          "scheduler"),
    # content objects
    Route("GET", "/content", _U._list_content, "content",
          "List content objects", "content", response="Contents"),
    Route("POST", "/content", _U._add_content, "content",
          "Add content object", "content", request="Content"),
    Route("GET", "/content/{contentId}", _U._get_content, "content",
          "Content object", "content", response="Content"),
    Route("PUT", "/content/{contentId}", _U._put_content, "content",
          "Upsert content object", "content", request="Content"),
    Route("DELETE", "/content/{contentId}", _U._delete_content, "content",
          "Delete content object", "content"),
    # security management; the token exchange is open: clients
    # bootstrap their Bearer token here (manager.go:430)
    Route("POST", "/security/token", _U._post_token, "security",
          "OAuth2 client-credentials / JWT-bearer token grant (no auth)",
          "security", open=True),
    Route("GET", "/security/clients", _U._list_clients, "security",
          "Registered node clients", "security"),
    Route("POST", "/security/clients", _U._register_client, "security",
          "Register node client (public key)", "security"),
    Route("GET", "/security/clients/{clientid}/acl", _U._client_acl,
          "security", "Client ACL", "security"),
    Route("POST", "/security/clients/{clientid}/acl", _U._set_client_acl,
          "security", "Set client ACL", "security"),
    Route("DELETE", "/security/clients/{clientid}/acl", _U._clear_client_acl,
          "security", "Clear client ACL", "security"),
    Route("POST", "/security/clientclaims", _U._post_legacy_client_acl,
          "security", _LEGACY_ACL, "security"),
    Route("POST", "/security/clientacl", _U._post_legacy_client_acl,
          "security", _LEGACY_ACL, "security"),
    # login providers for outgoing connections
    Route("GET", "/provider/logins", _U._list_providers, "providers",
          "List login providers (secrets masked)", "providers",
          response="LoginProviders"),
    Route("POST", "/provider/logins", _U._add_provider, "providers",
          "Add login provider", "providers", request="LoginProvider"),
    Route("GET", "/provider/login/{providerName}", _U._get_provider,
          "providers", "Login provider", "providers",
          response="LoginProvider"),
    Route("POST", "/provider/login/{providerName}", _U._update_provider,
          "providers", "Update login provider", "providers",
          request="LoginProvider"),
    Route("DELETE", "/provider/login/{providerName}", _U._delete_provider,
          "providers", "Delete login provider", "providers"),
)
