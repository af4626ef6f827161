"""The served lookup index follows the store's commits
(``UdaServer._query_index``): every request reads the store's state,
and when the index covers fewer of its log files it folds the rows of
the new ones in (``script.fold_lookup_index``) instead of
re-collecting the store. Under ``index_max_rows`` it serves /query
traversals and scripts, /changes and /entities pages, entityId lookups,
the dedup of plain /entities POSTs and GET /datasets/{ds}'s item count.
Past the cap those run as Spark jobs (a traversal fails by name), and
the store stays past it until a covered file is gone.

The concurrency tests hold a fold open on a ``threading.Event`` so each
interleaving is set up explicitly instead of waited for. The property
test checks after every step of a random commit sequence that the
followed index equals a fresh build and that every served byte equals
what the Spark path (a server with a cap of 0) serves."""

from __future__ import annotations

import json
import os
import sys
import threading
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from datahub_spark import script
from datahub_spark import store as S
from datahub_spark import uda
from datahub_spark.server import UdaServer
from datahub_spark.session import local_frame

WAIT_S = 30  # upper bound on any one wait; no test sleeps
NULL = "NULL"  # an entity value that stores NULL props, or a NULL ref list


def _props(value):
    return None if value == NULL else {"p:v": value}


def _refs(refs):
    if refs == NULL:
        return {"p:r": None}
    return {"p:r": list(refs)} if refs else {}


def _commit(store, dataset_entities: dict) -> int:
    """One transaction of entities ``(id, deleted, value, ref targets)``
    per dataset; the commit stamps the version keys."""
    return store.execute_transaction({
        ds: local_frame(store.spark, [
            (eid, None, None, deleted, _props(value), _refs(refs))
            for eid, deleted, value, refs in ents], uda.ROW_SCHEMA)
        for ds, ents in dataset_entities.items()})


def _wire(ents) -> list[dict]:
    """The same entities as a UDA POST body."""
    return [{"id": eid, "deleted": deleted, "props": _props(value), "refs": _refs(refs)}
            for eid, deleted, value, refs in ents]


def _fetch(base: str, path: str, body=None) -> bytes:
    """The body of a 200 reply; a POST when ``body`` is given."""
    req = urllib.request.Request(
        base + path, method="GET" if body is None else "POST",
        data=None if body is None else json.dumps(body).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=WAIT_S) as resp:
        assert resp.status == 200
        return resp.read()


def _walk(base: str, path: str, arg: str) -> list[bytes]:
    """Every page of a dataset read, chained by continuation token
    through ``arg``, up to and including the first empty page."""
    pages, token = [], ""
    while len(pages) < 50:
        pages.append(_fetch(base, path + (f"&{arg}={token}" if token else "")))
        body = json.loads(pages[-1])
        if len(body) == 2:  # context and continuation only
            break
        token = body[-1]["token"]
    return pages


def _served_bytes(base: str, names: list[str]) -> list:
    """What a server serves of the store: every dataset's /changes walks
    (forward, reverse, latestOnly), its /entities walk and item count,
    and merged and unmerged lookups of every id."""
    out: list = []
    for ds in names:
        for mode in ("", "&reverse=true", "&latestOnly=true"):
            out.append(_walk(base, f"/datasets/{ds}/changes?limit=3{mode}", "since"))
        out.append(_walk(base, f"/datasets/{ds}/entities?limit=3", "from"))
        out.append(_fetch(base, f"/datasets/{ds}"))
    for eid in ("e:0", "e:1", "e:2", "e:3", "e:9"):
        for unmerged in (False, True):
            out.append(_fetch(base, "/query", {"entityId": eid, "noPartialMerging": unmerged}))
    return out


def _capped(store, max_rows: int = 0) -> UdaServer:
    """A server whose index holds at most ``max_rows`` versions: past it
    every route takes its Spark path."""
    srv = UdaServer(store)
    srv.index_max_rows = max_rows
    return srv


def _kept(base: str, ds: str, ents, monkeypatch) -> list[str]:
    """The rows a plain POST of ``ents`` to ``ds`` would commit, captured
    at the commit instead of written."""
    kept: list[str] = []

    def capture(self, dataset_entities, recorded=None):
        for df in dataset_entities.values():
            kept.extend(repr((r["id"], r["deleted"], r["props"], r["refs"]))
                        for r in df.toArrow().to_pylist())
        return 0

    with monkeypatch.context() as m:
        m.setattr(S.EntityStore, "execute_transaction", capture)
        _fetch(base, f"/datasets/{ds}/entities", _wire(ents))
    return sorted(kept)


def _referrers(base: str, target: str) -> list[str]:
    """Ids whose ``p:r`` references ``target``: an inverse traversal."""
    req = urllib.request.Request(
        f"{base}/query", method="POST",
        data=json.dumps({"startingEntities": [target], "predicate": "p:r",
                         "inverse": True}).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=WAIT_S) as resp:
        return sorted(e["id"] for _s, _p, e in json.loads(resp.read())[1])


class SpyLock:
    """A lock that reports when a caller has to wait for it."""

    def __init__(self):
        self._lock = threading.Lock()
        self.contended = threading.Event()

    def __enter__(self):
        if not self._lock.acquire(blocking=False):
            self.contended.set()
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()


class HeldFold:
    """Wraps a store's ``log_rows``, which the server calls only to fold:
    counts calls; each call signals ``entered`` and waits for
    ``release`` before reading."""

    def __init__(self, log_rows):
        self.log_rows = log_rows
        self.entered = threading.Event()
        self.release = threading.Event()
        self.calls = 0

    def __call__(self, *a, **kw):
        self.calls += 1
        self.entered.set()
        if not self.release.wait(WAIT_S):
            raise TimeoutError("fold was never released")
        return self.log_rows(*a, **kw)


def _served(spark, tmp_path, monkeypatch):
    store = S.EntityStore(spark, str(tmp_path / "store"))
    _commit(store, {"d": [("e:1", False, "a", ["hub"])]})
    srv = UdaServer(store)
    fold = HeldFold(store.log_rows)
    monkeypatch.setattr(store, "log_rows", fold)
    return store, srv, fold


def test_concurrent_queries_after_a_commit_fold_once(spark, tmp_path, monkeypatch):
    store, srv, fold = _served(spark, tmp_path, monkeypatch)
    base = srv.start()
    try:
        fold.release.set()
        assert _referrers(base, "hub") == ["e:1"]  # the first build
        assert fold.calls == 0
        fold.release.clear()
        _commit(store, {"d": [("e:2", False, "b", ["hub"])]})
        lock = srv._index_lock = SpyLock()
        with ThreadPoolExecutor(2) as pool:
            try:
                first = pool.submit(_referrers, base, "hub")
                assert fold.entered.wait(WAIT_S)
                second = pool.submit(_referrers, base, "hub")
                assert lock.contended.wait(WAIT_S)
            finally:
                fold.release.set()
            assert first.result(WAIT_S) == second.result(WAIT_S) == ["e:1", "e:2"]
        assert fold.calls == 1
    finally:
        fold.release.set()
        srv.stop()


def test_a_commit_during_a_held_fold_does_not_wait(spark, tmp_path, monkeypatch):
    store, srv, fold = _served(spark, tmp_path, monkeypatch)
    srv._query_index()
    _commit(store, {"d": [("e:2", False, "b", ["hub"])]})
    base = srv.start()
    try:
        with ThreadPoolExecutor(2) as pool:
            try:
                query = pool.submit(_referrers, base, "hub")
                assert fold.entered.wait(WAIT_S)
                write = pool.submit(_commit, store, {"d": [("e:3", False, "c", ["hub"])]})
                write.result(WAIT_S)
                assert not query.done()
            finally:
                fold.release.set()
            assert query.result(WAIT_S) == ["e:1", "e:2"]
        # the commit made during the fold is folded by the next query
        assert _referrers(base, "hub") == ["e:1", "e:2", "e:3"]
        assert fold.calls == 2
    finally:
        fold.release.set()
        srv.stop()
    assert srv._index is None


ARROW_ROW_SCHEMA = to_arrow_schema(uda.ROW_SCHEMA)


def _drop_in(store, ds: str, name: str, eid: str) -> None:
    """Commit one version of ``eid`` to ``ds`` without Spark, the way
    execute_transaction makes a commit visible: a complete parquet file
    placed in the dataset's partition, then one published entry that
    lists it."""
    with store._writer() as state:
        path = os.path.join(store.log_dir, f"dataset={ds}", f"{name}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [{"id": eid, "recorded": 1, "seq": 0, "deleted": False,
              "props": [("p:v", name)], "refs": [("p:r", ["hub"])]}],
            schema=ARROW_ROW_SCHEMA), path)
        store._publish(state, state.tick, add={ds: {f"{name}.parquet": 1}})


def test_no_commit_is_lost_under_contention(spark, tmp_path):
    """More threads than cores each commit and then query, all at once.
    Commits are made without Spark, so after the first build only the
    state check and the folds run. A fold that lost a file would leave
    a thread without its own commit, or the final index short."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    _commit(store, {"d": [("e:0", False, "a", ["hub"])]})
    srv = UdaServer(store)
    srv._query_index()

    def worker(w):
        for i in range(50):
            _drop_in(store, "d", f"{w}-{i}", f"e:{w}:{i}")
            assert f"e:{w}:{i}" in srv._query_index()["by_id"]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            for fut in [pool.submit(worker, w) for w in range(8)]:
                fut.result(WAIT_S)
    finally:
        sys.setswitchinterval(interval)
    assert len(srv._query_index()["by_id"]) == 1 + 8 * 50
    assert srv._index.files == store.log_files(["d"])


def test_another_writers_commits_show_with_the_next_request(spark, tmp_path):
    root = str(tmp_path / "store")
    store = S.EntityStore(spark, root)
    _commit(store, {"d": [("e:1", False, "a", ["hub"])]})
    srv = UdaServer(store)
    base = srv.start()
    try:
        assert _referrers(base, "hub") == ["e:1"]
        _commit(S.EntityStore(spark, root), {"d": [("e:2", False, "b", ["hub"])]})
        assert _referrers(base, "hub") == ["e:1", "e:2"]
        _commit(S.EntityStore(spark, root), {"e": [("e:3", False, "c", [])]})
        page = json.loads(_fetch(base, "/datasets/e/entities"))
        assert [e["id"] for e in page[1:-1]] == ["e:3"]
    finally:
        srv.stop()


def test_a_store_past_the_cap_is_served_by_spark_and_built_once(spark, tmp_path, monkeypatch):
    """Past the cap every route serves the bytes the index would, from
    Spark jobs; the store is not collected again per request, nor after a
    commit, only when a covered file is gone."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    _commit(store, {"a": [("e:1", False, "x", ["e:2"]), ("e:2", True, "y", [])],
                    "b": [("e:1", False, "y", ["e:3"]), ("e:3", False, NULL, [None])]})
    builds: list = []
    build = script.build_lookup_index
    monkeypatch.setattr(script, "build_lookup_index",
                        lambda *frames, **kw: builds.append(kw["max_rows"]) or build(*frames, **kw))
    capped, full = _capped(store, 3), UdaServer(store)
    over, under = capped.start(), full.start()
    try:
        assert _served_bytes(over, ["a", "b"]) == _served_bytes(under, ["a", "b"])
        _commit(store, {"a": [("e:1", False, "z", [])]})
        assert _served_bytes(over, ["a", "b"]) == _served_bytes(under, ["a", "b"])
        assert builds.count(3) == 1 and capped._index.index is None
        try:
            _referrers(over, "e:2")
            raise AssertionError("a traversal past the cap answered")
        except urllib.error.HTTPError as exc:
            assert exc.code == 500 and b"lookup index exceeds 3 rows" in exc.read()
        store.compact("a")
        assert _served_bytes(over, ["a", "b"]) == _served_bytes(under, ["a", "b"])
        assert builds.count(3) == 2
    finally:
        capped.stop()
        full.stop()


def test_unmerged_lookup_is_the_newest_live_partial_on_both_paths(spark, tmp_path):
    store = S.EntityStore(spark, str(tmp_path / "store"))
    # one transaction, one explicit seq: the dataset breaks the tie
    store.execute_transaction({ds: local_frame(spark, [
        ("e:1", None, 7, False, {"p:v": ds}, {})], uda.ROW_SCHEMA) for ds in ("b", "a")})
    servers = [UdaServer(store), _capped(store)]
    urls = [srv.start() for srv in servers]

    def unmerged():
        return {json.loads(_fetch(url, "/query", {"entityId": "e:1", "noPartialMerging": True}))
                [1]["props"]["p:v"] for url in urls}

    try:
        assert unmerged() == {"b"}
        _commit(store, {"a": [("e:1", False, "a2", [])]})
        assert unmerged() == {"a2"}
        _commit(store, {"a": [("e:1", True, "a3", [])]})  # a tombstone is skipped
        assert unmerged() == {"b"}
    finally:
        for srv in servers:
            srv.stop()


def test_a_null_ref_list_is_served_as_stored_on_both_paths(spark, tmp_path):
    """A stored NULL ref list (which a job's frame can write) is served as
    ``null`` by the index and by the Spark path, in pages and in merged
    and unmerged lookups."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    _commit(store, {"a": [("e:1", False, "x", NULL)], "b": [("e:1", False, "y", ["e:2"])]})
    _commit(store, {"b": [("e:2", False, "z", NULL)]})
    servers = [UdaServer(store), _capped(store)]
    index, spark_path = [srv.start() for srv in servers]
    try:
        assert _served_bytes(index, ["a", "b"]) == _served_bytes(spark_path, ["a", "b"])
        for base in (index, spark_path):
            assert json.loads(_fetch(base, "/query", {"entityId": "e:2"}))[1]["refs"] == \
                {"p:r": None}
            assert b'"refs":{"p:r":null}' in _fetch(base, "/datasets/a/changes")
    finally:
        for srv in servers:
            srv.stop()


def test_a_null_ref_element_is_a_change_on_both_dedup_paths(spark, tmp_path):
    """A served POST that only adds a NULL ref element — ["x"] to
    ["x", null], or [] to [null] — commits a version, through the
    index's dedup and through store_entities' (a cap of 0)."""
    for name, make in (("index", UdaServer), ("spark", _capped)):
        store = S.EntityStore(spark, str(tmp_path / name))
        srv = make(store)
        base = srv.start()
        try:
            for refs in ([["x"], ["x", None]], [[], [None]]):
                for r in refs + refs[-1:]:  # the repeat is unchanged
                    _fetch(base, "/datasets/d/entities", [{"id": "e:1", "refs": {"p:r": r}}])
            got = [(r["refs"] or {}).get("p:r") for r in store.log(["d"]).orderBy("recorded").collect()]
            assert got == [["x"], ["x", None], [], [None]], name
        finally:
            srv.stop()


def test_a_served_post_commits_one_file(spark, tmp_path):
    """A plain served POST stages its body chunk as one partition, so
    each commit adds one file to the log."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    srv = UdaServer(store)
    base = srv.start()
    try:
        for n in (1, 2):
            _fetch(base, "/datasets/d/entities",
                   [{"id": f"e:{i}", "props": {"p:v": str(n)}} for i in range(1000)])
            assert len(store.log_files(["d"])) == n
        assert store.log(["d"]).count() == 2000
    finally:
        srv.stop()


ids = st.sampled_from(["e:0", "e:1", "e:2", "e:3"])
entity = st.tuples(ids, st.booleans(), st.sampled_from(["x", "y", None, NULL]),
                   st.lists(st.none() | ids, max_size=2) | st.just(NULL))
batch = st.lists(entity, min_size=1, max_size=4)
names = st.sampled_from(["a", "b", "c"])
step = st.one_of(
    st.tuples(st.just("commit"), st.dictionaries(names, batch, min_size=1, max_size=2),
              st.none()),
    st.tuples(st.sampled_from(["wal", "other", "post"]), names, batch),
    st.tuples(st.sampled_from(["compact", "delete", "rename"]),
              st.integers(0, 2), st.none()),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(step, min_size=2, max_size=6), batch)
@example(steps=[  # every kind of step at least once
    ("commit", {"a": [("e:0", False, "x", ["e:1"]), ("e:1", False, NULL, [None])],
                "b": [("e:0", False, "x", ["e:2"]), ("e:1", False, "y", NULL)]}, None),
    ("wal", "a", [("e:1", True, "y", []), ("e:2", False, None, ["e:0"])]),
    ("other", "b", [("e:0", False, None, ["e:1", "e:1"])]),
    ("post", "a", [("e:2", False, None, ["e:0"]), ("e:3", False, "x", []),
                   ("e:0", False, "y", ["e:1"])]),
    ("compact", 0, None),
    ("rename", 1, None),
    ("delete", 0, None),
    ("commit", {"a": [("e:3", False, "x", ["e:0"])]}, None),
], probe=[("e:1", False, "x", []), ("e:3", False, "x", ["e:0"])])
def test_followed_index_equals_a_fresh_build(spark, tmp_path_factory, monkeypatch,
                                             steps, probe):
    """After every step — commits (multi-dataset ones included), a WAL
    flush, a commit through a second store on the same root, a served
    POST, compaction, delete and rename — the served index equals
    build_lookup_index over every dataset's log, and the index server
    serves the bytes and keeps the POSTed rows the Spark path does.

    The steps cover tombstones, NULL props and prop values, NULL ref
    lists and elements, partials of one id in several datasets, and POSTed rows
    tied on (recorded, seq). A POST keeps one row per id, because the
    Spark path orders rows tied on (recorded, seq, id) arbitrarily."""
    root = str(tmp_path_factory.mktemp("followed"))
    store = S.EntityStore(spark, root)
    srv, ref = UdaServer(store), _capped(store)
    wal = UdaServer(store, wal_writes=True)
    base, ref_base = srv.start(), ref.start()
    try:
        for n, (op, arg, ents) in enumerate(steps):
            existing = store.list_datasets()
            if op == "commit":
                _commit(store, arg)
            elif op == "wal":
                wal._wal_for(arg).append(_wire(ents))
                wal.flush_wal()
            elif op == "other":
                _commit(S.EntityStore(spark, root), {arg: ents})
            elif op == "post":
                _fetch(base, f"/datasets/{arg}/entities",
                       _wire({e[0]: e for e in ents}.values()))
            elif existing:
                ds = existing[arg % len(existing)]
                if op == "compact":
                    store.compact(ds)
                elif op == "delete":
                    store.delete_dataset(ds)
                else:
                    store.rename_dataset(ds, f"{ds}{n}")
            got = srv._query_index()
            want = script.build_lookup_index(
                *[store.log([d]) for d in store.list_datasets()])
            for part in ("by_id", "inverse", "changes"):
                assert got[part] == want[part], (n, op, part)
            datasets = store.list_datasets()
            assert _served_bytes(base, datasets) == _served_bytes(ref_base, datasets), (n, op)
            for ds in datasets:
                offered = probe + (ents if isinstance(ents, list) else [])
                assert _kept(base, ds, offered, monkeypatch) == \
                    _kept(ref_base, ds, offered, monkeypatch), (n, op, ds)
    finally:
        for server in (srv, ref, wal):
            server.stop()
    assert srv._index is None
