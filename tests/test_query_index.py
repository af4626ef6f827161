"""The served /query lookup index follows the store's commits
(``UdaServer._query_index``): a commit only advances a generation, and
the next query folds the log files it has not read yet into the index
(``script.fold_lookup_index``) instead of re-collecting the store.

The concurrency tests hold a fold open on a ``threading.Event`` so each
interleaving is set up explicitly instead of waited for; the property
test checks the followed index against a fresh build after every step
of a random commit sequence."""

from __future__ import annotations

import json
import sys
import threading
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datahub_spark import script
from datahub_spark import store as S
from datahub_spark import uda
from datahub_spark.server import UdaServer
from datahub_spark.session import local_frame

WAIT_S = 30  # upper bound on any one wait; no test sleeps


def _commit(store, dataset_entities: dict) -> int:
    """One transaction of wire-shaped entities ``(id, deleted, value,
    ref targets)`` per dataset; the commit stamps the version keys."""
    return store.execute_transaction({
        ds: local_frame(store.spark, [
            (eid, None, None, deleted, {"p:v": value},
             {"p:r": list(refs)} if refs else {})
            for eid, deleted, value, refs in ents], uda.ROW_SCHEMA)
        for ds, ents in dataset_entities.items()})


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


def test_no_commit_is_lost_under_contention(spark, tmp_path):
    """More threads than cores commit (advance the generation) and query
    at once; an empty store builds without Spark work, so only the
    bookkeeping is exercised. A lost generation update would leave the
    count short."""
    srv = UdaServer(S.EntityStore(spark, str(tmp_path / "store")))

    def worker():
        for _ in range(500):
            srv.invalidate_query_index()
            srv._query_index()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            for fut in [pool.submit(worker) for _ in range(8)]:
                fut.result(WAIT_S)
    finally:
        sys.setswitchinterval(interval)
    assert srv._index_gen == 8 * 500
    srv._query_index()
    assert srv._index[0] == srv._index_gen


def test_another_writers_commits_show_with_the_next_local_commit(spark, tmp_path):
    root = str(tmp_path / "store")
    store = S.EntityStore(spark, root)
    _commit(store, {"d": [("e:1", False, "a", ["hub"])]})
    srv = UdaServer(store)
    base = srv.start()
    try:
        assert _referrers(base, "hub") == ["e:1"]
        _commit(S.EntityStore(spark, root), {"d": [("e:2", False, "b", ["hub"])]})
        _commit(store, {"e": [("e:3", False, "c", ["hub"])]})
        assert _referrers(base, "hub") == ["e:1", "e:2", "e:3"]
    finally:
        srv.stop()


ids = st.sampled_from(["e:0", "e:1", "e:2", "e:3"])
entity = st.tuples(ids, st.booleans(), st.sampled_from(["x", "y"]),
                   st.lists(ids, max_size=2))
batch = st.lists(entity, min_size=1, max_size=4)
names = st.sampled_from(["a", "b", "c"])
step = st.one_of(
    st.tuples(st.just("commit"), st.dictionaries(names, batch, min_size=1, max_size=2),
              st.none()),
    st.tuples(st.just("wal"), names, batch),
    st.tuples(st.just("other"), names, batch),
    st.tuples(st.sampled_from(["compact", "delete", "rename"]),
              st.integers(0, 2), st.none()),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(step, min_size=2, max_size=6))
@example([  # every kind of step at least once
    ("commit", {"a": [("e:0", False, "x", ["e:1"]), ("e:1", False, "x", [])],
                "b": [("e:0", False, "x", ["e:2"])]}, None),
    ("wal", "a", [("e:1", True, "y", []), ("e:2", False, "y", ["e:0"])]),
    ("other", "b", [("e:0", False, "y", ["e:1", "e:1"])]),
    ("compact", 0, None),
    ("rename", 1, None),
    ("delete", 0, None),
    ("commit", {"a": [("e:3", False, "x", ["e:0"])]}, None),
])
def test_followed_index_equals_a_fresh_build(spark, tmp_path_factory, steps):
    """After every step — commits (multi-dataset ones included), a WAL
    flush, a commit through a second store on the same root followed by
    a local one, compaction, delete and rename — the served index equals
    build_lookup_index over every dataset's log."""
    root = str(tmp_path_factory.mktemp("followed"))
    store = S.EntityStore(spark, root)
    srv = UdaServer(store, wal_writes=True)
    try:
        for n, (op, arg, ents) in enumerate(steps):
            existing = store.list_datasets()
            if op == "commit":
                _commit(store, arg)
            elif op == "wal":
                srv._wal_for(arg).append([
                    {"id": eid, "deleted": deleted, "props": {"p:v": value},
                     "refs": {"p:r": refs}} for eid, deleted, value, refs in ents])
                srv.flush_wal()
            elif op == "other":
                _commit(S.EntityStore(spark, root), {arg: ents})
                _commit(store, {"c": ents[:1]})
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
    finally:
        srv.stop()
    assert srv._index is None
