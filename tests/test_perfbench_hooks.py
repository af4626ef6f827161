"""The benchmark's traced serve run (perfbench/serve.py) patches library
attributes by name and splits each write between ``store_entities`` and
the ``execute_transaction`` call inside it. A rename or a refactor that
bypasses a hook must fail here, not silently zero a per-layer metric."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.request

from datahub_spark import script, store, uda
from datahub_spark.server import UdaServer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_self_tests_pass():
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "perfbench/test_perfbench.py", "-q",
         "-p", "no:cacheprovider"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]


def test_traced_attributes_exist():
    hooks = [(store.EntityStore, "log"), (store.EntityStore, "get_entity"),
             (store.EntityStore, "store_entities"),
             (store.EntityStore, "execute_transaction"), (store, "latest"),
             (script, "build_lookup_index"), (uda, "to_uda_json"),
             (UdaServer, "_observed")]
    missing = [f"{owner.__name__}.{name}" for owner, name in hooks
               if not callable(getattr(owner, name, None))]
    assert missing == []


def test_store_entities_commits_through_execute_transaction(spark, tmp_path, monkeypatch):
    es = store.EntityStore(spark, str(tmp_path / "s"))

    def batch(value):
        return spark.createDataFrame(
            [("e:1", None, 0, False, {"p:v": value}, {})], uda.ROW_SCHEMA)

    es.store_entities("d", batch("a"))  # the next write runs the dedup
    calls = []
    monkeypatch.setattr(store.EntityStore, "execute_transaction",
                        lambda self, entities, *a, **kw: calls.append(sorted(entities)) or 1)
    es.store_entities("d", batch("b"))
    assert calls == [["d"]]


def test_server_looks_hooks_up_per_call(spark, tmp_path, monkeypatch):
    built = []

    def build(*frames, **kw):
        built.append(len(frames))
        return {"by_id": {}, "inverse": {}, "changes": {}}

    srv = UdaServer(store.EntityStore(spark, str(tmp_path / "s")))
    seen = []
    observed = srv._observed

    def traced_observed(rq, dispatch):
        seen.append(rq.path)
        return observed(rq, dispatch)

    srv._observed = traced_observed
    monkeypatch.setattr(script, "build_lookup_index", build)
    base = srv.start()
    try:
        req = urllib.request.Request(
            f"{base}/query", method="POST",
            data=json.dumps({"startingEntities": ["e:1"], "predicate": "p:x"}).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
    finally:
        srv.stop()
    assert seen == ["/query"]
    assert built == [0]


def test_a_commit_then_a_traversal_folds_without_a_build(spark, tmp_path, monkeypatch):
    """The traced run's ``script.index_builds`` counts full builds: after
    the first traversal builds the index, a commit is folded into it by
    the next traversal without a call to ``script.build_lookup_index``."""
    es = store.EntityStore(spark, str(tmp_path / "s"))

    def batch(eid):
        return spark.createDataFrame(
            [(eid, None, 0, False, {}, {"p:x": ["e:0"]})], uda.ROW_SCHEMA)

    es.store_entities("d", batch("e:1"))
    built = []
    build = script.build_lookup_index
    monkeypatch.setattr(script, "build_lookup_index",
                        lambda *frames, **kw: built.append(len(frames)) or build(*frames, **kw))
    srv = UdaServer(es)
    base = srv.start()

    def referrers():
        req = urllib.request.Request(
            f"{base}/query", method="POST",
            data=json.dumps({"startingEntities": ["e:0"], "predicate": "p:x",
                             "inverse": True}).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as resp:
            return sorted(e["id"] for _s, _p, e in json.loads(resp.read())[1])

    try:
        assert referrers() == ["e:1"]
        es.store_entities("d", batch("e:2"))
        assert referrers() == ["e:1", "e:2"]
    finally:
        srv.stop()
    assert built == [1]
