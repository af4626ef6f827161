"""UDA server (datahub_spark.server): serving /entities, /changes and
the fullsync lease out of an EntityStore, e2e against this repo's own
HTTP source/sink — i.e. a peer syncing a dataset OUT of this engine
(reference surface: internal/web/datasethandler.go,
internal/server/dataset.go:81-207)."""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from datahub_spark import jobs as J
from datahub_spark import store as S
from datahub_spark.script import LOOKUP_INDEX_MAX_ROWS, SCRIPT_OUTPUT_SCHEMA
from datahub_spark.server import UdaServer


def _entities(spark, rows):
    # nullable schema: recorded=None means "stamp at commit"
    return spark.createDataFrame(rows, SCRIPT_OUTPUT_SCHEMA)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode())


def _post(url: str, payload, headers=None):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), method="POST",
        headers={"Content-Type": "application/json", **(headers or {})})
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode() or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "{}")


def _split(page):
    """UDA array -> (context, entities, token)."""
    assert page[0]["id"] == "@context"
    assert page[-1]["id"] == "@continuation"
    return page[0], page[1:-1], page[-1]["token"]


@pytest.fixture
def served(spark, tmp_path):
    store = S.EntityStore(spark, str(tmp_path / "store"))
    df = _entities(spark, [
        ("e:1", None, 0, False, {"p:name": "one"}, {"p:link": ["e:2"]}, None),
        ("e:2", None, 1, False, {"p:name": "two"}, None, None),
        ("e:3", None, 2, False, {"p:name": "three"}, None, None),
        ("e:4", None, 3, True, {}, None, None),
        ("e:5", None, 4, False, {"p:name": "five"}, None, None),
    ]).drop("dataset")
    store.store_entities("d", df)
    srv = UdaServer(store, default_limit=1000)
    base = srv.start()
    yield store, base
    srv.stop()


def test_dataset_list(served):
    _, base = served
    assert _get(f"{base}/datasets") == [{"Name": "d"}]


def test_entities_paged_to_exhaustion(served):
    _, base = served
    got, token, pages = [], "", 0
    while True:
        url = f"{base}/datasets/d/entities?limit=2" + (
            f"&from={token}" if token else "")
        _, ents, next_token = _split(_get(url))
        pages += 1
        got.extend(e["id"] for e in ents)
        if next_token == token or not ents:
            break
        token = next_token
    # latest view excludes the e:4 tombstone; key-set pages of 2
    assert got == ["e:1", "e:2", "e:3", "e:5"]
    assert pages == 3  # 2 + 2 + empty drain page


def test_entities_rejects_since(served):
    _, base = served
    code, _ = _req_status(f"{base}/datasets/d/entities?since=5")
    assert code == 400


def test_unknown_dataset_404(served):
    _, base = served
    assert _req_status(f"{base}/datasets/nope/changes")[0] == 404


def _req_status(url):
    try:
        with urllib.request.urlopen(url, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as exc:
        return exc.code, None


def test_changes_latest_only_and_watermark(served, spark):
    store, base = served
    # second version for e:2
    store.store_entities("d", _entities(spark, [
        ("e:2", None, 0, False, {"p:name": "two-v2"}, None, None),
    ]).drop("dataset"))
    _, all_changes, _ = _split(_get(f"{base}/datasets/d/changes"))
    assert len(all_changes) == 6  # 5 v1 rows + 1 new version
    _, latest_only, _ = _split(
        _get(f"{base}/datasets/d/changes?latestOnly=true"))
    ids = sorted(e["id"] for e in latest_only)
    assert ids == ["e:1", "e:2", "e:3", "e:4", "e:5"]  # tombstone included
    two = next(e for e in latest_only if e["id"] == "e:2")
    assert two["props"]["p:name"] == "two-v2"
    # bare-int watermark: only the second commit tick comes back
    wm = max(e["recorded"] for e in all_changes if e["id"] != "e:2")
    _, newer, _ = _split(_get(f"{base}/datasets/d/changes?since={wm}"))
    assert [e["id"] for e in newer] == ["e:2"]


def test_changes_pagination_is_stable_mid_tick(served):
    _, base = served
    # all 5 v1 rows share one recorded tick — the triple token must
    # still advance deterministically through them
    got, token = [], ""
    for _ in range(10):
        url = f"{base}/datasets/d/changes?limit=2" + (
            f"&since={token}" if token else "")
        _, ents, next_token = _split(_get(url))
        got.extend(e["id"] for e in ents)
        if next_token == token:
            break
        token = next_token
    assert got == ["e:1", "e:2", "e:3", "e:4", "e:5"]


def test_bad_since_token_is_400(served):
    _, base = served
    assert _req_status(f"{base}/datasets/d/changes?since=%21%21")[0] == 400


@pytest.mark.parametrize("index_max_rows", [LOOKUP_INDEX_MAX_ROWS, 0])
def test_malformed_paging_parameters_are_400_by_name(served, index_max_rows):
    """limit, since and from are parsed before the index or the Spark
    path is chosen (a cap of 0 forces Spark), so both refuse the same
    values with a 400 that names the parameter."""
    store, _ = served
    srv = UdaServer(store)
    srv.index_max_rows = index_max_rows
    base = srv.start()
    try:
        _, _, entities_token = _split(_get(f"{base}/datasets/d/entities?limit=1"))
        _, _, changes_token = _split(_get(f"{base}/datasets/d/changes?limit=1"))
        for path, name in [
            ("entities?limit=abc", "limit"), ("entities?limit=-1", "limit"),
            ("changes?limit=1.5", "limit"), (f"changes?limit={2**31}", "limit"),
            (f"changes?since={entities_token}", "since"),
            (f"entities?from={changes_token}", "from"),
            ("entities?from=%21%21", "from"),
        ]:
            req = urllib.request.Request(f"{base}/datasets/d/{path}")
            with pytest.raises(urllib.error.HTTPError) as exc:
                urllib.request.urlopen(req, timeout=30)
            assert exc.value.code == 400, path
            assert name in json.loads(exc.value.read())["message"], path
        assert _split(_get(f"{base}/datasets/d/changes?limit=0"))[1] == []
    finally:
        srv.stop()


def test_http_source_syncs_out_incrementally(served, spark, tmp_path):
    """The advice-item e2e: this repo's own HttpDatasetSource pulls a
    dataset OUT of the served endpoint, incrementally."""
    store, base = served
    mirror = S.EntityStore(spark, str(tmp_path / "mirror"))
    src = J.HttpDatasetSource(
        spark, f"{base}/datasets/d", dataset="d", allow_network=True)

    first, wm = src.read(0)
    mirror.store_entities("d", first.drop("dataset"))
    assert wm > 0
    a = {r["id"]: r["props"] for r in
         S.latest(store.log(["d"])).collect()}
    b = {r["id"]: r["props"] for r in
         S.latest(mirror.log(["d"])).collect()}
    assert a == b

    # upstream advances: new entity + tombstone for e:5
    store.store_entities("d", _entities(spark, [
        ("e:6", None, 0, False, {"p:name": "six"}, None, None),
        ("e:5", None, 1, True, {}, None, None),
    ]).drop("dataset"))

    delta, delta_wm = src.read(wm)
    rows = delta.collect()
    assert sorted(r["id"] for r in rows) == ["e:5", "e:6"]  # only the delta
    mirror.store_entities("d", delta.drop("dataset"))
    a = {r["id"]: dict(r["props"]) for r in
         S.latest(store.log(["d"])).collect()}
    b = {r["id"]: dict(r["props"]) for r in
         S.latest(mirror.log(["d"])).collect()}
    assert a == b and "e:5" not in a and "e:6" in a
    assert delta_wm > wm


def test_proxy_dataset_reads_through_served_endpoint(served, spark):
    """proxydataset.go e2e: a local ProxyDataset whose reads delegate —
    over the wire — to the served UDA endpoint; latest/traversal compose
    over the returned frames with nothing landing in a local store."""
    _, base = served
    proxy = J.ProxyDataset(
        spark, f"{base}/datasets/d", name="d", allow_network=True)
    ents = {r["id"]: r for r in proxy.entities().collect()}
    assert set(ents) == {"e:1", "e:2", "e:3", "e:5"}  # tombstone dropped
    assert ents["e:1"]["refs"]["p:link"] == ["e:2"]
    changes = proxy.changes(since=0).collect()
    assert len(changes) == 5  # tombstone included in the change feed


def test_http_sink_posts_into_served_store(served, spark):
    store, base = served
    sink = J.HttpDatasetSink(f"{base}/datasets/d", allow_network=True)
    sink.write(_entities(spark, [
        ("e:9", None, 0, False, {"p:name": "nine"}, None, None),
    ]).drop("dataset"))
    out = {r["id"] for r in S.latest(store.log(["d"])).collect()}
    assert "e:9" in out


def test_namespaces_statistics_transactions(served, spark):
    store, base = served
    # GET /namespaces: prefix -> expansion map
    ns = _get(f"{base}/namespaces")
    assert ns.get("p", "").startswith("http")
    # POST /transactions: atomic multi-dataset commit (txnhandler.go:54)
    code, _ = _post(f"{base}/transactions", {
        "@context": {"namespaces": {}},
        "txnA": [{"id": "t:1", "deleted": False,
                  "props": {"p:name": "alpha"}, "refs": {}}],
        "txnB": [{"id": "t:2", "deleted": False,
                  "props": {}, "refs": {"p:link": "t:1"}}],
    })
    assert code == 200
    assert {r["id"] for r in
            S.latest(store.log(["txnA"])).collect()} == {"t:1"}
    assert S.latest(store.log(["txnB"])).collect()[0]["refs"]["p:link"] == \
        ["t:1"]  # scalar ref normalized to list
    # GET /statistics and /statistics/{ds}
    stats = _get(f"{base}/statistics")
    assert stats["d"]["entities"] == 5
    assert stats["all"]["changes"] >= 7
    only = _get(f"{base}/statistics/txnA")
    assert only["txnA"] == {"changes": 1, "entities": 1}


def test_query_endpoint_entity_lookup(served):
    # queryhandler.go:200-230: entityId -> [@context, merged entity];
    # unknown id -> [@context, {"id": ...}]
    _, base = served
    code, body = _post(f"{base}/query", {"entityId": "e:1"})
    assert code == 200
    assert body[0]["id"] == "@context"
    assert body[1]["id"] == "e:1"
    assert body[1]["props"]["p:name"] == "one"
    assert body[1]["refs"]["p:link"] == ["e:2"]
    code, body = _post(f"{base}/query", {"entityId": "e:404"})
    assert body[1] == {"id": "e:404"}


def test_query_endpoint_related_with_continuation(served):
    # queryhandler.go:249-265: startingEntities/predicate ->
    # [@context, triples(, continuation when limit given)]
    _, base = served
    code, body = _post(f"{base}/query", {
        "startingEntities": ["e:1"], "predicate": "p:link"})
    assert code == 200
    [[start, pred, ent]] = body[1]
    assert (start, pred, ent["id"]) == ("e:1", "p:link", "e:2")
    assert len(body) == 2  # no limit -> no continuation element
    # inverse with limit: continuation pages through
    code, body = _post(f"{base}/query", {
        "startingEntities": ["e:2"], "predicate": "p:link",
        "inverse": True, "limit": 1})
    assert [t[2]["id"] for t in body[1]] == ["e:1"]
    assert body[2] == []  # only one inverse edge: drained


def test_query_endpoint_javascript_query(served):
    # Content-Type application/x-javascript-query (queryhandler.go:144):
    # do_query script streams WriteQueryResult objects back
    _, base = served
    js = """function do_query() {
        var hits = Query(["e:1"], "p:link", false);
        for (h of hits) {
            WriteQueryResult({start: h[0], related: GetId(h[2])});
        }
    }"""
    code, body = _post(
        f"{base}/query", {"query": js},
        headers={"Content-Type": "application/x-javascript-query"})
    assert code == 200
    assert body == [{"start": "e:1", "related": "e:2"}]


def _put(url: str, payload=None):
    req = urllib.request.Request(
        url, data=json.dumps(payload or {}).encode(), method="PUT",
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read().decode() or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "{}")


def test_jobs_api_over_http(spark, tmp_path):
    """jobshandler.go / joboperationhandler.go: POST a verbatim
    JobConfiguration over HTTP, operate it, and see its output land in
    the served store — a peer can fully DRIVE this engine's job engine
    through the wire."""
    import base64

    store = S.EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("src", _entities(spark, [
        ("s:1", None, 0, False, {"p:name": "a"}, None, None),
        ("s:2", None, 1, False, {"p:name": "b"}, None, None),
    ]).drop("dataset"))
    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    srv = UdaServer(store, scheduler=sched)
    base = srv.start()
    try:
        js = """function transform_entities(entities) {
            for (e of entities) {
                SetProperty(e, "p", "upper",
                            GetProperty(e, "p", "name", "").toUpperCase());
            }
            return entities;
        }"""
        cfg = {
            "id": "wire-job",
            "triggers": [{"triggerType": "cron", "jobType": "incremental",
                          "schedule": "@every 1m"}],
            "source": {"Type": "DatasetSource", "Name": "src"},
            "transform": {"Type": "JavascriptTransform",
                          "Code": base64.b64encode(js.encode()).decode()},
            "sink": {"Type": "DatasetSink", "Name": "out"},
        }
        code, body = _post(f"{base}/jobs", cfg)
        assert code == 201 and body == {"id": "wire-job"}
        assert _get(f"{base}/jobs") == [cfg]
        assert _get(f"{base}/jobs/_/schedules") == {"wire-job": "@every 1m"}
        # run it over the wire; output lands in the store
        code, _ = _put(f"{base}/job/wire-job/run")
        assert code == 200
        out = {r["id"]: r["props"]["p:upper"] for r in
               S.latest(store.log(["out"])).collect()}
        assert out == {"s:1": "A", "s:2": "B"}
        # history recorded; status idle; lineage has the edge
        hist = _get(f"{base}/jobs/_/history")["wire-job"]
        assert hist and hist[0]["id"] == "wire-job"
        assert _get(f"{base}/job/wire-job/status") == {"state": "Stopped"}
        # jobsListStatus (jobshandler.go:109): idle -> [], running ->
        # JobStatus rows {jobId, jobTitle, started}
        assert _get(f"{base}/jobs/_/status") == []
        assert sched.runner.raffle.borrow(sched.jobs["wire-job"])
        try:
            (st,) = _get(f"{base}/jobs/_/status")
            assert st["jobId"] == "wire-job" and "started" in st
        finally:
            sched.runner.raffle.give_back(sched.jobs["wire-job"])
        lin = _get(f"{base}/lineage")
        assert any(e.get("from") == "src" or e.get("source") == "src"
                   or "src" in json.dumps(e) for e in lin)
        # pause blocks run; resume + reset re-run from token 0
        _put(f"{base}/job/wire-job/pause")
        assert sched.jobs["wire-job"].paused is True
        _put(f"{base}/job/wire-job/resume")
        _put(f"{base}/job/wire-job/reset")
        assert state.token("wire-job") is None
        # reset_meta clears MultiSource dependency watermarks
        # (joboperationhandler.go:102 ResetJobMeta analogue)
        state.set_token("wire-job", {"dep": 7})
        assert _put(f"{base}/job/wire-job/reset_meta")[0] == 200
        assert state.token("wire-job") is None
        # kill on a non-running job is 200 (best-effort, like KillJob)
        assert _put(f"{base}/job/wire-job/kill")[0] == 200
        # delete unregisters
        req = urllib.request.Request(f"{base}/jobs/wire-job",
                                     method="DELETE")
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
        assert _get(f"{base}/jobs") == []
    finally:
        srv.stop()


def test_onchange_job_posted_over_http_fires_on_commit(spark, tmp_path):
    """An onchange trigger posted to POST /jobs watches its
    monitoredDataset: a served write there submits the job through the
    scheduler's runner, and the run lands the entity in the sink."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    sched = J.Scheduler(J.JobState(str(tmp_path / "state.json")))
    srv = UdaServer(store, scheduler=sched)
    base = srv.start()
    try:
        cfg = {
            "id": "on-inbox",
            "triggers": [{"triggerType": "onchange", "jobType": "incremental",
                          "monitoredDataset": "inbox"}],
            "source": {"Type": "DatasetSource", "Name": "inbox"},
            "sink": {"Type": "DatasetSink", "Name": "outbox"},
        }
        assert _post(f"{base}/jobs", cfg)[0] == 201
        assert _get(f"{base}/jobs/_/schedules") == {}
        code, _ = _post(f"{base}/datasets/inbox/entities", _uda_batch(
            {"id": "i:1", "props": {"p:v": "1"}, "refs": {}}))
        assert code == 200
        sched.runner.join()
        assert [r["id"] for r in S.latest(store.log(["outbox"])).collect()] \
            == ["i:1"]
        assert _get(f"{base}/jobs/_/history")["on-inbox"]
    finally:
        srv.stop()


def test_multisource_job_redelivers_every_row_after_reset(spark, tmp_path):
    """PUT /job/{id}/reset clears a MultiSource job's whole token, so the
    next run delivers every row again; reset_meta does the same for its
    per-dataset token and leaves any other job's token alone."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("city", _entities(spark, [
        ("c:1", None, 0, False, {"p:name": "Oslo"}, None, None),
    ]).drop("dataset"))
    store.store_entities("people", _entities(spark, [
        ("p:1", None, 0, False, {"p:name": "a"}, {"p:home": ["c:1"]}, None),
        ("p:2", None, 1, False, {"p:name": "b"}, {"p:home": ["c:1"]}, None),
    ]).drop("dataset"))

    class CollectSink:
        def __init__(self):
            self.runs = []

        def write(self, df):
            self.runs.append(sorted(r["id"] for r in df.collect()))

    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    sink = CollectSink()
    sched.register(J.Job("ms", J.MultiSource(store, "people", [
        J.Dependency("city", [J.Join("people", "p:home", inverse=True)])]),
        sink))
    srv = UdaServer(store, scheduler=sched)
    base = srv.start()
    try:
        for op in ("run", "run", "reset", "run", "reset_meta", "run"):
            assert _put(f"{base}/job/ms/{op}")[0] == 200
        assert sink.runs == [["p:1", "p:2"], [], ["p:1", "p:2"], ["p:1", "p:2"]]
        state.set_token("ms", 5)
        assert _put(f"{base}/job/ms/reset_meta")[0] == 200
        assert state.token("ms") == 5
    finally:
        srv.stop()


def test_jobs_post_missing_required_key_is_400(spark, tmp_path):
    """POST /jobs answers 400 naming a missing required key (or an empty
    DatasetSources list) and registers nothing."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    srv = UdaServer(store, scheduler=J.Scheduler(
        J.JobState(str(tmp_path / "state.json"))))
    base = srv.start()
    ds = {"Type": "DatasetSource", "Name": "src"}
    sink = {"Type": "DevNullSink"}
    cases = [
        ({"source": {"Type": "DatasetSource"}, "sink": sink}, "'Name'"),
        ({"source": {"Type": "MultiSource"}, "sink": sink}, "'Name'"),
        ({"source": ds, "sink": {"Type": "DatasetSink"}}, "'Name'"),
        ({"source": {"Type": "HttpDatasetSource"}, "sink": sink}, "'Url'"),
        ({"source": ds, "sink": {"Type": "HttpDatasetSink"}}, "'Url'"),
        ({"source": ds, "sink": sink,
          "transform": {"Type": "JavascriptTransform"}}, "'Code'"),
        ({"source": ds, "sink": sink,
          "transform": {"Type": "HttpTransform"}}, "'Url'"),
        ({"source": {"Type": "UnionDatasetSource"}, "sink": sink},
         "'DatasetSources'"),
        ({"source": {"Type": "UnionDatasetSource", "DatasetSources": []},
          "sink": sink}, "'DatasetSources'"),
        ({"source": {"Type": "UnionDatasetSource", "DatasetSources": [{}]},
          "sink": sink}, "'Name'"),
    ]
    try:
        for cfg, key in cases:
            code, body = _post(f"{base}/jobs", {"id": "bad", **cfg})
            assert code == 400 and key in json.dumps(body), (cfg, code, body)
        assert _get(f"{base}/jobs") == []
    finally:
        srv.stop()


def test_content_and_compaction_over_http(spark, tmp_path):
    # contenthandler.go:44-48 CRUD; compactionhandler.go:22 dedup trigger
    from datahub_spark.content import ContentService

    store = S.EntityStore(spark, str(tmp_path / "store"))
    # two identical successive versions: compaction drops one
    for _ in range(2):
        store.store_entities("d", _entities(spark, [
            ("e:1", None, 0, False, {"p:name": "same"}, None, None),
        ]).drop("dataset"), skip_unchanged=False)
    srv = UdaServer(store, content=ContentService(str(tmp_path / "content")))
    base = srv.start()
    try:
        code, body = _post(f"{base}/content", {"id": "c1", "data": {"x": 1}})
        assert code == 201
        assert _get(f"{base}/content/c1")["data"] == {"x": 1}
        code, _ = _put(f"{base}/content/c1", {"id": "c1", "data": {"x": 2}})
        assert code == 200
        assert _get(f"{base}/content/c1")["data"] == {"x": 2}
        assert len(_get(f"{base}/content")) == 1
        req = urllib.request.Request(f"{base}/content/c1", method="DELETE")
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200

        assert store.log(["d"]).count() == 2
        code, _ = _post(f"{base}/compact",
                        {"dataset": "d", "strategy": "deduplication"})
        assert code == 200
        assert store.log(["d"]).count() == 1  # duplicate version dropped
        code, _ = _post(f"{base}/compact",
                        {"dataset": "d", "strategy": "bogus"})
        assert code == 400
        # engine extra: cleanDeleted purges latest-tombstoned entities
        # in the same rewrite (Cleandeleted over the wire)
        store.store_entities("d", _entities(spark, [
            ("e:1", None, 0, True, {}, None, None),
        ]).drop("dataset"), skip_unchanged=False)
        code, _ = _post(f"{base}/compact",
                        {"dataset": "d", "strategy": "deduplication",
                         "cleanDeleted": True})
        assert code == 200
        assert store.log(["d"]).count() == 0
    finally:
        srv.stop()


def _fs_headers(sync_id, start=False, end=False):
    h = {"universal-data-api-full-sync-id": sync_id}
    if start:
        h["universal-data-api-full-sync-start"] = "true"
    if end:
        h["universal-data-api-full-sync-end"] = "true"
    return h


def _uda_batch(*objs):
    return [{"id": "@context", "namespaces": {}}] + list(objs)


def test_fullsync_lease_protocol(served, spark):
    store, base = served
    url = f"{base}/datasets/d/entities"
    # start a sync carrying e:1 only
    code, _ = _post(url, _uda_batch(
        {"id": "e:1", "deleted": False, "props": {"p:name": "one-v2"},
         "refs": {}}), _fs_headers("sync1", start=True))
    assert code == 200
    # a competing fullsync start conflicts
    code, _ = _post(url, _uda_batch(), _fs_headers("sync2", start=True))
    assert code == 409
    # a plain write during the sync conflicts (datasethandler.go:819)
    code, _ = _post(url, _uda_batch(
        {"id": "e:7", "deleted": False, "props": {}, "refs": {}}))
    assert code == 409
    # an unknown lease id cannot refresh
    code, _ = _post(url, _uda_batch(), _fs_headers("sync2"))
    assert code == 409
    # second batch under the lease, then end
    code, _ = _post(url, _uda_batch(
        {"id": "e:2", "deleted": False, "props": {"p:name": "two"},
         "refs": {}}), _fs_headers("sync1"))
    assert code == 200
    code, _ = _post(url, _uda_batch(), _fs_headers("sync1", end=True))
    assert code == 200
    # fullsync complete: snapshot = {e:1, e:2}; everything else
    # tombstoned (FullSyncSession.complete left-anti diff)
    out = {r["id"] for r in S.latest(store.log(["d"])).collect()}
    assert out == {"e:1", "e:2"}
    # lease is gone: ending again is 410
    code, _ = _post(url, _uda_batch(), _fs_headers("sync1", end=True))
    assert code == 410
    # and plain writes work again
    code, _ = _post(url, _uda_batch(
        {"id": "e:8", "deleted": False, "props": {}, "refs": {}}))
    assert code == 200


# -- streaming request-body parsing (streamparser.go:1-486) ----------------

class _TrackedStream:
    """BytesIO-alike that records how far the wire has been read."""

    def __init__(self, data: bytes):
        self.data, self.pos = data, 0

    def read(self, n: int) -> bytes:
        chunk = self.data[self.pos:self.pos + n]
        self.pos += len(chunk)
        return chunk


def test_iter_json_array_is_incremental():
    from datahub_spark.server import iter_json_array

    objs = [{"id": f"e:{i}", "props": {"p:n": "x" * 50}} for i in range(2000)]
    data = json.dumps(objs).encode()
    ts = _TrackedStream(data)
    it = iter_json_array(ts, len(data), chunk_bytes=1024)
    got = []
    consumed = 0
    max_outstanding = 0
    for obj in it:
        got.append(obj)
        consumed += len(json.dumps(obj).encode())
        # bytes pulled off the wire but not yet yielded: bounded by a few
        # chunks + one element — NEVER the whole body
        max_outstanding = max(max_outstanding, ts.pos - consumed)
    assert got == objs
    assert ts.pos == len(data)
    assert max_outstanding < 8 * 1024, max_outstanding


def test_iter_json_array_utf8_split_and_edges():
    from datahub_spark.server import iter_json_array

    objs = [{"id": "e:ü", "props": {"p:t": "héllo 🌍 日本語"}}, {"id": "e:2"}]
    data = json.dumps(objs, ensure_ascii=False).encode()
    # chunk size 3 guarantees multi-byte codepoints split across reads
    out = list(iter_json_array(_TrackedStream(data), len(data), chunk_bytes=3))
    assert out == objs
    # empty body -> no elements (UDA tolerates it)
    assert list(iter_json_array(_TrackedStream(b""), 0)) == []
    assert list(iter_json_array(_TrackedStream(b"  [ ]"), 5)) == []
    # malformed: not an array / truncated mid-element
    with pytest.raises(ValueError):
        list(iter_json_array(_TrackedStream(b'{"id": 1}'), 9))
    with pytest.raises(ValueError):
        bad = b'[{"id": "e:1"}, {"id": "e:'
        list(iter_json_array(_TrackedStream(bad), len(bad)))


def test_streamed_post_chunks_single_commit(served, monkeypatch):
    from datahub_spark.server import UdaServer

    store, base = served
    monkeypatch.setattr(UdaServer, "BODY_CHUNK_ROWS", 250)
    n = 1200  # >> chunk rows: body parses as 5 DataFrame chunks
    batch = _uda_batch(*[
        {"id": f"big:{i}", "deleted": False,
         "props": {"p:n": str(i)}, "refs": {}} for i in range(n)])
    code, _ = _post(f"{base}/datasets/big/entities", batch)
    assert code == 200
    log = store.log(["big"])
    assert log.count() == n
    # chunked parse must still be ONE atomic commit
    assert log.select("recorded").distinct().count() == 1


def test_streamed_post_malformed_is_400_and_releases_lease(served):
    store, base = served
    url = f"{base}/datasets/d/entities"
    body = b'[{"id": "@context", "namespaces": {}}, {"id": "e:1", '  # cut off
    req = urllib.request.Request(
        url, data=body, method="POST",
        headers={"Content-Type": "application/json",
                 **_fs_headers("syncX", start=True)})
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            code = resp.status
    except urllib.error.HTTPError as exc:
        code = exc.code
    assert code == 400
    # the lease started by the failed request must not linger: a fresh
    # fullsync can start immediately
    code, _ = _post(url, _uda_batch(
        {"id": "e:1", "deleted": False, "props": {}, "refs": {}}),
        _fs_headers("syncY", start=True))
    assert code == 200
    code, _ = _post(url, _uda_batch(), _fs_headers("syncY", end=True))
    assert code == 200
    # well-formed JSON whose props is not an object: rejected by name
    code, body = _post(url, _uda_batch({"id": "e:9", "props": ["x"]}))
    assert code == 400 and "'e:9': props" in body["message"]


# -- JSON-LD content negotiation (datasethandler.go:246-340,492-530) -------

def _get_with_headers(url: str, headers: dict):
    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.headers.get("Content-Type"), json.loads(resp.read().decode())


def test_entities_jsonld_negotiation(served):
    _, base = served
    for url, hdrs in [
        (f"{base}/datasets/d/entities?format=jsonld", {}),
        (f"{base}/datasets/d/entities", {"Accept": "application/ld+json"}),
    ]:
        ctype, page = _get_with_headers(url, hdrs)
        assert ctype == "application/ld+json"
        # context: namespace map + the fixed core/rdf prefixes
        ctx = page[0]["@context"]
        assert ctx["core"] == "http://data.mimiro.io/core/uda/"
        assert ctx["rdf"] == "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        # entities: @id nodes, props verbatim, refs as {"@id": ...} nodes
        ents = {e["@id"]: e for e in page[1:-1]}
        assert set(ents) == {"e:1", "e:2", "e:3", "e:5"}  # e:4 deleted
        assert ents["e:1"]["p:name"] == "one"
        assert ents["e:1"]["p:link"] == [{"@id": "e:2"}]
        assert "id" not in ents["e:1"] and "props" not in ents["e:1"]
        # continuation: the JSON-LD token node, not {"id":"@continuation"}
        cont = page[-1]
        assert cont["rdf:type"] == {"@id": "core:continuation"}
        assert isinstance(cont["core:token"], str) and cont["core:token"]


def test_changes_jsonld_and_plain_unchanged(served):
    _, base = served
    ctype, page = _get_with_headers(
        f"{base}/datasets/d/changes?format=jsonld", {})
    assert ctype == "application/ld+json"
    assert "@context" in page[0]
    assert all("@id" in e for e in page[1:-1])
    assert page[-1]["rdf:type"] == {"@id": "core:continuation"}
    # plain JSON output is byte-for-byte the UDA shape it always was
    ctype, plain = _get_with_headers(f"{base}/datasets/d/changes", {})
    assert ctype == "application/json"
    assert plain[0]["id"] == "@context"
    assert plain[-1]["id"] == "@continuation"


def test_http_request_metrics(spark, tmp_path):
    # loggerfilter.go:64-74: http.count / http.time / http.size per
    # request, tagged method/path/status
    from datahub_spark.metrics import RecordingMetrics

    store = S.EntityStore(spark, str(tmp_path / "mstore"))
    df = _entities(spark, [
        ("e:1", None, 0, False, {"p:name": "one"}, None, None),
    ]).drop("dataset")
    store.store_entities("d", df)
    rec = RecordingMetrics()
    srv = UdaServer(store, metrics=rec)
    base = srv.start()
    try:
        _get(f"{base}/datasets/d/entities")
        code, _ = _post(f"{base}/datasets/nope/entities/extra", [])
        assert code == 404
    finally:
        srv.stop()
    counts = rec.named("http.count")
    assert {(e["tags"]["method"], e["tags"]["path"], e["tags"]["status"])
            for e in counts} == {
        ("GET", "/datasets/d/entities", 200),
        ("POST", "/datasets/nope/entities/extra", 404),
    }
    times = rec.named("http.time")
    assert len(times) == 2 and all(e["value"] > 0 for e in times)
    sizes = rec.named("http.size")
    assert len(sizes) == 2 and all(e["value"] > 0 for e in sizes)


def test_changes_reverse_pages_newest_first(served, spark):
    """?reverse=true walks the change-log newest-first with the same
    continuation protocol (datasethandler.go:551,702-731); /entities
    rejects the parameter (datasethandler.go:286-288)."""
    _, base = served
    ctx, ents, token = _split(_get(f"{base}/datasets/d/changes?reverse=true&limit=3"))
    recs = [e["recorded"] for e in ents]
    assert len(ents) == 3
    assert recs == sorted(recs, reverse=True)

    # the token continues strictly older; drain and compare with the
    # forward walk reversed
    seen = [e["id"] for e in ents]
    for _ in range(100):
        ctx, ents, token2 = _split(_get(
            f"{base}/datasets/d/changes?reverse=true&limit=3&since={token}"))
        if not ents:
            break
        seen += [e["id"] for e in ents]
        token = token2
    fw_ctx, fw_ents, _ = _split(_get(f"{base}/datasets/d/changes?limit=10000"))
    assert seen == [e["id"] for e in reversed(fw_ents)]

    assert _req_status(f"{base}/datasets/d/entities?reverse=true")[0] == 400


def test_dataset_management_over_http(served, spark):
    """Create / get-details / rename / delete lifecycle
    (datasethandler.go:66-75,212-300): proxy and virtual configs are
    validated, renames move the log, deletes drop it."""
    store, base = served

    # create plain + duplicate 400
    assert _post(f"{base}/datasets/fresh", {})[0] == 200
    assert "fresh" in [d["Name"] for d in _get(f"{base}/datasets")]
    assert _post(f"{base}/datasets/fresh", {})[0] == 400

    # proxy config validated (datasethandler.go:269-273)
    assert _post(f"{base}/datasets/px?proxy=true", {})[0] == 400
    assert _post(f"{base}/datasets/px?proxy=true",
                 {"ProxyDatasetConfig": {"remoteUrl": "http://peer/datasets/d"}}
                 )[0] == 200
    # virtual config validated (datasethandler.go:275-279); the served
    # path only runs the sandboxed JS interpreter, so a Python body is
    # refused at create time (ADVICE r7: exec() would be RCE)
    assert _post(f"{base}/datasets/vx",
                 {"VirtualDatasetConfig": {}})[0] == 400
    py_b64 = ("aW1wb3J0IG9zCmRlZiBidWlsZF9lbnRpdGllcyhwYXJhbXMsIHNpbmNlLCBsaW1"
              "pdCk6CiAgICByZXR1cm4gMAo=")
    assert _post(f"{base}/datasets/vx",
                 {"VirtualDatasetConfig": {"Transform": py_b64}})[0] == 400
    js_b64 = ("ZnVuY3Rpb24gYnVpbGRfZW50aXRpZXMocGFyYW1zLCBzaW5jZSwgbGltaXQpIH"
              "sgcmV0dXJuIDA7IH0=")
    assert _post(f"{base}/datasets/vx",
                 {"VirtualDatasetConfig": {"Transform": js_b64}})[0] == 200

    # details: core entity shape with items count (datasethandler.go:212)
    details = _get(f"{base}/datasets/d")
    assert details["id"] == "core:d"
    assert details["props"]["core:items"] == 4  # e:4 is deleted
    assert _req_status(f"{base}/datasets/nope")[0] == 404

    # rename via PATCH (UpdateDatasetConfig.ID), data follows the name
    import urllib.request
    req = urllib.request.Request(
        f"{base}/datasets/d", data=json.dumps({"ID": "d2"}).encode(),
        method="PATCH", headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 200
    names = [d["Name"] for d in _get(f"{base}/datasets")]
    assert "d2" in names and "d" not in names
    _, ents, _ = _split(_get(f"{base}/datasets/d2/entities"))
    assert {e["id"] for e in ents} == {"e:1", "e:2", "e:3", "e:5"}

    # delete one (unknown -> 400), then delete all
    req = urllib.request.Request(f"{base}/datasets/nope", method="DELETE")
    try:
        urllib.request.urlopen(req, timeout=30)
        assert False, "expected 400"
    except urllib.error.HTTPError as exc:
        assert exc.code == 400
    req = urllib.request.Request(f"{base}/datasets/px", method="DELETE")
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 200
    req = urllib.request.Request(f"{base}/datasets", method="DELETE")
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 200
    assert _get(f"{base}/datasets") == []


def test_proxy_dataset_read_through_with_auth_provider(served, spark, tmp_path):
    """A dataset created with ?proxy=true forwards /entities and
    /changes to its remoteUrl, authorizing outgoing requests via the
    configured login provider (proxydataset.go:200-300 + the served
    create config) — two servers loopback: B proxies A's secured data."""
    from datahub_spark.providers import ProviderConfig, ProviderStore
    from datahub_spark.security import AccessControl, SecurityManager

    _, base_a0 = served  # unused plain server; build a secured A instead
    sec = SecurityManager(admin_client_secret="a-pw")
    sec.add_client("proxyclient", "proxy-pw")
    sec.set_acls("proxyclient", [AccessControl("/datasets/src*", "read")])
    store_a = S.EntityStore(spark, str(tmp_path / "a"))
    store_a.store_entities("src", _entities(spark, [
        ("e:10", None, 0, False, {"p:name": "ten"}, None, None),
        ("e:11", None, 1, False, {"p:name": "eleven"}, None, None),
    ]).drop("dataset"))
    srv_a = UdaServer(store_a, security=sec)
    base_a = srv_a.start()

    store_b = S.EntityStore(spark, str(tmp_path / "b"))
    providers_b = ProviderStore(security_manager=None)
    providers_b.add(ProviderConfig.from_json({
        "name": "alogin", "type": "bearer",
        "key": {"type": "text", "value": "proxyclient"},
        "secret": {"type": "text", "value": "proxy-pw"},
        "endpoint": {"type": "text", "value": f"{base_a}/security/token"}}))
    srv_b = UdaServer(store_b, providers=providers_b)
    base_b = srv_b.start()
    try:
        code, _ = _post(
            f"{base_b}/datasets/mirror?proxy=true",
            {"ProxyDatasetConfig": {
                "remoteUrl": f"{base_a}/datasets/src",
                "authProviderName": "alogin"}})
        assert code == 200
        _, ents, _ = _split(_get(f"{base_b}/datasets/mirror/entities"))
        assert {e["id"] for e in ents} == {"e:10", "e:11"}
        _, chs, _ = _split(_get(f"{base_b}/datasets/mirror/changes?limit=1"))
        assert len(chs) == 1
    finally:
        srv_a.stop()
        srv_b.stop()


def test_virtual_dataset_served_runs_js_script(served, spark):
    """A dataset created with a VirtualDatasetConfig serves pages by
    running its (base64) JS build_entities on the bundled interpreter —
    the reference's read-only script-backed dataset
    (DOCUMENTATION.md:288-325, virtualdataset.go)."""
    import base64

    js = """
    function build_entities(params, since, limit) {
        var start = since || 0;
        var n = limit < 3 ? limit : 3;
        for (var i = start; i < start + n; i++) {
            var e = NewEntity();
            SetId(e, "v:" + i);
            SetProperty(e, "p", "idx", i);
            Emit(e);
        }
        return start + n;
    }
    """
    cfg = {"VirtualDatasetConfig":
           {"Transform": base64.b64encode(js.encode()).decode()}}
    _, base = served
    assert _post(f"{base}/datasets/gen", cfg)[0] == 200

    _, ents, token = _split(_get(f"{base}/datasets/gen/entities?limit=3"))
    assert [e["id"] for e in ents] == ["v:0", "v:1", "v:2"]
    assert token == 3
    # the continuation token pages the script
    _, ents2, token2 = _split(
        _get(f"{base}/datasets/gen/entities?limit=3&since={token}"))
    assert [e["id"] for e in ents2] == ["v:3", "v:4", "v:5"]
    assert token2 == 6


def test_served_surface_under_concurrent_load(served, spark):
    """ThreadingHTTPServer + Spark driver thread-pool under mixed
    concurrent reads: 6 threads x 8 requests across entities / changes
    / query-index / statistics — every response well-formed, zero 5xx
    (the store's registry locks and the lazily-built query index must
    hold up)."""
    import threading

    _, base = served
    errors: list = []

    def hit(kind, i):
        try:
            if kind == 0:
                page = _get(f"{base}/datasets/d/entities?limit=3")
                assert page[0]["id"] == "@context"
            elif kind == 1:
                page = _get(f"{base}/datasets/d/changes?limit=2")
                assert page[-1]["id"] == "@continuation"
            elif kind == 2:
                code, body = _post(f"{base}/query",
                                   {"entityId": "e:1"})
                assert code == 200
            else:
                _get(f"{base}/statistics")
        except Exception as exc:  # noqa: BLE001
            errors.append((kind, i, exc))

    threads = [threading.Thread(target=hit, args=(n % 4, n))
               for n in range(24)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors[:3]


def test_wal_served_writes_equal_direct_store(spark, tmp_path):
    """r7 verdict item 7: with wal_writes=True, N small POSTs append to
    an fsync-durable spool (no Spark job per request) and one flush
    commits them — the resulting store state equals writing the same
    batches directly. Reads force the flush (read-your-writes), and an
    explicit flush_wal() also works."""
    store = S.EntityStore(spark, str(tmp_path / "walsrv"))
    srv = UdaServer(store, wal_writes=True, wal_flush_entities=10_000)
    base = srv.start()
    try:
        for i in range(5):
            code, _ = _post(f"{base}/datasets/hot/entities", [
                {"id": f"e:{i * 2}", "props": {"p:n": str(i * 2)},
                 "refs": {"p:r": [f"e:{i * 2 + 1}"]}},
                {"id": f"e:{i * 2 + 1}", "props": {"p:n": str(i * 2 + 1)}},
            ])
            assert code == 200
        # durable but not yet committed (below the flush threshold)
        assert not store.has_data("hot")
        recs = srv.flush_wal()
        assert "hot" in recs
        rows = {r["id"]: r for r in store.log(["hot"]).collect()}
        assert set(rows) == {f"e:{i}" for i in range(10)}
        assert rows["e:0"]["props"]["p:n"] == "0"
        assert rows["e:0"]["refs"]["p:r"] == ["e:1"]
        # append order preserved across POSTs
        assert rows["e:0"]["seq"] < rows["e:5"]["seq"] < rows["e:9"]["seq"]

        # equal to a direct store of the same batches
        direct = S.EntityStore(spark, str(tmp_path / "direct"))
        direct.store_entities("hot", _entities(spark, [
            (f"e:{i}", None, i, False, {"p:n": str(i)},
             {"p:r": [f"e:{i + 1}"]} if i % 2 == 0 else {}, None)
            for i in range(10)]).drop("dataset"))
        a = {(r["id"], str(r["props"]), str(r["refs"]), r["deleted"])
             for r in store.log(["hot"]).collect()}
        b = {(r["id"], str(r["props"]), str(r["refs"]), r["deleted"])
             for r in direct.log(["hot"]).collect()}
        assert a == b

        # read-your-writes: a GET flushes pending spool rows
        assert _post(f"{base}/datasets/hot/entities",
                     [{"id": "e:99", "props": {"p:n": "99"}}])[0] == 200
        page = _get(f"{base}/datasets/hot/entities?limit=100")
        _, ents, _ = _split(page)
        assert "e:99" in {e["id"] for e in ents}
    finally:
        srv.stop()


def test_wal_served_writes_autoflush_threshold(spark, tmp_path):
    """Crossing wal_flush_entities commits without an explicit flush."""
    store = S.EntityStore(spark, str(tmp_path / "walsrv2"))
    srv = UdaServer(store, wal_writes=True, wal_flush_entities=6)
    base = srv.start()
    try:
        for i in range(3):  # 3 posts x 2 entities = 6 -> autoflush
            assert _post(f"{base}/datasets/hot/entities", [
                {"id": f"e:{i}a"}, {"id": f"e:{i}b"}])[0] == 200
        assert store.has_data("hot")
        assert store.log(["hot"]).count() == 6
    finally:
        srv.stop()


def test_health_root_and_namespace_query(served):
    """NewStatusHandler (web.go:136-143) + queryNamespacePrefix
    (queryhandler.go:94-109): /health is plain 'UP', / is the service
    info object, /query/namespace maps an expansion URI to its prefix
    (404 when unregistered)."""
    _, base = served
    with urllib.request.urlopen(f"{base}/health", timeout=30) as resp:
        assert resp.status == 200
        assert resp.read() == b"UP"
    info = _get(f"{base}/")
    assert info["name"] == "DataHub" and info["location"].startswith("server:")
    from urllib.parse import quote

    exp = "http://example.io/schema/"
    got = _get(f"{base}/query/namespace?expansion={quote(exp, safe='')}")
    assert got == {"prefix": "p", "expansion": exp}
    assert _req_status(f"{base}/query/namespace?expansion=nope")[0] == 404


def test_openapi_document_served_and_valid(spark, tmp_path):
    """GET /api (r10): a generated OAS3 document covering exactly the
    served routes — the machine-readable analogue of the reference's
    api/datahub.oas3.yml. Structural validity via openapi_spec_validator,
    coverage vs the reference's full path set, and a live probe of every
    documented GET route: the dispatcher must not answer with its
    route-miss marker ({"message": "not found"}), which would mean the
    document describes a route the server doesn't have."""
    from datahub_spark.content import ContentService
    from openapi_spec_validator import validate
    from datahub_spark.providers import ProviderStore
    from datahub_spark.security import SecurityManager

    store = S.EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("d", _entities(spark, [
        ("e:1", None, 0, False, {"p:name": "one"}, None, None),
    ]).drop("dataset"))
    state = J.JobState(str(tmp_path / "state.json"))
    sec = SecurityManager(admin_client_secret="pw")
    srv = UdaServer(store, scheduler=J.Scheduler(state),
                    content=ContentService(str(tmp_path / "content")),
                    security=sec,
                    providers=ProviderStore(security_manager=None))
    base = srv.start()
    try:
        st, tok = _post(f"{base}/security/token", {
            "grant_type": "client_credentials",
            "client_id": "admin", "client_secret": "pw"})
        assert st == 200
        hdr = {"Authorization": f"Bearer {tok['access_token']}"}

        req = urllib.request.Request(f"{base}/api", headers=hdr)
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
            doc = json.loads(resp.read().decode())
        validate(doc)

        # every path of the reference document is served and documented
        reference_paths = {
            "/", "/health", "/query", "/namespaces", "/jobs",
            "/jobs/{jobid}", "/job/{jobid}/status", "/job/{jobid}/pause",
            "/job/{jobid}/resume", "/job/{jobid}/kill", "/job/{jobid}/run",
            "/job/{jobid}/reset", "/datasets", "/datasets/{dataset}",
            "/datasets/{dataset}/entities", "/datasets/{dataset}/changes",
            "/content", "/content/{contentId}", "/provider/logins",
            "/provider/login/{providerName}"}
        missing = reference_paths - set(doc["paths"])
        assert not missing, missing
        assert "/api" in doc["paths"]
        assert "BearerAuth" in doc["components"]["securitySchemes"]

        # live probe: every documented GET route dispatches (a resource
        # 404 like "no such job" is fine; the route-miss marker is not)
        for path, ops in doc["paths"].items():
            if "get" not in ops:
                continue
            url = base + path.replace("{dataset}", "d") \
                             .replace("{jobid}", "nope") \
                             .replace("{contentId}", "nope") \
                             .replace("{clientid}", "nope") \
                             .replace("{providerName}", "nope")
            req = urllib.request.Request(url, headers=hdr)
            try:
                with urllib.request.urlopen(req, timeout=30) as resp:
                    assert resp.status == 200, path
            except urllib.error.HTTPError as exc:
                body = json.loads(exc.read().decode() or "{}")
                assert body.get("message") != "not found", path

        # a slim server documents only its attached modules
        srv2 = UdaServer(store)
        base2 = srv2.start()
        try:
            doc2 = _get(f"{base2}/api")
            validate(doc2)
            assert "/jobs" not in doc2["paths"]
            assert "/content" not in doc2["paths"]
            assert "/security/token" not in doc2["paths"]
            assert "securitySchemes" not in doc2["components"]
        finally:
            srv2.stop()
    finally:
        srv.stop()


def test_lineage_per_dataset(spark, tmp_path):
    """GET /lineage/{dataset} (lineagehandler.go:14-29): the subset of
    the lineage graph touching the named dataset; 404 when the dataset
    is not registered (the handler checks DsManager.GetDataset)."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("src", _entities(spark, [
        ("s:1", None, 0, False, {"p:name": "a"}, None, None),
    ]).drop("dataset"))
    store.store_entities("other", _entities(spark, [
        ("o:1", None, 0, False, {}, None, None),
    ]).drop("dataset"))
    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    srv = UdaServer(store, scheduler=sched)
    base = srv.start()
    try:
        cfg = {
            "id": "copy-job",
            "triggers": [{"triggerType": "cron", "jobType": "incremental",
                          "schedule": "@every 1m"}],
            "source": {"Type": "DatasetSource", "Name": "src"},
            "sink": {"Type": "DatasetSink", "Name": "out"},
        }
        code, _ = _post(f"{base}/jobs", cfg)
        assert code == 201
        full = _get(f"{base}/lineage")
        sub = _get(f"{base}/lineage/src")
        assert sub == [e for e in full
                       if e["From"] == "src" or e["To"] == "src"]
        assert {"From": "src", "To": "out", "Type": "copy"} in sub
        # a registered dataset no job touches: empty list, not an error
        assert _get(f"{base}/lineage/other") == []
        # unregistered dataset: 404
        try:
            _get(f"{base}/lineage/nope")
            assert False, "expected 404"
        except urllib.error.HTTPError as exc:
            assert exc.code == 404
    finally:
        srv.stop()


def test_query_get_and_post_same_protocol(served):
    """GET /query is the same handler as POST /query in the reference
    (queryhandler.go:89-90 registers queryHandler for both verbs) —
    an entityId lookup body must answer identically via either."""
    _, base = served
    payload = {"entityId": "e:1"}
    code_p, via_post = _post(f"{base}/query", payload)
    req = urllib.request.Request(
        f"{base}/query", data=json.dumps(payload).encode(), method="GET",
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=30) as resp:
        code_g, via_get = resp.status, json.loads(resp.read().decode())
    assert code_p == code_g == 200
    assert via_get == via_post
    assert any(e.get("id") == "e:1" for e in via_get
               if isinstance(e, dict))


def _triples(body):
    return sorted((s, p, e["id"], tuple(sorted((e.get("props") or {}).items())))
                  for s, p, e in body[1])


def test_query_sees_pending_wal_rows(spark, tmp_path):
    """With wal_writes=True a /query lookup and traversal flush the
    spooled POSTs first, like a dataset GET does."""
    store = S.EntityStore(spark, str(tmp_path / "walq"))
    store.store_entities("d", _entities(spark, [
        ("e:1", None, 0, False, {"p:name": "one"}, None, None),
    ]).drop("dataset"))
    srv = UdaServer(store, wal_writes=True, wal_flush_entities=10_000)
    base = srv.start()
    try:
        walk = {"startingEntities": ["e:1"], "predicate": "p:link",
                "inverse": True}
        assert _post(f"{base}/query", walk)[1][1] == []  # index built
        assert _post(f"{base}/datasets/d/entities", _uda_batch(
            {"id": "e:2", "props": {"p:name": "two"},
             "refs": {"p:link": "e:1"}}))[0] == 200
        code, body = _post(f"{base}/query", {"entityId": "e:2"})
        assert code == 200 and body[1]["props"] == {"p:name": "two"}
        code, body = _post(f"{base}/query", walk)
        assert [(s, p, e["id"]) for s, p, e in body[1]] == \
            [("e:1", "p:link", "e:2")]
    finally:
        srv.stop()


def test_query_traversal_honors_datasets(spark, tmp_path):
    """A scoped /query traversal answers from the requested datasets
    only, like query.related(..., datasets=...)."""
    from datahub_spark import query as Q

    store = S.EntityStore(spark, str(tmp_path / "scoped"))
    store.store_entities("people", _entities(spark, [
        ("p:1", None, 0, False, {"p:name": "ann"}, {"p:at": ["o:1"]}, None),
        ("p:2", None, 1, False, {"p:name": "bob"}, {"p:at": ["o:2"]}, None),
    ]).drop("dataset"))
    store.store_entities("orgs", _entities(spark, [
        ("o:1", None, 0, False, {"p:name": "acme"}, None, None),
        ("o:2", None, 1, False, {"p:name": "beta"}, {"p:at": ["o:1"]}, None),
    ]).drop("dataset"))
    srv = UdaServer(store)
    base = srv.start()
    try:
        for start, inverse in (("o:1", True), ("p:1", False), ("o:2", False)):
            for scope in (None, ["people"], ["orgs"], ["people", "orgs"]):
                req = {"startingEntities": [start], "predicate": "p:at",
                       "inverse": inverse}
                if scope:
                    req["datasets"] = scope
                code, body = _post(f"{base}/query", req)
                assert code == 200
                want = sorted(
                    (r["start_id"], r["predicate"], r["related"]["id"],
                     tuple(sorted((r["related"]["props"] or {}).items())))
                    for r in Q.related(store.log(), [start], "p:at",
                                       inverse=inverse, datasets=scope).collect())
                assert _triples(body) == want, (start, inverse, scope)
        # the scope changes the answer: o:2's edge lives in orgs
        code, body = _post(f"{base}/query", {
            "startingEntities": ["o:1"], "predicate": "p:at",
            "inverse": True, "datasets": ["people"]})
        assert [t[2] for t in _triples(body)] == ["p:1"]
    finally:
        srv.stop()


def test_python_script_sources_are_400_and_never_run(spark, tmp_path):
    """Scripts are JavaScript only: a Python source sent to /query, to
    POST /jobs or as a virtual-dataset transform is a 400 naming the JS
    parse error, and none of its Python runs."""
    import base64

    canary = tmp_path / "canary"
    py = (f"import os\nopen({str(canary)!r}, 'w').write('ran')\n"
          "def {entry}(*args):\n    return 0\n")

    def b64(src):
        return base64.b64encode(src.encode()).decode()

    def named_parse_error(code, body):
        return code == 400 and "unexpected token" in body["message"]

    store = S.EntityStore(spark, str(tmp_path / "store"))
    store.create_dataset("stored", config={"VirtualDatasetConfig": {
        "Transform": b64(py.replace("{entry}", "build_entities"))}})
    srv = UdaServer(store, scheduler=J.Scheduler(
        J.JobState(str(tmp_path / "state.json"))))
    base = srv.start()
    try:
        assert named_parse_error(*_post(
            f"{base}/query", {"query": py.replace("{entry}", "do_query")},
            headers={"Content-Type": "application/x-javascript-query"}))
        assert named_parse_error(*_post(f"{base}/jobs", {
            "id": "py-job",
            "source": {"Type": "DatasetSource", "Name": "stored"},
            "transform": {"Type": "JavascriptTransform", "Code": b64(
                py.replace("{entry}", "transform_entities"))},
            "sink": {"Type": "DevNullSink"}}))
        assert named_parse_error(*_post(f"{base}/datasets/vx", {
            "VirtualDatasetConfig": {"Transform": b64(
                py.replace("{entry}", "build_entities"))}}))
        try:
            urllib.request.urlopen(f"{base}/datasets/stored/entities", timeout=30)
            raise AssertionError("stored Python transform was served")
        except urllib.error.HTTPError as exc:
            assert named_parse_error(exc.code, json.loads(exc.read().decode()))
    finally:
        srv.stop()
    assert not canary.exists()


def test_script_query_scope_matches_served_traversal(spark, tmp_path):
    """Query(..., datasets) inside a JS do_query and a JS transform
    answers like the served scoped traversal, on the two-dataset
    fixture of test_query_traversal_honors_datasets."""
    import datahub_spark.script as SC

    store = S.EntityStore(spark, str(tmp_path / "scoped"))
    store.store_entities("people", _entities(spark, [
        ("p:1", None, 0, False, {"p:name": "ann"}, {"p:at": ["o:1"]}, None),
        ("p:2", None, 1, False, {"p:name": "bob"}, {"p:at": ["o:2"]}, None),
    ]).drop("dataset"))
    store.store_entities("orgs", _entities(spark, [
        ("o:1", None, 0, False, {"p:name": "acme"}, None, None),
        ("o:2", None, 1, False, {"p:name": "beta"}, {"p:at": ["o:1"]}, None),
    ]).drop("dataset"))
    cases = [(start, inverse, scope)
             for start, inverse in (("o:1", True), ("p:1", False), ("o:2", False))
             for scope in (None, ["people"], ["orgs"], ["people", "orgs"])]

    def as_triples(hits):
        return _triples([None, [[s, p, {"id": i, "props": props}]
                                for s, p, i, props in hits]])

    transform = """
function transform_entities(entities) {
    for (var e of entities) {
        var hits = [];
        for (var t of Query([GetProperty(e, "q", "start")], "p:at",
                            GetProperty(e, "q", "inverse") == "1",
                            JSON.parse(GetProperty(e, "q", "scope")))) {
            hits.push([t[0], t[1], GetId(t[2]), t[2].Properties]);
        }
        SetProperty(e, "q", "hits", JSON.stringify(hits));
    }
    return entities;
}"""
    probes = _entities(spark, [
        (f"q:{n}", 1, 0, False, {"q:start": start, "q:inverse": str(int(inverse)),
                                 "q:scope": json.dumps(scope)}, None, "probe")
        for n, (start, inverse, scope) in enumerate(cases)])
    by_transform = {
        r["id"]: as_triples(json.loads(r["props"]["q:hits"]))
        for r in SC.script_transform(probes, transform,
                                     lookup=[store.log()]).collect()}

    srv = UdaServer(store)
    base = srv.start()
    try:
        for n, (start, inverse, scope) in enumerate(cases):
            req = {"startingEntities": [start], "predicate": "p:at",
                   "inverse": inverse}
            if scope:
                req["datasets"] = scope
            code, body = _post(f"{base}/query", req)
            assert code == 200
            served = _triples(body)
            do_query = f"""function do_query() {{
                for (var t of Query([{json.dumps(start)}], "p:at",
                                    {json.dumps(inverse)}, {json.dumps(scope)})) {{
                    WriteQueryResult([t[0], t[1], GetId(t[2]), t[2].Properties]);
                }}
            }}"""
            code, hits = _post(
                f"{base}/query", {"query": do_query},
                headers={"Content-Type": "application/x-javascript-query"})
            assert code == 200
            assert as_triples(hits) == served, (start, inverse, scope)
            assert by_transform[f"q:{n}"] == served, (start, inverse, scope)
        # the scope changes the answer: o:2's edge lives in orgs
        assert [t[2] for t in by_transform["q:1"]] == ["p:1"]
    finally:
        srv.stop()


# -- the route table: dispatch and GET /api from one set of routes ---------

def _full_server(store, tmp_path, **kw):
    from datahub_spark.content import ContentService
    from datahub_spark.providers import ProviderStore
    from datahub_spark.security import SecurityManager

    return UdaServer(
        store, scheduler=J.Scheduler(J.JobState(str(tmp_path / "state.json"))),
        content=ContentService(str(tmp_path / "content")),
        security=SecurityManager(admin_client_secret="pw"),
        providers=ProviderStore(security_manager=None), **kw)


def _admin_headers(base):
    st, tok = _post(f"{base}/security/token", {
        "grant_type": "client_credentials",
        "client_id": "admin", "client_secret": "pw"})
    assert st == 200
    return {"Authorization": f"Bearer {tok['access_token']}"}


def _call(method, url, payload=None, headers=None):
    data = None if payload is None else json.dumps(payload).encode()
    req = urllib.request.Request(url, data=data, method=method,
                                 headers={"Content-Type": "application/json",
                                          **(headers or {})})
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read().decode() or "null")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "null")


def test_api_documents_exactly_the_attached_routes(spark, tmp_path):
    """The (method, path) set GET /api documents is the route table's
    entries whose service is attached: everything on a server with every
    service, the service-free routes on a bare UdaServer(store)."""
    from datahub_spark.server import ROUTES

    store = S.EntityStore(spark, str(tmp_path / "store"))
    full, bare = _full_server(store, tmp_path), UdaServer(store)
    for srv in (full, bare):
        base = srv.start()
        try:
            headers = _admin_headers(base) if srv is full else {}
            code, doc = _call("GET", f"{base}/api", headers=headers)
            assert code == 200
            served = {(m, p) for p, ops in doc["paths"].items() for m in ops}
            attached = {(r.method.lower(), r.path) for r in ROUTES
                        if r.service is None
                        or getattr(srv, r.service) is not None}
            assert served == attached
        finally:
            srv.stop()
    assert len(attached) < len(ROUTES)  # the bare server drops some


def test_openapi_validator_rejects_malformed_copies(spark, tmp_path):
    """openapi_spec_validator rejects each structural fault on a copy of
    the generated document; the faults it accepts (no paths, a path
    without operations, a repeated template variable) are asserted on
    both served documents directly."""
    import copy
    import re

    from openapi_spec_validator import validate
    from openapi_spec_validator.validation.exceptions import \
        OpenAPIValidationError
    from referencing.exceptions import Unresolvable

    from datahub_spark.openapi import openapi_document

    store = S.EntityStore(spark, str(tmp_path / "store"))
    docs = [openapi_document(_full_server(store, tmp_path)),
            openapi_document(UdaServer(store))]
    methods = {"get", "put", "post", "delete", "patch"}
    for doc in docs:
        validate(doc)
        assert doc["paths"]
        assert all(methods & set(ops) for ops in doc["paths"].values())
        for path in doc["paths"]:
            names = re.findall(r"\{([^}]+)\}", path)
            assert len(names) == len(set(names)), path

    def info_get(d):
        return d["paths"]["/datasets/{dataset}"]["get"]

    faults = {
        "bad version": lambda d: d.update(openapi="3.0"),
        "no info.title": lambda d: d["info"].pop("title"),
        "undeclared path param": lambda d: info_get(d).pop("parameters"),
        "optional path param":
            lambda d: info_get(d)["parameters"][0].update(required=False),
        "no responses": lambda d: d["paths"]["/datasets"]["get"].pop(
            "responses"),
        "bad response code": lambda d: d["paths"]["/datasets"]["get"][
            "responses"].update({"99": {"description": "x"}}),
        "response without description": lambda d: d["paths"]["/datasets"][
            "get"]["responses"]["200"].pop("description"),
        "dangling $ref": lambda d: d["components"]["schemas"].pop("Error"),
        "path without leading slash": lambda d: d["paths"].update(
            {"datasets": d["paths"].pop("/datasets")}),
    }
    for name, fault in faults.items():
        bad = copy.deepcopy(docs[0])
        fault(bad)
        with pytest.raises((OpenAPIValidationError, Unresolvable)):
            validate(bad)
            pytest.fail(f"accepted: {name}")


def test_detached_services_answer_503_or_route_miss(spark, tmp_path):
    """A bare server answers 503 on job and provider routes and the
    route-miss 404 on content and security routes."""
    srv = UdaServer(S.EntityStore(spark, str(tmp_path / "store")))
    base = srv.start()
    try:
        assert _call("GET", f"{base}/jobs") == (
            503, {"message": "no job scheduler attached"})
        assert _call("DELETE", f"{base}/jobs/j")[0] == 503
        assert _call("PUT", f"{base}/job/j/run", {})[0] == 503
        assert _call("GET", f"{base}/provider/logins") == (
            503, {"message": "no provider store attached"})
        miss = (404, {"message": "not found"})
        for method, path in (("GET", "/content"), ("POST", "/content"),
                             ("DELETE", "/content/c"),
                             ("GET", "/security/clients"),
                             ("POST", "/security/token"),
                             ("POST", "/security/clients/c/acl")):
            assert _call(method, base + path, {} if method == "POST"
                         else None) == miss, (method, path)
    finally:
        srv.stop()


def test_secured_server_answers_401_before_404(spark, tmp_path):
    from datahub_spark.security import SecurityManager

    srv = UdaServer(S.EntityStore(spark, str(tmp_path / "store")),
                    security=SecurityManager(admin_client_secret="pw"))
    base = srv.start()
    try:
        assert _call("GET", f"{base}/no/such/route")[0] == 401
        assert _call("DELETE", f"{base}/datasets")[0] == 401
        assert _call("GET", f"{base}/no/such/route",
                     headers=_admin_headers(base)) == (
            404, {"message": "not found"})
    finally:
        srv.stop()


def test_query_traversal_get_and_post_same_answer(served):
    _, base = served
    walk = {"startingEntities": ["e:1"], "predicate": "p:link"}
    via_post = _call("POST", f"{base}/query", walk)
    assert via_post[0] == 200 and via_post[1][1]
    assert _call("GET", f"{base}/query", walk) == via_post


def test_percent_encoded_dataset_name_reaches_one_dataset(spark, tmp_path):
    """Every route decodes its path parameters once: create, write, read,
    info and delete of /datasets/people%2Done all address people-one."""
    srv = UdaServer(S.EntityStore(spark, str(tmp_path / "store")))
    base = srv.start()
    url = f"{base}/datasets/people%2Done"
    try:
        assert _call("POST", url, {})[0] == 200
        assert _post(f"{url}/entities", _uda_batch(
            {"id": "e:1", "props": {"p:name": "one"}}))[0] == 200
        _, ents, _ = _split(_get(f"{url}/entities"))
        assert [e["id"] for e in ents] == ["e:1"]
        info = _get(url)
        assert info["id"] == "core:people-one"
        assert info["props"]["core:items"] == 1
        assert _get(f"{base}/datasets") == [{"Name": "people-one"}]
        assert _call("DELETE", url)[0] == 200
        assert _get(f"{base}/datasets") == []
    finally:
        srv.stop()


def test_dataset_names_that_leave_the_store_are_400(spark, tmp_path):
    """A dataset name is one safe path segment: a transaction key, a
    created name or a written name that would escape the store root
    answers 400 and writes nothing."""
    root = tmp_path / "a" / "b" / "c" / "d" / "store"
    store = S.EntityStore(spark, str(root))
    with pytest.raises(ValueError, match="invalid dataset name"):
        store.create_dataset("a/b")
    srv = UdaServer(store)
    base = srv.start()
    try:
        code, body = _post(f"{base}/transactions", {
            "@context": {"namespaces": {}},
            "../../../escaped": [{"id": "e:1", "props": {}}]})
        assert code == 400 and "invalid dataset name" in body["message"]
        assert _call("POST", f"{base}/datasets/a%2Fb", {})[0] == 400
        assert _post(f"{base}/datasets/..%2F..%2Fx/entities", _uda_batch(
            {"id": "e:1"}))[0] == 400
        assert _get(f"{base}/datasets") == []
    finally:
        srv.stop()
    outside = [p for p in tmp_path.rglob("*")
               if p.is_file() and root not in p.parents]
    assert outside == []


def test_jobs_post_malformed_source_entries_is_400(spark, tmp_path):
    """A MultiSource dependency without ``dataset`` and a union entry
    that is not an object answer 400 naming the key."""
    store = S.EntityStore(spark, str(tmp_path / "store"))
    srv = UdaServer(store, scheduler=J.Scheduler(
        J.JobState(str(tmp_path / "state.json"))))
    base = srv.start()
    sink = {"Type": "DevNullSink"}
    cases = [
        ({"Type": "MultiSource", "Name": "m",
          "Dependencies": [{"joins": []}]}, "'dataset'"),
        ({"Type": "UnionDatasetSource", "DatasetSources": ["a"]},
         "'DatasetSources'"),
    ]
    try:
        for source, key in cases:
            code, body = _post(f"{base}/jobs",
                               {"id": "bad", "source": source, "sink": sink})
            assert code == 400 and key in body["message"], (source, body)
        assert _get(f"{base}/jobs") == []
    finally:
        srv.stop()
