"""Live HTTP dataset source/sink/proxy against a loopback UDA server
(reference: internal/jobs/source/http_dataset_source.go, sink.go
httpDatasetSink, server/proxydataset.go)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from datahub_spark import jobs as J


PAGE1 = [
    {"id": "@context", "namespaces": {"p": "http://example.com/"}},
    {"id": "e:1", "recorded": 10, "deleted": False,
     "props": {"p:name": "one"}, "refs": {"p:link": ["e:2"]}},
    {"id": "e:2", "recorded": 11, "deleted": False,
     "props": {"p:name": "two"}, "refs": {}},
    {"id": "@continuation", "token": 11},
]
PAGE2 = [
    {"id": "@context", "namespaces": {"p": "http://example.com/"}},
    {"id": "e:3", "recorded": 12, "deleted": True, "props": {}, "refs": {}},
    {"id": "@continuation", "token": 12},
]


class _UdaHandler(BaseHTTPRequestHandler):
    received: list = []

    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):
        u = urlparse(self.path)
        since = int(parse_qs(u.query).get("since", ["0"])[0])
        if since < 11:
            body = PAGE1
        elif since < 12:
            body = PAGE2
        else:  # drained: no continuation advancement
            body = [PAGE1[0], {"id": "@continuation", "token": since}]
        data = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self):
        n = int(self.headers["Content-Length"])
        _UdaHandler.received.append(json.loads(self.rfile.read(n)))
        self.send_response(200)
        self.end_headers()
        self.wfile.write(b"{}")


@pytest.fixture()
def uda_server():
    _UdaHandler.received = []
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _UdaHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/datasets/x"
    finally:
        srv.shutdown()


def test_http_source_pages_through_changes(spark, uda_server):
    src = J.HttpDatasetSource(spark, uda_server, dataset="remote", allow_network=True)
    rows = {r["id"]: r for r in src.read(0)[0].collect()}
    assert set(rows) == {"e:1", "e:2", "e:3"}
    assert rows["e:1"]["props"]["p:name"] == "one"
    assert rows["e:1"]["refs"]["p:link"] == ["e:2"]
    assert rows["e:3"]["deleted"] is True
    assert all(r["dataset"] == "remote" for r in rows.values())


def test_http_source_resumes_from_token(spark, uda_server):
    src = J.HttpDatasetSource(spark, uda_server, dataset="remote", allow_network=True)
    rows = {r["id"] for r in src.read(11)[0].collect()}
    assert rows == {"e:3"}  # only the second page


def test_http_source_stays_gated_by_default(spark, uda_server):
    with pytest.raises(NotImplementedError):
        J.HttpDatasetSource(spark, uda_server).read()


def test_http_sink_posts_uda_batches(spark, uda_server, store_entities_df=None):
    df = spark.createDataFrame(
        [("s:1", 5, 0, False, {"p:v": "a"}, {"p:r": ["s:2"]}, "d"),
         ("s:2", 6, 0, False, {"p:v": "b"}, None, "d")],
        "id string, recorded long, seq long, deleted boolean, "
        "props map<string,string>, refs map<string,array<string>>, dataset string",
    )
    sink = J.HttpDatasetSink(uda_server, allow_network=True, batch_size=10)
    sink.write(df)
    got = {}
    for payload in _UdaHandler.received:
        assert payload[0]["id"] == "@context"
        for obj in payload[1:]:
            got[obj["id"]] = obj
    assert set(got) == {"s:1", "s:2"}
    # refs are REAL JSON arrays on the wire
    assert got["s:1"]["refs"]["p:r"] == ["s:2"]


def test_proxy_dataset_round_trip(spark, uda_server):
    proxy = J.ProxyDataset(spark, uda_server, "x", allow_network=True)
    live = {r["id"] for r in proxy.entities().collect()}
    assert live == {"e:1", "e:2"}  # e:3 is a tombstone


def test_http_job_end_to_end(spark, uda_server, tmp_path):
    """Remote /changes feed -> local store sink, the reference's core
    sync-a-remote-datahub job, incl. continuation token advancement."""
    state = J.JobState(str(tmp_path / "state.json"))
    from datahub_spark.store import EntityStore

    store = EntityStore(spark, str(tmp_path / "store"))
    src = J.HttpDatasetSource(spark, uda_server, dataset="mirror", allow_network=True)
    job = J.Job("sync-remote", src, J.DatasetSink(store, "mirror"))
    job.run(state)
    assert store.log(["mirror"]).count() == 3
    assert state.token("sync-remote") == 12
