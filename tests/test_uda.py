"""UDA JSON wire format: refs must be REAL JSON arrays on the wire
(streamparser.go list form), the decoder must accept both the list and
the external scalar-CURIE form, every ingress decodes a body to the
same rows, and the driver-side encoder writes the bytes the JVM one
does."""

from __future__ import annotations

import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datahub_spark import uda
from datahub_spark.session import local_frame


def _entities(spark):
    return spark.createDataFrame(
        [
            ("e:1", 10, 0, False, {"p:name": "a"}, {"p:friend": ["e:2", "e:3"]}, "d"),
            ("e:2", 11, 0, False, {"p:name": "b"}, None, "d"),
        ],
        "id string, recorded long, seq long, deleted boolean, "
        "props map<string,string>, refs map<string,array<string>>, dataset string",
    )


def test_wire_refs_are_json_arrays(spark):
    rows = uda.to_uda_json(_entities(spark)).collect()
    objs = {o["id"]: o for o in (json.loads(r["json"]) for r in rows)}
    # a reference UDA consumer must see a list of CURIE strings, not a
    # stringified list
    assert objs["e:1"]["refs"]["p:friend"] == ["e:2", "e:3"]
    assert objs["e:2"]["refs"] == {}


def _decoded(objs):
    """decode_entities rows keyed by id, as ROW_SCHEMA field dicts."""
    names = uda.ROW_SCHEMA.fieldNames()
    return {row[0]: dict(zip(names, row)) for row in uda.decode_entities(objs)}


def test_roundtrip_through_own_parser(spark):
    wire = uda.to_uda_json(_entities(spark)).collect()
    got = _decoded(json.loads(r["json"]) for r in wire)
    assert got["e:1"]["refs"]["p:friend"] == ["e:2", "e:3"]
    assert got["e:1"]["props"]["p:name"] == "a"
    assert got["e:2"]["recorded"] == 11


def test_parser_accepts_external_scalar_refs():
    # external producers may emit the scalar CURIE form (valid UDA)
    wire = json.loads(
        '[{"id":"x:1","recorded":5,"deleted":false,'
        '"props":{"p:k":"v"},"refs":{"p:one":"y:9","p:many":["y:1","y:2"]}}]')
    got = _decoded(wire)["x:1"]
    assert got["refs"]["p:one"] == ["y:9"]
    assert got["refs"]["p:many"] == ["y:1", "y:2"]


# one body through every ingress: the stored (or pulled) rows must match
_PARITY_BODY = [
    {"id": "@context", "namespaces": {}},
    {"id": "w:1",
     "props": {"p:s": "text", "p:t": True, "p:f": False, "p:i": 7,
               "p:d": 12.25, "p:e": 1e20, "p:o": {"x": 1, "y": "z"},
               "p:nest": {"a": {"b": [1.5e-7, {"c": None}]}},
               "p:a": [1, "b"], "p:n": None},
     "refs": {"p:one": "w:2", "p:many": ["w:2", "w:3"]}},
    {"id": "w:2", "deleted": "false", "props": {"p:s": "two"}},
    {"id": "w:3", "deleted": True},
    {"props": {"p:s": "element without an id"}},
    {"id": "@continuation", "token": "t1"},
]

_PARITY_ROWS = {
    ("w:1", False,
     (("p:a", '[1,"b"]'), ("p:d", "12.25"), ("p:e", "1e+20"),
      ("p:f", "false"), ("p:i", "7"), ("p:n", None),
      ("p:nest", '{"a":{"b":[1.5e-07,{"c":null}]}}'),
      ("p:o", '{"x":1,"y":"z"}'), ("p:s", "text"), ("p:t", "true")),
     (("p:many", ("w:2", "w:3")), ("p:one", ("w:2",)))),
    ("w:2", False, (("p:s", "two"),), ()),
    ("w:3", True, (), ()),
}


def _payload(rows):
    """(id, deleted, props, refs) per row, maps as sorted tuples."""
    return {(r["id"], r["deleted"],
             tuple(sorted((r["props"] or {}).items())),
             tuple(sorted((k, tuple(v)) for k, v in (r["refs"] or {}).items())))
            for r in rows}


class _FeedHandler(BaseHTTPRequestHandler):
    """Serves _PARITY_BODY as the first /changes page, then a drained
    page that keeps the token."""

    def log_message(self, *a):
        pass

    def do_GET(self):
        first = "since=0" in self.path
        page = _PARITY_BODY if first else [
            _PARITY_BODY[0], {"id": "@continuation", "token": "t1"}]
        data = json.dumps(page).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


def test_every_ingress_stores_the_same_rows(spark, tmp_path):
    from datahub_spark import jobs as J
    from datahub_spark import store as S
    from datahub_spark.server import UdaServer

    def post(url, payload, headers=None):
        req = urllib.request.Request(
            url, data=json.dumps(payload).encode(), method="POST",
            headers={"Content-Type": "application/json", **(headers or {})})
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200

    store = S.EntityStore(spark, str(tmp_path / "store"))
    plain_srv, wal_srv = UdaServer(store), UdaServer(store, wal_writes=True)
    plain, wal = plain_srv.start(), wal_srv.start()
    feed = ThreadingHTTPServer(("127.0.0.1", 0), _FeedHandler)
    threading.Thread(target=feed.serve_forever, daemon=True).start()
    try:
        post(f"{plain}/datasets/plain/entities", _PARITY_BODY)
        post(f"{wal}/datasets/walpost/entities", _PARITY_BODY)
        wal_srv.flush_wal()
        fs = {"universal-data-api-full-sync-id": "s1"}
        post(f"{plain}/datasets/fullsync/entities", _PARITY_BODY,
             {**fs, "universal-data-api-full-sync-start": "true"})
        post(f"{plain}/datasets/fullsync/entities", [],
             {**fs, "universal-data-api-full-sync-end": "true"})
        post(f"{plain}/transactions",
             {"@context": {"namespaces": {}}, "txn": _PARITY_BODY})
        direct = S.WalIngest(store, "waldirect")
        direct.append(_PARITY_BODY)
        direct.flush()
        direct.close()
        pulled = J.HttpDatasetSource(
            spark, f"http://127.0.0.1:{feed.server_address[1]}",
            dataset="pulled", allow_network=True).read(0)[0].collect()
    finally:
        plain_srv.stop()
        wal_srv.stop()
        feed.shutdown()
        feed.server_close()

    stored = {ds: store.log([ds]).collect()
              for ds in ("plain", "walpost", "fullsync", "txn", "waldirect")}
    for name, rows in [*stored.items(), ("pulled", pulled)]:
        assert _payload(rows) == _PARITY_ROWS, name
    # the WAL stamps its append order as seq; every other ingress keeps
    # the wire seq (absent -> 0)
    for name in ("plain", "fullsync", "txn"):
        assert {r["seq"] for r in stored[name]} == {0}, name
    assert {r["seq"] for r in pulled} == {0}
    # absent recorded stays NULL until a commit stamps its tick
    assert all(r["recorded"] is None for r in pulled)
    assert all(r["recorded"] is not None for rows in stored.values() for r in rows)


# every control character, DEL, the JS line separators, an astral
# character, JSON's own escapes, and text that reads like an escape
AWKWARD = ("".join(map(chr, range(32))) + "\x7f\u2028\u2029é中\U0001F600"
           + '"\\/' + "\\u001f\\\\u00e9")


def _same_bytes(spark, rows) -> None:
    """encode_entity over Arrow-collected rows == to_uda_json's bytes."""
    frame = local_frame(spark, rows, uda.ROW_SCHEMA).unionByName(spark.createDataFrame(
        [("n:1", 7, 0, False, None, None)], uda.ROW_SCHEMA))  # NULL props and refs
    jvm = {r["id"]: r["json"] for r in uda.to_uda_json(frame, ["id"]).collect()}
    driver = {r["id"]: uda.encode_entity(r) for r in frame.toArrow().to_pylist()}
    assert driver == jvm


def test_encode_entity_writes_to_uda_jsons_bytes(spark):
    _same_bytes(spark, [
        ("e:1", 5, 0, False, {"p:a": AWKWARD, "p:null": None, AWKWARD: "k", "p:b": ""},
         {"p:r": ["x", None, AWKWARD], "p:empty": []}),
        ("e:2", 6, 1, True, {}, {}),
        (AWKWARD, 2**40, 3, False, {"p:z": "1", "p:a": "2"}, {"p:one": [None]}),
    ])


text = st.text(max_size=8)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(
    st.dictionaries(text, st.none() | text, max_size=3),
    st.dictionaries(text, st.lists(st.none() | text, max_size=2), max_size=2),
    st.booleans()), min_size=1, max_size=3))
def test_encode_entity_matches_to_uda_json_on_any_text(spark, ents):
    _same_bytes(spark, [(f"e:{i}", i, 0, deleted, props, refs)
                        for i, (props, refs, deleted) in enumerate(ents)])
