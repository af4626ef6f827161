"""session.local_frame: driver-held rows enter Spark as an Arrow
LocalRelation, equal to ``createDataFrame(rows, schema)``, and no served
ingress builds a pickled RDD."""

from __future__ import annotations

import base64
import threading
from http.server import ThreadingHTTPServer

import pytest

from datahub_spark import jobs as J
from datahub_spark import store as S
from datahub_spark import uda
from datahub_spark.model import ENTITY_SCHEMA
from datahub_spark.session import local_frame
from datahub_spark.server import UdaServer
from tests.test_server import _entities, _get, _post, _split
from tests.test_uda import _PARITY_BODY, _FeedHandler

_LONG = "ø€漢" * 3334  # 10k characters, non-ASCII

_ROWS = [
    ("a", None, None, False, {"p:n": None, "p:s": "x"}, {"p:r": ["b", "c", "d"]}),
    ("b", 5, 0, True, {}, {}),
    ("c", 6, 1, False, None, {"p:one": ["a"]}),
    ("æ:ü", 7, 2, False, {"p:long": _LONG}, {"p:long": [_LONG, "a"]}),
]


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_create_dataframe(spark, rows):
    got = local_frame(spark, rows, uda.ROW_SCHEMA)
    want = spark.createDataFrame(rows, uda.ROW_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_keeps_non_nullable_schema(spark):
    rows = [(r[0], 1, 0, r[3], r[4], r[5], "d") for r in _ROWS]
    got = local_frame(spark, rows, ENTITY_SCHEMA)
    want = spark.createDataFrame(rows, ENTITY_SCHEMA)
    assert got.schema == want.schema == ENTITY_SCHEMA
    assert got.collect() == want.collect()


def test_local_frame_rejects_null_nested_map(spark):
    # Arrow would read this NULL refs back as {}
    with pytest.raises(ValueError, match="'refs'"):
        local_frame(spark, [("a", 1, 0, False, {}, None)], uda.ROW_SCHEMA)


def test_no_served_ingress_builds_a_pickled_rdd(spark, tmp_path, monkeypatch):
    from pyspark.core.rdd import RDD

    store = S.EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("d", _entities(spark, [
        ("e:1", None, 0, False, {"p:name": "one"}, {"p:link": ["e:2"]}, None),
    ]).drop("dataset"))
    js = """
    function build_entities(params, since, limit) {
        var e = NewEntity();
        SetId(e, "v:" + since);
        SetProperty(e, "p", "idx", since);
        Emit(e);
        return since + 1;
    }
    """

    def pickled(self):
        raise AssertionError("driver rows pickled into an RDD")

    monkeypatch.setattr(RDD, "_to_java_object_rdd", pickled)
    with pytest.raises(AssertionError, match="pickled"):
        spark.createDataFrame([("a",)], "x string")

    srv = UdaServer(store, default_limit=1000)
    base = srv.start()
    feed = ThreadingHTTPServer(("127.0.0.1", 0), _FeedHandler)
    threading.Thread(target=feed.serve_forever, daemon=True).start()
    try:
        body = [{"id": "e:2", "props": {"p:name": "two"}}]
        assert _post(f"{base}/datasets/d/entities", body)[0] == 200
        fs = {"universal-data-api-full-sync-id": "s1"}
        assert _post(f"{base}/datasets/fs/entities", body,
                     {**fs, "universal-data-api-full-sync-start": "true"})[0] == 200
        assert _post(f"{base}/datasets/fs/entities",
                     [{"id": "e:3"}], fs)[0] == 200
        assert _post(f"{base}/datasets/fs/entities", [],
                     {**fs, "universal-data-api-full-sync-end": "true"})[0] == 200
        assert _post(f"{base}/transactions",
                     {"@context": {"namespaces": {}}, "txn": body})[0] == 200

        _, ents, _ = _split(_get(f"{base}/datasets/core.Dataset/changes"))
        assert {"core:d", "core:fs", "core:txn"} <= {e["id"] for e in ents}

        cfg = {"VirtualDatasetConfig":
               {"Transform": base64.b64encode(js.encode()).decode()}}
        assert _post(f"{base}/datasets/gen", cfg)[0] == 200
        _, ents, token = _split(_get(f"{base}/datasets/gen/entities?since=4"))
        assert [e["id"] for e in ents] == ["v:4"] and token == 5

        pulled = J.HttpDatasetSource(
            spark, f"http://127.0.0.1:{feed.server_address[1]}",
            dataset="pulled", allow_network=True).read(0)[0].collect()
    finally:
        srv.stop()
        feed.shutdown()
        feed.server_close()
    assert {r["id"] for r in pulled} == {o["id"] for o in _PARITY_BODY
                                         if o.get("id", "@").startswith("w:")}
    assert {r["id"] for r in store.log(["d"]).collect()} == {"e:1", "e:2"}
    assert {r["id"] for r in S.latest(store.log(["fs"])).collect()} == {"e:2", "e:3"}
    assert [r["id"] for r in store.log(["txn"]).collect()] == ["e:2"]
