"""JavaScript transform conformance: the reference's OWN transform JS
(verbatim from internal/jobs/transform_test.go, pipeline_test.go,
transform.go helper functions) executed through this engine's
script-transform surface (script.load_entry -> datahub_spark.js
interpreter -> mapInPandas batches)."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

import datahub_spark.script as SC
from datahub_spark.model import ENTITY_SCHEMA


def _entities(spark, rows):
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


def _b64(js: str) -> str:
    # the reference job-config wire format (transform.go:parseTransform
    # base64-decodes the Code field)
    return base64.b64encode(js.encode()).decode()


@pytest.fixture
def people(spark):
    return _entities(spark, [
        ("p:1", 1, 0, False, {"p:name": "alice", "p:tmp": "x"},
         {"p:nation": ["n:1"]}, "people"),
        ("p:2", 1, 0, False, {"p:name": "bob"}, {"p:nation": ["n:2"]},
         "people"),
    ])


def test_property_roundtrip_fixture(spark, people):
    # transform_test.go:74-80 (verbatim): copy a property between
    # namespaces; numbers must stay type-compatible
    js = """ function transform_entities(entities) {

                    for (e of entities) {
                        SetProperty(e, "b", "output", GetProperty(e, "a", "input"))
                    }
                    return entities;
                }"""
    src = _entities(spark, [
        ("1", 1, 0, False, {"a:input": "6708238"}, None, "d")])
    out = SC.script_transform(src, js).collect()
    assert out[0]["props"]["b:output"] == "6708238"


def test_array_property_fixture(spark):
    # transform_test.go:156-162 (verbatim): array-valued property
    js = """ function transform_entities(entities) {
                    for (e of entities) {
                        const val = GetProperty(e, "a", "input");
                        SetProperty(e, "b", "output", [val, val]);
                    }
                    return entities;
                }"""
    src = _entities(spark, [
        ("1", 1, 0, False, {"a:input": "v"}, None, "d")])
    out = SC.script_transform(src, js).collect()
    # canonicalization stringifies the list (props are map<string,string>)
    assert out[0]["props"]["b:output"] == "['v', 'v']"


def test_nested_entity_property_fixture(spark):
    # transform_test.go:114-121 (verbatim): an entity value set as a
    # property — canonicalized to its string form in the props map
    js = """ function transform_entities(entities) {
                    for (e of entities) {
                        const n = NewEntity();
                        SetProperty(n, "b", "num", GetProperty(e, "a", "input"));
                        SetProperty(e, "b", "output", n);
                    }
                    return entities;
                }"""
    src = _entities(spark, [
        ("1", 1, 0, False, {"a:input": "6708238"}, None, "d")])
    out = SC.script_transform(src, js).collect()
    nested = out[0]["props"]["b:output"]
    assert "6708238" in nested and "b:num" in nested


def test_base64_code_is_accepted(spark, people):
    # the job-config wire format: Code is base64
    js = """function transform_entities(entities) {
        for (e of entities) {
            SetProperty(e, "p", "upper",
                        GetProperty(e, "p", "name", "").toUpperCase());
        }
        return entities;
    }"""
    out = SC.script_transform(people, _b64(js)).collect()
    got = {r["id"]: r["props"]["p:upper"] for r in out}
    assert got == {"p:1": "ALICE", "p:2": "BOB"}


def test_transaction_fixture(spark, people):
    # pipeline_test.go:89-99 (verbatim, incl. AssertDataset variant
    # :165-179): entities staged via NewTransaction/ExecuteTransaction
    # must come through routed to their transaction datasets
    js = """
            function transform_entities(entities) {
                for (e of entities) {
                    var txn = NewTransaction();

                    // instruct the transaction to create a new dataset
                    txn.AssertDataset("ProductAudit");

                    var newentities = [];
                    newentities.push(e);
                    txn.DatasetEntities["NewProducts"] = newentities;
                    txn.DatasetEntities["ProductAudit"] = newentities;
                    ExecuteTransaction(txn);
                }
                return entities;
            }
            """
    out = SC.script_transform(people, _b64(js)).collect()
    by_ds = {}
    for r in out:
        by_ds.setdefault(r["dataset"], set()).add(r["id"])
    # returned entities keep their source dataset; each staged copy
    # carries its transaction target behind the @txn: routing marker
    # (stripped by Job.run when committing to the store)
    assert by_ds["people"] == {"p:1", "p:2"}
    assert by_ds["@txn:NewProducts"] == {"p:1", "p:2"}
    assert by_ds["@txn:ProductAudit"] == {"p:1", "p:2"}


def test_query_enrichment_fixture(spark):
    # pipeline_test.go:853-864 (verbatim): inverse of the classic
    # works-for enrichment — Query() against the broadcast lookup index,
    # namespace via GetNamespacePrefix
    js = """function transform_entities(entities) {
        var test_ns = GetNamespacePrefix("http://data.mimiro.io/test/")
        for (e of entities) {
            Log(e["ID"])
            var relatedCompanies = Query([ e["ID"] ], test_ns + ":worksfor", false);
            if (relatedCompanies.length == 1) {
                var firstCompany = relatedCompanies[0][2];
                Log(firstCompany);
                e["Properties"][test_ns + ":companyname"] = firstCompany["Properties"][test_ns + ":name"];
            }
        }
        return entities;
    }"""
    ns = {"test": "http://data.mimiro.io/test/"}
    companies = _entities(spark, [
        ("c:1", 1, 0, False, {"test:name": "Acme"}, None, "companies"),
    ])
    workers = _entities(spark, [
        ("w:1", 1, 0, False, {}, {"test:worksfor": ["c:1"]}, "workers"),
    ])
    out = SC.script_transform(
        workers.unionByName(companies).filter(F.col("dataset") == "workers"),
        js, lookup=[workers, companies], namespaces=ns).collect()
    assert out[0]["props"]["test:companyname"] == "Acme"


def test_helper_js_vocabulary(spark, people):
    # helper functions from transform.go:46-130 exercised from JS:
    # RenameProperty, RemoveProperty, PrefixField, GetId/SetId,
    # SetDeleted
    js = """function transform_entities(entities) {
        var out = [];
        for (e of entities) {
            RenameProperty(e, "p", "name", "p", "fullname");
            RemoveProperty(e, "p", "tmp");
            SetProperty(e, "p", "key", PrefixField("p", "k"));
            if (GetId(e) == "p:2") { SetDeleted(e, true); }
            out.push(e);
        }
        return out;
    }"""
    out = {r["id"]: r for r in SC.script_transform(people, js).collect()}
    assert out["p:1"]["props"] == {"p:fullname": "alice", "p:key": "p:k"}
    assert "p:tmp" not in out["p:1"]["props"]
    assert out["p:2"]["deleted"] is True


def test_new_entity_from(spark, people):
    # NewEntityFrom (helper JS, transform.go:138-166): copy id + props
    js = """function transform_entities(entities) {
        var out = [];
        for (e of entities) {
            var n = NewEntityFrom(e, false, true, false);
            SetProperty(n, "p", "derived", "yes");
            out.push(n);
        }
        return out;
    }"""
    out = {r["id"]: r for r in SC.script_transform(people, js).collect()}
    assert out["p:1"]["props"]["p:name"] == "alice"
    assert out["p:1"]["props"]["p:derived"] == "yes"
    assert out["p:1"]["refs"] == {}  # refs not copied


def test_new_entity_emission(spark, people):
    # NewEntity + SetId emission — new entities join the output batch
    js = """function transform_entities(entities) {
        var out = [];
        for (e of entities) {
            out.push(e);
            var n = NewEntity();
            SetId(n, GetId(e) + ":shadow");
            SetProperty(n, "p", "src", GetId(e));
            out.push(n);
        }
        return out;
    }"""
    out = SC.script_transform(people, js).collect()
    ids = {r["id"] for r in out}
    assert ids == {"p:1", "p:2", "p:1:shadow", "p:2:shadow"}


def test_reference_error_surfaces_with_name(spark, people):
    # transform_test.go:34-52: an undefined name must fail loudly,
    # naming the variable (driver-side, at compile/validate time if
    # possible; execution time otherwise)
    js = """function transform_entities(entities) {
        for (e of entities) {
            var bodyEvent = GetProperty(e, prefix, "failField");
        }
        return entities;
    }"""
    with pytest.raises(Exception, match="prefix"):
        SC.script_transform(people, js).collect()


def test_run_query_script_write_query_result():
    # WriteQueryResult (transform.go:322): objects written in order
    js = """function do_query() {
        for (var i = 0; i < 3; i++) {
            WriteQueryResult({n: i, label: "row" + i});
        }
    }"""
    got = SC.run_query_script(None, js)
    assert got == [{"n": 0, "label": "row0"},
                   {"n": 1, "label": "row1"},
                   {"n": 2, "label": "row2"}]


def _friends_fixture(spark):
    """transform_paged_query_test.go:57-68 data: person-1 with 19
    friends, person-21 with 4, persons 200-205 each pointing at
    person-1."""
    pid = "people:person-{}"
    rows = []

    def person(n, friends=()):
        refs = {"people:friends": [pid.format(f) for f in friends]} \
            if friends else None
        rows.append((pid.format(n), 1, 0, False,
                     {"people:name": f"p{n}"}, refs, "friends"))

    person(1, range(2, 21))
    person(21, range(22, 26))
    for n in range(200, 206):
        person(n, [1])
    for n in list(range(2, 21)) + list(range(22, 26)):
        person(n)
    return _entities(spark, rows)


def test_paged_query_reference_fixture(spark):
    # transform_paged_query_test.go:71-113 VERBATIM: page through all
    # query pages in QueryForEach — 19+0 results page as 7/7/5, the
    # second transform entity's 4 as one page; drained continuation
    # stringifies to "" ("cont:"+r fixtures)
    js = """ function transform_entities(entities) {
                    const p = GetNamespacePrefix("http://data.mimiro.io/people/")
                    let res = NewEntity()
                    SetId(res, "people:result")
                    let pageCnt=0
                    let entityCnt = 0
                    let cnt=0
                    for (e of entities) {
                        cnt++
                        let cb = function(batch) {
                            pageCnt += 1
                            for (item of batch) {
                                entityCnt += 1
                                SetProperty(res, p, "i-"+pageCnt+"-"+entityCnt, item)
                            }
                            return true
                        }
                        let r = PagedQuery({
                            StartURIs:[GetId(e), p+":person-2"],
                            Via:"*",
                            Inverse: false,
                            Datasets: []
                        }, 7, cb)
                        SetProperty(res, p, "r-"+cnt, "cont:"+r)
                    }
                    SetProperty(res, p,"pageCnt", pageCnt)
                    SetProperty(res, p, "entityCnt", entityCnt)
                    return [res];
                }"""
    lookup = _friends_fixture(spark)
    probe = _entities(spark, [
        ("people:person-1", 1, 0, False, {}, None, "probe"),
        ("people:person-21", 1, 0, False, {}, None, "probe"),
    ])
    ns = {"people": "http://data.mimiro.io/people/"}
    out = SC.script_transform(probe.coalesce(1), js, lookup=[lookup],
                              namespaces=ns).collect()
    assert len(out) == 1
    props = out[0]["props"]
    # 23 item props + r-1 + r-2 + pageCnt + entityCnt
    assert len(props) == 27
    assert props["people:pageCnt"] == "4"
    assert props["people:entityCnt"] == "23"
    assert props["people:r-1"] == "cont:"
    assert props["people:r-2"] == "cont:"


def test_paged_query_stop_and_resume(spark):
    # transform_paged_query_test.go:119-156 shape: callback returning
    # false stops paging; the returned continuation resumes exactly
    # where it left off
    js = """function transform_entities(entities) {
        const p = GetNamespacePrefix("http://data.mimiro.io/people/")
        let res = NewEntity()
        SetId(res, "people:result")
        let firstSeen = 0
        let resumedSeen = 0
        let r = PagedQuery({StartURIs: [p + ":person-1"], Via: "*"}, 7,
                           function(batch) { firstSeen += batch.length; return false });
        let r2 = PagedQuery({Continuations: r}, 100,
                            function(batch) { resumedSeen += batch.length; return true });
        SetProperty(res, p, "firstSeen", firstSeen)
        SetProperty(res, p, "resumedSeen", resumedSeen)
        SetProperty(res, p, "contAfterStop", r.length)
        SetProperty(res, p, "contAfterDrain", "cont:" + r2)
        return [res];
    }"""
    lookup = _friends_fixture(spark)
    probe = _entities(spark, [
        ("people:person-1", 1, 0, False, {}, None, "probe")])
    ns = {"people": "http://data.mimiro.io/people/"}
    (row,) = SC.script_transform(probe, js, lookup=[lookup],
                                 namespaces=ns).collect()
    props = row["props"]
    assert props["people:firstSeen"] == "7"      # one page, then stop
    assert props["people:contAfterStop"] == "12"  # 19 - 7 remain
    assert props["people:resumedSeen"] == "12"    # resume covers the rest
    assert props["people:contAfterDrain"] == "cont:"


def test_python_scripts_are_rejected(spark, people):
    # JavaScript is the only script language: a Python body fails to
    # load, naming the JS parse error, before any task runs
    code = """
def transform_entities(entities):
    for e in entities:
        SetProperty(e, "p", "lang", "python")
    return entities
"""
    with pytest.raises(ValueError, match="does not load as JavaScript"):
        SC.script_transform(people, code)


def test_function_expression_entry_points(spark, people):
    # `var name = function (...) {...}` binds an entry point like a
    # function declaration does, on every loader
    from datahub_spark.jobs import (
        Dependency, Join, parse_multi_source_dependencies,
    )

    code = """
var transform_entities = function (entities) {
    for (var i = 0; i < entities.length; i++) {
        SetProperty(entities[i], "p", "anon", "yes");
    }
    return entities;
};
var do_query = function () { WriteQueryResult({ok: 1}); };
var track_queries = function (reg) { reg.hop("address", "home"); };
"""
    out = SC.script_transform(people, code).collect()
    assert sorted(r["props"]["p:anon"] for r in out) == ["yes", "yes"]
    assert SC.run_query_script(spark, code) == [{"ok": 1}]
    assert parse_multi_source_dependencies("person", None, code) == [
        Dependency("address", [Join("person", "home", True)]),
    ]
