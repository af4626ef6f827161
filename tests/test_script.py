"""Script-string transform surface (reference JavascriptTransform,
internal/jobs/transform.go; test model: internal/jobs/transform_test.go —
property ops, Query/FindById, namespace helpers, NewEntity emission)."""

import pytest
from pyspark.sql import functions as F

import datahub_spark.script as SC
from datahub_spark.model import ENTITY_SCHEMA


def _entities(spark, rows):
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


@pytest.fixture
def people(spark):
    return _entities(spark, [
        ("p:1", 1, 0, False, {"p:name": "alice", "p:tmp": "x"},
         {"p:nation": ["n:1"]}, "people"),
        ("p:2", 1, 0, False, {"p:name": "bob"}, {"p:nation": ["n:2"]}, "people"),
    ])


@pytest.fixture
def nations(spark):
    return _entities(spark, [
        ("n:1", 1, 0, False, {"p:name": "NORWAY"}, None, "nation"),
        ("n:2", 1, 0, False, {"p:name": "FRANCE"}, None, "nation"),
    ])


def test_property_ops_match_reference_helpers(spark, people):
    # SetProperty/RenameProperty/RemoveProperty — transform.go:46-129
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        SetProperty(e, "p", "upper", ToString(GetProperty(e, "p", "name", "")).toUpperCase());
        RenameProperty(e, "p", "name", "p", "fullname");
        RemoveProperty(e, "p", "tmp");
        SetProperty(e, "p", "missing", GetProperty(e, "p", "nope", "dflt"));
    }
    return entities;
}
"""
    out = {r["id"]: r["props"] for r in SC.script_transform(people, code).collect()}
    assert out["p:1"] == {"p:upper": "ALICE", "p:fullname": "alice", "p:missing": "dflt"}
    assert out["p:2"]["p:upper"] == "BOB"
    assert "p:name" not in out["p:1"]


def test_refs_deleted_and_id_ops(spark, people):
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        AddReference(e, "p", "seen", [PrefixField("x", "1")]);
        SetDeleted(e, GetId(e) == "p:2");
        SetId(e, GetId(e) + ":v2");
    }
    return entities;
}
"""
    rows = {r["id"]: r for r in SC.script_transform(people, code).collect()}
    assert rows["p:1:v2"]["refs"]["p:seen"] == ["x:1"]
    assert rows["p:1:v2"]["deleted"] is False and rows["p:2:v2"]["deleted"] is True


def test_emit_and_drop_change_batch_size(spark, people):
    # returned list IS the batch: drop bob, emit a derived entity per row
    code = """
function transform_entities(entities) {
    var out = [];
    for (var e of entities) {
        if (GetProperty(e, "p", "name") == "bob") {
            continue;
        }
        out.push(e);
        var d = NewEntity();
        SetId(d, "derived:" + GetId(e));
        SetProperty(d, "p", "src", GetId(e));
        d["Dataset"] = "derived";
        out.push(d);
    }
    return out;
}
"""
    rows = SC.script_transform(people, code).collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == ["derived:p:1", "p:1"]
    d = [r for r in rows if r["dataset"] == "derived"][0]
    assert d["props"] == {"p:src": "p:1"} and d["recorded"] is None


def test_query_and_findbyid_via_broadcast_lookup(spark, people, nations):
    # the documented enrichment pattern (DOCUMENTATION.md:691-706)
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        for (var [start, pred, nat] of Query([GetId(e)], "p:nation", false)) {
            SetProperty(e, "p", "nation_name", GetProperty(nat, "p", "name"));
        }
        var direct = FindById("n:1");
        SetProperty(e, "p", "via_find", GetProperty(direct, "p", "name"));
    }
    return entities;
}
"""
    out = {r["id"]: r["props"] for r in
           SC.script_transform(people, code, lookup=[people, nations]).collect()}
    assert out["p:1"]["p:nation_name"] == "NORWAY"
    assert out["p:2"]["p:nation_name"] == "FRANCE"
    assert out["p:1"]["p:via_find"] == "NORWAY"


def test_inverse_query(spark, people, nations):
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        var hits = Query([GetId(e)], "p:nation", true);
        SetProperty(e, "p", "pop", ToString(hits.length));
        if (hits.length > 0) {
            SetProperty(e, "p", "first", GetId(hits[0][2]));
        }
    }
    return entities;
}
"""
    out = {r["id"]: r["props"] for r in
           SC.script_transform(nations, code, lookup=[people, nations]).collect()}
    assert out["n:1"]["p:pop"] == "1" and out["n:1"]["p:first"] == "p:1"


def test_namespace_builtins_deterministic(spark, people):
    # AssertNamespacePrefix: content-addressed, identical on every
    # executor/run (divergence from the reference's sequential counter is
    # documented in script.py)
    code = """
function transform_entities(entities) {
    var known = GetNamespacePrefix("http://example.io/schema/");
    var fresh = AssertNamespacePrefix("http://other.example/x/");
    for (var e of entities) {
        SetProperty(e, known, "ns1", known);
        SetProperty(e, "p", "ns2", fresh);
    }
    return entities;
}
"""
    a = {r["id"]: r["props"]["p:ns2"]
         for r in SC.script_transform(people.repartition(2), code).collect()}
    assert len(set(a.values())) == 1  # same derived prefix on all partitions
    assert list(a.values())[0].startswith("ns_")
    b = SC.script_transform(people, code).collect()[0]["props"]["p:ns2"]
    assert b == list(a.values())[0]  # stable across runs


def test_bad_scripts_fail_driver_side(spark, people):
    with pytest.raises(ValueError, match="does not load as JavaScript"):
        SC.script_transform(people, "function transform_entities(e) return e")
    with pytest.raises(ValueError, match="transform_entities"):
        SC.script_transform(people, "var x = 1;")


def test_script_transform_in_job_pipeline(spark, tmp_path, people):
    # the reference job-config shape: DatasetSource -> JavascriptTransform
    # -> DatasetSink (pipeline.go + transform.go), via make_script_transform
    from datahub_spark import jobs as J
    from datahub_spark.store import EntityStore, latest

    es = EntityStore(spark, str(tmp_path / "store"))
    es.store_entities("people", people.drop("dataset"))
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        SetProperty(e, "p", "greeting", "hi " + ToString(GetProperty(e, "p", "name", "")));
    }
    return entities;
}
"""
    job = J.Job("greet", J.DatasetSource(es, "people"),
                J.DatasetSink(es, "greeted"),
                transform=SC.make_script_transform(code))
    job.run(J.JobState(str(tmp_path / "state.json")))
    out = {r["id"]: r["props"]["p:greeting"]
           for r in latest(es.log(["greeted"])).collect()}
    assert out == {"p:1": "hi alice", "p:2": "hi bob"}


def test_make_script_transform_validates_eagerly(spark):
    with pytest.raises(ValueError, match="transform_entities"):
        SC.make_script_transform("var y = 2;")


def test_script_virtual_source_pages_with_emit_and_token(spark, tmp_path):
    # BuildEntities/Emit host contract (transform.go:578-600): the script
    # emits a page after `since` and returns the next continuation token
    code = """
function build_entities(params, since, limit) {
    var n = params["n"];
    var emitted = 0;
    var last = since;
    for (var i = since; i < n; i++) {
        if (limit !== null && emitted >= limit) {
            break;
        }
        var e = NewEntity();
        SetId(e, PrefixField("v", i));
        SetProperty(e, "p", "i", ToString(i));
        e["Recorded"] = i + 1;
        e["Seq"] = 0;
        Emit(e);
        emitted += 1;
        last = i + 1;
    }
    return last;
}
"""
    src = SC.ScriptVirtualSource(spark, code, params={"n": 7}, dataset="virt")
    page1, token = src.read(0, limit=3)
    assert [r["id"] for r in page1.collect()] == ["v:0", "v:1", "v:2"]
    assert token == 3
    page2 = src.read(token)[0].collect()
    assert [r["id"] for r in page2] == ["v:3", "v:4", "v:5", "v:6"]
    assert all(r["dataset"] == "virt" for r in page2)

    # plugs into the jobs engine as an incremental source: second run
    # starts from the committed token and appends nothing new
    from datahub_spark import jobs as J
    from datahub_spark.store import EntityStore

    es = EntityStore(spark, str(tmp_path / "store"))
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("virt-sync", SC.ScriptVirtualSource(spark, code, params={"n": 7}),
                J.DatasetSink(es, "virt"))
    job.run(state)
    assert es.log(["virt"]).count() == 7
    assert state.token("virt-sync") == 7
    job.run(state)
    assert es.log(["virt"]).count() == 7  # no re-emission

    with pytest.raises(ValueError, match="build_entities"):
        SC.ScriptVirtualSource(spark, "var x = 1;")


def test_script_virtual_source_job_resumes_from_string_token(spark, tmp_path):
    """A script's continuation token is stored verbatim: a string cursor
    comes back to the script on the next incremental run."""
    from datahub_spark import jobs as J
    from datahub_spark.store import EntityStore

    code = """
function build_entities(params, since, limit) {
    var start = since === 0 ? 0 : parseInt(since.substring(7));
    for (var i = start; i < params.n; i++) {
        var e = NewEntity();
        SetId(e, PrefixField("v", i));
        SetProperty(e, "p", "since", ToString(since));
        Emit(e);
    }
    return "cursor-" + params.n;
}
"""
    es = EntityStore(spark, str(tmp_path / "store"))
    state = J.JobState(str(tmp_path / "state.json"))
    params = {"n": 3}
    job = J.Job("cursor-sync", SC.ScriptVirtualSource(spark, code, params=params),
                J.DatasetSink(es, "virt"))
    job.run(state)
    assert state.token("cursor-sync") == "cursor-3"
    params["n"] = 5
    job.run(state)
    assert state.token("cursor-sync") == "cursor-5"
    since = {r["id"]: r["props"]["p:since"] for r in es.log(["virt"]).collect()}
    assert since == {"v:0": "0", "v:1": "0", "v:2": "0",
                     "v:3": "cursor-3", "v:4": "cursor-3"}


def test_get_dataset_changes_and_latest_wins_lookup(spark):
    # multi-version lookup frame: FindById resolves the LATEST version,
    # GetDatasetChanges returns version-ordered rows after `since`
    log = _entities(spark, [
        ("x:1", 1, 0, False, {"p:v": "old"}, None, "dim"),
        ("x:1", 5, 0, False, {"p:v": "new"}, None, "dim"),
        ("x:2", 3, 0, False, {"p:v": "two"}, None, "dim"),
    ])
    probe = _entities(spark, [("q:1", 1, 0, False, None, None, "probe")])
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        SetProperty(e, "p", "latest", GetProperty(FindById("x:1"), "p", "v"));
        var ch = GetDatasetChanges("dim", 1);
        SetProperty(e, "p", "n_changes", ToString(ch.length));
        SetProperty(e, "p", "first_change", GetId(ch[0]));
        SetProperty(e, "p", "limited", ToString(GetDatasetChanges("dim", 0, 2).length));
    }
    return entities;
}
"""
    (row,) = SC.script_transform(probe, code, lookup=[log]).collect()
    assert row["props"] == {"p:latest": "new", "p:n_changes": "2",
                            "p:first_change": "x:2", "p:limited": "2"}


def test_paged_query_callback_contract(spark, people, nations):
    # transform.go:462-534 PagedQuery(query, pageSize, forEach): pages go
    # to the callback; truthy return continues; fully drained returns []
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        var pages = [];
        var r = PagedQuery({"StartURIs": [GetId(e)], "Via": "p:nation",
                            "Inverse": false}, 5,
                           function (ts) { pages.push(ts); return true; });
        SetProperty(e, "p", "via_paged", GetProperty(pages[0][0][2], "p", "name"));
        SetProperty(e, "p", "n_pages", ToString(pages.length));
        SetProperty(e, "p", "cont_len", ToString(r.length));
    }
    return entities;
}
"""
    out = {r["id"]: r["props"] for r in
           SC.script_transform(people, code, lookup=[people, nations]).collect()}
    assert out["p:1"]["p:via_paged"] == "NORWAY"
    assert out["p:1"]["p:n_pages"] == "1"
    assert out["p:1"]["p:cont_len"] == "0"  # drained


def test_lookup_index_row_cap_raises_with_pointer(spark, people):
    # the guard never materializes the oversized frame driver-side
    big = spark.range(50).select(
        F.concat(F.lit("x:"), F.col("id")).alias("id"),
        F.lit(1).cast("long").alias("recorded"),
        F.col("id").alias("seq"),
        F.lit(False).alias("deleted"),
        F.create_map(F.lit("p:n"), F.col("id").cast("string")).alias("props"),
        F.lit(None).cast("map<string,array<string>>").alias("refs"),
        F.lit("big").alias("dataset"),
    )
    with pytest.raises(ValueError, match="enrich_via"):
        SC.build_lookup_index(big, max_rows=10)
    # under the cap: builds fine
    assert len(SC.build_lookup_index(big, max_rows=100)["by_id"]) == 50


def test_lookup_index_fold_equals_build_and_keeps_the_cap(spark, people, nations):
    """Folding rows into an index equals building over all of them,
    leaves the folded-into index as it was, and counts the rows it
    already holds toward the cap."""
    moved = _entities(spark, [
        ("p:2", 2, 0, False, {"p:name": "bob"}, {"p:nation": ["n:1"]}, "people"),
        ("p:1", 2, 0, True, None, None, "people"),
    ])
    rows = [r.asDict() for r in moved.collect()]
    base = SC.build_lookup_index(people, nations)
    before = {k: dict(v) for k, v in base.items()}
    folded = SC.fold_lookup_index(base, rows)
    assert folded == SC.build_lookup_index(people, nations, moved)
    assert folded["inverse"][("p:nation", "n:1")] == ["p:2"]
    assert ("p:nation", "n:2") not in folded["inverse"]
    assert base == before
    with pytest.raises(ValueError, match="exceeds 5 rows.*enrich_via"):
        SC.fold_lookup_index(base, rows, max_rows=5)
    assert len(SC.fold_lookup_index(base, rows, max_rows=6)["changes"]["people"]) == 4


def test_lookup_index_ties_break_by_dataset_not_frame_order(spark):
    """Equal (recorded, seq) versions of one id in two datasets resolve
    by dataset name, the order store.merge_partials folds partials in,
    whatever order the frames come in."""
    a = _entities(spark, [("x:1", 5, 1, False, {"p:v": "a"}, {"p:r": ["y:a"]}, "a")])
    b = _entities(spark, [("x:1", 5, 1, False, {"p:v": "b"}, {"p:r": ["y:b"]}, "b")])
    ab, ba = SC.build_lookup_index(a, b), SC.build_lookup_index(b, a)
    assert ab["by_id"]["x:1"]["props"] == {"p:v": "b"}
    assert ab["by_id"] == ba["by_id"] and ab["inverse"] == ba["inverse"]
    assert list(ab["inverse"]) == [("p:r", "y:b")]


def test_lookup_index_build_over_many_files_runs_one_spark_job(spark, tmp_path):
    """The cap probe reads a multi-file frame as one partition, so a
    build collects in one Spark job instead of scaling a limit up over
    the frame's partitions one job at a time."""
    path = str(tmp_path / "many")
    (spark.range(0, 96, numPartitions=96).select(
        F.concat(F.lit("m:"), F.col("id").cast("string")).alias("id"),
        F.col("id").alias("recorded"), F.lit(0).cast("long").alias("seq"),
        F.lit(False).alias("deleted"),
        F.create_map(F.lit("p:n"), F.col("id").cast("string")).alias("props"),
        F.lit(None).cast("map<string,array<string>>").alias("refs"),
        F.lit("many").alias("dataset"),
    ).write.parquet(path))
    frame = spark.read.schema(ENTITY_SCHEMA).parquet(path)
    assert len(frame.inputFiles()) == 96 and frame.rdd.getNumPartitions() > 1
    sc = spark.sparkContext
    sc.setJobGroup("lookup-index-build", "build_lookup_index over 96 files")
    try:
        index = SC.build_lookup_index(frame)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(index["by_id"]) == 96
    assert len(sc.statusTracker().getJobIdsForGroup("lookup-index-build")) == 1


def test_fn_cache_is_content_keyed_and_bounded(spark, people):
    # same (code, ns, index) binding -> same cache key (repeat calls
    # reuse the worker-side compiled env instead of growing the cache)
    code = "function transform_entities(es) { return es; }\n"
    k1 = SC._index_digest(code, {"p": "http://a/"}, None)
    k2 = SC._index_digest(code, {"p": "http://a/"}, None)
    k3 = SC._index_digest(code + " ", {"p": "http://a/"}, None)
    assert k1 == k2 and k1 != k3
    # LRU bound: inserting past the cap evicts the oldest entry
    SC._FN_CACHE.clear()
    for i in range(SC._FN_CACHE_MAX + 4):
        SC._cache_get(f"key{i}", lambda: i)
    assert len(SC._FN_CACHE) == SC._FN_CACHE_MAX
    assert "key0" not in SC._FN_CACHE
    SC._FN_CACHE.clear()


def test_fn_cache_key_covers_dataset_changes():
    # a scoped Query and GetDatasetChanges read the per-dataset change
    # rows, so two indexes that differ only there must not share a key
    ent = {"id": "x:1", "recorded": 2, "seq": 0, "deleted": False,
           "props": {}, "refs": {}, "dataset": "a"}
    one = SC.fold_lookup_index(SC._EMPTY_INDEX, [ent])
    two = SC.fold_lookup_index(SC._EMPTY_INDEX, [dict(ent, recorded=1), ent])
    assert one["by_id"] == two["by_id"] and one["inverse"] == two["inverse"]
    code = "function transform_entities(es) { return es; }"
    assert SC._index_digest(code, {}, one) != SC._index_digest(code, {}, two)


def test_lookup_rows_with_null_ref_elements_run(spark, people):
    """A lookup row may hold a NULL ref element, whose edge has a None
    target: the worker cache key still sorts the edges, and the script
    sees the element as null."""
    odd = _entities(spark, [("o:1", 1, 0, False, None, {"p:r": [None, "p:1"]}, "odd")])
    code = """
function transform_entities(entities) {
    for (var e of entities) {
        var hits = Query([GetId(e)], "p:r", true);
        SetProperty(e, "p", "referrers", hits.length);
        SetProperty(e, "p", "null_first", FindById("o:1").References["p:r"][0] === null);
    }
    return entities;
}
"""
    out = {r["id"]: r["props"] for r in
           SC.script_transform(people, code, lookup=[people, odd]).collect()}
    assert out["p:1"]["p:referrers"] == "1" and out["p:2"]["p:referrers"] == "0"
    assert out["p:1"]["p:null_first"] == "true"


def test_library_never_executes_python_source():
    """Scripts are JavaScript only: no module under datahub_spark calls
    the builtin exec, eval or compile (interpreter methods such as
    ``Interpreter.exec`` and ``re.compile`` are attribute calls)."""
    import ast
    from pathlib import Path

    root = Path(SC.__file__).parent
    banned = {"exec", "eval", "compile"}
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name) and f.id in banned or (
                    isinstance(f, ast.Attribute) and f.attr in banned
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "builtins"):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert hits == []
