"""Jobs engine (reference: pipeline_test.go / scheduler_test.go /
multisource_test.go / error_handler tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datahub_spark import jobs as J
from datahub_spark.store import EntityStore, latest
from tests.entity_fixtures import people_log


@pytest.fixture()
def store(spark, tmp_path):
    es = EntityStore(spark, str(tmp_path / "store"))
    log = people_log(spark)
    for ds in ["people", "city", "people.extra"]:
        es.execute_transaction(
            {ds: log.filter(F.col("dataset") == ds).drop("dataset")},
            recorded=None,
        )
    return es


def test_incremental_job_advances_token_and_is_idempotent(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("copy-people", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "people_copy"))
    r1 = job.run(state)
    assert r1["token"] > 0
    n1 = store.log(["people_copy"]).count()
    assert n1 == 4
    # second run: no new changes -> nothing appended
    job.run(state)
    assert store.log(["people_copy"]).count() == n1


def test_union_source_concatenates(spark, store):
    u = J.UnionDatasetSource([J.DatasetSource(store, "people"),
                              J.DatasetSource(store, "city")])
    assert u.read()[0].count() == 5


def test_multisource_dependency_tracking(spark, store):
    # main=people, dependency=city via inverse p:home (city change ->
    # people entities pointing at it need reprocessing)
    ms = J.MultiSource(store, "people", [
        J.Dependency("city", [J.Join("people", "p:home", inverse=True)]),
    ])
    affected = sorted(r["id"] for r in ms.affected_ids({}).collect())
    assert affected == ["p:alice", "p:bob"]
    # nothing changed since the city write -> empty affected set
    wm = store.changes("city").agg(F.max("recorded")).collect()[0][0]
    assert ms.affected_ids({"city": wm}).count() == 0


def test_error_handler_rerun_retries_then_succeeds(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    calls = {"n": 0}

    class FlakySink:
        def write(self, df):
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient")

    job = J.Job("flaky", J.DatasetSource(store, "people"), FlakySink(),
                on_error=J.ErrorHandler(kind="reRun", max_retries=3))
    res = job.run(state)
    assert res["attempts"] == 3


def test_error_handler_log_does_not_retry(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))

    class FailSink:
        def write(self, df):
            raise RuntimeError("boom")

    job = J.Job("fail", J.DatasetSource(store, "people"), FailSink(),
                on_error=J.ErrorHandler(kind="log"))
    with pytest.raises(RuntimeError):
        job.run(state)


def test_fullsync_tombstones(spark, store):
    old = latest(store.log(["people"]), include_deleted=True)
    new = spark.createDataFrame([("p:bob",)], "id string")  # alice absent
    tomb = J.fullsync_tombstones(old, new)
    got = [(r["id"], r["deleted"]) for r in tomb.collect()]
    assert got == [("p:alice", True)]


def test_fullsync_tombstone_gets_fresh_version_tick(spark, store, tmp_path):
    """ADVICE r1: tombstones copying the old (recorded, seq) tie exactly
    with the live row, so latest() resolved deletion by row order. The
    tombstone must be stamped with the NEW transaction tick."""
    src = latest(store.log(["people"]), include_deleted=True)
    store.store_entities("t2", src.drop("dataset"))
    alive_before = {r["id"] for r in store.entities("t2").collect()}
    before = int(store.log(["t2"]).agg(F.max("recorded")).collect()[0][0])
    assert alive_before == {"p:bob"}
    fs = J.FullSyncSession(store, "t2")
    fs.append(spark.createDataFrame(
        [("p:carol", False, {"p:name": "Carol"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    fs.complete()
    # bob (alive before, absent from the snapshot) got a tombstone stamped
    # STRICTLY AFTER the pre-fullsync watermark — no version-key tie
    new_tombs = store.log(["t2"]).filter(F.col("deleted") & (F.col("recorded") > before))
    assert {r["id"] for r in new_tombs.collect()} == {"p:bob"}
    # deletion resolves deterministically
    assert {r["id"] for r in store.entities("t2").collect()} == {"p:carol"}
    # and the tombstone is visible as an incremental change after `before`
    inc = {r["id"] for r in store.changes("t2", since=before).collect()}
    assert "p:bob" in inc


def test_fullsync_added_entities_have_non_null_recorded(spark, store):
    """ADVICE r1: unionByName(allowMissingColumns=True) added recorded/seq
    as NULL and execute_transaction persisted them — fullsync-added
    entities were invisible to changes(since>0) and watermarks."""
    before = int(store.log(["people"]).agg(F.max("recorded")).collect()[0][0] or 0)
    fs = J.FullSyncSession(store, "fsnew")
    fs.append(spark.createDataFrame(
        [("p:new", False, {"p:name": "New"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    fs.complete()
    rows = store.log(["fsnew"]).collect()
    assert rows and all(r["recorded"] is not None and r["seq"] is not None for r in rows)
    assert {r["id"] for r in store.changes("fsnew", since=before).collect()} == {"p:new"}


def test_virtual_dataset_source(spark):
    def build(spark_, params, since, limit):
        n = params["n"] if limit is None else min(params["n"], limit)
        return spark_.range(n).select(
            F.concat(F.lit("v:"), F.col("id")).alias("id"),
            F.lit(1).cast("long").alias("recorded"),
        )

    v = J.VirtualDatasetSource(spark, build, {"n": 5})
    assert v.read()[0].count() == 5
    assert v.read(limit=2)[0].count() == 2


def test_lineage_edges(spark, store):
    jobs = [
        J.Job("j1", J.DatasetSource(store, "people"), J.DatasetSink(store, "out1")),
        J.Job("j2", J.MultiSource(store, "people", [
            J.Dependency("city", [J.Join("people", "p:home", inverse=True)])]),
              J.DatasetSink(store, "out2"), transform=lambda df: df),
    ]
    edges = J.lineage(jobs)
    assert {"From": "people", "To": "out1", "Type": "copy"} in edges
    assert {"From": "people", "To": "out2", "Type": "transform"} in edges
    assert {"From": "city", "To": "out2", "Type": "transform-hop"} in edges


def test_sample_source(spark):
    s = J.SampleSource(spark, n=7)
    rows = s.read()[0].collect()
    assert len(rows) == 7
    assert rows[0]["dataset"] == "sample"


def test_backup_restore_roundtrip(spark, store, tmp_path):
    store.backup(str(tmp_path / "bk"))
    restored = EntityStore.restore(spark, str(tmp_path / "bk"), str(tmp_path / "restored"))
    assert restored.list_datasets() == store.list_datasets()
    assert restored.log(["people"]).count() == store.log(["people"]).count()
    # the tick survives: the next write continues the version sequence
    assert restored.state().tick == store.state().tick


def _failing_transform(df):
    from datahub_spark import transforms as T

    def fn(pdf):
        if (pdf["id"] == "p:alice").any():
            raise ValueError("cannot process alice")
        return pdf

    return T.safe_python_transform(df, fn)


def test_log_handler_drops_failing_entities_within_budget(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("tolerant", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "clean"), transform=_failing_transform,
                on_error=J.ErrorHandler(kind="log", max_items=10))
    job.run(state)
    ids = {r["id"] for r in store.log(["clean"]).collect()}
    assert ids == {"p:bob"}  # alice versions diverted, bob passed through


def test_log_handler_fails_over_budget(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("strict", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "clean2"), transform=_failing_transform,
                on_error=J.ErrorHandler(kind="log", max_items=1))
    with pytest.raises(RuntimeError, match="failing entities"):
        job.run(state)  # alice has 3 failing versions > max_items=1


def test_requeue_handler_diverts_to_errors_dataset(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("rq", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "clean3"), transform=_failing_transform,
                on_error=J.ErrorHandler(kind="reQueue"))
    job.run(state)
    (errds,) = [d for d in store.list_datasets() if d.startswith("rq.errors.")]
    errs = store.log([errds]).collect()
    assert {r["id"] for r in errs} == {"p:alice"}
    assert all("cannot process alice" in r["props"]["p:__error"] for r in errs)
    assert {r["id"] for r in store.log(["clean3"]).collect()} == {"p:bob"}


def test_requeue_drains_and_retries_on_next_run(spark, store, tmp_path):
    """reQueue.go reQueuePrependingSource: failed entities are PREPENDED
    to the next run's source stream and retried through the full
    transform; drained requeue datasets are deleted after the successful
    run. A transform that starts succeeding lets the entity through with
    the error marker stripped."""
    import pandas as pd
    from datahub_spark import transforms as TR

    flag = str(tmp_path / "fixed.marker")

    def flaky(pdf: pd.DataFrame) -> pd.DataFrame:
        import os as _os
        if (pdf["id"] == "p:alice").any() and not _os.path.exists(flag):
            raise RuntimeError("alice still broken")
        return pdf

    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("rt", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "fixed_out"),
                transform=lambda df: TR.safe_python_transform(df, flaky),
                on_error=J.ErrorHandler(kind="reQueue"))
    job.run(state)
    assert any(d.startswith("rt.errors.") for d in store.list_datasets())
    assert "p:alice" not in {r["id"] for r in store.log(["fixed_out"]).collect()}

    open(flag, "w").close()  # "fix" the transform
    job.run(state)
    # alice's FULL failed history (3 versions incl. her tombstone) was
    # replayed verbatim; her latest state is the tombstone, as in the
    # source dataset — requeue must not resurrect or reorder versions
    full = latest(store.log(["fixed_out"]), include_deleted=True).collect()
    by_id = {r["id"]: r for r in full}
    assert set(by_id) == {"p:alice", "p:bob"}
    assert by_id["p:alice"]["deleted"] is True  # faithful replay
    assert store.log(["fixed_out"]).filter(F.col("id") == "p:alice").count() == 3
    assert "p:__error" not in (by_id["p:alice"]["props"] or {})
    # drained requeue generations are retired; the clean run left none
    assert not any(d.startswith("rt.errors") for d in store.list_datasets())


def test_scheduler_runs_in_lineage_order(spark, store, tmp_path):
    import datetime

    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    # j2 consumes j1's sink: must run after it even though registered first
    sched.register(J.Job("j2-consume", J.DatasetSource(store, "stage1"),
                         J.DatasetSink(store, "stage2")), schedule="* * * * *")
    sched.register(J.Job("j1-produce", J.DatasetSource(store, "people"),
                         J.DatasetSink(store, "stage1")), schedule="* * * * *")
    results = sched.run_due(datetime.datetime(2026, 1, 1, 12, 0))
    assert [r["id"] for r in results] == ["j1-produce", "j2-consume"]
    assert store.log(["stage2"]).count() == 4  # saw this tick's stage1 output


def test_lineage_and_level_order_name_the_same_producers(spark, store, tmp_path):
    """A union job and a MultiSource job: the datasets /lineage says each
    reads are the sinks of the producers the scheduler runs before it."""
    import datetime

    sched = J.Scheduler(J.JobState(str(tmp_path / "state.json")))
    for sink in ("a", "b", "main", "dep"):
        sched.register(J.Job(f"make-{sink}", J.DatasetSource(store, "people"),
                             J.DatasetSink(store, sink)), schedule="* * * * *")
    sched.register(J.Job("union", J.UnionDatasetSource(
        [J.DatasetSource(store, "a"), J.DatasetSource(store, "b")]),
        J.DatasetSink(store, "u_out")), schedule="* * * * *")
    sched.register(J.Job("multi", J.MultiSource(store, "main", [
        J.Dependency("dep", [J.Join("main", "p:home", inverse=True)])]),
        J.DatasetSink(store, "m_out")), schedule="* * * * *")
    edges = J.lineage(list(sched.jobs.values()))
    deps = sched._dep_graph()
    for consumer, sink, reads in (("union", "u_out", {"a", "b"}),
                                  ("multi", "m_out", {"main", "dep"})):
        assert {e["From"] for e in edges if e["To"] == sink} == reads
        assert {sched.jobs[p].sink.name for p in deps[consumer]} == reads
    assert {"From": "dep", "To": "m_out", "Type": "transform-hop"} in edges
    results = sched.run_due(datetime.datetime(2026, 1, 1, 12, 0))
    order = [r["id"] for r in results]
    assert all(r.get("error") is None for r in results), results
    assert sorted(order[4:]) == ["multi", "union"]
    # the consumers read this tick's producer output
    assert store.log(["u_out"]).count() > 0 and store.log(["m_out"]).count() > 0


def test_scheduler_detects_cycles(spark, store, tmp_path):
    import datetime

    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    sched.register(J.Job("a", J.DatasetSource(store, "y"), J.DatasetSink(store, "x")))
    sched.register(J.Job("b", J.DatasetSource(store, "x"), J.DatasetSink(store, "y")))
    with pytest.raises(ValueError, match="cycle"):
        sched.run_due(datetime.datetime(2026, 1, 1, 12, 0))


def test_tabular_source_reads_csv_into_entities(spark, store, tmp_path):
    csv = tmp_path / "ext.csv"
    csv.write_text("pid,name,score\n7,Ada,99\n8,Lin,87\n")
    src = J.TabularSource(spark, "csv", str(csv), id_col="pid", id_prefix="ext",
                          dataset="ext", reader_options={"header": "true"})
    job = J.Job("ingest-ext", src, J.DatasetSink(store, "ext"))
    job.run(J.JobState(str(tmp_path / "s.json")))
    got = {r["id"]: r["props"] for r in store.entities("ext").collect()}
    assert got == {"ext:7": {"p:name": "Ada", "p:score": "99"},
                   "ext:8": {"p:name": "Lin", "p:score": "87"}}


def test_job_state_records_history(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("hist", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "hist_out"))
    job.run(state)
    job.run(state)
    h = state.history("hist")
    assert len(h) == 2
    assert h[0]["id"] == "hist" and h[0]["token"] >= h[1]["token"]
    # token accessor still works with the richer state shape
    assert state.token("hist") == h[0]["token"]


def test_fullsync_session_tombstones_missing(spark, store, tmp_path):
    # seed the target with bob + alice-partial alive
    src = latest(store.log(["people"]), include_deleted=True)
    store.store_entities("target", src.drop("dataset"))
    alive_before = {r["id"] for r in store.entities("target").collect()}
    assert "p:bob" in alive_before
    # full sync in two batches, bob absent -> tombstoned
    fs = J.FullSyncSession(store, "target")
    fs.append(spark.createDataFrame(
        [("p:carol", False, {"p:name": "Carol"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    fs.append(spark.createDataFrame(
        [("p:dave", False, {"p:name": "Dave"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    fs.complete()
    alive = {r["id"] for r in store.entities("target").collect()}
    assert alive == {"p:carol", "p:dave"}
    # the tombstone is a recorded change, not an erasure
    hist = store.changes("target").filter(F.col("id") == "p:bob").collect()
    assert any(r["deleted"] for r in hist)
    # closed session refuses further use
    with pytest.raises(RuntimeError):
        fs.complete()


def test_fullsync_job_mode_applies_tombstones(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    store.store_entities("mirror2",
                         latest(store.log(["people"]), include_deleted=True).drop("dataset"))
    # fullsync from 'city' into mirror2: people entities vanish -> tombstones
    job = J.Job("fs", J.DatasetSource(store, "city"),
                J.DatasetSink(store, "mirror2"), job_type="fullsync")
    job.run(state)
    alive = {r["id"] for r in store.entities("mirror2").collect()}
    assert alive == {"c:oslo"}


def test_multisource_job_advances_per_dependency_watermarks(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    from datahub_spark import transforms as T

    ms = J.MultiSource(store, "people", [
        J.Dependency("city", [J.Join("people", "p:home", inverse=True)])])

    def enrich(df):
        # the canonical MultiSource use: output depends on the dependency
        return T.enrich_via(df, "p:home", "p:name", "p:cityname",
                            via=store.log(["city"]))

    job = J.Job("ms", ms, J.DatasetSink(store, "ms_out"), transform=enrich)
    job.run(state)
    toks = state.token("ms")
    assert set(toks) == {"people", "city"} and all(v > 0 for v in toks.values())
    n1 = store.log(["ms_out"]).count()

    # a CITY change alone re-processes the pointing people entities,
    # whose enriched output now differs -> re-emitted + stored
    store.store_entities("city", spark.createDataFrame(
        [("c:oslo", False, {"p:name": "Oslo2"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    job.run(state)
    n2 = store.log(["ms_out"]).count()
    assert n2 > n1
    enriched = {r["id"]: r["props"].get("p:cityname")
                for r in store.entities("ms_out").collect()}
    assert enriched["p:bob"] == "Oslo2"
    assert state.token("ms")["city"] > toks["city"]

    # a third run with no changes anywhere emits nothing new
    job.run(state)
    assert store.log(["ms_out"]).count() == n2


def test_incremental_multisource_run_persists_nothing(spark, store, tmp_path,
                                                      monkeypatch):
    """The MultiSource token is taken from the log files' footers, so an
    incremental run neither caches its output nor leaves anything
    persisted."""
    from datahub_spark import lifetime as LT
    from tests.conftest import persisted_ids

    def no_cache(df):
        raise AssertionError("Job.run cached a frame")

    monkeypatch.setattr(LT, "cached", no_cache)
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("ms-nocache", J.MultiSource(store, "people", [
        J.Dependency("city", [J.Join("people", "p:home", inverse=True)])]),
        J.DatasetSink(store, "ms_nocache_out"))
    before = persisted_ids(spark)
    job.run(state)
    assert store.log(["ms_nocache_out"]).count() > 0
    store.store_entities("city", spark.createDataFrame(
        [("c:oslo", False, {"p:name": "Oslo3"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    job.run(state)
    assert persisted_ids(spark) == before
    assert state.token("ms-nocache")["city"] == store.log(["city"]).agg(
        F.max("recorded")).collect()[0][0]


def _counting_transform(spark, counter):
    """Transform that counts, via an accumulator, how many rows flow
    through the pipeline — i.e. how many times the plan executes."""
    def transform(df):
        schema = df.schema

        def run(batches):
            for pdf in batches:
                counter.add(len(pdf))
                yield pdf

        return df.mapInPandas(run, schema=schema)

    return transform


def test_job_run_executes_source_plan_exactly_once_store_source(spark, store, tmp_path):
    """VERDICT r2: the watermark collect() used to execute the
    source+transform DAG once and the sink write executed it again.
    With a store-backed source the token now comes from the committed
    log, so the pipeline must run exactly once per job run."""
    state = J.JobState(str(tmp_path / "state.json"))
    acc = spark.sparkContext.accumulator(0)
    job = J.Job("once", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "once_out"),
                transform=_counting_transform(spark, acc))
    res = job.run(state)
    n_rows = store.log(["once_out"]).count()
    assert n_rows == 4
    assert acc.value == n_rows, "source plan executed more than once"
    assert res["token"] > 0  # token still advances to the source watermark


def test_job_run_executes_source_plan_exactly_once_sample_source(spark, store, tmp_path):
    """A source with no backing log hands back its token, so nothing
    re-reads the written output for one."""
    state = J.JobState(str(tmp_path / "state.json"))
    acc = spark.sparkContext.accumulator(0)
    job = J.Job("once-s", J.SampleSource(spark, n=7),
                J.DatasetSink(store, "once_sample"),
                transform=_counting_transform(spark, acc))
    job.run(state)
    assert store.log(["once_sample"]).count() == 7
    assert acc.value == 7, "source plan executed more than once"


def test_devnull_sink_executes_without_python_stage(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    job = J.Job("null", J.DatasetSource(store, "people"), J.DevNullSink())
    res = job.run(state)
    assert res["token"] > 0


def test_onchange_listener_triggers_job_on_write(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    sched.register(J.Job("watcher", J.DatasetSource(store, "inbox"),
                         J.DatasetSink(store, "outbox")))
    J.wire_onchange(sched, store, {"inbox": ["watcher"]})
    # a committed write to 'inbox' submits the watcher to the runner
    store.store_entities("inbox", spark.createDataFrame(
        [("i:1", False, {"p:v": "1"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    sched.runner.join()
    assert store.log(["outbox"]).count() == 1
    # writes to unwatched datasets do not trigger it
    store.store_entities("other", spark.createDataFrame(
        [("o:1", False, {"p:v": "2"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    sched.runner.join()
    assert store.log(["outbox"]).count() == 1


def test_raffle_tickets_cap_and_dedupe(spark, store):
    # raffle_test.go: deny when class exhausted; deny already-running;
    # give_back restores the slot
    incr = J.Job("i1", J.DatasetSource(store, "people"), J.DevNullSink())
    incr2 = J.Job("i2", J.DatasetSource(store, "people"), J.DevNullSink())
    full = J.Job("f1", J.DatasetSource(store, "people"), J.DevNullSink(),
                 job_type="fullsync")
    r = J.Raffle(tickets_full=0, tickets_incr=1)
    assert r.borrow(incr) is True
    assert r.borrow(incr) is False        # already running
    assert r.borrow(incr2) is False       # class exhausted
    assert r.borrow(full) is False        # zero fullsync tickets
    r.give_back(incr)
    assert r.borrow(incr2) is True        # slot restored
    assert list(r.running_jobs()) == ["i2"]


def test_job_runner_runs_concurrently_and_collects_results(spark, store, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    runner = J.JobRunner(state, J.Raffle(tickets_full=1, tickets_incr=4))
    jobs = [J.Job(f"copy{i}", J.DatasetSource(store, "people"),
                  J.DatasetSink(store, f"out{i}")) for i in range(3)]
    runs = [runner.submit(j) for j in jobs]
    assert all(runs)
    results = [run.result() for run in runs]
    assert sorted(r["id"] for r in results) == ["copy0", "copy1", "copy2"]
    assert all("error" not in r for r in results)
    for i in range(3):
        assert store.log([f"out{i}"]).count() == 4
    assert runner.raffle.running_jobs() == {}  # all tickets returned


def test_job_runner_reports_errors_and_frees_ticket(spark, store, tmp_path):
    class BoomSink:
        def write(self, df):
            raise RuntimeError("boom")

    state = J.JobState(str(tmp_path / "state.json"))
    runner = J.JobRunner(state, J.Raffle(tickets_full=0, tickets_incr=1))
    bad = J.Job("bad", J.DatasetSource(store, "people"), BoomSink())
    run = runner.submit(bad)
    assert run is not None
    res = run.result()
    assert res["id"] == "bad" and "RuntimeError: boom" in res["error"]
    # ticket returned despite the failure
    ok = J.Job("ok", J.DatasetSource(store, "people"), J.DevNullSink())
    run = runner.submit(ok)
    assert run is not None
    assert run.result()["id"] == "ok"


def test_token_snapshot_never_skips_concurrent_producer_writes(spark, store, tmp_path):
    """Race regression (round-4 advice): a producer committing to the
    source dataset between the consumer's scan and its sink write must
    NOT be jumped over by the continuation token. Job.run snapshots the
    watermark BEFORE the scan, so mid-run commits stay above the token
    and flow through the next run (re-delivery of already-seen rows dies
    in write-time dedup)."""
    state = J.JobState(str(tmp_path / "state.json"))
    inner = J.DatasetSink(store, "race_out")

    class MidWriteProducerSink:
        """Commits a fresh row to the SOURCE dataset during write —
        the worst-case interleaving of a concurrent producer."""
        store = store

        def write(self, df):
            from datahub_spark.model import ENTITY_SCHEMA
            inner.write(df)
            # recorded dropped -> stamped with the store's next tick
            store.store_entities("people", spark.createDataFrame(
                [("p:late", 1, 0, False, {"p:name": "Late"}, {}, "people")],
                ENTITY_SCHEMA).drop("dataset", "recorded"))

    job = J.Job("race", J.DatasetSource(store, "people"), MidWriteProducerSink())
    job.run(state)
    # the mid-run commit is strictly above the stored token...
    late_rec = store.log(["people"]).filter(F.col("id") == "p:late") \
        .agg(F.max("recorded")).collect()[0][0]
    assert state.token("race") < late_rec
    # ...so the next run delivers it
    job.sink = inner
    job.run(state)
    assert store.log(["race_out"]).filter(F.col("id") == "p:late").count() == 1


def test_run_due_with_runner_barriers_producer_before_consumer(spark, store, tmp_path):
    """Concurrent dispatch keeps the lineage promise: with a runner, due
    jobs are submitted in topo levels with a join between levels, so the
    consumer sees THIS tick's producer output (scheduler docstring)."""
    import datetime

    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state, raffle=J.Raffle(tickets_full=1, tickets_incr=4))
    sched.register(J.Job("consume", J.DatasetSource(store, "lvl1"),
                         J.DatasetSink(store, "lvl2")), schedule="* * * * *")
    sched.register(J.Job("produce", J.DatasetSource(store, "people"),
                         J.DatasetSink(store, "lvl1")), schedule="* * * * *")
    results = sched.run_due(datetime.datetime(2026, 1, 1, 12, 0))
    assert sorted(r["id"] for r in results) == ["consume", "produce"]
    assert store.log(["lvl2"]).count() == 4  # saw this tick's lvl1 rows


def test_run_due_starved_producer_defers_consumer(spark, store, tmp_path):
    """r4 residual nit, closed: when the PRODUCER is denied a raffle
    ticket, its consumer must not run this tick against the stale
    source — both stay unfired and retry together on a later tick."""
    import datetime

    state = J.JobState(str(tmp_path / "state.json"))
    # zero incremental tickets: everything starves
    sched = J.Scheduler(state, raffle=J.Raffle(tickets_full=1, tickets_incr=0))
    sched.register(J.Job("produce", J.DatasetSource(store, "people"),
                         J.DatasetSink(store, "lvl1")), schedule="* * * * *")
    sched.register(J.Job("consume", J.DatasetSource(store, "lvl1"),
                         J.DatasetSink(store, "lvl2")), schedule="* * * * *")
    t0 = datetime.datetime(2026, 1, 1, 12, 0)
    assert sched.run_due(t0) == []
    assert not store.has_data("lvl2")  # consumer did NOT scan stale lvl1
    # tickets restored: the SAME minute retries both, in order
    sched.runner.raffle = J.Raffle(tickets_full=1, tickets_incr=4)
    results = sched.run_due(t0)
    assert sorted(r["id"] for r in results) == ["consume", "produce"]
    assert store.log(["lvl2"]).count() == 4


def test_job_metrics_emitted(spark, store, tmp_path):
    # job.go:114-144: jobs.count at start, jobs.success with run
    # wall-time on completion; jobs.error on terminal failure
    from datahub_spark.metrics import RecordingMetrics

    state = J.JobState(str(tmp_path / "state.json"))
    rec = RecordingMetrics()
    sched = J.Scheduler(state, metrics=rec)
    job = J.Job("obs", J.DatasetSource(store, "people"),
                J.DatasetSink(store, "obs_out"))
    sched.register(job)
    assert job.metrics is rec
    job.run(state)
    assert [e["tags"]["job"] for e in rec.named("jobs.count")] == ["obs"]
    ok = rec.named("jobs.success")
    assert len(ok) == 1 and ok[0]["kind"] == "timing" and ok[0]["value"] > 0
    assert ok[0]["tags"] == {"job": "obs", "jobtype": "incremental"}
    assert rec.named("jobs.error") == []

    class FailSink:
        def write(self, df):
            raise RuntimeError("boom")

    bad = J.Job("bad", J.DatasetSource(store, "people"), FailSink(),
                on_error=J.ErrorHandler("log"), metrics=rec)
    with pytest.raises(RuntimeError):
        bad.run(state)
    assert len(rec.named("jobs.error")) == 1


def test_tabular_sink_flattens_props(spark, tmp_path):
    """TabularSink: latest entity view -> flat tabular parquet, props as
    columns; a Job wires TabularSource-style data back out."""
    from datahub_spark.jobs import TabularSink
    from datahub_spark.model import ENTITY_SCHEMA

    df = spark.createDataFrame(
        [("c:1", 5, 0, False, {"p:name": "ada", "p:city": "oslo"}, None, "d"),
         ("c:2", 6, 0, False, {"p:name": "bob"}, None, "d")],
        ENTITY_SCHEMA)
    out = str(tmp_path / "flat")
    TabularSink(out).write(df)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"id", "recorded", "deleted", "name", "city"}
    rows = {r["id"]: r for r in back.collect()}
    assert rows["c:1"]["city"] == "oslo"
    assert rows["c:2"]["city"] is None

    # pinned prop schema skips discovery and controls the columns
    TabularSink(out, prop_cols=["p:name"], mode="overwrite").write(df)
    assert set(spark.read.parquet(out).columns) == {"id", "recorded",
                                                    "deleted", "name"}


def test_job_runner_kill_cancels_running_spark_actions(spark, tmp_path):
    """KillJob (scheduler.go:402): kill() cancels the running job's
    Spark job group mid-action; the run errors promptly instead of
    finishing, and the cancelled flag suppresses reRun retries."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    started = str(tmp_path / "udf-started")

    class SlowSource:
        def __init__(self, spark):
            self.spark = spark

        def read(self, token=None):
            @F.udf(LongType())
            def slow(x):
                open(started, "a").close()  # the slow stage is running
                time.sleep(0.25)
                return x

            return (self.spark.range(400).repartition(8)
                    .select(slow("id").alias("id"))), token

    class CountSink:
        def write(self, df):
            # sum over the UDF column so the slow UDF cannot be pruned
            df.agg(F.sum("id")).collect()

    state = J.JobState(str(tmp_path / "state.json"))
    runner = J.JobRunner(state)
    job = J.Job("slow", SlowSource(spark), CountSink(),
                on_error=J.ErrorHandler(kind="reRun", max_retries=3))
    run = runner.submit(job)
    assert run
    # cancelJobGroup only cancels active jobs: kill once a task of the
    # slow stage has started and the job group has an active job (an
    # uncancelled run takes ~25 s on 4 cores)
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 120
    while not (os.path.exists(started)
               and set(tracker.getJobIdsForGroup("job-slow"))
               & set(tracker.getActiveJobsIds())):
        if time.monotonic() > deadline:
            pytest.fail("job group job-slow never started its slow Spark action")
        time.sleep(0.05)
    t0 = time.monotonic()
    assert runner.kill("slow")
    results = [run.result(timeout=120)]
    elapsed = time.monotonic() - t0
    assert elapsed < 9, elapsed
    assert len(results) == 1 and "error" in results[0]
    assert job.cancelled
    # kill on a non-running job is a no-op False
    assert runner.kill("slow") is False
