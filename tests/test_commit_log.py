"""The store's commit log (``EntityStore.state``): every mutation is one
numbered entry, so a reader sees a commit whole or not at all, writers
publish in tick order, and a compaction, rename or delete racing a
commit loses none of its rows. Each race is set up explicitly with
``tests.interleave``: one operation is held at a file step while
another runs until it finishes or waits for the store's lock."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datahub_spark import store as S
from tests.entity_fixtures import LEGACY_REGISTRY, LEGACY_ROWS, legacy_store
from tests.interleave import WAIT_S, Interleaving, Task

SCHEMA = "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"


def _batch(spark, pairs):
    return spark.createDataFrame([(eid, False, {"v": v}, {}) for eid, v in pairs], SCHEMA)


def _ids(df) -> set:
    return {r["id"] for r in df.collect()}


# -- races -----------------------------------------------------------------


def test_a_compaction_keeps_a_commit_that_lands_before_its_publish(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    for v in ("1", "1", "2"):
        es.store_entities("a", _batch(spark, [("x", v)]), skip_unchanged=False)
    gate = Interleaving(monkeypatch, root)
    compaction = gate.hold(lambda: es.compact("a"))
    new = [(f"n{i}", "v") for i in range(10)]
    commit = gate.run(lambda: es.store_entities("a", _batch(spark, new), recorded=10))
    gate.release()
    compaction.join()
    commit.join()
    assert _ids(es.log(["a"])) == {"x"} | {eid for eid, _v in new}
    assert es.log(["a"]).count() == 12  # x's repeated version compacted away


def test_readers_see_a_commit_whole_or_not_at_all(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    first = es.store_entities("d", _batch(spark, [("a0", "v")]))
    files = len(es.log_files(["d"]))
    rows = _batch(spark, [(f"e{i}", "v") for i in range(400)]).repartition(4)
    gate = Interleaving(monkeypatch, root)
    commit = gate.hold(lambda: es.store_entities("d", rows, skip_unchanged=False), nth=2)
    seen = (es.log(["d"]).count(), es.max_recorded(["d"]), len(es.log_files(["d"])))
    gate.release()
    tick = commit.join()
    assert seen == (1, first, files)
    assert (es.log(["d"]).count(), es.max_recorded(["d"]), len(es.log_files(["d"]))) == \
        (401, tick, files + 4)


def test_ticks_become_visible_in_order(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    gate = Interleaving(monkeypatch, root)
    a = gate.hold(lambda: es.store_entities("a", _batch(spark, [(f"a{i}", "v") for i in range(5)])))
    b = gate.run(lambda: es.store_entities("b", _batch(spark, [(f"b{i}", "v") for i in range(3)])))
    # a consumer reading now must not see B while A, with the lower tick,
    # is still to come
    seen = (es.max_recorded(["b"]), es.log(["b"]).count())
    gate.release()
    tick_a, tick_b = a.join(), b.join()
    assert seen == (0, 0)
    assert tick_a < tick_b
    assert (es.log(["a"]).count(), es.log(["b"]).count()) == (5, 3)


def test_a_rename_racing_a_commit_moves_its_rows(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    es.store_entities("a", _batch(spark, [("x", "1")]))
    gate = Interleaving(monkeypatch, root)
    commit = gate.hold(lambda: es.store_entities("a", _batch(spark, [("y", "2")])))
    rename = gate.run(lambda: es.rename_dataset("a", "b"))
    gate.release()
    commit.join()
    rename.join()
    assert es.list_datasets() == ["b"]
    assert _ids(es.log(["b"])) == {"x", "y"}
    assert not es.has_data("a") and es.log(["a"]).count() == 0


def test_a_delete_racing_a_commit_removes_its_rows(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    es.store_entities("a", _batch(spark, [("x", "1")]))
    gate = Interleaving(monkeypatch, root)
    commit = gate.hold(lambda: es.store_entities("a", _batch(spark, [("y", "2")])))
    delete = gate.run(lambda: es.delete_dataset("a"))
    gate.release()
    commit.join()
    delete.join()
    assert es.list_datasets() == []
    assert es.log().count() == 0 and not es.has_data("a")
    assert not os.path.exists(os.path.join(es.log_dir, "dataset=a"))


def test_a_writes_pipeline_runs_before_the_store_lock(spark, tmp_path, monkeypatch):
    """A job sink's frame is its whole pipeline; evaluating it must not
    hold the lock every other writer needs."""
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    started, go = str(tmp_path / "started"), str(tmp_path / "go")

    @F.udf("string")
    def slow(eid):
        open(started, "w").close()
        while not os.path.exists(go):
            time.sleep(0.05)
        return eid

    gate = Interleaving(monkeypatch, root)
    job = Task(lambda: es.store_entities("a", _batch(spark, [("x", "1")]).withColumn("id", slow("id"))))
    job.thread.start()
    deadline = time.monotonic() + WAIT_S
    while not os.path.exists(started) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert os.path.exists(started), "the job's pipeline never ran"
    served = gate.run(lambda: es.execute_transaction({"b": _batch(spark, [("y", "2")])}))
    finished = served.done.is_set()
    open(go, "w").close()
    job.join()
    served.join()
    assert finished, "a write waited for another write's pipeline"
    assert (_ids(es.log(["a"])), _ids(es.log(["b"]))) == ({"x"}, {"y"})


OPS = ("commit", "compact", "rename", "read")
pairs = st.lists(
    st.tuples(st.sampled_from(OPS), st.sampled_from(OPS + (None,)),
              st.lists(st.sampled_from(["e:0", "e:1", "e:2"]), min_size=1, max_size=3),
              st.sampled_from(["x", "y"]))
    .filter(lambda p: not p[0] == p[1] == "rename"),
    min_size=1, max_size=3)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=pairs)
def test_interleaved_commit_compact_rename_and_read_match_a_serial_model(spark, tmp_path, steps):
    """Each step holds one operation at its first file step while a second
    one runs; the store must end as if the held one ran first, and a read
    made while it is held must see the store as before it."""
    root = str(tmp_path / uuid.uuid4().hex)
    es = S.EntityStore(spark, root)
    es.store_entities("d0", _batch(spark, [("e:0", "x")]))
    model = {"d0": {"e:0": "x"}}  # registered dataset -> {id: value}
    cur = ["d0"]  # the dataset commits, compactions and renames address

    def observed():
        got: dict[str, dict] = {ds: {} for ds in es.list_datasets()}
        for r in S.latest(es.log()).collect():
            got.setdefault(r["dataset"], {})[r["id"]] = r["props"]["v"]
        return got

    def op(kind, ids, value):
        """The operation as a callable, and its effect on the model."""
        ds = cur[0]
        if kind == "commit":
            return (lambda: es.store_entities(ds, _batch(spark, [(i, value) for i in ids])),
                    lambda: model.setdefault(ds, {}).update({i: value for i in ids}))
        if kind == "compact":
            return lambda: es.compact(ds), lambda: None
        if kind == "rename":
            fresh = f"d{uuid.uuid4().hex[:6]}"

            def renamed():
                model[fresh] = model.pop(ds)
                cur[0] = fresh
            return lambda: es.rename_dataset(ds, fresh), renamed
        return observed, lambda: None

    for first, second, ids, value in steps:
        held, held_effect = op(first, ids, value)
        other, other_effect = op(second, ids, value) if second else (None, lambda: None)
        before = {ds: dict(rows) for ds, rows in model.items()}
        with pytest.MonkeyPatch.context() as mp:
            gate = Interleaving(mp, root)
            task = gate.hold(held)
            running = gate.run(other) if other else None
            gate.release()
            results = [task.join(), running.join() if running else None]
        for kind, result in zip((first, second), results):
            if kind == "read":
                assert result == before
        held_effect()
        other_effect()
        assert observed() == model


# -- crashes and maintenance -----------------------------------------------


def test_vacuum_removes_staging_and_unlisted_files_only(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "s"))
    es.store_entities("d", _batch(spark, [("x", "1"), ("y", "2")]))
    before = sorted(map(tuple, es.log().collect()))
    staging = os.path.join(es.root, "_staging-deadbeef")
    os.makedirs(os.path.join(staging, "d"))
    listed = sorted(es.log_files(["d"]))[0]
    unlisted = os.path.join(es.log_dir, "dataset=d", "9-part-unlisted.parquet")
    shutil.copy(listed, unlisted)
    removed = es.vacuum()
    assert sorted(removed) == sorted([staging, unlisted])
    assert not os.path.exists(staging) and not os.path.exists(unlisted)
    assert sorted(map(tuple, es.log().collect())) == before
    assert es.vacuum() == []


def test_a_vacuum_during_a_compaction_keeps_its_rewrite(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    es = S.EntityStore(spark, root)
    for v in ("1", "1", "2"):
        es.store_entities("a", _batch(spark, [("x", v), ("y", v)]), skip_unchanged=False)
    before = sorted(map(tuple, S.latest(es.log()).collect()))
    gate = Interleaving(monkeypatch, root)
    compaction = gate.hold(lambda: es.compact("a"), nth=0)  # staged, not published
    es.vacuum()
    gate.release()
    compaction.join()
    assert sorted(map(tuple, S.latest(es.log()).collect())) == before
    assert es.log(["a"]).count() == 4  # the repeated version compacted away


def test_restore_over_a_non_empty_root_keeps_only_the_backup(spark, tmp_path):
    src = S.EntityStore(spark, str(tmp_path / "src"))
    src.store_entities("keep", _batch(spark, [("k1", "v")]))
    src.backup(str(tmp_path / "bak"))
    dst = S.EntityStore(spark, str(tmp_path / "dst"))
    dst.store_entities("keep", _batch(spark, [("stale", "v")]))
    dst.store_entities("other", _batch(spark, [("o1", "v"), ("o2", "v")]))
    restored = S.EntityStore.restore(spark, str(tmp_path / "bak"), str(tmp_path / "dst"))
    assert restored.list_datasets() == ["keep"]
    assert _ids(restored.log(["keep"])) == {"k1"}
    assert _ids(restored.log()) == {"k1"}


def test_a_bad_backup_leaves_the_root_as_it_was(spark, tmp_path):
    root = str(tmp_path / "dst")
    S.EntityStore(spark, root).store_entities("keep", _batch(spark, [("k1", "v")]))
    os.makedirs(tmp_path / "empty")
    for bad in (tmp_path / "missing", tmp_path / "empty"):
        with pytest.raises(FileNotFoundError, match="not a store backup"):
            S.EntityStore.restore(spark, str(bad), root)
    es = S.EntityStore(spark, root)
    es.vacuum()
    assert _ids(es.log(["keep"])) == {"k1"}


def test_a_backup_written_before_the_commit_log_restores(spark, tmp_path):
    legacy_store(str(tmp_path / "bak"))
    root = str(tmp_path / "dst")
    other = S.EntityStore(spark, root)
    for i in range(5):
        other.store_entities("other", _batch(spark, [("o1", str(i))]))
    tick = other.state().tick
    es = S.EntityStore.restore(spark, str(tmp_path / "bak"), root)
    assert es.list_datasets() == ["city", "people"]
    assert sorted((r["dataset"], r["id"], r["recorded"]) for r in es.log().collect()) == \
        sorted((ds, eid, rec) for ds, rows in LEGACY_ROWS.items() for eid, rec, _p in rows)
    assert es.max_recorded(["city"]) == 4
    assert tick > LEGACY_REGISTRY["counter"] and es.state().tick == tick  # never goes back


def test_a_reused_backup_location_holds_only_the_last_backup(spark, tmp_path):
    bak = str(tmp_path / "bak")
    first = S.EntityStore(spark, str(tmp_path / "first"))
    for i in range(3):
        first.store_entities("a", _batch(spark, [(f"a{i}", "v")]))
    first.backup(bak)
    # a restore and a re-init both start a shorter history at the location
    restored = S.EntityStore.restore(spark, bak, str(tmp_path / "restored"))
    restored.compact("a")
    restored.backup(bak)
    assert _ids(S.EntityStore.restore(spark, bak, str(tmp_path / "r1")).log()) == {"a0", "a1", "a2"}
    fresh = S.EntityStore(spark, str(tmp_path / "fresh"))
    fresh.store_entities("b", _batch(spark, [("b0", "v")]))
    fresh.backup(bak)
    again = S.EntityStore.restore(spark, bak, str(tmp_path / "r2"))
    assert again.list_datasets() == ["b"]
    assert _ids(again.log()) == {"b0"}
    # the location keeps exactly the files its entry lists
    kept = {fn for _d, _s, files in os.walk(os.path.join(bak, "log")) for fn in files}
    assert kept == {os.path.basename(p) for p in fresh.log_files()}


def test_a_store_written_before_the_commit_log_opens(spark, tmp_path):
    root = str(tmp_path / "s")
    legacy_store(root)
    es = S.EntityStore(spark, root)
    got = sorted((r["dataset"], r["id"], r["recorded"], r["props"]["p:n"])
                 for r in es.log().collect())
    assert got == sorted((ds, eid, rec, props["p:n"])
                         for ds, rows in LEGACY_ROWS.items() for eid, rec, props in rows)
    assert es.list_datasets() == ["city", "people"]
    assert (es.max_recorded(["people"]), es.max_recorded(["city"])) == (3, 4)
    core = sorted((r["id"], r["recorded"], r["deleted"])
                  for r in es.log([S.CORE_DATASET]).collect())
    assert core == [("core:city", 0, False), ("core:people", 1, False)]
    assert es.dataset_context("city")["namespaces"] == {"cust": "http://example.io/customer/"}
    # the tick continues from the registry's counter
    assert es.store_entities("people", spark.createDataFrame(
        [("p:3", False, {"p:n": "three"}, {})], SCHEMA)) == LEGACY_REGISTRY["counter"] + 1
    # a second open folds the same entries and migrates nothing again
    again = S.EntityStore(spark, root)
    assert again.log(["people"]).count() == 4
    assert again.state() == es.state()


def test_a_legacy_store_stopped_mid_rename_or_compaction_is_refused(spark, tmp_path):
    renaming = json.loads(json.dumps(LEGACY_REGISTRY))
    renaming["datasets"]["town"] = {"publicNamespaces": [], "renamedFrom": "city"}
    root = str(tmp_path / "renaming")
    legacy_store(root, renaming)
    with pytest.raises(ValueError, match=re.escape(os.path.join(root, "datasets.json"))):
        S.EntityStore(spark, root)
    root = str(tmp_path / "compacting")
    legacy_store(root)
    old = os.path.join(root, "log", "dataset=people.old-1f2e")
    os.makedirs(old)
    with pytest.raises(ValueError, match=re.escape(old)):
        S.EntityStore(spark, root)

