"""Versioned store semantics (reference: dataset_test.go / store_test.go)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datahub_spark import store as S
from datahub_spark import uda
from datahub_spark.model import ENTITY_SCHEMA
from tests.entity_fixtures import legacy_store, people_log, row


def test_latest_picks_max_version_and_drops_tombstones(spark):
    log = people_log(spark)
    out = {r["id"]: r for r in S.latest(log.filter(F.col("dataset") == "people")).collect()}
    # alice's latest version is a tombstone -> excluded
    assert set(out) == {"p:bob"}
    assert out["p:bob"]["props"]["p:name"] == "Bob"


def test_latest_include_deleted_keeps_tombstone_version(spark):
    log = people_log(spark).filter(F.col("dataset") == "people")
    out = {r["id"]: r for r in S.latest(log, include_deleted=True).collect()}
    assert out["p:alice"]["deleted"] is True
    assert out["p:alice"]["recorded"] == 3


def test_changes_since_and_latest_only(spark):
    log = people_log(spark).filter(F.col("dataset") == "people")
    since2 = S.changes(log, since=1)
    assert sorted((r["id"], r["recorded"]) for r in since2.collect()) == [
        ("p:alice", 2), ("p:alice", 3), ("p:bob", 2)]
    lo = S.changes(log, since=1, latest_only=True)
    assert sorted((r["id"], r["recorded"]) for r in lo.collect()) == [
        ("p:alice", 3), ("p:bob", 2)]


def test_point_in_time_restores_old_state(spark):
    log = people_log(spark).filter(F.col("dataset") == "people")
    asof2 = {r["id"]: r for r in S.point_in_time(log, as_of=2).collect()}
    assert asof2["p:alice"]["props"]["p:age"] == "31"
    asof1 = {r["id"]: r for r in S.point_in_time(log, as_of=1).collect()}
    assert asof1["p:alice"]["props"]["p:age"] == "30"
    assert "p:bob" not in asof1


def test_merge_partials_deleted_partials_contribute_nothing(spark):
    log = people_log(spark).filter(F.col("dataset") != "city")
    merged = {r["id"]: r for r in S.merge_partials(log, include_deleted=True).collect()}
    a = merged["p:alice"]
    # people-latest is a tombstone -> contributes nothing (store.go:695);
    # only the live people.extra partial resolves
    assert a["props"] == {"p:email": "a@x"}
    assert a["deleted"] is False
    # bob merges from his single live partial
    assert merged["p:bob"]["props"]["p:name"] == "Bob"


def test_merge_partials_all_deleted_resolves_tombstone(spark):
    log = people_log(spark).filter(F.col("dataset") == "people")
    merged = {r["id"]: r for r in S.merge_partials(log, include_deleted=True).collect()}
    assert merged["p:alice"]["deleted"] is True
    assert merged["p:alice"]["props"] is None
    # and the default view hides fully-tombstoned entities
    visible = {r["id"] for r in S.merge_partials(log).collect()}
    assert visible == {"p:bob"}


def test_compact_deduplicate_drops_successive_identical_versions(spark):
    rows = [
        row("x", 1, 0, False, {"a": "1"}),
        row("x", 2, 0, False, {"a": "1"}),   # dup of v1 -> dropped
        row("x", 3, 0, False, {"a": "2"}),   # changed -> kept
        row("x", 4, 0, False, {"a": "1"}),   # changed back -> kept (not adjacent)
    ]
    log = spark.createDataFrame(rows, ENTITY_SCHEMA)
    kept = sorted(r["recorded"] for r in S.compact_deduplicate(log).collect())
    assert kept == [1, 3, 4]


def test_retention_gc_keeps_newest_version_always(spark):
    log = people_log(spark).filter(F.col("dataset") == "people")
    kept = S.retention_gc(log, horizon=2)
    got = sorted((r["id"], r["recorded"]) for r in kept.collect())
    # alice v1,v2 <= horizon and not newest -> gone; v3 newest survives;
    # bob v2 <= horizon but is newest -> survives
    assert got == [("p:alice", 3), ("p:bob", 2)]


def test_entity_store_roundtrip_and_transaction(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    df1 = people_log(spark).filter(F.col("dataset") == "people").drop("dataset")
    rec = es.execute_transaction({"people": df1, "mirror": df1})
    assert rec == 1
    assert es.list_datasets() == ["mirror", "people"]
    # both datasets got the same version tick atomically
    people = es.log(["people"])
    mirror = es.log(["mirror"])
    assert people.count() == mirror.count() == 4
    # second append gets a later recorded tick
    rec2 = es.store_entities("people", spark.createDataFrame(
        [("p:carol", False, {"p:name": "Carol"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    assert rec2 == 2
    assert es.entities("people").count() == 2  # bob + carol (alice tombstoned)


def test_entity_store_partition_pruning(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    df1 = people_log(spark).filter(F.col("dataset") == "people").drop("dataset")
    es.execute_transaction({"a": df1, "b": df1})
    plan = es.log(["a"])._jdf.queryExecution().executedPlan().toString()
    # dataset filter must prune at the partition level, not post-scan
    assert "PartitionFilters: [" in plan and "dataset" in plan.split("PartitionFilters")[1][:80]


def test_materialized_snapshot_bucketed_join_has_no_exchange(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    df1 = people_log(spark).filter(F.col("dataset") == "people").drop("dataset")
    es.execute_transaction({"a": df1, "b": df1})
    es.materialize_latest("a", buckets=4)
    es.materialize_latest("b", buckets=4)
    # force SMJ (tiny tables would broadcast, which is equally shuffle-free);
    # the point is that bucketed sides sort-merge with NO Exchange
    joined = es.snapshot("a").alias("l").hint("merge").join(
        es.snapshot("b").alias("r"), "id").select("id", "l.recorded", "r.deleted")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # bucketed co-located join
    assert joined.count() == 2  # alice(tombstone incl) + bob


def test_physical_compaction_rewrites_partition(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    rows = [
        row("x", 0, 0, False, {"a": "1"}),
        row("x", 0, 0, False, {"a": "1"}),   # successive dup
        row("x", 0, 0, False, {"a": "2"}),
    ]
    # three appends -> recorded 1,2,3 (write-time dedup bypassed: the
    # successive duplicate is the thing compaction exists to remove)
    for r_ in rows:
        es.store_entities("d", spark.createDataFrame([r_], ENTITY_SCHEMA)
                          .drop("dataset").drop("recorded"), skip_unchanged=False)
    assert es.log(["d"]).count() == 3
    es.compact("d")
    kept = sorted(r["recorded"] for r in es.log(["d"]).collect())
    assert kept == [1, 3]  # middle dup version physically gone
    # store still readable and appendable after the swap
    es.store_entities("d", spark.createDataFrame(
        [("x", False, {"a": "3"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    assert es.log(["d"]).count() == 3


def test_shredded_snapshot_prunes_to_single_column(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    df1 = people_log(spark).filter(F.col("dataset") == "people").drop("dataset")
    es.execute_transaction({"p": df1})
    es.materialize_latest("p", buckets=2, shred_props=["p:name"])
    snap = es.snapshot("p")
    assert "prop_name" in snap.columns
    q = snap.select("prop_name").filter(F.col("prop_name") == "Bob")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # scan must read ONLY the shredded column (map column not touched)
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "prop_name" in rs and "props" not in rs, rs
    # and push the predicate down to the scan
    assert "PushedFilters: [IsNotNull(prop_name), EqualTo(prop_name,Bob)" in plan, plan
    assert q.count() == 1


def test_transaction_failure_leaves_no_partial_state(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    good = people_log(spark).filter(F.col("dataset") == "people").drop("dataset")
    bad = spark.createDataFrame([("x",)], "wrong_col string")  # missing id etc.
    try:
        es.execute_transaction({"ok_ds": good, "bad_ds": bad})
        assert False, "should have raised"
    except Exception:
        pass
    # neither dataset's data is visible: atomic all-or-nothing
    import os
    assert not os.path.exists(os.path.join(es.log_dir, "dataset=ok_ds"))
    assert not os.path.exists(os.path.join(es.log_dir, "dataset=bad_ds"))


def test_dataset_context_public_namespaces(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    es.create_dataset("open")
    es.create_dataset("restricted",
                      public_namespaces=["http://example.io/customer/"])
    assert len(es.dataset_context("open")["namespaces"]) > 1
    restricted = es.dataset_context("restricted")["namespaces"]
    assert restricted == {"cust": "http://example.io/customer/"}


def test_store_entities_skips_unchanged(spark, tmp_path):
    es = S.EntityStore(spark, str(tmp_path / "store"))
    batch = spark.createDataFrame(
        [("x", False, {"a": "1"}, {}), ("y", False, {"b": "2"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>")
    es.store_entities("d", batch)
    assert es.log(["d"]).count() == 2
    # identical re-store: nothing appended (store_test.go:627)
    es.store_entities("d", batch)
    assert es.log(["d"]).count() == 2
    # changed x + unchanged y: only x gets a new version
    batch2 = spark.createDataFrame(
        [("x", False, {"a": "9"}, {}), ("y", False, {"b": "2"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>")
    es.store_entities("d", batch2)
    assert es.log(["d"]).count() == 3
    assert es.log(["d"]).filter(F.col("id") == "x").count() == 2


def test_store_entities_batch_repeating_an_id(spark, tmp_path):
    """Each row of a batch that repeats an id is compared with the id's
    one current version: unchanged copies drop, every changed copy is
    appended, whatever the id's version history."""
    schema = "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"
    es = S.EntityStore(spark, str(tmp_path / "store"))
    es.store_entities("d", spark.createDataFrame(
        [("x", False, {"a": "0"}, {}), ("y", False, {"b": "2"}, {})], schema))
    es.store_entities("d", spark.createDataFrame([("x", False, {"a": "1"}, {})], schema))
    tick = es.store_entities("d", spark.createDataFrame(
        [("x", False, {"a": "1"}, {}), ("x", False, {"a": "9"}, {}),
         ("x", False, {"a": "9"}, {}), ("y", False, {"b": "2"}, {}),
         ("y", False, {"b": "3"}, {})], schema))
    added = es.log(["d"]).filter(F.col("recorded") == tick).collect()
    assert sorted((r["id"], r["props"]["a" if r["id"] == "x" else "b"])
                  for r in added) == [("x", "9"), ("x", "9"), ("y", "3")]
    assert es.log(["d"]).count() == 6


def test_null_seq_backfill_deterministic_and_above_explicit(spark, tmp_path):
    """ADVICE r2: monotonically_increasing_id backfill was nondeterministic
    across runs and its ~2^33-scale values beat every explicit seq in the
    same tick by accident. Backfill must be content-deterministic and
    order ABOVE explicit seqs by design, not luck."""
    es = S.EntityStore(spark, str(tmp_path / "s"))
    batch = spark.createDataFrame(
        [("a", 7, 5, False, {"p:v": "x"}, None),
         ("b", 7, None, False, {"p:v": "y"}, None),
         ("c", 7, None, True, None, None)],
        "id string, recorded long, seq long, deleted boolean, "
        "props map<string,string>, refs map<string,array<string>>",
    )
    es.store_entities("d1", batch, recorded=7)
    es.store_entities("d2", batch, recorded=7)
    s1 = {r["id"]: r["seq"] for r in es.log(["d1"]).collect()}
    s2 = {r["id"]: r["seq"] for r in es.log(["d2"]).collect()}
    assert s1 == s2, "backfilled seqs must be identical across runs"
    assert s1["a"] == 5  # explicit seq preserved
    assert s1["b"] >= (1 << 33) and s1["c"] >= (1 << 33)
    assert s1["b"] != s1["c"]


def test_has_data_survives_registry_crash_window(spark, tmp_path, monkeypatch):
    """A commit that dies after moving its files into the partition but
    before publishing its entry changes nothing: its files stay unlisted,
    so the registry, has_data and reads agree, and prior-state gates
    (fullsync tombstones, write-time dedup) see exactly the committed
    data."""
    es = S.EntityStore(spark, str(tmp_path / "s"))
    schema = "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"
    es.store_entities("d", spark.createDataFrame([("a", False, {"p:v": "x"}, None)], schema))
    link = S.os.link

    def crash_on_publish(src, dst):
        if dst.endswith(".json"):
            raise _Crash()
        return link(src, dst)

    monkeypatch.setattr(S.os, "link", crash_on_publish)
    for ds, eid in (("d", "c"), ("new", "n")):
        try:
            es.store_entities(ds, spark.createDataFrame([(eid, False, {"p:v": "z"}, None)], schema))
            raise AssertionError("the commit did not crash")
        except _Crash:
            pass
    monkeypatch.setattr(S.os, "link", link)
    assert es.list_datasets() == ["d"] and es.has_data("d") and not es.has_data("new")
    assert {r["id"] for r in es.log().collect()} == {"a"}
    # fullsync against the dataset tombstones the survivor, and the
    # crashed commit's row never appears
    from datahub_spark.jobs import FullSyncSession

    fs = FullSyncSession(es, "d")
    fs.append(spark.createDataFrame([("b", False, {"p:v": "y"}, None)], schema))
    fs.complete()
    rows = {r["id"]: r for r in S.latest(es.log(["d"]), include_deleted=True).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["deleted"] is True and rows["b"]["deleted"] is False


def test_concurrent_transactions_lose_nothing(spark, tmp_path):
    """Reference pin: concurrent_contextual_store_test.go — concurrent
    store access must not lose registry entries or share version ticks.
    8 threads x (register + write) to distinct datasets, all against the
    same root; every dataset must end up registered with its rows, and
    every transaction must get a unique recorded tick."""
    import threading

    es = S.EntityStore(spark, str(tmp_path / "s"))
    ticks, errors = [], []

    def writer(i):
        try:
            batch = spark.createDataFrame(
                [(f"e:{i}:{j}", False, {"p:v": str(j)}, None) for j in range(5)],
                "id string, deleted boolean, props map<string,string>, "
                "refs map<string,array<string>>",
            )
            ticks.append(es.store_entities(f"d{i}", batch, skip_unchanged=False))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(set(ticks)) == 8, f"ticks collided: {sorted(ticks)}"
    assert sorted(es.list_datasets()) == [f"d{i}" for i in range(8)]
    counts = {r["dataset"]: r["n"] for r in
              es.log(None).groupBy("dataset").agg(F.count("*").alias("n")).collect()}
    assert counts == {f"d{i}": 5 for i in range(8)}


# -- WAL ingest (LSM-style high-frequency write path) ----------------------

def test_wal_ingest_append_flush_roundtrip(spark, tmp_path):
    from datahub_spark.store import EntityStore, WalIngest, latest

    es = EntityStore(spark, str(tmp_path / "s"))
    wal = WalIngest(es, "hot")
    wal.append([{"id": "e:1", "props": {"p:n": "one"},
                 "refs": {"p:r": ["e:2"]}},
                {"id": "e:2", "props": {"p:n": "two"}}])
    wal.append([{"id": "e:3", "deleted": True}])
    # durable but not yet queryable
    assert "hot" not in es.list_datasets() or not es.has_data("hot")
    recorded = wal.flush()
    assert recorded is not None
    rows = {r["id"]: r for r in es.log(["hot"]).collect()}
    assert set(rows) == {"e:1", "e:2", "e:3"}
    assert rows["e:1"]["props"]["p:n"] == "one"
    assert rows["e:1"]["refs"]["p:r"] == ["e:2"]
    assert rows["e:3"]["deleted"] is True
    # seq preserves append order within the flush
    assert rows["e:1"]["seq"] < rows["e:2"]["seq"] < rows["e:3"]["seq"]
    # empty flush is a no-op
    assert wal.flush() is None
    wal.close()


def test_wal_ingest_survives_restart_and_flush_crash(spark, tmp_path):
    """Un-flushed spool picked up by a NEW instance (restart); a
    crash-left .flushing file is folded into the next flush too."""
    import os

    from datahub_spark.store import EntityStore, WalIngest

    root = str(tmp_path / "s")
    es = EntityStore(spark, root)
    w1 = WalIngest(es, "hot")
    w1.append([{"id": "e:1", "props": {"p:n": "one"}}])
    w1.close()  # process dies before flush

    # simulate a crash mid-flush of an earlier spool
    with open(os.path.join(root, "wal", "hot.jsonl.flushing"), "w") as f:
        f.write('{"id":"e:0","seq":0,"deleted":false,'
                '"props":{"p:n":"zero"},"refs":{}}\n')

    w2 = WalIngest(es, "hot")
    assert w2.flush() is not None
    ids = {r["id"] for r in es.log(["hot"]).collect()}
    assert ids == {"e:0", "e:1"}
    w2.close()


def test_wal_ingest_recovers_any_rotated_spool(spark, tmp_path):
    """A crash can leave spools at ANY rotation name (.flushing,
    .flushing.N.now); the next flush must fold all of them."""
    import os

    from datahub_spark.store import EntityStore, WalIngest

    root = str(tmp_path / "s")
    es = EntityStore(spark, root)
    wal_dir = os.path.join(root, "wal")
    os.makedirs(wal_dir, exist_ok=True)
    for name, eid in [("hot.jsonl.flushing", "e:a"),
                      ("hot.jsonl.flushing.0.now", "e:b")]:
        with open(os.path.join(wal_dir, name), "w") as f:
            f.write(f'{{"id":"{eid}","seq":0,"deleted":false,'
                    f'"props":{{}},"refs":{{}}}}\n')
    w = WalIngest(es, "hot")
    w.append([{"id": "e:c"}])
    assert w.flush() is not None
    assert {r["id"] for r in es.log(["hot"]).collect()} == \
        {"e:a", "e:b", "e:c"}
    assert os.listdir(wal_dir) == ["hot.jsonl"]  # all spools consumed
    w.close()


def test_wal_ingest_concurrent_appends(spark, tmp_path):
    import threading

    from datahub_spark.store import EntityStore, WalIngest

    es = EntityStore(spark, str(tmp_path / "s"))
    wal = WalIngest(es, "hot")

    def worker(base):
        for i in range(20):
            wal.append([{"id": f"e:{base + i}"}])

    threads = [threading.Thread(target=worker, args=(b * 100,))
               for b in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wal.flush()
    assert es.log(["hot"]).count() == 80
    wal.close()


def test_wal_rotation_never_clobbers_leftover_spool(spark, tmp_path):
    """ADVICE r7: naming the rotated spool by len(leftovers) can collide
    with a crash-left '.flushing.1.now' (when '.flushing.0.now' was
    already removed) — os.replace would clobber it AND list the same
    path twice, double-reading the new batch. The suffix must be
    max(existing indices)+1."""
    import os

    from datahub_spark.store import EntityStore, WalIngest

    root = str(tmp_path / "s")
    es = EntityStore(spark, root)
    wal_dir = os.path.join(root, "wal")
    os.makedirs(wal_dir, exist_ok=True)
    # crash left ONLY index 1 (index 0 was consumed before the crash)
    with open(os.path.join(wal_dir, "hot.jsonl.flushing.1.now"), "w") as f:
        f.write('{"id":"e:left","seq":0,"deleted":false,'
                '"props":{},"refs":{}}\n')
    w = WalIngest(es, "hot")
    w.append([{"id": "e:new", "props": {"p:n": "fresh"}}])
    assert w.flush() is not None
    rows = es.log(["hot"]).collect()
    # the leftover survived the rotation and nothing was read twice
    assert {r["id"] for r in rows} == {"e:left", "e:new"}
    assert len(rows) == 2
    assert os.listdir(wal_dir) == ["hot.jsonl"]
    w.close()


def test_rename_dataset_validates_and_survives_crash(spark, tmp_path, monkeypatch):
    """ADVICE r7: a rename is one entry, so a crash before its publish
    leaves the dataset under its old name with all its data (the files
    linked under the new name stay unlisted until vacuum removes them),
    and the new name is validated."""
    import os

    from datahub_spark.store import EntityStore
    from tests.entity_fixtures import row

    root = str(tmp_path / "s")
    es = EntityStore(spark, root)
    df = spark.createDataFrame([row("e:1", 0, props={"p:n": "one"})],
                               ENTITY_SCHEMA).drop("dataset")
    es.store_entities("d", df)

    for bad in ("", "  ", "a/b", "../up", "d name", ".hidden"):
        try:
            es.rename_dataset("d", bad)
            assert False, f"expected ValueError for {bad!r}"
        except ValueError:
            pass
    assert es.list_datasets() == ["d"]  # untouched by refused renames

    # crash after linking the files under the new name, before the publish
    link = S.os.link

    def crash_on_publish(src, dst):
        if dst.endswith(".json"):
            raise _Crash()
        return link(src, dst)

    monkeypatch.setattr(S.os, "link", crash_on_publish)
    try:
        es.rename_dataset("d", "d2")
        raise AssertionError("the rename did not crash")
    except _Crash:
        pass
    monkeypatch.setattr(S.os, "link", link)
    assert os.listdir(os.path.join(es.log_dir, "dataset=d2"))

    # a fresh open sees the dataset whole under its old name
    es2 = EntityStore(spark, root)
    assert es2.list_datasets() == ["d"]
    assert {r["id"] for r in es2.log(["d"]).collect()} == {"e:1"}
    assert es2.log(["d2"]).count() == 0 and not es2.has_data("d2")
    assert es2.vacuum() and not os.listdir(os.path.join(es2.log_dir, "dataset=d2"))

    # the rename then runs end-to-end
    es2.rename_dataset("d", "d2")
    es2.rename_dataset("d2", "d3")
    assert es2.list_datasets() == ["d3"]
    assert {r["id"] for r in es2.log(["d3"]).collect()} == {"e:1"}


def test_clean_deleted_purges_latest_tombstoned_entities(spark):
    """garbagecollector_test.go semantics: live entities keep every
    version ('Should not delete used data'); entities whose LATEST
    version is a tombstone lose their entire history; an entity deleted
    then resurrected (latest is live again) keeps everything."""
    rows = [
        row("live", 1, 0, False, {"a": "1"}),
        row("live", 2, 0, False, {"a": "2"}),
        row("gone", 1, 0, False, {"a": "1"}),
        row("gone", 2, 0, True, None),           # latest = tombstone
        row("back", 1, 0, False, {"a": "1"}),
        row("back", 2, 0, True, None),
        row("back", 3, 0, False, {"a": "3"}),    # resurrected
    ]
    log = spark.createDataFrame(rows, ENTITY_SCHEMA)
    kept = sorted((r["id"], r["recorded"])
                  for r in S.clean_deleted(log).collect())
    assert kept == [("back", 1), ("back", 2), ("back", 3),
                    ("live", 1), ("live", 2)]


def test_gc_plans_have_no_window_sort(spark):
    """Plan pin (r7 verdict item 3): the maintenance GC paths aggregate
    with max_by HashAggregates — no Window, no full-row Sort shuffle."""
    log = people_log(spark)
    for df in (S.retention_gc(log, horizon=2), S.clean_deleted(log)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # max_by aggregates: partial per-partition sort only — the old
        # Window formulation shuffled AND sorted every full-width row
        assert "Window" not in plan, plan
        assert "max_by" in plan
        assert "partial_max_by" in plan  # map-side combine present


def test_compact_clean_deleted_entities_rewrites_partition(spark, tmp_path):
    """compact(clean_deleted_entities=True) physically drops the whole
    history of latest-tombstoned entities, keeps live ones."""
    es = S.EntityStore(spark, str(tmp_path / "s"))
    schema = ("id string, deleted boolean, props map<string,string>, "
              "refs map<string,array<string>>")
    es.store_entities("d", spark.createDataFrame(
        [("live", False, {"a": "1"}, {}), ("gone", False, {"a": "1"}, {})],
        schema), skip_unchanged=False)
    es.store_entities("d", spark.createDataFrame(
        [("gone", True, None, {})], schema), skip_unchanged=False)
    assert es.log(["d"]).count() == 3
    es.compact("d", clean_deleted_entities=True)
    rows = es.log(["d"]).collect()
    assert [r["id"] for r in rows] == ["live"]
    # store still appendable after the swap
    es.store_entities("d", spark.createDataFrame(
        [("live", False, {"a": "2"}, {})], schema), skip_unchanged=False)
    assert es.log(["d"]).count() == 2


def test_wal_concurrent_flushes_ingest_once(spark, tmp_path):
    """Two flushes racing (the served path: a reader's read-your-writes
    flush vs the autoflush threshold) must not double-read a spool or
    crash removing it — flush is serialized on its own lock while
    appends stay unblocked."""
    import threading

    from datahub_spark.store import EntityStore, WalIngest

    es = EntityStore(spark, str(tmp_path / "s"))
    wal = WalIngest(es, "hot")
    wal.append([{"id": f"e:{i}", "props": {"p:n": str(i)}}
                for i in range(50)])
    errs: list = []

    def do_flush():
        try:
            wal.flush()
        except Exception as exc:  # noqa: BLE001 — the test records it
            errs.append(exc)

    threads = [threading.Thread(target=do_flush) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    rows = es.log(["hot"]).collect()
    assert len(rows) == 50  # ingested exactly once
    wal.close()


# -- core.Dataset meta-log (dsmanager.go) ----------------------------------

def test_core_dataset_lifecycle_log(spark, tmp_path):
    """Dataset lifecycle events are entity versions in core.Dataset
    (dsmanager.go:150-160 create, :209-233 rename = tombstone + new,
    :280-289 delete = tombstone), queryable like any dataset."""
    es = S.EntityStore(spark, str(tmp_path / "s"))
    fired = []
    es.add_listener(lambda ds, rec: fired.append((ds, rec)))
    es.create_dataset("people")
    es.create_dataset("people")  # idempotent: no second version
    es.create_dataset(
        "prox", config={"ProxyDatasetConfig": {"remoteUrl": "http://r/x"}})
    es.rename_dataset("people", "humans")
    es.delete_dataset("prox")

    log = es.log([S.CORE_DATASET])
    hist = sorted(((r["id"], r["deleted"]) for r in log.collect()))
    assert hist == [("core:humans", False), ("core:people", False),
                    ("core:people", True), ("core:prox", False),
                    ("core:prox", True)]
    # latest view: only the live catalog
    live = {r["id"]: r for r in S.latest(log).collect()}
    assert set(live) == {"core:humans"}
    assert live["core:humans"]["props"]["core:name"] == "humans"
    assert live["core:humans"]["refs"]["rdf:type"] == ["core:dataset"]
    # proxy config mirrored into props + type (NewDatasetEntity)
    prox = [r for r in log.collect() if r["id"] == "core:prox"][0]
    assert prox["refs"]["rdf:type"] == ["core:proxy-dataset"]
    assert prox["props"]["core:remoteUrl"] == "http://r/x"
    # incremental sync shape: changes-since sees exactly the later events
    assert S.changes(log, since=2).count() == 3
    # onchange listeners fired for every catalog commit
    assert [ds for ds, _ in fired] == [S.CORE_DATASET] * 4


def test_core_dataset_guards_and_backfill(spark, tmp_path):
    import pytest

    es = S.EntityStore(spark, str(tmp_path / "s"))
    es.create_dataset("d")
    with pytest.raises(ValueError, match="cannot delete"):
        es.delete_dataset(S.CORE_DATASET)
    with pytest.raises(ValueError, match="cannot update"):
        es.rename_dataset(S.CORE_DATASET, "x")
    with pytest.raises(ValueError, match="already exists"):
        es.rename_dataset("d", S.CORE_DATASET)
    with pytest.raises(ValueError, match="cannot be written"):
        es.execute_transaction({S.CORE_DATASET: es.log(["d"])})
    # a store written before the commit log whose registry kept no
    # dataset_events yields a synthesized create at tick 0 for every
    # registered dataset
    legacy = str(tmp_path / "legacy")
    legacy_store(legacy, {"datasets": {"d": {"publicNamespaces": []}}, "counter": 0})
    rows = S.EntityStore(spark, legacy).log([S.CORE_DATASET]).collect()
    assert [(r["id"], r["recorded"], r["deleted"]) for r in rows] == \
        [("core:d", 0, False)]


def test_core_dataset_as_job_source(spark, tmp_path):
    """A job can source the catalog itself — the node-metadata sync the
    reference uses core.Dataset for."""
    from datahub_spark import jobs as J

    es = S.EntityStore(spark, str(tmp_path / "s"))
    es.create_dataset("a")
    es.create_dataset("b")
    src = J.DatasetSource(es, S.CORE_DATASET)
    first, _ = src.read(0)
    assert {r["id"] for r in first.collect()} == {"core:a", "core:b"}
    wm = first.agg(F.max("recorded")).collect()[0][0]
    es.create_dataset("c")
    incr, _ = src.read(wm)
    assert {r["id"] for r in incr.collect()} == {"core:c"}


def test_payload_text_is_payload_digest_on_the_driver(spark):
    """The driver-side digest a served write deduplicates with equals the
    Spark one, NULLs and empties included, so both keep the same rows."""
    payloads = [
        (False, {}, {}), (True, None, None), (False, {"p:a": None}, {"p:r": [None]}),
        (False, {"p:a": ""}, {"p:r": []}), (False, {"p:b": "2", "p:a": "1é"},
                                              {"p:r": ["y", None, "x"], "p:s": ["z"]}),
        (False, {}, {"p:r": ["x"]}), (False, {}, {"p:r": ["x", None]}),
        (False, {}, {"p:r": []}), (False, {}, {"p:r": [None]}), (False, {}, {"p:r": None}),
    ]
    frame = spark.createDataFrame([(f"e:{i}", 1, 0, *p) for i, p in enumerate(payloads)],
                                  uda.ROW_SCHEMA)
    got = {r["id"]: r["d"] for r in frame.select("id", S.payload_digest().alias("d")).collect()}
    assert got == {f"e:{i}": S.payload_text(*p) for i, p in enumerate(payloads)}
    # a NULL ref element is a change: ["x"] -> ["x", null], [] -> [null]
    assert len(set(got.values())) == len(payloads)
    # rows without NULL elements keep the digest the seq backfill and
    # compaction have always computed
    assert got["e:1"] == "true\x04\x04" and got["e:5"] == "false\x04\x04p:r\x01x"


class _Crash(BaseException):
    """A process dying mid-operation: no handler runs."""


def test_vacuum_after_a_crashed_compaction_keeps_every_row(spark, tmp_path, monkeypatch):
    """A compaction that dies after placing its rewritten files but before
    publishing its entry changes no visible row: the old files stay
    listed and the new ones unlisted, and vacuum (startup GC) removes
    only the unlisted ones."""
    es = S.EntityStore(spark, str(tmp_path / "store"))
    for v in ("1", "1", "2"):
        es.store_entities("d", spark.createDataFrame([row("x", 0, 0, False, {"a": v})],
                                                     ENTITY_SCHEMA).drop("dataset", "recorded"),
                          skip_unchanged=False)
    before = sorted(map(tuple, es.log(["d"]).collect()))
    listed = es.log_files(["d"])
    link = S.os.link

    def crash_on_publish(src, dst):
        if dst.endswith(".json"):
            raise _Crash()
        return link(src, dst)

    monkeypatch.setattr(S.os, "link", crash_on_publish)
    try:
        es.compact("d")
        raise AssertionError("the compaction did not crash")
    except _Crash:
        pass
    monkeypatch.setattr(S.os, "link", link)
    assert es.has_data("d")
    assert sorted(map(tuple, es.log(["d"]).collect())) == before
    removed = es.vacuum()
    assert removed and all(os.path.dirname(p) == os.path.join(es.log_dir, "dataset=d")
                           for p in removed)
    assert sorted(map(tuple, es.log(["d"]).collect())) == before
    assert es.log_files(["d"]) == listed
    es.compact("d")  # the dataset compacts as usual
    assert es.log(["d"]).count() == 2
