"""Cron-spec triggering (scheduler.go parity) + content service
(content.go / content_test.go parity)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from datahub_spark import jobs as J
from datahub_spark.content import ContentService
from datahub_spark.cron import CronSpec


def t(*a):
    return datetime(*a)


class TestCronSpec:
    def test_every_minute(self):
        assert CronSpec.parse("* * * * *").matches(t(2026, 8, 13, 9, 41))

    def test_fixed_minute_hour(self):
        spec = CronSpec.parse("30 2 * * *")
        assert spec.matches(t(2026, 1, 5, 2, 30))
        assert not spec.matches(t(2026, 1, 5, 2, 31))
        assert not spec.matches(t(2026, 1, 5, 3, 30))

    def test_step_and_range(self):
        spec = CronSpec.parse("*/15 9-17 * * *")
        assert spec.matches(t(2026, 3, 1, 9, 0))
        assert spec.matches(t(2026, 3, 1, 17, 45))
        assert not spec.matches(t(2026, 3, 1, 8, 45))
        assert not spec.matches(t(2026, 3, 1, 9, 7))

    def test_comma_list(self):
        spec = CronSpec.parse("5,35 0,12 * * *")
        assert spec.matches(t(2026, 6, 1, 12, 35))
        assert not spec.matches(t(2026, 6, 1, 6, 35))

    def test_dow_sunday_both_forms(self):
        for d in ("0", "7"):
            spec = CronSpec.parse(f"0 0 * * {d}")
            assert spec.matches(t(2026, 8, 16, 0, 0))  # a Sunday
            assert not spec.matches(t(2026, 8, 17, 0, 0))  # Monday

    def test_dom_dow_or_rule(self):
        # both restricted: fires on the 13th OR on Fridays (vixie rule)
        spec = CronSpec.parse("0 0 13 * 5")
        assert spec.matches(t(2026, 8, 13, 0, 0))  # 13th (a Thursday)
        assert spec.matches(t(2026, 8, 14, 0, 0))  # a Friday, not the 13th
        assert not spec.matches(t(2026, 8, 15, 0, 0))  # Saturday the 15th

    def test_next_after(self):
        spec = CronSpec.parse("30 2 * * *")
        assert spec.next_after(t(2026, 8, 13, 1, 0)) == t(2026, 8, 13, 2, 30)
        assert spec.next_after(t(2026, 8, 13, 2, 30)) == t(2026, 8, 14, 2, 30)
        leap = CronSpec.parse("0 0 29 2 *")
        assert leap.next_after(t(2026, 1, 1, 0, 0)) == t(2028, 2, 29, 0, 0)

    def test_invalid_specs_raise(self):
        for bad in ("* * * *", "60 * * * *", "* 24 * * *", "x * * * *",
                    "*/0 * * * *", "5-2 * * * *"):
            with pytest.raises(ValueError):
                CronSpec.parse(bad)


def test_scheduler_runs_due_jobs_once_per_minute(spark, tmp_path):
    from datahub_spark.store import EntityStore

    store = EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("src", spark.createDataFrame(
        [("a:1", False, {"p:v": "1"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    sched.register(J.Job("nightly", J.DatasetSource(store, "src"),
                         J.DatasetSink(store, "nightly_out")), schedule="30 2 * * *")
    sched.register(J.Job("never", J.DatasetSource(store, "src"),
                         J.DatasetSink(store, "never_out")), schedule="0 5 * * *")

    assert [j.job_id for j in sched.due_jobs(t(2026, 8, 13, 2, 30))] == ["nightly"]
    assert sched.due_jobs(t(2026, 8, 13, 2, 31)) == []

    ran = sched.run_due(t(2026, 8, 13, 2, 30, 5))
    assert [r["id"] for r in ran] == ["nightly"]
    # same minute again: already fired, nothing due
    assert sched.run_due(t(2026, 8, 13, 2, 30, 40)) == []
    # next day: due again
    assert [j.job_id for j in sched.due_jobs(t(2026, 8, 14, 2, 30))] == ["nightly"]
    assert store.log(["nightly_out"]).count() == 1
    assert "never_out" not in store.list_datasets()


def test_scheduler_rejects_bad_schedule(spark, tmp_path):
    state = J.JobState(str(tmp_path / "state.json"))
    sched = J.Scheduler(state)
    with pytest.raises(ValueError):
        sched.register(J.Job("x", None, None), schedule="not a cron")


class TestContentService:
    def test_add_get_list_update_delete(self, tmp_path):
        cs = ContentService(str(tmp_path / "content"))
        cs.upsert("mappings", {"fields": ["a", "b"]})
        cs.upsert("style", {"theme": "dark"})
        assert cs.get("mappings")["data"]["fields"] == ["a", "b"]
        assert [c["id"] for c in cs.list()] == ["mappings", "style"]
        cs.upsert("style", {"theme": "light"})  # update overwrites
        assert cs.get("style")["data"]["theme"] == "light"
        assert cs.delete("style") is True
        assert cs.get("style") is None
        assert cs.delete("style") is False
        assert [c["id"] for c in cs.list()] == ["mappings"]

    def test_ids_with_path_characters_are_safe(self, tmp_path):
        import os

        root = str(tmp_path / "content")
        cs = ContentService(root)
        cs.upsert("../evil/slash", {"v": 1})
        assert cs.get("../evil/slash")["data"]["v"] == 1
        # nothing escaped the root directory
        assert not os.path.exists(str(tmp_path / "evil"))
        assert all(os.path.dirname(os.path.join(root, f)) == root
                   for f in os.listdir(root))


def test_scheduler_dispatches_through_raffled_runner(spark, tmp_path):
    """run_due submits due jobs through the runner's raffle: granted
    jobs run concurrently and are marked fired; a denied job is NOT
    marked fired and retries on the next matching tick (runner.go)."""
    from datahub_spark.store import EntityStore

    store = EntityStore(spark, str(tmp_path / "store"))
    store.store_entities("src", spark.createDataFrame(
        [("a:1", False, {"p:v": "1"}, {})],
        "id string, deleted boolean, props map<string,string>, refs map<string,array<string>>"))
    state = J.JobState(str(tmp_path / "state.json"))
    # only 2 incremental tickets: j2 is denied this tick
    sched = J.Scheduler(state, raffle=J.Raffle(tickets_full=0, tickets_incr=2))
    for i in range(3):
        sched.register(J.Job(f"j{i}", J.DatasetSource(store, "src"),
                             J.DatasetSink(store, f"out{i}")), schedule="30 2 * * *")

    ran = sched.run_due(t(2026, 8, 13, 2, 30, 5))
    assert sorted(r["id"] for r in ran) == ["j0", "j1"]
    # denied job is still due the same minute and runs once a slot frees
    ran2 = sched.run_due(t(2026, 8, 13, 2, 30, 40))
    assert [r["id"] for r in ran2] == ["j2"]
    assert sched.run_due(t(2026, 8, 13, 2, 30, 55)) == []
    for i in range(3):
        assert store.log([f"out{i}"]).count() == 1


def test_content_filename_escaping_is_injective(tmp_path):
    """Round-4 advice: ' ac' (0x20,'a','c') and '€' (U+20AC) collided
    under codepoint-width escapes. Per-UTF-8-byte escaping keeps every
    id on its own file."""
    cs = ContentService(str(tmp_path / "content"))
    cs.upsert(" ac", {"v": "space-ac"})
    cs.upsert("€", {"v": "euro"})
    assert cs.get(" ac")["data"]["v"] == "space-ac"
    assert cs.get("€")["data"]["v"] == "euro"
    assert len(cs.list()) == 2


# -- statsd wire sink ------------------------------------------------------

def test_statsd_line_format():
    from datahub_spark.metrics import statsd_line

    assert statsd_line({"kind": "count", "name": "http.count",
                        "value": 1, "tags": {}}) == "http.count:1|c"
    assert statsd_line({"kind": "timing", "name": "http.time",
                        "value": 12.5,
                        "tags": {"path": "/datasets", "method": "GET"}}) \
        == "http.time:12.5|ms|#method:GET,path:/datasets"
    assert statsd_line({"kind": "gauge", "name": "jobs.active",
                        "value": 3, "tags": None}) == "jobs.active:3|g"


def test_statsd_metrics_sends_datagrams():
    import socket

    from datahub_spark.metrics import StatsdMetrics

    rx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(5)
    port = rx.getsockname()[1]
    m = StatsdMetrics(port=port, prefix="datahub.")
    m.count("http.count", 1, {"status": "200"})
    m.timing("http.time", 4.25)
    got = {rx.recvfrom(2048)[0].decode() for _ in range(2)}
    assert got == {"datahub.http.count:1|c|#status:200",
                   "datahub.http.time:4.25|ms"}
    m.close()
    rx.close()
    # a closed socket (or no receiver at all) must never raise
    m.count("late", 1)
