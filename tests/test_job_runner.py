"""One job runner for every trigger (runner.go / raffle.go): cron ticks,
onchange commits and served ``PUT /job/{id}/run`` share the scheduler's
raffle-gated JobRunner.

The jobs here run no Spark: their source and sink are fakes, and a
source can hold a run open on a ``threading.Event`` so each
interleaving is set up explicitly instead of waited for."""

from __future__ import annotations

import itertools
import json
import sys
import threading
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from datahub_spark import jobs as J
from datahub_spark.app import DatahubInstance
from datahub_spark.config import Config
from datahub_spark.store import EntityStore
from datahub_spark.server import UdaServer

WAIT_S = 30  # upper bound on any one wait; no test sleeps


class _Frame:
    """What Job.run needs of a source frame when there is no transform."""
    columns: tuple = ()


class HeldSource:
    """Counts reads; each read signals ``entered`` and then waits for
    ``release`` (set it up front for a source that never holds)."""

    def __init__(self, held: bool = True):
        self.entered = threading.Event()
        self.release = threading.Event()
        if not held:
            self.release.set()
        self.reads = 0

    def read(self, token=None) -> tuple[_Frame, None]:
        self.reads += 1
        self.entered.set()
        if not self.release.wait(WAIT_S):
            raise TimeoutError("source was never released")
        return _Frame(), token


class NullSink:
    def write(self, df) -> None:
        pass


class FailSink:
    def __init__(self):
        self.writes = 0

    def write(self, df) -> None:
        self.writes += 1
        raise RuntimeError("boom")


def _failing(job_id: str, source) -> J.Job:
    return J.Job(job_id, source, FailSink(), on_error=J.ErrorHandler("log"))


def _call(method: str, url: str):
    req = urllib.request.Request(url, data=b"{}" if method == "PUT" else None,
                                 method=method)
    try:
        with urllib.request.urlopen(req, timeout=WAIT_S) as resp:
            return resp.status, json.loads(resp.read().decode() or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "{}")


def _entities(spark, ids):
    return spark.createDataFrame(
        [(i, False, {"p:v": i}, {}) for i in ids],
        "id string, deleted boolean, props map<string,string>, "
        "refs map<string,array<string>>")


def test_concurrent_served_runs_each_report_their_own_result(spark, tmp_path):
    """Two overlapping PUT /job/{id}/run calls: the failing job answers
    500 and the other 200. The failing run ends while the other is held
    open, so one shared wait would hand both results to one caller."""
    sched = J.Scheduler(J.JobState(str(tmp_path / "state.json")))
    bad_src, ok_src = HeldSource(held=False), HeldSource()
    sched.register(_failing("bad", bad_src))
    sched.register(J.Job("ok", ok_src, NullSink()))
    srv = UdaServer(EntityStore(spark, str(tmp_path / "store")),
                    scheduler=sched)
    base = srv.start()
    try:
        with ThreadPoolExecutor(2) as pool:
            for _ in range(10):
                bad_src.entered.clear()
                ok_src.entered.clear()
                ok_src.release.clear()
                ok = pool.submit(_call, "PUT", f"{base}/job/ok/run")
                assert ok_src.entered.wait(WAIT_S)
                bad = pool.submit(_call, "PUT", f"{base}/job/bad/run")
                assert bad_src.entered.wait(WAIT_S)
                ok_src.release.set()
                code, body = bad.result()
                assert code == 500 and "boom" in json.dumps(body)
                assert ok.result()[0] == 200
    finally:
        srv.stop()


def test_cron_run_is_seen_by_served_run_status_and_kill(spark, tmp_path):
    """While a cron tick's run is held open, the served job routes see
    it: run is refused, both status routes report it, kill reaches it."""
    inst = DatahubInstance(Config(store_location=str(tmp_path / "hub"),
                                  port=0), spark=spark)
    src = HeldSource()
    job = J.Job("cron-job", src, NullSink())
    inst.scheduler.register(job, schedule="* * * * *")
    base = inst.server.start()
    tick = threading.Thread(target=inst.tick,
                            args=(datetime(2026, 8, 14, 12, 0, 5),))
    try:
        tick.start()
        assert src.entered.wait(WAIT_S)
        assert _call("PUT", f"{base}/job/cron-job/run")[0] == 409
        assert _call("GET", f"{base}/job/cron-job/status") == \
            (200, {"state": "Running"})
        code, rows = _call("GET", f"{base}/jobs/_/status")
        assert code == 200 and [r["jobId"] for r in rows] == ["cron-job"]
        assert _call("PUT", f"{base}/job/cron-job/kill")[0] == 200
        assert job.cancelled
    finally:
        src.release.set()
        tick.join(WAIT_S)
        inst.server.stop()
    assert src.reads == 1


def test_config_ticket_caps_bound_served_runs(spark, tmp_path):
    """JOBS_MAX_INCREMENTAL bounds served runs as it bounds cron runs:
    with one incremental ticket held, a second job's PUT run is 409."""
    inst = DatahubInstance(Config(store_location=str(tmp_path / "hub"),
                                  port=0, jobs_max_incremental=1),
                           spark=spark)
    held = HeldSource()
    inst.scheduler.register(J.Job("first", held, NullSink()))
    inst.scheduler.register(J.Job("second", HeldSource(held=False),
                                  NullSink()))
    base = inst.server.start()
    try:
        with ThreadPoolExecutor(1) as pool:
            first = pool.submit(_call, "PUT", f"{base}/job/first/run")
            assert held.entered.wait(WAIT_S)
            assert _call("PUT", f"{base}/job/second/run")[0] == 409
            held.release.set()
            assert first.result()[0] == 200
        # the ticket came back with the first run's answer
        assert _call("PUT", f"{base}/job/second/run")[0] == 200
    finally:
        held.release.set()
        inst.server.stop()


def test_failing_onchange_job_leaves_the_commit_intact(spark, tmp_path):
    """The onchange job runs on the runner's worker thread: its failure
    cannot escape the write that triggered it."""
    store = EntityStore(spark, str(tmp_path / "store"))
    sched = J.Scheduler(J.JobState(str(tmp_path / "state.json")))
    job = _failing("watcher", HeldSource(held=False))
    sched.register(job)
    J.wire_onchange(sched, store, {"inbox": ["watcher"]})
    tick = store.store_entities("inbox", _entities(spark, ["i:1"]))
    assert [r["recorded"] for r in store.log(["inbox"]).collect()] == [tick]
    sched.runner.join()
    assert job.sink.writes == 1


def test_event_during_a_run_causes_exactly_one_more_run(spark, tmp_path):
    """Commits that land while the onchange job holds its ticket are
    not dropped: they fold into one more run after the current one."""
    store = EntityStore(spark, str(tmp_path / "store"))
    sched = J.Scheduler(J.JobState(str(tmp_path / "state.json")))
    src = HeldSource()
    sched.register(J.Job("watcher", src, NullSink()))
    J.wire_onchange(sched, store, {"inbox": ["watcher"]})
    try:
        store.store_entities("inbox", _entities(spark, ["i:1"]))
        assert src.entered.wait(WAIT_S)
        store.store_entities("inbox", _entities(spark, ["i:2"]))
        store.store_entities("inbox", _entities(spark, ["i:3"]))
    finally:
        src.release.set()
    sched.runner.join()
    assert src.reads == 2
    assert sched.runner.raffle.running_jobs() == {}


def test_notify_stress_never_overlaps_runs_or_loses_an_event(tmp_path):
    """Eight threads notify four jobs under a short switch interval, each
    waiting after every notification until a run of that job starts
    after it: no event is lost between a run's end and a queued rerun,
    no job ever runs twice at once, and every ticket comes back."""
    clock = itertools.count()

    class StampingSource:
        def __init__(self):
            self.started = threading.Condition()
            self.active = 0
            self.overlapped = False
            self.last_start = -1

        def read(self, token=None) -> tuple[_Frame, None]:
            with self.started:
                self.active += 1
                self.overlapped |= self.active > 1
                self.last_start = next(clock)
                self.started.notify_all()
            sum(range(1000))  # stay inside the run across thread switches
            with self.started:
                self.active -= 1
            return _Frame(), token

    runner = J.JobRunner(J.JobState(str(tmp_path / "state.json")),
                         J.Raffle(tickets_full=0, tickets_incr=4))
    jobs = [J.Job(f"j{i}", StampingSource(), NullSink()) for i in range(4)]
    lost: list[tuple[str, int]] = []

    def notifier(offset: int) -> None:
        for i in range(50):
            job = jobs[(i + offset) % len(jobs)]
            src, stamp = job.source, next(clock)
            runner.notify(job)
            with src.started:
                if not src.started.wait_for(lambda: src.last_start > stamp,
                                            timeout=5):
                    lost.append((job.job_id, stamp))
                    return

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=notifier, args=(k,))
                   for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(WAIT_S)
        assert not any(t.is_alive() for t in threads)
        runner.join()
    finally:
        sys.setswitchinterval(old)
    assert lost == []
    assert not any(job.source.overlapped for job in jobs)
    assert runner.raffle.running_jobs() == {}
    assert all(runner.raffle.borrow(j) for j in jobs)  # all 4 tickets back
