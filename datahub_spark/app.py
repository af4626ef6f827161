"""Instance boot/wiring (app.go + cmd/datahub/main.go analogue).

``DatahubInstance`` composes the engine the way app.go:110-227 does:
config -> store + namespace manager + job state + scheduler (with its
one raffle-gated runner) + content service + optional security manager
-> served UDA surface, plus the background clock (reference:
jobs.Scheduler's cron runner and the BackupManager's schedule) and
GC-on-startup. ``run`` is datahub.Run: build, start, block until
SIGINT/SIGTERM, stop.

Differences from the reference, by design: the "database" is a
SparkSession + parquet log, so boot also owns the SparkSession; the
clock is ONE ticker thread driving ``Scheduler.run_due`` and the backup
schedule at minute resolution (the reference delegates to robfig/cron's
goroutine per entry — same observable cadence, simpler to test because
``tick(now)`` is callable with an injected clock).
"""

from __future__ import annotations

import json
import logging
import signal
import threading
from dataclasses import dataclass
from datetime import datetime

from datahub_spark import store as S
from datahub_spark.config import Config
from datahub_spark.content import ContentService
from datahub_spark.cron import CronSpec
from datahub_spark.jobs import JobState, Raffle, Scheduler
from datahub_spark.metrics import LoggingMetrics
from datahub_spark.namespaces import NamespaceManager
from datahub_spark.security import SecurityManager
from datahub_spark.server import UdaServer

import os


def compute_store_statistics(store: "S.EntityStore") -> dict:
    """Per-dataset storage statistics snapshot (the reference's
    scheduled statistics updater walks every Badger key and caches
    counts + key/value sizes under a meta key,
    service/scheduler/statistics_update.go:43-99). The parquet analog
    reads FOOTERS only, of the files the store's state lists — row
    counts and byte sizes per dataset come from file metadata, no Spark
    job and no data scan, so the updater stays cheap however large the
    store grows."""
    import pyarrow.parquet as pq

    out: dict = {"datasets": {}, "all": {"rows": 0, "bytes": 0, "files": 0}}
    state = store.state()
    for ds in sorted(state.datasets):
        paths = store.log_files([ds], at=state)
        rows = sum(pq.read_metadata(p).num_rows for p in paths)
        size = sum(os.path.getsize(p) for p in paths)
        out["datasets"][ds] = {"rows": rows, "bytes": size, "files": len(paths)}
        out["all"]["rows"] += rows
        out["all"]["bytes"] += size
        out["all"]["files"] += len(paths)
    return out


@dataclass
class MaintenanceTask:
    """One schedulable background task (service/scheduler/
    schedulable.go): a named callable on a cron cadence, optionally run
    immediately at instance start. ``last_result`` records the
    success/failed state of the most recent run (RunResult shape)."""

    name: str
    spec: CronSpec
    fn: object
    immediate: bool = True
    last_result: str | None = None
    last_fired: datetime | None = None


class DatahubInstance:
    """app.go:35-54's DatahubInstance — every engine component wired
    from one Config, started/stopped together."""

    def __init__(self, config: Config, spark=None):
        self.config = config
        self.logger = logging.getLogger("datahub")
        self.logger.setLevel(getattr(logging, config.log_level.upper(),
                                     logging.INFO))
        if spark is None:
            from datahub_spark.session import get_spark
            spark = get_spark("datahub")
        self.spark = spark
        self.store = S.EntityStore(spark, config.store_location)
        self.nsmgr = NamespaceManager()
        self.metrics = LoggingMetrics(self.logger)
        self.state = JobState(os.path.join(config.store_location,
                                           "jobstate.json"))
        # RunnerConfig pools (config.go:91-95): fullsync vs incremental
        # ticket classes map onto the raffle's two ticket pools, which
        # bound cron, onchange and served runs alike
        self.scheduler = Scheduler(
            self.state, metrics=self.metrics,
            raffle=Raffle(tickets_full=config.jobs_max_fullsync,
                          tickets_incr=config.jobs_max_incremental))
        self.content = ContentService(
            os.path.join(config.store_location, "content"))
        self.security = None
        if config.security_enabled:
            # node RSA keypair, loaded or generated at the security
            # storage location (manager.go:204-257) -> RS256 tokens
            from datahub_spark.security import NodeKeys
            node_keys = NodeKeys(config.security_storage_location) \
                if config.security_storage_location else None
            # ADMIN_USERNAME/ADMIN_PASSWORD bootstrap the root client
            # (config.go:86-87, security/manager.go's admin user)
            if config.auth_middleware == "opa":
                # middlewares/opa.go: the allow decision comes from the
                # configured OPA endpoint, one POST per request
                from datahub_spark.security import OpaSecurityManager
                self.security = OpaSecurityManager(
                    opa_endpoint=config.opa_endpoint,
                    allow_network=True,
                    admin_client_id=config.admin_username or "admin",
                    admin_client_secret=config.admin_password or None,
                    node_id=config.node_id, node_keys=node_keys)
            else:
                self.security = SecurityManager(
                    admin_client_id=config.admin_username or "admin",
                    admin_client_secret=config.admin_password or None,
                    node_id=config.node_id, node_keys=node_keys)
        # login providers for outgoing connections (app.go wires
        # security.NewTokenProviders; persisted like the reference's
        # store-backed ProviderManager)
        from datahub_spark.providers import ProviderStore
        self.providers = ProviderStore(
            path=os.path.join(config.store_location, "providers.json"),
            security_manager=self.security)
        self.server = UdaServer(
            self.store, self.nsmgr,
            port=config.port,
            lease_seconds=config.fullsync_lease_timeout,
            scheduler=self.scheduler, content=self.content,
            security=self.security, metrics=self.metrics,
            providers=self.providers)
        self._backup_spec = (CronSpec.parse(config.backup_schedule)
                             if config.backup_location else None)
        self._backup_last: datetime | None = None
        # background maintenance (service/scheduler/scheduler.go:21-22:
        # statistics at 02:00, GC at 19:00, both immediate-run on start)
        self.maintenance: list[MaintenanceTask] = [
            MaintenanceTask("scheduled_stats_update",
                            CronSpec.parse("0 2 * * *"),
                            self._update_statistics),
            MaintenanceTask("scheduled_gc", CronSpec.parse("0 19 * * *"),
                            self.store.vacuum),
        ]
        self._ticker: threading.Thread | None = None
        self._stop_evt = threading.Event()
        self.url: str | None = None

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> str:
        """Start the instance; returns the served base URL. GC runs
        first (GC_ON_STARTUP, app.go's gc.Start), then the web service,
        then the clock."""
        if self.config.gc_on_startup:
            removed = self.store.vacuum()
            if removed:
                self.logger.info("startup GC removed %d orphans",
                                 len(removed))
        for task in self.maintenance:
            if task.immediate:
                self._run_maintenance(task, datetime.now())
        self.url = self.server.start()
        self._stop_evt.clear()
        self._ticker = threading.Thread(target=self._clock_loop,
                                        daemon=True)
        self._ticker.start()
        self.logger.info("datahub instance started at %s", self.url)
        return self.url

    def stop(self) -> None:
        """datahub.Stop (app.go:89-97): web service, clock, scheduler
        state all quiesce; the SparkSession is left to its owner."""
        self._stop_evt.set()
        if self._ticker is not None:
            self._ticker.join(timeout=5)
            self._ticker = None
        self.server.stop()
        self.scheduler.runner.join()
        self.logger.info("datahub instance stopped")

    # -- clock -------------------------------------------------------------

    def tick(self, now: datetime) -> list[dict]:
        """One clock tick: fire due cron jobs (through the scheduler's
        runner) and the backup schedule. Public and deterministic —
        tests drive it with an injected ``now``; the ticker thread
        drives it with the wall clock."""
        results = self.scheduler.run_due(now)
        if self._backup_spec is not None:
            if self._backup_spec.due(now, self._backup_last):
                self._backup_last = now.replace(second=0, microsecond=0)
                self.store.backup(self.config.backup_location)
                self.metrics.count("backup.runs", 1)
        for task in self.maintenance:
            if task.spec.due(now, task.last_fired):
                self._run_maintenance(task, now)
        return results

    def _run_maintenance(self, task: MaintenanceTask, now: datetime) -> None:
        task.last_fired = now.replace(second=0, microsecond=0)
        try:
            task.fn()
            task.last_result = "success"
        except Exception:
            task.last_result = "failed"
            self.logger.exception("maintenance task %s failed", task.name)
        self.metrics.count("maintenance.runs", 1,
                           {"task": task.name,
                            "state": task.last_result})

    def _update_statistics(self) -> None:
        """Refresh the cached statistics snapshot (the reference caches
        the walk's output under a store meta key and serves it from
        there; here it lands as ``statistics.json`` in the store
        root)."""
        snap = compute_store_statistics(self.store)
        path = os.path.join(self.store.root, "statistics.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)

    def _clock_loop(self) -> None:
        while not self._stop_evt.wait(timeout=1.0):
            try:
                self.tick(datetime.now())
            except Exception:  # never let one bad tick kill the clock
                self.logger.exception("scheduler tick failed")


def run(config: Config, spark=None) -> None:
    """datahub.Run (app.go:77-87): build + start + wait for SIGINT/
    SIGTERM + stop."""
    instance = DatahubInstance(config, spark=spark)
    instance.start()
    stop = threading.Event()

    def _on_signal(signum, frame):
        stop.set()

    signal.signal(signal.SIGINT, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    try:
        stop.wait()
    finally:
        instance.stop()
