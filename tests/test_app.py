"""Boot layer (datahub_spark.config / app / __main__): the
cmd/datahub + internal/conf/config.go surface — env-file config with
viper precedence, instance wiring, GC-on-startup, the clock tick, and
signal-free start/stop."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import urllib.request
from datetime import datetime

import pytest

from datahub_spark import jobs as J
from datahub_spark import store as S
from datahub_spark.app import DatahubInstance
from datahub_spark.config import (Config, load_config, parse_duration,
                                  read_env_file)
from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA


# -- config ---------------------------------------------------------------


def test_config_defaults_match_reference():
    cfg = load_config(env={})
    # config.go:125-151 defaults
    assert cfg.port == 8080
    assert cfg.store_location.endswith("/datahub")
    assert cfg.backup_schedule == "*/5 * * * *"
    assert cfg.gc_on_startup is True
    assert cfg.fullsync_lease_timeout == 3600.0
    assert cfg.auth_middleware == "noop"
    assert cfg.node_id == "anonymous-node"
    assert cfg.jobs_max_incremental == 10
    assert cfg.jobs_max_fullsync == 10
    assert cfg.slow_log_threshold == 1.0
    assert cfg.security_enabled is False


def test_env_file_parsing(tmp_path):
    p = tmp_path / "test.env"
    p.write_text(
        "# comment\n"
        "SERVER_PORT=9090\n"
        'STORE_LOCATION="/data/hub"\n'
        "export NODE_ID=node-7\n"
        "GC_ON_STARTUP=false   # trailing comment\n"
        "\n")
    vals = read_env_file(str(p))
    assert vals["SERVER_PORT"] == "9090"
    assert vals["STORE_LOCATION"] == "/data/hub"
    assert vals["NODE_ID"] == "node-7"
    assert vals["GC_ON_STARTUP"] == "false"

    cfg = load_config(str(p), env={})
    assert cfg.port == 9090
    assert cfg.store_location == "/data/hub"
    assert cfg.node_id == "node-7"
    assert cfg.gc_on_startup is False


def test_process_env_beats_config_file(tmp_path):
    # viper.AutomaticEnv: env > config file > default
    p = tmp_path / "test.env"
    p.write_text("SERVER_PORT=9090\nNODE_ID=from-file\n")
    cfg = load_config(str(p), env={"SERVER_PORT": "7070"})
    assert cfg.port == 7070
    assert cfg.node_id == "from-file"


def test_duration_parsing():
    assert parse_duration("1h") == 3600.0
    assert parse_duration("90m") == 5400.0
    assert parse_duration("1h30m") == 5400.0
    assert parse_duration("300ms") == 0.3
    assert parse_duration("") == 0.0
    with pytest.raises(ValueError):
        parse_duration("1 hour")
    cfg = load_config(env={"FULLSYNC_LEASE_TIMEOUT": "30m",
                           "SLOW_LOG_THRESHOLD": "250ms"})
    assert cfg.fullsync_lease_timeout == 1800.0
    assert cfg.slow_log_threshold == 0.25


def test_opa_middleware_requires_endpoint():
    """AUTHORIZATION_MIDDLEWARE=opa without OPA_ENDPOINT fails loudly
    (config.go:137-138 defaults OPA_ENDPOINT empty; opa.go needs it);
    with an endpoint it loads and enables security."""
    with pytest.raises(ValueError, match="OPA_ENDPOINT"):
        load_config(env={"AUTHORIZATION_MIDDLEWARE": "opa"})
    cfg = load_config(env={"AUTHORIZATION_MIDDLEWARE": "opa",
                           "OPA_ENDPOINT": "http://localhost:1111"})
    assert cfg.security_enabled
    assert cfg.opa_endpoint == "http://localhost:1111"


def test_unused_reference_keys_surface_on_extras():
    cfg = load_config(env={"DD_AGENT_HOST": "statsd:8125",
                           "BLOCK_CACHE_SIZE": "1024"})
    assert cfg.extras == {"DD_AGENT_HOST": "statsd:8125",
                         "BLOCK_CACHE_SIZE": "1024"}


# -- vacuum (GC on startup) ----------------------------------------------


def test_vacuum_removes_only_orphans(spark, tmp_path):
    store = S.EntityStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:a": "1"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    store.store_entities("d", df)
    # plant a crashed write's staging dir and a log file no entry lists
    orphan_stage = os.path.join(store.root, "_staging-deadbeef")
    orphan_file = os.path.join(store.log_dir, "dataset=d", "7-part-deadbeef.parquet")
    os.makedirs(orphan_stage)
    shutil.copy(sorted(store.log_files(["d"]))[0], orphan_file)
    removed = store.vacuum()
    assert sorted(removed) == sorted([orphan_stage, orphan_file])
    assert not os.path.exists(orphan_stage)
    assert not os.path.exists(orphan_file)
    # live data untouched
    assert store.log(["d"]).count() == 1
    assert store.vacuum() == []


# -- instance boot -------------------------------------------------------


def _get(url, headers=None):
    req = urllib.request.Request(url, headers=headers or {})
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "{}")


def test_instance_boot_serves_and_stops(spark, tmp_path):
    cfg = Config(store_location=str(tmp_path / "hub"), port=0)
    inst = DatahubInstance(cfg, spark=spark)
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:a": "1"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    inst.store.store_entities("people", df)
    url = inst.start()
    try:
        status, body = _get(f"{url}/datasets")
        assert status == 200
        assert body == [{"Name": "people"}]
    finally:
        inst.stop()


_NO_AUTH_SERVE = """
import json, sys, urllib.request
from datahub_spark.app import DatahubInstance
from datahub_spark.config import load_config

inst = DatahubInstance(load_config(env={"STORE_LOCATION": sys.argv[1],
                                        "SERVER_PORT": "0"}))
url = inst.start()
try:
    req = urllib.request.Request(
        url + "/datasets/people/entities", method="POST",
        data=json.dumps([{"id": "e:1", "props": {"p:a": "1"}}]).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200
    with urllib.request.urlopen(url + "/datasets/people/entities",
                                timeout=60) as resp:
        assert "e:1" in [e.get("id") for e in json.loads(resp.read())]
finally:
    inst.stop()
    inst.spark.stop()
print(json.dumps(sorted(m for m in sys.modules
                        if m.split(".")[0] == "cryptography")))
"""


def test_no_auth_server_never_loads_cryptography(tmp_path):
    """The security code imports ``cryptography`` lazily: a fresh
    process that boots the default (no-auth) instance, serves a write
    and a read, and stops has not loaded it."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", _NO_AUTH_SERVE, str(tmp_path / "hub")],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []


def test_instance_boot_with_local_security(spark, tmp_path):
    cfg = Config(store_location=str(tmp_path / "hub"), port=0,
                 auth_middleware="local", admin_username="root",
                 admin_password="hunter22", node_id="n1")
    inst = DatahubInstance(cfg, spark=spark)
    assert inst.security is not None
    url = inst.start()
    try:
        status, _ = _get(f"{url}/datasets")
        assert status == 401
        token = inst.security.issue_token("root", "hunter22")
        status, body = _get(f"{url}/datasets",
                            headers={"Authorization": f"Bearer {token}"})
        assert status == 200
        assert body == []
        # the provider registry is wired and served (r7)
        status, body = _get(f"{url}/provider/logins",
                            headers={"Authorization": f"Bearer {token}"})
        assert status == 200 and body == []
    finally:
        inst.stop()


def test_tick_fires_cron_jobs_and_backup(spark, tmp_path):
    cfg = Config(store_location=str(tmp_path / "hub"), port=0,
                 backup_location=str(tmp_path / "bak"),
                 backup_schedule="* * * * *")
    inst = DatahubInstance(cfg, spark=spark)
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:a": "1"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    inst.store.store_entities("people", df)
    inst.scheduler.register(
        J.Job("copy", J.DatasetSource(inst.store, "people"),
              J.DatasetSink(inst.store, "out")),
        schedule="* * * * *")

    now = datetime(2026, 8, 14, 12, 0, 5)
    results = inst.tick(now)
    assert [r["id"] for r in results] == ["copy"]
    assert "error" not in results[0]
    assert inst.store.log(["out"]).count() == 1
    assert os.path.exists(os.path.join(str(tmp_path / "bak"), "commits", "0.json"))
    # same minute: neither the job nor the backup re-fires
    assert inst.tick(datetime(2026, 8, 14, 12, 0, 40)) == []
    assert inst._backup_last == datetime(2026, 8, 14, 12, 0)


def test_main_help(capsys):
    from datahub_spark.__main__ import main
    assert main(["--help"]) == 0
    assert "usage" in capsys.readouterr().out


def test_maintenance_tasks_fire_on_schedule_and_start(spark, tmp_path):
    from datahub_spark.app import compute_store_statistics
    cfg = Config(store_location=str(tmp_path / "hub"), port=0,
                 gc_on_startup=False)
    inst = DatahubInstance(cfg, spark=spark)
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:a": "1"}, None, None),
         ("e:2", None, 1, False, {"p:a": "2"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    inst.store.store_entities("people", df)

    # the stats updater fires at 02:00 (scheduler.go:21), gc at 19:00
    stats_path = os.path.join(inst.store.root, "statistics.json")
    inst.tick(datetime(2026, 8, 14, 2, 0, 10))
    assert os.path.exists(stats_path)
    with open(stats_path) as f:
        snap = json.load(f)
    assert snap["datasets"]["people"]["rows"] == 2
    assert snap["datasets"]["people"]["bytes"] > 0
    assert snap["all"]["rows"] == 2
    # same minute: not re-run; 19:00: gc task fires and succeeds
    os.remove(stats_path)
    inst.tick(datetime(2026, 8, 14, 2, 0, 50))
    assert not os.path.exists(stats_path)
    inst.tick(datetime(2026, 8, 14, 19, 0, 0))
    gc_task = [t for t in inst.maintenance if t.name == "scheduled_gc"][0]
    assert gc_task.last_result == "success"

    # immediate-run on start (ImmediateRun, scheduler.go:26-31)
    url = inst.start()
    try:
        assert os.path.exists(stats_path)
    finally:
        inst.stop()

    # snapshot helper is footer-only and exact
    snap2 = compute_store_statistics(inst.store)
    assert snap2["datasets"]["people"]["files"] >= 1


def test_statistics_cached_endpoint_serves_snapshot(spark, tmp_path):
    cfg = Config(store_location=str(tmp_path / "hub"), port=0,
                 gc_on_startup=False)
    inst = DatahubInstance(cfg, spark=spark)
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:a": "1"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    inst.store.store_entities("people", df)
    url = inst.start()  # immediate stats run writes the snapshot
    try:
        status, body = _get(f"{url}/statistics?cached=true")
        assert status == 200
        assert body["datasets"]["people"]["rows"] == 1
        assert body["all"]["files"] >= 1
        status, one = _get(f"{url}/statistics/people?cached=true")
        assert status == 200 and one["people"]["rows"] == 1
        status, _ = _get(f"{url}/statistics/nope?cached=true")
        assert status == 404
        # live (Spark) path still works alongside
        status, live = _get(f"{url}/statistics")
        assert status == 200 and live["people"]["changes"] == 1
    finally:
        inst.stop()
    # no snapshot yet -> 404 with a pointer to the updater
    cfg2 = Config(store_location=str(tmp_path / "hub2"), port=0)
    from datahub_spark.server import UdaServer
    from datahub_spark import store as S2
    srv = UdaServer(S2.EntityStore(spark, str(tmp_path / "hub2")))
    base = srv.start()
    try:
        status, _ = _get(f"{base}/statistics?cached=true")
        assert status == 404
    finally:
        srv.stop()


def test_tick_job_write_reaches_served_query(spark, tmp_path):
    """A cron job run by tick() commits through DatasetSink without the
    server's involvement; the next /query traversal sees its refs."""
    from pyspark.sql import functions as F

    cfg = Config(store_location=str(tmp_path / "hub"), port=0)
    inst = DatahubInstance(cfg, spark=spark)
    inst.store.store_entities("people", spark.createDataFrame(
        [("e:1", None, 0, False, {"p:a": "1"}, None, None),
         ("e:2", None, 1, False, {"p:a": "2"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset"))

    def link(df):  # new versions, stamped by the commit
        return df.withColumn(
            "refs", F.create_map(F.lit("p:knows"), F.array(F.lit("e:2")))
        ).withColumn("recorded", F.lit(None).cast("long"))

    inst.scheduler.register(
        J.Job("link", J.DatasetSource(inst.store, "people"),
              J.DatasetSink(inst.store, "people"), transform=link),
        schedule="* * * * *")
    walk = json.dumps({"startingEntities": ["e:1"],
                       "predicate": "p:knows"}).encode()
    url = inst.server.start()  # no clock thread: tick() is driven here

    def query():
        req = urllib.request.Request(
            f"{url}/query", data=walk, method="POST",
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as resp:
            return [(s, p, e["id"]) for s, p, e in json.loads(resp.read())[1]]

    try:
        assert query() == []  # builds and caches the index
        results = inst.tick(datetime(2026, 8, 14, 12, 0, 5))
        assert [r["id"] for r in results] == ["link"]
        assert "error" not in results[0]
        assert query() == [("e:1", "p:knows", "e:2")]
    finally:
        inst.server.stop()
