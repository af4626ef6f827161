"""Self-tests of the benchmark harness; none of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import threading
import types

import pytest

import gen
import harness
import layers
import run
import serve
import spans
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("n, pct", [(9, 100), (19, 100), (20, 50), (30, 66),
                                    (40, 75), (100, 90), (1000, 99)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    xs = list(range(1, n + 1))
    t = stats.tail(xs)
    assert (t["percentile"], t["n"]) == (pct, n)
    beyond = sum(1 for x in xs if x > t["value"])
    assert beyond >= stats.TAIL_MIN_BEYOND or pct == 100
    if pct < 99 and pct != 100:
        # one percentile higher leaves fewer than ten beyond
        nxt = stats.percentile(xs, pct + 1)
        assert sum(1 for x in xs if x > nxt) < stats.TAIL_MIN_BEYOND


def test_tail_of_small_sample_is_its_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == {"percentile": 100, "value": 3.0, "n": 3}


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, q2, q3 = __import__("statistics").quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_generated_tables_depend_only_on_seed(tmp_path):
    a = gen.write(str(tmp_path / "a"), 7, 0.002)
    b = gen.write(str(tmp_path / "b"), 7, 0.002)
    c = gen.write(str(tmp_path / "c"), 8, 0.002)
    for t in gen.TABLES:
        fa, fb, fc = (open(os.path.join(d, f"{t}.parquet"), "rb").read() for d in (a, b, c))
        assert fa == fb, t
        if t not in ("region", "nation"):
            assert fa != fc, t


def test_subset_of_tables_matches_full_build():
    full = gen.build(3, 0.002)
    part = gen.build(3, 0.002, ("orders",))
    assert part["orders"].equals(full["orders"])


def test_serve_request_streams_are_seeded():
    owned = list(range(0, 300, 2))
    s1 = serve.request_stream(5, 0, 40, 300, owned)
    assert s1 == serve.request_stream(5, 0, 40, 300, owned)
    assert s1 != serve.request_stream(6, 0, 40, 300, owned)
    assert [k for k, _ in s1] == [k for k, _ in serve.request_stream(6, 0, 40, 300, owned)]
    writes = [p for k, p in s1 if k == "write"]
    assert writes and all(set(w) <= set(owned) and len(set(w)) == len(w) for w in writes)


def test_serve_write_payloads_are_seeded(tmp_path):
    inputs = gen.write(str(tmp_path), 4, 0.002, ("customer", "supplier", "part"))

    def payloads(seed):
        hub = serve.Hub(inputs, 2)
        stream = serve.request_stream(seed, 0, 20, hub.n_customers, hub.owned[0])
        return [json.dumps([hub.entity(k) for k in p]) for k, p in stream if k == "write"]

    assert payloads(1) == payloads(1)
    assert payloads(1) != payloads(2)


def test_clients_stay_within_core_count():
    assert 1 <= serve.CLIENTS <= harness.cores()
    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "nope", "--seed", "1", "--seconds", "1"])


def test_metric_names_and_units_are_registered(bench):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    assert tuple(e2e) == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.all_metrics()
    for m in list(e2e.values()) + list(per_layer.values()):
        assert NAME_RE.fullmatch(m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert set(e2e).isdisjoint(per_layer)
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_zero_filled_rejects_unregistered_names():
    filled = layers.zero_filled({"batch.js_job.tasks": 2})
    assert filled["batch.js_job.tasks"] == (2.0, "count")
    assert filled["store.commit_ms"] == (0.0, "ms")
    with pytest.raises(KeyError):
        layers.zero_filled({"not.a.metric": 1})


@pytest.mark.parametrize("text, value", [
    ("9.3 s (2.2 s, 2.4 s, 2.5 s (stage 2.0: task 4))", 9300.0),
    ("total (min, med, max (stageId: taskId))\n1.5 s (0.2 s, 0.4 s, 0.5 s (stage 2.0: task 4))",
     1500.0),
    ("783.3 KiB (195.8 KiB, 195.8 KiB)", 783.3 * 1024),
    ("43 ms", 43.0), ("100,000", 100000.0), ("0.0 B", 0.0), ("", 0.0)])
def test_sql_metric_strings_parse_to_ms_or_bytes(text, value):
    assert spans.parse_sql_metric(text) == pytest.approx(value)


class _Target:
    def work(self, x):
        return x + 1


def test_tracer_wraps_nests_and_restores():
    tracer = spans.Tracer()
    orig = _Target.__dict__["work"]
    tracer.wrap(_Target, "work", "target.work")
    with tracer.span("outer"):
        assert _Target().work(1) == 2
    tracer.close()
    assert _Target.__dict__["work"] is orig
    by_name = {name: (parent, sid) for name, _s, _e, parent, sid in tracer.spans}
    assert by_name["target.work"][0] == by_name["outer"][1]
    assert by_name["outer"][0] == 0


def test_trace_order_balances_drift():
    order = serve.TRACE_ORDER
    traced = [i for i, t in enumerate(order) if t]
    plain = [i for i, t in enumerate(order) if not t]
    assert len(traced) == len(plain)
    assert sum(traced) == sum(plain)


def test_traced_rounds_instrument_only_traced_rounds():
    hub = types.SimpleNamespace(lock=threading.Lock())
    report = harness.Report()
    state = {"on": False}
    events = []

    class Stub(serve.Client):
        def one(self, kind, param):
            self.seen.append(state["on"])

    clients = []
    for i in range(2):
        c = Stub("http://localhost:1", hub, i, report, [("changes", None)] * 80)
        c.seen = []
        clients.append(c)

    def on():
        state["on"] = True
        events.append("on")

    def off():
        state["on"] = False
        events.append("off")

    serve.traced_rounds(clients, 0.0, on, off)
    assert events == ["on", "off"] and not report.errors
    per_round = [t for t in serve.TRACE_ORDER for _ in serve.BLOCK]
    for c in clients:
        assert [tag for _, _, tag in c.samples] == per_round
        assert c.seen == per_round


def test_runner_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
