"""Bench harness crash isolation (r10): one flaky leg failure must
never zero a round's perf evidence — BENCH_r09.json was rc 1 with a
JVM OOM stack and NO numbers because the old loop let one leg kill
the whole run before the JSON line was emitted."""

from __future__ import annotations

import bench
from tests.conftest import SF_SMALL, persisted_ids


def _good(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/region.parquet")


def _boom(spark, sf_dir):
    raise MemoryError("synthetic OOM")


def test_run_legs_isolates_a_crashing_leg(spark):
    queries = {"good_a": _good, "boom": _boom, "good_b": _good}
    timings, spreads, errors, clean, n_samples = bench.run_legs(
        spark, SF_SMALL, ["good_a", "boom", "good_b"], queries, runs=1)
    # the failure is recorded, the legs before AND after still measured
    assert set(timings) == {"good_a", "good_b"}
    assert all(v >= 0 for v in timings.values())
    assert list(errors) == ["boom"] and "MemoryError" in errors["boom"]
    assert set(spreads) == {"good_a", "good_b"}
    assert set(clean) == {"good_a", "good_b"}
    assert n_samples == {"good_a": 1, "good_b": 1}


def test_run_legs_force_fail_env(spark, monkeypatch):
    """SPARK_GRAFT_BENCH_FORCE_FAIL lets an operator smoke-drill the
    partial-evidence path end-to-end without a real OOM."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE_FAIL", "good_a")
    timings, _, errors, _, _ = bench.run_legs(
        spark, SF_SMALL, ["good_a", "good_b"],
        {"good_a": _good, "good_b": _good}, runs=1)
    assert "good_a" in errors and "forced failure" in errors["good_a"]
    assert set(timings) == {"good_b"}


def test_run_legs_forced_stall_drill(spark, monkeypatch):
    """Stall-robust reporting (r13, VERDICT r12 'What's wrong' #2):
    SPARK_GRAFT_BENCH_FORCE_STALL inflates every odd-indexed sample
    10x — a synthetic host pause. The drill asserts the full contract:
    (a) stalls counted in the spread, (b) the raw median is
    contaminated while the stall-excluded median stays at real-run
    scale, (c) >= 2 stalls in the first n samples triggers the
    extra-sample extension so the clean median rests on enough real
    measurements."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE_STALL", "stally")
    timings, spreads, errors, clean, n_samples = bench.run_legs(
        spark, SF_SMALL, ["stally", "good_b"],
        {"stally": _good, "good_b": _good}, runs=5, extra_if_stalls=2)
    assert not errors
    mn, mx, stalls = spreads["stally"]
    # 5 initial samples: indexes 1,3 inflated -> 2 stalls -> extended
    # to 7: index 5 also inflated -> >= 3 stalls of 7 total (a real
    # sample on a millisecond-scale query can jitter past 2x min too)
    assert n_samples["stally"] == 7
    assert stalls >= 3
    assert mx > 2 * mn
    # raw median of 7 with 3 stalls sits at the clean ceiling; the
    # stall-excluded median must NOT include any inflated sample
    assert clean["stally"] <= 2 * mn
    # the quiet leg is untouched: no stalls, no extension
    assert n_samples["good_b"] == 5
    assert spreads["good_b"][2] == 0 or clean["good_b"] <= 2 * spreads["good_b"][0]


def test_clear_persisted_between_legs(spark):
    """run_legs clears pinned storage after every leg, so a
    checkpoint-heavy query (pagerank pins its returned rank frame per
    run) cannot stack blocks against later legs."""
    from pyspark.sql import functions as F

    from datahub_spark.operators.graph import pagerank

    def _pr(spark, sf_dir):
        edges = spark.range(500).select(
            (F.col("id") % 31).alias("src"), (F.col("id") % 17).alias("dst"))
        return pagerank(edges, rounds=4)

    timings, _, errors, _, _ = bench.run_legs(
        spark, SF_SMALL, ["pr"], {"pr": _pr}, runs=2)
    assert not errors and "pr" in timings
    assert persisted_ids(spark) == set()


def test_x100_child_merge_carries_every_field():
    """The x100 driver artifact is assembled from per-heap-group child
    JSON lines; r13 made the merge a pure function so the contract is
    pinned: every reported field (raw + stall-excluded medians,
    spreads, sample counts, errors, regimes) survives the merge, and
    the clean scale ratio pairs stall-excluded medians on BOTH sides."""
    out = {"queries": {}, "min_max": {}, "errors": {}, "regime": {},
           "stall_excluded_medians": {}, "n_samples": {}}
    bench._merge_x100_child(out, {
        "repl": 100, "runs_per_query": 5,
        "queries": {"a": 10.0, "b": 4.0},
        "stall_excluded_medians": {"a": 8.0, "b": 4.0},
        "n_samples": {"a": 7, "b": 5},
        "min_max": {"a": [7.5, 40.0, 2], "b": [3.9, 4.2, 0]},
        "errors": {},
    }, ["a", "b"], "48g")
    bench._merge_x100_child(out, {
        "repl": 100, "runs_per_query": 5,
        "queries": {"c": 30.0},
        "stall_excluded_medians": {"c": 30.0},
        "n_samples": {"c": 5},
        "min_max": {"c": [28.0, 33.0, 0]},
        "errors": {"d": "MemoryError(...)"},
    }, ["c", "d"], "16g")
    bench._finish_x100(out, {"a": 1.0, "b": 2.0, "c": 3.0},
                       {"a": 0.8, "b": 2.0, "c": 3.0})
    assert out["queries"] == {"a": 10.0, "b": 4.0, "c": 30.0}
    assert out["stall_excluded_medians"]["a"] == 8.0
    assert out["n_samples"] == {"a": 7, "b": 5, "c": 5}
    assert out["regime"] == {"a": "48g", "b": "48g", "c": "16g", "d": "16g"}
    assert out["errors"] == {"d": "MemoryError(...)"}
    assert out["scale_vs_x10"] == {"a": 10.0, "b": 2.0, "c": 10.0}
    # clean ratio uses clean medians on BOTH sides: 8.0/0.8 = 10.0
    assert out["scale_vs_x10_clean"] == {"a": 10.0, "b": 2.0, "c": 10.0}


def test_payload_tail_carries_the_verdict_fields():
    """r14 (closing the r13 verdict's truncation finding): the driver
    sometimes preserves only the TAIL of the bench JSON line, so the
    round-over-round essentials must be the LAST keys — whatever tail
    survives always carries the verdict. json.dumps respects dict
    insertion order, so pinning the key order pins the line layout."""
    payload = bench.build_payload(
        total=12.3, sf=1.0, runs=5,
        spreads={"a": [1.0, 2.0, 0]}, n_samples={"a": 5},
        store_write={"eps": 1},
        x100={"queries": {"a": 9.0},
              "stall_excluded_medians": {"a": 8.5},
              "scale_vs_x10_clean": {"a": 7.1},
              "errors": {}},
        timings={"a": 1.2}, data_profile={"documents": 10},
        clean_medians={"a": 1.1}, errors={}, over={})
    keys = list(payload.keys())
    # store_write joined the tail in r15 (r14 verdict: the write-path
    # eps lane fell into the truncated head — 5 scalars, tail-cheap)
    tail = ["store_write", "data_profile", "loadavg_1_5_15",
            "stall_excluded_medians", "x100_summary", "errors",
            "over_budget", "budget_ok"]
    assert keys[-len(tail):] == tail
    # the bulky blobs sit in the sacrificial head
    for bulky in ("min_max", "x100", "queries"):
        assert keys.index(bulky) < keys.index("store_write")
    # the compact x100 summary restates the clean medians + ratios
    assert payload["x100_summary"]["clean_medians"] == {"a": 8.5}
    assert payload["x100_summary"]["scale_vs_x10_clean"] == {"a": 7.1}
    assert payload["budget_ok"] is True
    # an errored x100 leg keeps the summary honest (None, not a fake)
    p2 = bench.build_payload(1.0, 1.0, 5, {}, {}, {}, {"error": "boom"},
                             {}, {}, {}, {}, {})
    assert p2["x100_summary"] is None


def test_two_level_aggregate_null_key_assumption(spark):
    """Null-shape pin (r16, VERDICT r15 'what's wrong' #2): the
    two-level (nation, part) aggregate counts a NULL part_id group that
    countDistinct(part_id) would exclude — equivalent ONLY on null-free
    part ids. Documents the divergence on a synthetic null, and asserts
    the real input path (explode of the lineitem p:part refs) emits no
    null part_id at the test SF, so the graded/bench rewrite stays
    value-identical to the countDistinct formulation."""
    from pyspark.sql import functions as F

    from datahub_spark import ingest
    from datahub_spark import store as S

    # 1) the divergence the rewrite must never silently hit
    df = spark.createDataFrame(
        [("n1", "p1"), ("n1", None), ("n1", "p1")],
        "nation_id string, part_id string")
    two_level = (df.groupBy("nation_id", "part_id")
                 .agg(F.count(F.lit(1)).alias("_c"))
                 .groupBy("nation_id")
                 .agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"])
    distinct = (df.groupBy("nation_id")
                .agg(F.countDistinct("part_id").alias("n"))
                .collect()[0]["n"])
    assert two_level == 2 and distinct == 1  # null group counted vs not

    # 2) the no-null assumption on the real edge frame
    ds = ingest.tpch_entities(spark, SF_SMALL)
    li = S.latest(ds["lineitem"], single_version=True).select(
        F.explode(F.col("refs")["p:part"]).alias("part_id"))
    assert li.filter(F.col("part_id").isNull()).count() == 0
