"""Lifetimes of materialized state (datahub_spark.lifetime): marks from
concurrent threads stay disjoint, operators free exactly what
they marked, the AQE-off window never plans a sibling's mark, overlap
threads inherit the caller's job group, and repeated graded-key calls
leave JVM storage flat."""

from __future__ import annotations

import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT
from tests.conftest import SF_SMALL, persisted_ids


def _ckpt_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def test_concurrent_marks_are_disjoint_and_independently_freed(spark):
    """N threads (more than cores, with a short switch interval)
    each mark an eager and a lazy frame: every id is distinct, and
    freeing one thread's frames leaves every sibling's frames readable
    (a shared-diff tracker could free a sibling's blocks, which then
    fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    n = 8
    marked: dict[int, tuple] = {}
    barrier = threading.Barrier(n)

    def work(t: int) -> None:
        base = spark.range(200).select((F.col("id") * (t + 1)).alias("v"))
        barrier.wait()
        eager = LT.checkpoint(base)
        lazy = LT.checkpoint(base.groupBy((F.col("v") % 7).alias("k"))
                             .count(), eager=False)
        lazy.count()
        marked[t] = (eager, lazy)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    ids = [_ckpt_id(df) for t in range(n) for df in marked[t]]
    assert len(set(ids)) == 2 * n, ids
    assert set(ids) <= persisted_ids(spark)

    LT.free(*marked[0])
    left = persisted_ids(spark)
    assert not {_ckpt_id(df) for df in marked[0]} & left
    for t in range(1, n):
        eager, lazy = marked[t]
        assert {_ckpt_id(eager), _ckpt_id(lazy)} <= left
        assert eager.agg(F.sum("v")).first()[0] == (t + 1) * 199 * 200 // 2
        assert sum(r["count"] for r in lazy.collect()) == 200
    for t in range(1, n):
        LT.free(*marked[t])
    assert not set(ids) & persisted_ids(spark)


def test_connected_components_frees_what_it_marked_only(spark):
    """Success keeps only the returned labels' checkpoint (and never the
    input's); the non-convergence raise frees everything CC marked."""
    from datahub_spark.operators.dedup import connected_components

    LT.clear(spark)  # nothing left over for the context cleaner to drop
    chain = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a long, id_b long")
    pairs = LT.checkpoint(chain)
    before = persisted_ids(spark)
    labels = connected_components(pairs)
    assert {r["component"] for r in labels.collect()} == {0}
    kept = persisted_ids(spark) - before
    assert len(kept) == 1, kept
    assert _ckpt_id(pairs) in persisted_ids(spark)
    assert pairs.count() == 64  # the input checkpoint is still readable
    LT.release(labels)
    assert persisted_ids(spark) == before

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)
    assert persisted_ids(spark) == before
    LT.free(pairs)


def test_aqe_off_window_never_plans_a_sibling_mark(spark):
    """A mark requested while another thread holds the AQE-off window
    waits for the window to close, so it plans adaptively."""
    frame = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
    done = threading.Event()
    out = []

    def mark() -> None:
        out.append(LT.checkpoint(frame))
        done.set()

    with LT.aqe_off(spark):
        th = threading.Thread(target=mark)
        th.start()
        assert not done.wait(1.0), "mark ran inside the AQE-off window"
    th.join(timeout=60)
    assert not th.is_alive()
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("AdaptiveSparkPlan"), plan
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert out[0].count() == 10
    LT.free(out[0])


def _ungrouped_jobs(sc) -> set:
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_overlap_threads_inherit_the_callers_job_group(spark):
    """corpus_diff's branch threads submit their jobs under the caller's
    job group: no job of the call lands outside it."""
    from datahub_spark import queries

    sc = spark.sparkContext
    before = _ungrouped_jobs(sc)
    sc.setJobGroup("lifetime-overlap", "corpus_diff branches")
    try:
        out = queries.q_corpus_diff(spark, SF_SMALL)
        out.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    grouped = set(sc.statusTracker().getJobIdsForGroup("lifetime-overlap"))
    assert grouped
    # a difference, not equality: the status store evicts old jobs
    assert not _ungrouped_jobs(sc) - before
    LT.release(out)


_NOISE = re.compile(r"#\d+L?|\[plan_id=\d+\]|\bx_\d+\b")


def _recording(monkeypatch) -> list:
    """Patch lifetime.checkpoint to record (thread, normalized plan) of
    every mark: the plan the marked frame was planned with. For an
    adaptive plan that is its initial plan; the final one depends on
    the order in which concurrent stages finish."""
    seen = []
    real = LT.checkpoint

    def rec(df, eager=True):
        out = real(df, eager)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "== Initial Plan ==" in plan:
            plan = "AdaptiveSparkPlan" + plan.split("== Initial Plan ==")[1]
        seen.append((threading.current_thread().name, _NOISE.sub("", plan)))
        return out

    monkeypatch.setattr(LT, "checkpoint", rec)
    return seen


def _outside_caches(plan: str) -> str:
    """The plan text without the subtrees under InMemoryRelation nodes
    (the cached plans, printed again under every scan)."""
    out, cut = [], None
    for line in plan.split("\n"):
        depth = len(line) - len(line.lstrip(" :|+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def test_pagerank_concurrent_with_ann_bucketed_branches(spark,
                                                       monkeypatch):
    """pagerank's AQE-off cache window runs while ann_bucketed's branch
    threads mark their outputs: pagerank's cached edge layout still
    plans as a static hashpartitioning(src, n) with no per-round edge
    Exchange, and every plan (branches' and pagerank's) equals its
    solo plan."""
    from datahub_spark import queries
    from datahub_spark.operators.graph import pagerank

    seen = _recording(monkeypatch)
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet") \
        .selectExpr("o_orderkey AS src", "o_custkey AS dst")
    n = spark.conf.get("spark.sql.shuffle.partitions")

    def run_pagerank() -> None:
        LT.free(pagerank(orders, rounds=3))

    def plans(thread_prefix: str) -> list:
        return sorted(p for t, p in seen if t.startswith(thread_prefix))

    LT.release(queries.q_ann_bucketed(spark, SF_SMALL))
    solo_branches = plans("ThreadPoolExecutor")
    th = threading.Thread(target=run_pagerank, name="pagerank-solo")
    th.start()
    th.join(timeout=120)
    assert not th.is_alive()
    solo_pr = plans("pagerank-solo")
    assert len(solo_branches) == 2 and len(solo_pr) == 1
    assert all(p.startswith("AdaptiveSparkPlan") for p in solo_branches)
    seen.clear()

    th = threading.Thread(target=run_pagerank, name="pagerank-conc")
    th.start()
    LT.release(queries.q_ann_bucketed(spark, SF_SMALL))
    th.join(timeout=120)
    assert not th.is_alive()
    assert plans("ThreadPoolExecutor") == solo_branches
    assert plans("pagerank-conc") == solo_pr
    pr = solo_pr[0]
    # the edge layout is cached once, planned statically (an adaptive
    # cached plan would report unknown partitioning)...
    assert f"Exchange hashpartitioning(src, {n}), REPARTITION_BY_NUM" in pr
    assert pr.count("AdaptiveSparkPlan") == 1, pr
    # ...so no round re-shuffles the edges: the only per-round Exchange
    # is the per-dst aggregate
    rounds = _outside_caches(pr)
    assert "hashpartitioning(src" not in rounds, rounds
    assert "Exchange hashpartitioning(dst" in rounds


# every graded key whose first call at SF_SMALL left persisted RDDs
# before registry calls released the previous result (found by calling
# each of the 50 keys twice on a clean session and counting
# getPersistentRDDs() after each call)
_PINNING_KEYS = [
    "ann_bucketed", "audio_dedup", "contrastive_mining", "corpus_diff",
    "corpus_select", "dedup_embedding", "dedup_pairs", "export_shards",
    "image_dedup", "nb_classifier", "pagerank", "sample_select",
    "unigram_pieces",
]


@pytest.mark.parametrize("key", _PINNING_KEYS)
def test_graded_key_storage_flat_over_five_calls(spark, key):
    """Five registry calls of one key, every result collected and kept:
    JVM storage after call 5 equals storage after call 1, so a key pins
    at most one result's state however often it is called."""
    from datahub_spark.queries import QUERIES

    LT.clear(spark)
    jsc = spark.sparkContext._jsc
    results, counts = [], []
    for _ in range(5):
        df = QUERIES[key](spark, SF_SMALL)
        df.collect()
        results.append(df)
        counts.append(len(jsc.getPersistentRDDs()))
    assert counts[4] == counts[0], counts
    LT.release(results[-1])
