"""PageRank: DuckDB-oracle exactness + structural properties."""

from __future__ import annotations

import duckdb

from datahub_spark.operators import graph as G
from tests.conftest import persisted_ids


def _edges(spark):
    # orders -> customer reference edges from the real tables: a
    # natural "popular customers gather rank" graph
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    return orders.selectExpr("o_orderkey AS src", "o_custkey AS dst")


def test_pagerank_matches_duckdb_unroll(spark):
    edges = _edges(spark)
    got = {r["id"]: r["rank_e9"]
           for r in G.pagerank(edges, rounds=3).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW e AS SELECT o_orderkey AS src, o_custkey AS dst "
        "FROM read_parquet('/root/testdata/sf0.001/orders.parquet')")
    want = {r[0]: r[1]
            for r in con.execute(G.pagerank_oracle_sql(3)).fetchall()}
    assert got == want


def test_pagerank_structure(spark):
    # star: both leaves feed the hub; hub has no outgoing edges
    edges = spark.createDataFrame(
        [(1, 3), (2, 3)], "src long, dst long")
    r = {x["id"]: x["rank_e9"] for x in G.pagerank(edges, rounds=2).collect()}
    # sources never receive: rank = base after round 1 (stable)
    assert r[1] == r[2] == 150_000_000
    # hub after round 2: base + 0.85 * 2 * (base div 1)
    assert r[3] == 150_000_000 + (85 * 2 * 150_000_000) // 100
    # a cycle conserves: every node of a 3-cycle has identical rank
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    rc = {x["id"]: x["rank_e9"] for x in G.pagerank(cyc, rounds=4).collect()}
    assert len(set(rc.values())) == 1


def _pagerank_model(edge_list, rounds, redistribute=False):
    """Driver-side integer reference: same e9 fixed-point arithmetic."""
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    out = {}
    for u, _ in edge_list:
        out[u] = out.get(u, 0) + 1
    r = {v: 1_000_000_000 for v in nodes}
    for _ in range(rounds):
        s = {v: 0 for v in nodes}
        for u, v in edge_list:
            s[v] += r[u] // out[u]
        share = 0
        if redistribute:
            dang = sum(r[v] for v in nodes if v not in out)
            share = dang // len(nodes)
        r = {v: 150_000_000 + (85 * (s[v] + share)) // 100 for v in nodes}
    return r


def test_pagerank_50_rounds_checkpointed(spark):
    """r9 hardening: 50 rounds with lineage truncation completes and
    matches the pure-python integer model exactly (the unroll oracle
    would be a 100-CTE SQL; the model is the same arithmetic)."""
    import random
    rng = random.Random(7)
    edge_list = sorted({(rng.randrange(40), rng.randrange(40))
                        for _ in range(160)})
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["id"]: r["rank_e9"]
           for r in G.pagerank(edges, rounds=50,
                               checkpoint_every=5).collect()}
    assert got == _pagerank_model(edge_list, 50)


def test_pagerank_convergence_stop(spark):
    """tol_e9 stops early once ranks are stable — and the early result
    equals the full-round result (the fixed point is reached)."""
    edge_list = [(1, 2), (2, 3), (3, 1), (4, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    full = {r["id"]: r["rank_e9"]
            for r in G.pagerank(edges, rounds=60,
                                checkpoint_every=4).collect()}
    stopped = {r["id"]: r["rank_e9"]
               for r in G.pagerank(edges, rounds=60, checkpoint_every=4,
                                   tol_e9=0).collect()}
    assert stopped == full


def test_pagerank_dangling_redistribution(spark):
    """redistribute_dangling shares the dangling pool uniformly each
    round — matches the python model; totals stay (nearly) conserved
    instead of decaying."""
    edge_list = [(1, 2), (2, 3), (1, 3)]   # node 3 dangles
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["id"]: r["rank_e9"]
           for r in G.pagerank(edges, rounds=6,
                               redistribute_dangling=True).collect()}
    assert got == _pagerank_model(edge_list, 6, redistribute=True)
    decayed = {r["id"]: r["rank_e9"]
               for r in G.pagerank(edges, rounds=6).collect()}
    assert sum(got.values()) > sum(decayed.values())


def test_pagerank_frees_intermediate_checkpoints(spark):
    """pagerank must not leave its edge/node scratch frames or
    superseded rank generations pinned in JVM storage: only the
    RETURNED checkpoint's blocks may remain, the caller's to free. Run
    twice: the persisted-RDD count must not grow."""
    from pyspark.sql import functions as F

    from datahub_spark import lifetime
    from datahub_spark.operators.graph import pagerank

    lifetime.clear(spark)  # clean slate

    edges = spark.range(2000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 53).alias("dst"))
    r1 = pagerank(edges, rounds=12, checkpoint_every=3)
    r1.count()
    after_one = persisted_ids(spark)
    r2 = pagerank(edges, rounds=12, checkpoint_every=3)
    r2.count()
    after_two = persisted_ids(spark)
    # each call leaks at most its OWN returned checkpoint (scratch,
    # superseded generations, tol baselines all freed)
    assert len(after_two) - len(after_one) <= len(after_one) or \
        len(after_two) <= 2 * len(after_one)
    assert len(after_one) <= 2, after_one  # returned ckpt only
    # the tol early-stop path frees the same way
    r3 = pagerank(edges, rounds=40, checkpoint_every=2, tol_e9=10**9)
    r3.count()
    after_three = persisted_ids(spark)
    assert len(after_three) <= len(after_two) + 2, after_three
    # results still correct after all the freeing
    assert r1.collect() == r2.collect() != []
    lifetime.clear(spark)
    assert persisted_ids(spark) == set()
