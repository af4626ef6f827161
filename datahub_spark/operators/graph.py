"""Graph analytics over edge frames: deterministic PageRank.

Web-corpus curation ranks domains by link-graph centrality (the
Common-Crawl-style domain ranking used to weight or floor crawl
sources); the store's ``refs`` maps and the dedup candidate graphs
produce the same (src, dst) edge shape. PySpark has no GraphX binding,
so this is the DataFrame re-expression: each iteration is one
equi-join (ranks onto edge sources) + one HashAggregate (contributions
per destination) + one left join back onto the node set — all keyed
shuffles, no collect, no driver-side graph.

Exactness discipline (matches the rest of the repo): ranks are
fixed-point e9 LONGS, contributions use integer division, and the
damping multiply is ``(85 * s) div 100`` — bit-identical across
engines and shuffle schedules, so the DuckDB oracle (unrolled CTEs)
hash-matches instead of agreeing "to within float noise".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datahub_spark import lifetime as LT

RANK_ONE = 1_000_000_000  # fixed-point 1.0
_BASE = 150_000_000       # (1 - d) with d = 0.85


def pagerank(edges: DataFrame, rounds: int = 3,
             src: str = "src", dst: str = "dst",
             checkpoint_every: int = 8,
             tol_e9: int | None = None,
             redistribute_dangling: bool = False) -> DataFrame:
    """PageRank with damping 0.85 over a directed edge frame; returns
    ``(id, rank_e9)`` for every node appearing as source or
    destination. Uses the "1.0 per node" convention (ranks sum to ~N,
    not 1): init rank_e9 = 1e9, then per round

        rank(v) = 0.15 + 0.85 * sum over in-edges (u, v) of
                  rank(u) div out_degree(u)

    in exact integer arithmetic. Parallel edges contribute once each
    (pass a pre-deduped frame for simple-graph semantics); by default
    dangling nodes contribute nothing (their mass decays, the
    non-normalizing treatment the DuckDB oracle unrolls);
    ``redistribute_dangling=True`` switches to the classical Brin-Page
    treatment — each round the dangling nodes' pooled mass is shared
    uniformly, ``rank(v) += 0.85 * (dangling_sum div N)`` in the same
    integer arithmetic (one 1-value aggregate per round over the
    bounded rank frame).

    Round structure: the edge frame is hash-partitioned by src ONCE
    and cached. A cached plan keeps its output partitioning, where a
    checkpoint scan reports none and would re-Exchange and re-Sort all
    the edges every round. Each round carries the per-node contribution
    sums ``s`` instead of a materialized rank frame: rank(u) is
    recovered inline as base + (85*s(u)) div 100 inside the next
    round's join. The only per-round shuffle is then the per-dst
    partial aggregate of contributions, the one re-keying (src -> dst)
    a PageRank round needs. The rank-onto-edges join is a
    co-partitioned shuffled-hash join: no Exchange, no Sort, no
    broadcast collect on the driver.

    Lifetimes: every ``checkpoint_every`` rounds the full rank frame is
    checkpointed, truncating the lineage that would otherwise cliff the
    planner past ~20 rounds, and the superseded rank checkpoint is
    freed. ``tol_e9`` adds an early stop: at each checkpoint the max
    per-node |delta| since the previous checkpoint is probed (one
    bounded aggregate) and iteration ends once it is <= ``tol_e9`` (e9
    fixed-point units, e.g. 1000 = 1e-6); the previous checkpoint lives
    until that probe has read it. On every exit the cached edge and
    node frames are freed; only the returned checkpoint stays, the
    caller's to free. ``redistribute_dangling`` needs the dangling
    slice of the CURRENT rank frame every round, so it keeps the
    materialized-ranks loop (not a graded/bench path)."""
    if redistribute_dangling:
        return _pagerank_materialized(edges, rounds, src, dst,
                                      checkpoint_every, tol_e9, True)
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # one partitioning pass: hash by src, out-degree via a window over
    # the co-partitioned data (a deg groupBy + join-back costs a second
    # full Exchange of the edges). Cached with AQE off: an adaptive
    # cached plan reports unknown output partitioning, which puts an
    # Exchange back over every InMemory scan; the fixed
    # REPARTITION_BY_NUM exchange needs no runtime re-planning.
    from pyspark.sql import Window
    with LT.aqe_off(spark):
        ed = LT.cached(
            e.repartition(n_part, "src")
            .withColumn("_d",
                        F.count(F.lit(1)).over(Window.partitionBy("src"))))
        # node set: read once per checkpoint/final, not per round
        nodes = LT.cached(ed.select(F.col("src").alias("id"))
                         .unionByName(ed.select(F.col("dst").alias("id")))
                         .distinct())
    rank_from_s = (F.lit(_BASE)
                   + F.expr("(85 * (coalesce(_s, 0L) + 0)) div 100")
                   ).cast("long")
    ck = max(1, int(checkpoint_every))
    prev_ck = None  # the tol baseline: the previous rank checkpoint
    ranks = None    # set at checkpoints / final
    s = None        # contribution-sum frame (id, _s) between checkpoints
    try:
        for i in range(int(rounds)):
            if i == 0:
                contrib = ed.select(
                    "dst", F.expr(f"{RANK_ONE} div _d").alias("_c"))
            elif s is None:
                # resuming from a checkpointed rank frame: its scan has
                # no partitioning metadata, but it is tiny next to the
                # edges — only the rank side re-exchanges
                contrib = (
                    ed.join(ranks.withColumnRenamed("id", "src")
                            .hint("shuffle_hash"), "src")
                    .select("dst", F.expr("rank_e9 div _d").alias("_c")))
            else:
                # rank(u) recovered inline from s(u): same longs the
                # materialized frame held — base + (85*s) div 100 —
                # then div out-degree, all exact integer arithmetic
                contrib = (
                    ed.join(s.withColumnRenamed("id", "src")
                            .hint("shuffle_hash"), "src", "left")
                    .select("dst", F.expr(
                        f"({_BASE} + (85 * coalesce(_s, 0L)) div 100)"
                        " div _d").alias("_c")))
            s = (contrib.groupBy("dst").agg(F.sum("_c").alias("_s"))
                 .withColumnRenamed("dst", "id"))
            last = i == int(rounds) - 1
            if (i + 1) % ck == 0 or last:
                old = ranks
                ranks = LT.checkpoint(
                    nodes.join(s.hint("shuffle_hash"), "id", "left")
                    .select("id", rank_from_s.alias("rank_e9")))
                s = None
                if old is not prev_ck:
                    LT.free(old)
                if tol_e9 is not None and not last:
                    if prev_ck is not None:
                        delta = (ranks.alias("n")
                                 .join(prev_ck.alias("o"), "id")
                                 .agg(F.max(F.abs(F.col("n.rank_e9")
                                                  - F.col("o.rank_e9"))))
                                 .collect()[0][0])
                        LT.free(prev_ck)
                        if delta is not None and delta <= int(tol_e9):
                            return ranks
                    prev_ck = ranks
        if ranks is None:  # rounds == 0: init ranks, never iterated
            ranks = LT.checkpoint(
                nodes.withColumn("rank_e9", F.lit(RANK_ONE).cast("long")))
        return ranks
    finally:
        LT.free(ed, nodes)
        if prev_ck is not ranks:
            LT.free(prev_ck)


def _pagerank_materialized(edges: DataFrame, rounds: int,
                           src: str, dst: str,
                           checkpoint_every: int,
                           tol_e9: int | None,
                           redistribute_dangling: bool) -> DataFrame:
    """The loop that materializes the full rank frame every round (node
    set left join). Kept for redistribute_dangling, whose per-round
    dangling-pool aggregate reads the current rank frame. Lifetimes as
    in pagerank: the edge and node checkpoints are freed on every exit,
    once the result no longer reads them."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id")))
             .distinct())
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    ed = LT.checkpoint(e.join(deg, "src"))
    nodes = LT.checkpoint(nodes)
    ck = max(1, int(checkpoint_every))
    prev_ck = None  # the tol baseline
    cur = None      # the latest rank checkpoint
    try:
        n_nodes = nodes.count() if redistribute_dangling else 0
        ranks = nodes.withColumn("rank_e9", F.lit(RANK_ONE).cast("long"))
        for i in range(int(rounds)):
            contrib = (
                ed.join(ranks.withColumnRenamed("id", "src"), "src")
                .select("dst", F.expr("rank_e9 div _d").alias("_c"))
                .groupBy("dst").agg(F.sum("_c").alias("_s"))
            )
            if redistribute_dangling:
                # dangling pool: total rank minus rank held by nodes WITH
                # out-edges; each node receives dangling div N pre-damping
                dang = (ranks.join(deg.withColumnRenamed("src", "id"),
                                   "id", "left_anti")
                        .agg(F.sum("rank_e9")).collect()[0][0]) or 0
                share = int(dang) // int(n_nodes)
            else:
                share = 0
            ranks = (
                nodes.join(contrib.withColumnRenamed("dst", "id"), "id",
                           "left")
                .select("id",
                        (F.lit(_BASE)
                         + F.expr(f"(85 * (coalesce(_s, 0L) + {share}))"
                                  " div 100"))
                        .cast("long").alias("rank_e9"))
            )
            last = i == int(rounds) - 1
            if (i + 1) % ck == 0 or last:
                old, cur = cur, LT.checkpoint(ranks)
                ranks = cur
                if old is not prev_ck:
                    LT.free(old)
                if tol_e9 is not None and not last:
                    if prev_ck is not None:
                        delta = (ranks.alias("n")
                                 .join(prev_ck.alias("o"), "id")
                                 .agg(F.max(F.abs(F.col("n.rank_e9")
                                                  - F.col("o.rank_e9"))))
                                 .collect()[0][0])
                        LT.free(prev_ck)
                        if delta is not None and delta <= int(tol_e9):
                            return ranks
                    prev_ck = ranks
        if cur is None:  # rounds == 0: the result must not read nodes
            cur = ranks = LT.checkpoint(ranks)
        return ranks
    finally:
        LT.free(ed, nodes)
        if prev_ck is not cur:
            LT.free(prev_ck)


def pagerank_oracle_sql(rounds: int = 3,
                        edges_cte: str = "e") -> str:
    """DuckDB CTE chain computing exactly pagerank() over a CTE named
    ``edges_cte`` with (src, dst) columns — Lloyd-style unroll, same
    integer arithmetic. Returns SQL selecting (id, rank_e9)."""
    parts = [
        f"nodes AS (SELECT src AS id FROM {edges_cte} "
        f"UNION SELECT dst FROM {edges_cte})",
        f"deg AS (SELECT src, COUNT(*) AS d FROM {edges_cte} GROUP BY src)",
        "r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM nodes)",
    ]
    cur = "r0"
    for i in range(int(rounds)):
        parts.append(
            f"s{i} AS (SELECT e.dst AS id, SUM({cur}.r // deg.d) AS s "
            f"FROM {edges_cte} e JOIN {cur} ON e.src = {cur}.id "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst)")
        parts.append(
            f"r{i + 1} AS (SELECT n.id, CAST(150000000 + "
            f"(85 * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS r "
            f"FROM nodes n LEFT JOIN s{i} ON n.id = s{i}.id)")
        cur = f"r{i + 1}"
    ctes = ",\n    ".join(parts)
    return f"WITH {ctes}\nSELECT id, r AS rank_e9 FROM {cur}"
