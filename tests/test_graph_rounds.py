"""Per-round job budgets and block hygiene of the iterative graph loops.

Iterative loops are bound by per-round latency, not data volume: every job
is a scheduler round-trip and a fresh set of stages for the JIT to compile.
These tests count the jobs an operator launches (``setJobGroup`` +
``statusTracker``) and pin the marginal cost of one more round, so a change
that adds a shuffle, broadcast or action to the loop body shows up here even
when the answers stay right.
"""

from __future__ import annotations

import random

from binance_etl_clickhouse_spark.checkpoints import release
from binance_etl_clickhouse_spark.operators import graph


def _jobs(spark, name, fn):
    """Run ``fn`` under its own job group; return (result, #jobs)."""
    sc = spark.sparkContext
    group = f"graph-rounds-{name}"
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, 1) for a, b in pairs], "src long, dst long, w long"
    )


def _random_graph(n, m, seed):
    """``m`` random undirected edges over ``n`` vertices (seeded)."""
    rng = random.Random(seed)
    return sorted(
        {(min(a, b), max(a, b)) for a, b in (rng.sample(range(n), 2) for _ in range(m))}
    )


def _reference_components(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_lsss_round_job_budget(spark):
    """A star converges in one round, so its run is the seed, one round,
    the fixpoint probe and the finish; the multi-round graph's extra jobs
    over it are its extra rounds. Each round is two window exchanges, the
    distinct exchange and the count over the lazy checkpoint (two jobs
    under AQE): 5 jobs, budget 6."""
    star = [(0, i) for i in range(1, 10)]
    rc1: list = []
    _, j1 = _jobs(
        spark,
        "lsss-star",
        lambda: graph.connected_components_lsss(
            _edges(spark, star), round_counter=rc1
        ).collect(),
    )
    # its edge count falls every round until the fixpoint, so the exact
    # equal-count probe runs once, as it does for the star
    pairs = _random_graph(60, 120, seed=0)
    rc: list = []
    rows, j = _jobs(
        spark,
        "lsss-random",
        lambda: graph.connected_components_lsss(
            _edges(spark, pairs), round_counter=rc
        ).collect(),
    )
    assert {r.part_key: r.component for r in rows} == _reference_components(pairs)
    assert rc1 == [1] and rc[0] >= 3, (rc1, rc)
    per_round = (j - j1) / (rc[0] - 1)
    assert per_round <= 6, f"LSSS ran {per_round:.1f} jobs per extra round ({j1} -> {j})"


def test_pagerank_iteration_job_budget(spark):
    """The degree is folded into the persisted edge frame once, so a power
    iteration is at most the rank-frame broadcast plus the groupBy(v)
    shuffle — no degree broadcast per iteration."""
    edges = _edges(spark, _random_graph(200, 600, seed=1))
    graph.pagerank(edges, iters=1).collect()  # materialize the edge frame
    _, j1 = _jobs(spark, "pagerank-1", lambda: graph.pagerank(edges, iters=1).collect())
    rows, j3 = _jobs(spark, "pagerank-3", lambda: graph.pagerank(edges, iters=3).collect())
    assert abs(sum(r.pagerank for r in rows) - 1.0) < 1e-3
    assert (j3 - j1) / 2 <= 2, f"PageRank: {j1} jobs at 1 iteration, {j3} at 3"


def test_release_drops_materialized_lazy_checkpoint(spark):
    """The loops checkpoint lazily and free each superseded round with
    checkpoints.release: once an action has written the blocks, release
    must drop the RDD from the session's persistent set."""
    sc = spark.sparkContext
    df = spark.range(10_000).selectExpr("id % 97 AS k").localCheckpoint(eager=False)
    df.count()  # the first action writes the checkpoint blocks
    rdd_id = df._jdf.queryExecution().optimizedPlan().rdd().id()
    assert rdd_id in set(sc._jsc.getPersistentRDDs().keySet())
    release(df)
    assert rdd_id not in set(sc._jsc.getPersistentRDDs().keySet())
