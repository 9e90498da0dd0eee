"""Generated code is compiled once per session, not once per call.

Spark compiles every whole-stage-codegen stage with Janino and caches the
class keyed by its source; a cache miss costs the compile (~16 ms) plus
HotSpot's JIT of the new class. Two things defeat the cache: a working set
larger than ``spark.sql.codegen.cache.maxEntries`` (an LRU, so a round that
cycles through more classes than it holds misses on every one), and source
that differs between calls — a code-generated ``Limit`` names its counter
``_limit_counter_<global id>``, and by default a class is named after its
codegen stage id, which AQE assigns in stage-completion order. These tests
count Janino compiles with Spark's own ``CodegenMetrics`` and require a
repeat to compile nothing.
"""

from __future__ import annotations

from binance_etl_clickhouse_spark.operators import graph
from binance_etl_clickhouse_spark.operators.neardup import neardup_clusters
from tests.test_graph_rounds import _edges, _random_graph


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _new_compiles(spark, fn) -> int:
    before = _compiles(spark)
    fn()
    return _compiles(spark) - before


def test_working_set_above_spark_default_is_cached(spark):
    """120 queries whose stages differ only in an inlined literal are 120
    distinct classes — more than Spark's default 100-entry LRU, which
    would recompile every one of them on the second pass."""

    def sweep():
        for i in range(120):
            spark.range(4).selectExpr(f"id * {i + 2} + 7919 AS x").collect()

    assert _new_compiles(spark, sweep) > 100
    assert _new_compiles(spark, sweep) == 0


def test_lsss_repeat_compiles_nothing(spark):
    edges = _edges(spark, _random_graph(60, 120, seed=3))

    def run():
        graph.connected_components_lsss(edges).collect()

    run()
    assert _new_compiles(spark, run) == 0


def test_converged_repeat_compiles_nothing(spark):
    edges = _edges(spark, _random_graph(60, 80, seed=4))

    def run():
        graph.connected_components_converged(edges).collect()

    run()
    assert _new_compiles(spark, run) == 0


def test_neardup_clusters_distributed_repeat_compiles_nothing(spark):
    pairs = spark.createDataFrame(
        [(a, b) for a, b in _random_graph(40, 50, seed=5)], "d1 long, d2 long"
    )
    docs = spark.range(50).withColumnRenamed("id", "doc_id")

    def run():
        # driver_max_edges=0 forces the distributed propagation loop
        neardup_clusters(docs, pairs, driver_max_edges=0).collect()

    run()
    assert _new_compiles(spark, run) == 0
