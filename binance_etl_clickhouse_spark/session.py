"""SparkSession bootstrap tuned for both local testing and cluster scale.

The reference configures its engines by hand (ClickHouse session knobs at
``app/src/utils_clickhouse.py:22-26``: ``use_numpy``, 16 GiB
``max_memory_usage``, ``max_threads <= 8``). Here the equivalents are Spark
confs: Arrow-enabled pandas interop, AQE, shuffle-partition sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that matter at 100 TB as much as at sf0.001:
# - AQE: runtime coalescing of shuffle partitions + skew-join splitting.
# - Arrow: every mapInPandas/pandas_udf stage moves columnar batches, not rows.
# - UTC session TZ: serving tables store second-precision UTC timestamps
#   (ClickHouse DateTime semantics) and the DuckDB oracle is UTC-naive.
_BASE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet writes: preserve dictionary encoding (LowCardinality analogue)
    # and emit min/max page stats so sorted layout gives PK-index-like skipping.
    "spark.sql.parquet.compression.codec": "snappy",
    # Spark's legacy INT96 timestamp encoding writes NO min/max statistics,
    # silently disabling every time-range file/row-group skip over the
    # serving tables' sort/z-order layout. TIMESTAMP_MICROS restores stats.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Avoid driver-side OOM from accidental wide collects in tests.
    "spark.driver.maxResultSize": "4g",
    "spark.ui.enabled": "false",
    # Reliable-checkpoint hygiene: the iterative loops (graph CC / HITS /
    # PageRank, the v3 prep pipeline) write df.checkpoint(eager=True) per
    # round when a checkpoint dir is set. Spark only reclaims those files
    # when the ContextCleaner is allowed to (default FALSE) — without this,
    # hundreds of rounds in a long-lived session accrete unbounded
    # checkpoint storage. With it, each superseded round's files are
    # removed once its RDD is garbage-collected.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Generated-class cache (ClickHouse's compiled_expression_cache analogue).
    # Spark's default LRU holds 100 classes. Measured distinct classes: 198
    # in one perfbench analytics round, 941-949 in one pass of bench.py's
    # 55-query headline sweep (three runs). A cyclic working set above the
    # LRU's size misses on every access, so at 100 every analytics round
    # recompiled ~280 classes (Janino ~16 ms each, then the JIT). The
    # sweep's second pass recompiled 59 classes at 1000 (Guava's cache
    # evicts within a segment before the whole cache is full), 6 at 2000
    # and 2 at 100000. Static conf: the cache is a JVM-wide object built
    # at the first code generation, so it only takes effect when get_spark
    # starts the JVM.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # The cache key is the class source, and by default the source names
    # the class after its codegen stage id. Under AQE sibling stages take
    # ids in completion order, so one repeated loop probe produced two
    # sources (GeneratedIteratorForCodegenStage5/6) for one stage and
    # compiled again whenever the race flipped. Without the id, identical
    # stages share one class wherever they sit in a plan.
    "spark.sql.codegen.useIdInClassName": "false",
}


def default_driver_memory() -> str:
    """``spark.driver.memory`` for ``get_spark``: SPARK_GRAFT_DRIVER_MEM
    when set, else 16g or half the physical RAM, whichever is smaller.

    local[*] puts driver AND all executor threads in ONE JVM, whose default
    heap is 1g — 32 concurrent tasks in 1g OOMs on any shuffle-heavy query
    long before a large machine is remotely loaded. The RAM cap keeps a
    runaway plan failing inside the JVM: a heap as large as the machine
    lets it grow until the kernel's OOM killer ends the whole process. On a
    real cluster this maps to spark.executor.memory sized per executor."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(16 * 1024, ram_mb // 2)}m")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "binance_etl_clickhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this should instead be sized so that ``input_bytes /
    shuffle_partitions`` lands in the 100-200 MB per-task sweet spot
    (at 100 TB: tens of thousands of partitions, then let AQE coalesce).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.driver.memory", default_driver_memory())
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cores),
        )
    )
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
