"""planlint.lint_plan: each rule must fire on a minimal offending plan and
stay quiet on the scale-correct twin."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.planlint import lint_plan, lint_plan_string


def _df(spark):
    return spark.range(100).withColumn("g", F.col("id") % 5)


def _kinds(warnings):
    return {w.split(":", 1)[0] for w in warnings}


def test_cartesian_flagged(spark):
    a, b = _df(spark), _df(spark).withColumnRenamed("id", "id2")
    out = lint_plan(a.crossJoin(b.select("id2")))
    assert "nested-loop-join" in _kinds(out)


def test_non_equi_bnlj_flagged(spark):
    a = _df(spark)
    b = _df(spark).select(F.col("id").alias("id2"))
    out = lint_plan(a.join(b, F.col("id") < F.col("id2")))
    assert "nested-loop-join" in _kinds(out)


def test_broadcast_equi_join_clean(spark):
    a = _df(spark)
    b = _df(spark).select("id", F.lit("x").alias("tag"))
    assert lint_plan(a.join(F.broadcast(b), "id")) == []


def test_row_udf_flagged_pandas_udf_clean(spark):
    row_udf = F.udf(lambda x: x + 1, "long")
    assert "python-row-udf" in _kinds(lint_plan(_df(spark).select(row_udf("id"))))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def vec(x: pd.Series) -> pd.Series:
        return x + 1

    assert "python-row-udf" not in _kinds(lint_plan(_df(spark).select(vec("id"))))


def test_global_ordered_window_flagged(spark):
    w = Window.orderBy("id")
    out = lint_plan(_df(spark).select(F.row_number().over(w).alias("rn")))
    assert "global-window" in _kinds(out)


def test_partitioned_window_clean(spark):
    w = Window.partitionBy("g").orderBy("id")
    assert lint_plan(_df(spark).select(F.row_number().over(w).alias("rn"))) == []


def test_partition_only_unordered_window_clean(spark):
    w = Window.partitionBy("g")
    df = _df(spark).select("id", F.avg("id").over(w).alias("g_avg"))
    assert "global-window" not in _kinds(lint_plan(df))


def test_global_agg_with_partials_clean(spark):
    assert lint_plan(_df(spark).agg(F.sum("id").alias("s"))) == []


def test_topk_take_ordered_clean(spark):
    assert lint_plan(_df(spark).orderBy(F.desc("id")).limit(5)) == []


def test_registered_queries_lint_clean_modulo_whitelist(registered_plans):
    """Every registered query passes the linter except the audited-benign
    set (tiny broadcast sides / query-sized frames — the same cases the
    nested-loop audit whitelists, plus documented single-task shapes)."""
    from tests.test_plans import NESTED_LOOP_WHITELIST

    # audited-benign global windows: each runs over an ALREADY-REDUCED
    # frame whose cardinality is bounded by something other than the data
    # volume, so the single-task sort the linter (correctly) flags is
    # bounded too
    extra_ok = {
        "equi_depth_histogram",  # window over DISTINCT VALUES of the
        # histogram column (pre-aggregated value->count frame); continuous
        # domains would pre-bin first
        "rolling_corr_click_purchase",  # window over the HOURLY series —
        # bounded by the time span (documented in the query); per-pair at
        # scale this partitions by the pair key
        "funnel_signup_click_purchase",  # window over the 3-row
        # stage-counts frame (one row per funnel stage)
        "curriculum_interleave",  # the output IS one global training
        # order — inherently a total sort; at shard scale you band by
        # shard id first (documented in the query)
        "contrastive_negative_sample",  # cumulative-offset window over
        # the 16-row bucket-count frame of the two-phase numbering (the
        # corpus-sized ranking itself is partitioned by bucket)
        "with_fill_verbatim_sql",  # ORDER BY ... WITH FILL: gap-filling is
        # inherently a single-stream pass over the FINAL sorted result
        # (ClickHouse's FillingTransform runs after its ORDER BY the same
        # way); here over the HOURLY aggregate, bounded by the time span.
        # Keyed gap-fill at scale goes through operators/resample.py's
        # per-symbol windows instead (documented in SCALE.md)
    }
    dirty = {}
    for name, (plan, _) in registered_plans.items():
        out = lint_plan_string(plan)
        if out and name not in NESTED_LOOP_WHITELIST | extra_ok:
            dirty[name] = sorted(_kinds(out))
    assert not dirty, f"registered queries with un-audited lint hits: {dirty}"


def test_engine_lint_facade(spark):
    from binance_etl_clickhouse_spark.engine import AnalyticsEngine

    eng = AnalyticsEngine(spark, verbose=False)
    eng.register_testdata("/root/testdata/sf0.001")
    clean = eng.lint("SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1")
    assert clean == []
    dirty = eng.lint(
        "SELECT o_orderkey, row_number() OVER (ORDER BY o_totalprice) AS rn FROM orders"
    )
    assert any(w.startswith("global-window") for w in dirty)
