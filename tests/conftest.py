from __future__ import annotations

import pytest

from binance_etl_clickhouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="tests", extra_confs={"spark.sql.warehouse.dir": wh}
    )
    yield spark


@pytest.fixture(scope="session")
def registered_plans(spark):
    """name -> (executed-plan string, output schema) of every registered
    query at sf0.001. Building and planning all of them takes minutes, so
    the repo-wide plan sweeps (tests/test_plans.py, tests/test_planlint.py)
    share one pass."""
    from binance_etl_clickhouse_spark.queries import QUERIES

    plans = {}
    for name, e in QUERIES.items():
        df = e.spark(spark, SF_SMOKE)
        plans[name] = (df._jdf.queryExecution().executedPlan().toString(), df.schema)
    return plans
