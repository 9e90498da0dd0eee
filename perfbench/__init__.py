"""Seeded end-to-end benchmark for the ``binance_etl_clickhouse_spark`` package.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see ``run.py``.
"""
