"""Per-query oracle verification at arbitrary SF.

Mirrors the driver's compare (tests/test_oracle_parity.py) but callable
per-query per-SF from the command line, so an optimization's equivalence
proof covers sf0.001 / sf0.01 / sf0.1 before the change is committed.

Usage:
    python scripts/verify.py name1 name2 ... [--sf 0.001 0.01 0.1]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", nargs="*", default=["0.001", "0.01"])
    args = ap.parse_args()

    from binance_etl_clickhouse_spark.queries import QUERIES, with_cache_hygiene
    from binance_etl_clickhouse_spark.session import get_spark
    from binance_etl_clickhouse_spark.testing import compare_frames, run_oracle

    spark = get_spark(app_name="verify", shuffle_partitions=8)
    failures = 0
    for sf in args.sf:
        sf_dir = f"/root/testdata/sf{sf}"
        for name in args.names:
            entry = QUERIES[name]
            if entry.oracle is None:
                n = with_cache_hygiene(entry.spark)(spark, sf_dir).count()
                print(f"ROWS-ONLY sf{sf} {name}: {n} rows", flush=True)
                continue
            t0 = time.perf_counter()
            spark_pdf = with_cache_hygiene(entry.spark)(spark, sf_dir).toPandas()
            oracle_pdf = run_oracle(entry.oracle, sf_dir)
            problems = compare_frames(spark_pdf, oracle_pdf, name)
            dt = time.perf_counter() - t0
            if problems:
                failures += 1
                print(f"FAIL sf{sf} {name} ({dt:.1f}s):")
                for p in problems:
                    print(f"  {p}")
            else:
                print(f"OK   sf{sf} {name} ({len(spark_pdf)} rows, {dt:.1f}s)", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
