"""Per-query timing and plan capture for an optimization round.

Times individual registered queries with bench.py's run protocol (SQL
cache and RDD-layer blocks cleared before every run, noop sink,
best-of-N) and writes ``.explain('formatted')`` to
``plans/r<round>/<name>_<tag>.txt`` (gitignored: regenerate on demand).
Not part of the driver contract — a developer tool.

Usage:
    python scripts/measure.py --round 13 --tag before --runs 3 name1 name2 ...
    python scripts/measure.py --round 13 --tag before --runs 2 --all-headline
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--all-headline", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    from binance_etl_clickhouse_spark.queries import QUERIES
    from binance_etl_clickhouse_spark.queries.registry import clear_rdd_blocks
    from binance_etl_clickhouse_spark.session import get_spark

    names = list(args.names)
    if args.all_headline:
        import bench

        names = [n for n in bench.HEADLINE if n not in names] + names

    label = f"r{args.round}"
    spark = get_spark(app_name=f"measure_{label}", shuffle_partitions=8)
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    plans_dir = Path(_REPO_ROOT) / "plans" / label
    plans_dir.mkdir(parents=True, exist_ok=True)
    out: dict[str, float] = {}
    for name in names:
        entry = QUERIES[name]
        spark.sparkContext.setJobDescription(f"{label}:{name}")
        best = float("inf")
        for i in range(args.runs):
            spark.catalog.clearCache()
            clear_rdd_blocks(spark)
            t0 = time.perf_counter()
            df = entry.spark(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            if i == 0 and not args.no_plan:
                plan = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                (plans_dir / f"{name}_{args.tag}.txt").write_text(plan)
        out[name] = round(best, 4)
        print(f"{best:8.3f}  {name}", flush=True)
    print(json.dumps({"round": args.round, "tag": args.tag, "sf_dir": SF_DIR, "timings": out}))


if __name__ == "__main__":
    main()
