"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root. The workload's inputs are generated from
``--seed``; its repeated operation runs in a closed loop for ``--seconds``.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on Spark's
event log and job-group spans and prints the per-layer metrics instead. The
last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
everything else goes to stderr. Spark's scratch space and the warehouse
live in a per-run directory under ``.perfbench-tmp/``, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver JVM heap (local mode runs every executor thread in it); the
#: package's default of 16g exceeds small machines
DRIVER_MEM_MB = 2048

#: end-to-end metrics (untraced runs): name -> unit
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_cpu_ms": "ms",
}

#: spans: one per call into a layer, reported as means per call
SPANS = (
    "pipeline.update_all",
    "pipeline.update_symbols",
    "pipeline.update_klines",
    "pipeline.update_klines_incremental",
    "pipeline.update_funding_rates",
    "pipeline.update_margin_rates",
    "pipeline.maintain",
    "storage.rollup.refresh",
    "storage.table.read_pruned",
    "engine.sql",
    "engine.plan",
    "engine.execute",
    "operators.graph.connected_components_lsss",
    "operators.graph.pagerank",
    "operators.neardup.minhash_lsh_pairs",
)
SPAN_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "driver_gap_s": "s",
}
#: standalone per-layer values: name -> unit
STANDALONE = {
    "pipeline.update_all.self_s": "s",
    "dialect.translate_ms": "ms",
    "dialect.translate_share": "ratio",
    "serve_sql.latest_bar.p50_ms": "ms",
    "serve_sql.hourly_ohlcv.p50_ms": "ms",
    "serve_sql.monthly_quantiles.p50_ms": "ms",
    "serve_sql.limit_by.p50_ms": "ms",
    "serve_sql.asof_funding.p50_ms": "ms",
    "serve_sql.rollup_daily.p50_ms": "ms",
    "serve_sql.query_p90_ms": "ms",
    "sources.pages": "count",
    "sources.rows": "count",
    "sources.page_fn_s": "s",
    "storage.table.files": "count",
    "storage.table.bytes_per_row": "B",
    "storage.table.versions_per_key": "ratio",
    "storage.zonemap.files_kept_frac": "ratio",
    "operators.graph.lsss_rounds": "count",
    "operators.graph.jobs_per_round": "count",
    "operators.neardup.pairs": "count",
    "operators.neardup.overflow_rows": "count",
    "checkpoints.persistent_rdds_after": "count",
    "tracing.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_UNITS.items()}
    units.update(STANDALONE)
    return units


def _pin_environment(run_dir: str) -> None:
    """CPU count, driver memory below the machine's RAM, and every scratch
    path inside the per-run directory. Must run before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    if ram_mb < 2 * DRIVER_MEM_MB:
        raise RuntimeError(f"{ram_mb} MB of RAM is too little for a {DRIVER_MEM_MB} MB driver")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_MB}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the short-lived JVM spark-submit launches to build its command line
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        # Python workers import the package and the seeded page source
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    time.tzset()
    tempfile.tempdir = tmp


def _start_spark(run_dir: str, trace: bool):
    from binance_etl_clickhouse_spark.session import get_spark

    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # JVM temp files (native-library extraction) in the run directory
        # and no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_confs=confs)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    forked have exited: the JVM quits when its stdin closes, the workers
    when the JVM is gone."""
    from perfbench.trace import tree_pids

    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in children):
        if time.monotonic() > deadline:
            for p in children:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            break
        time.sleep(0.1)


def end_to_end(run, peak_rss: int) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "op_cpu_ms": statistics.fmean(run.op_cpu_s) * 1000,
    }


def per_layer(run, spans: dict[str, dict[str, float]]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    values = dict.fromkeys(per_layer_units(), 0.0)
    for name, fields in spans.items():
        for f in SPAN_UNITS:
            values[f"{name}.{f}"] = fields[f]
    if "pipeline.update_all" in spans:
        values["pipeline.update_all.self_s"] = spans["pipeline.update_all"]["self_s"]
    values.update(run.layer)
    rounds = run.layer.get("operators.graph.lsss_rounds")
    if rounds:
        values["operators.graph.jobs_per_round"] = (
            spans["operators.graph.connected_components_lsss"]["jobs"] / rounds
        )
    values["tracing.overhead_frac"] = statistics.median(
        statistics.median(traced) / statistics.median(untraced) - 1.0
        for untraced, traced in run.samples.values()
        if untraced and traced
    )
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import binance_etl_clickhouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench-tmp", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    spark = None
    try:
        _pin_environment(run_dir)
        with trace.RssSampler() as rss:
            spark = _start_spark(run_dir, bool(args.trace))
            workloads.log("session started")
            run = workloads.Run(
                spark=spark,
                tracer=trace.Tracer(spark.sparkContext, bool(args.trace)),
                work_dir=run_dir,
                seed=args.seed,
                seconds=args.seconds,
            )
            workloads.WORKLOADS[args.workload](run)
        _stop_spark(spark)
        spark = None
        workloads.log("session stopped")
        if not run.op_cpu_s:
            print("perfbench: no operation completed", file=sys.stderr)
            return 1
        if args.trace:
            spans = trace.fold(run.tracer.spans, trace.read_event_log(os.path.join(run_dir, "eventlog")))
            values, units = per_layer(run, spans), per_layer_units()
        else:
            values, units = end_to_end(run, rss.peak), END_TO_END
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))


if __name__ == "__main__":
    sys.exit(main())
