"""Pipeline orchestration — the reference's ``update_all`` DAG, Spark jobs.

Reference control flow (run_pipeline.py:19-57 -> update_all at
crypto_data_pipeline_clickhouse.py:722-737):

    init DDL -> update_symbols -> per interval: update_klines
             -> update_funding_rates -> update_margin_rates
    (+ run logged to pipeline_logs; loop with sleep / --once)

Each ``update_*`` is a declarative plan ending in one versioned append to a
serving table: symbol selection -> distributed paginated fetch
(mapInPandas) -> clean transforms -> write. Tables are ServingTable parquet
dirs under ``base_dir`` (≙ the ClickHouse database); DDL is implicit in
first write + the schemas module.

The small bookkeeping stays on the driver, as in the reference
(progress.json, the symbol lists, ``last_ts + 1`` resume): each symbol
dimension is collected once and reused until the table's state token
changes, and the incremental resume watermarks live in a JSON state file
(:class:`WatermarkState`). Spark jobs per stage of a steady incremental
cycle (AQE runs each shuffle stage as its own job):

| stage                              | jobs | what                                    |
|------------------------------------|------|-----------------------------------------|
| ``update_klines_incremental`` x 2  | 4    | fetch exchange, dedup, rebalance, write |
| ``update_funding_rates``           | 3    | dedup, rebalance, write                 |
| ``update_margin_rates``            | 3    | dedup, rebalance, write                 |
| ``klines_daily.refresh``           | 4    | schema, touched months, exchange, write |

A changed symbol dimension adds its keep-last collect (3 jobs) once; a
changed klines table (backfill, compaction, delete, expiry) adds the one
all-markets watermark scan (3 jobs) once. ``tests/test_ingest_cycle.py``
pins the 18-job cycle.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark import schemas
from binance_etl_clickhouse_spark.operators.etl import (
    clean_funding_rates,
    clean_klines,
    clean_margin_rates,
)
from binance_etl_clickhouse_spark.sources import synthetic
from binance_etl_clickhouse_spark.sources.fetcher import (
    FetchConfig,
    MaxPerKey,
    PageFn,
    fetch_historical_klines,
    synthetic_page_fn,
)
from binance_etl_clickhouse_spark.sources.synthetic import INTERVAL_MS
from binance_etl_clickhouse_spark.storage.rollup import RollupTable
from binance_etl_clickhouse_spark.storage.state import ProgressTable, WatermarkState
from binance_etl_clickhouse_spark.storage.table import ServingTable


#: F10 — legacy per-interval table-name suffixes (reference :560, :668);
#: kept only for importing/exporting data laid out the reference's way.
INTERVAL_TABLE_SUFFIX = {
    "1m": "1min", "5m": "5min", "15m": "15min", "30m": "30min",
    "1h": "1hour", "4h": "4hour", "1d": "1day",
}

#: symbol-dimension columns the stages read, per market (SQL expressions)
_DIM_COLS = {
    "SPOT": ("symbol", "quote_asset", "base_asset", "is_margin_trading_allowed"),
    "PERPETUAL": ("symbol", "unix_millis(delivery_date) AS delivery_date_ms"),
}
_FETCH_INPUT = "symbol string, delivery_date_ms long, start_ms long"


@dataclass
class PipelineConfig:
    """≙ config.json (reference :1-36): intervals, quote filter, workers."""

    intervals: list[str] = field(default_factory=lambda: ["1h"])
    quote_assets: list[str] = field(default_factory=lambda: ["USDT", "USDC"])
    start_ms: int = 1704067200000  # 2024-01-01
    end_ms: int = 1706745600000  # 2024-02-01
    fetch_partitions: int = 8
    n_spot_symbols: int = 8
    n_perp_symbols: int = 6

    @classmethod
    def from_json(cls, path: str) -> "PipelineConfig":
        """S9: config scan — accepts both this engine's field names and the
        reference's config.json keys (intervals / quote_assets)."""
        import json

        with open(path) as f:
            raw = json.load(f)
        known = {f_.name for f_ in __import__("dataclasses").fields(cls)}
        kw = {k: v for k, v in raw.items() if k in known}
        return cls(**kw)


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        config: PipelineConfig | None = None,
        page_fn: PageFn | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.cfg = config or PipelineConfig()
        self.page_fn = page_fn  # None -> synthetic backend per interval

        mk = lambda name, keys, time_col, sort: ServingTable(  # noqa: E731
            path=os.path.join(base_dir, name), keys=keys, time_col=time_col, sort_cols=sort
        )
        self.spot_symbols = mk("bn_spot_symbols", schemas.SPOT_SYMBOLS_PK, None, ["symbol"])
        self.perp_symbols = mk("bn_perp_symbols", schemas.PERP_SYMBOLS_PK, None, ["symbol"])
        self.klines = mk(
            "bn_klines", schemas.KLINES_PK, "timestamp", ["symbol", "type", "interval", "timestamp"]
        )
        self.funding_rates = mk(
            "bn_funding_rates",
            schemas.FUNDING_RATES_PK,
            "fundingTime",
            ["symbol", "fundingTime"],
        )
        self.margin_rates = mk(
            "bn_margin_rates", schemas.MARGIN_RATES_PK, "timestamp", ["asset", "timestamp"]
        )
        # continuous aggregate kept warm by update_all: daily OHLCV bars per
        # (symbol, market, source interval); refresh cost ∝ months touched
        # by the ingest just performed, not klines-table size
        self.klines_daily = RollupTable(
            path=os.path.join(base_dir, "bn_klines_daily"),
            source=self.klines,
            granularity="day",
            group_cols=["symbol", "type", "interval"],
            aggs=lambda: [
                F.min_by("open", "timestamp").alias("open"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max_by("close", "timestamp").alias("close"),
                F.sum("volume").alias("volume"),
                F.sum("trades_count").alias("trades_count"),
                F.count(F.lit(1)).alias("n_bars"),
            ],
        )
        self.logs_path = os.path.join(base_dir, "pipeline_logs")
        #: resume watermarks of the klines table (update_klines_incremental)
        self.watermarks = WatermarkState(os.path.join(base_dir, "_klines_watermarks.json"))
        #: market -> (dimension state token, snapshot rows); see _dim_rows
        self._dims: dict[str, tuple] = {}

    # -- sequencing -------------------------------------------------------

    def _next_seq(self, table: ServingTable) -> int:
        # O(1): the table maintains a _seq.json sidecar (falls back to one
        # footer-only max(ingest_seq) scan for pre-sidecar tables)
        return table.max_ingest_seq(self.spark) + 1

    # -- stages (≙ update_symbols :612-624, update_klines :661-692, ...) --

    def update_symbols(self) -> None:
        spot = synthetic.synthetic_spot_symbols(self.spark, self.cfg.n_spot_symbols)
        perp = synthetic.synthetic_perp_symbols(self.spark, self.cfg.n_perp_symbols)
        self.spot_symbols.append(spot, self._next_seq(self.spot_symbols))
        self.perp_symbols.append(perp, self._next_seq(self.perp_symbols))

    def _dim_rows(self, market_type: str) -> list:
        """The market's symbol-dimension snapshot (keep-last rows, only the
        ``_DIM_COLS`` columns), collected once and reused until the table's
        state token changes."""
        table = self.spot_symbols if market_type == "SPOT" else self.perp_symbols
        token = table.state_token(self.spark)
        cached = self._dims.get(market_type)
        if cached is None or cached[0] != token:
            rows = table.read(self.spark).selectExpr(*_DIM_COLS[market_type]).collect()
            cached = self._dims[market_type] = (token, rows)
        return cached[1]

    def _select_symbols(self, market_type: str) -> list[tuple[str, int | None]]:
        """Symbol predicates over the dimension snapshot (P4/P5, reference
        :324-336): ``(symbol, delivery_date_ms)`` pairs, the delivery date
        ``None`` for spot symbols. Same semantics as the SQL predicates: a
        NULL quote asset or delivery date never passes."""
        if market_type == "SPOT":
            quotes = set(self.cfg.quote_assets)
            return [
                (r.symbol, None)
                for r in self._dim_rows("SPOT")
                if r.quote_asset is not None and r.quote_asset in quotes
            ]
        return [
            (r.symbol, r.delivery_date_ms)
            for r in self._dim_rows("PERPETUAL")
            if r.delivery_date_ms is not None and r.delivery_date_ms >= self.cfg.start_ms
        ]

    def _fetch_input(
        self, symbols: list[tuple[str, int | None]], starts: list[int | None] | None = None
    ) -> DataFrame:
        """The fetch's symbol frame, built from pandas: Arrow turns it into a
        local relation on the driver, where a Python list would run Python
        worker tasks to serialize it."""
        pdf = pd.DataFrame({
            "symbol": [s for s, _ in symbols],
            "delivery_date_ms": pd.array([d for _, d in symbols], dtype="Int64"),
            "start_ms": pd.array(starts or [None] * len(symbols), dtype="Int64"),
        })
        return self.spark.createDataFrame(pdf, _FETCH_INPUT)

    def _fetch(
        self,
        symbols: DataFrame,
        n_symbols: int,
        market_type: str,
        interval: str,
        last_bar: Accumulator | None = None,
    ) -> DataFrame:
        cfg = self.cfg
        fetch_cfg = FetchConfig(
            interval=interval,
            page_limit=1000 if market_type == "SPOT" else 499,
            budget_calls=2750 if market_type == "SPOT" else 1150,
        )
        page_fn = self.page_fn or synthetic_page_fn(
            interval_ms=INTERVAL_MS[interval], origin_ms=cfg.start_ms
        )
        # one fetch task per symbol at most: a Python task costs its start-up
        # CPU even when its partition is empty
        n_partitions = min(cfg.fetch_partitions, n_symbols)
        return fetch_historical_klines(
            symbols, page_fn, cfg.start_ms, cfg.end_ms, fetch_cfg, n_partitions, last_bar
        )

    def update_klines(self, market_type: str, interval: str) -> int:
        progress = ProgressTable(
            os.path.join(self.base_dir, f"progress_klines_{market_type}_{interval}")
        )
        symbols = self._select_symbols(market_type)
        if not symbols:
            return 0
        pending = progress.pending(self._fetch_input(symbols), self.spark)
        if pending.isEmpty():
            return 0
        # one fetch, consumed twice (data + failed symbols)
        raw = self._fetch(pending, len(symbols), market_type, interval).cache()
        try:
            failed = [
                (r.symbol, r.fetch_error)
                for r in raw.filter(F.col("fetch_error").isNotNull())
                .select("symbol", "fetch_error")
                .collect()
            ]
            ok_raw = raw.filter(F.col("fetch_error").isNull()).drop("fetch_error")

            obs = Observation(f"ingest_{market_type}_{interval}")
            cleaned = clean_klines(ok_raw, market_type=market_type, interval=interval).observe(
                # DISTINCT aggs are disallowed in observed metrics -> HLL estimate
                obs, F.count(F.lit(1)).alias("rows"), F.approx_count_distinct("symbol").alias("symbols")
            )
            self.klines.append(cleaned, self._next_seq(self.klines))
            # A2: pipeline metrics ride the write job itself (no second scan)
            self.last_ingest_metrics = dict(obs.get)
        finally:
            raw.unpersist()

        # failed symbols stay OUT of progress so the next run retries them
        # (reference :349, :425-432: collect, report first 10, continue)
        self.last_failed_symbols = failed
        if failed:
            preview = ", ".join(s for s, _ in failed[:10])
            self.log_run(
                "partial",
                f"{len(failed)} symbols failed for {market_type}/{interval}: {preview}",
            )
            failed_df = self.spark.createDataFrame(
                pd.DataFrame({"symbol": [s for s, _ in failed]}), "symbol string"
            )
            done = pending.join(F.broadcast(failed_df), "symbol", "left_anti")
        else:
            done = pending
        progress.mark_done(done)
        # A2: the row count already rode the write job via observe() — no
        # second full-table scan per ingest
        return int(self.last_ingest_metrics.get("rows", 0))

    def _resume_watermarks(self) -> dict[str, int]:
        """Last written bar (ms) per ``type|interval|symbol`` of the klines
        table. Read from the state file while its token matches the table;
        otherwise one ``max(timestamp)`` scan over every market rebuilds it."""
        token = self.klines.state_token(self.spark)
        last_ms = self.watermarks.load(token)
        if last_ms is None:
            last_ms = {}
            if token is not None:
                rows = (
                    self.klines.read_raw(self.spark)
                    .groupBy("type", "interval", "symbol")
                    .agg(F.unix_millis(F.max("timestamp")).alias("last_ms"))
                    .collect()
                )
                last_ms = {
                    f"{r.type}|{r.interval}|{r.symbol}": int(r.last_ms)
                    for r in rows
                    if r.last_ms is not None
                }
            self.watermarks.save(token, last_ms)
        return last_ms

    def update_klines_incremental(self, market_type: str, interval: str) -> int:
        """T1 incremental resume: per-symbol fetch restarts at the serving
        table's watermark + 1 ms (≙ the reference's `last_ts + 1` pagination
        resume).

        Unlike the backfill path there is no progress gate — re-runs always
        top up the newest bars; overlap is absorbed by keep-last dedup
        (idempotent upsert, T4). Symbols with no data yet start from the
        configured start. The watermarks come from the state file; the fetch
        feeds a per-symbol max accumulator, and after the append succeeds the
        file is rewritten under the table's new token. A symbol that fails
        before its first page keeps its old watermark; one that fails later
        resumes after its last written bar.
        """
        symbols = self._select_symbols(market_type)
        if not symbols:
            return 0
        last_ms = self._resume_watermarks()
        prefix = f"{market_type}|{interval}|"
        starts = [
            last_ms[prefix + s] + 1 if prefix + s in last_ms else None for s, _ in symbols
        ]
        last_bar = self.spark.sparkContext.accumulator({}, MaxPerKey())
        raw = self._fetch(
            self._fetch_input(symbols, starts), len(symbols), market_type, interval,
            last_bar=last_bar,
        )
        raw = raw.filter(F.col("fetch_error").isNull()).drop("fetch_error")
        obs = Observation(f"incr_{market_type}_{interval}")
        cleaned = clean_klines(raw, market_type=market_type, interval=interval).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        # single evaluation: the fetch runs exactly once (the write job);
        # an empty delta writes no partition files, so the append is a no-op
        self.klines.append(cleaned, self._next_seq(self.klines))
        for symbol, ms in last_bar.value.items():
            key = prefix + symbol
            last_ms[key] = max(ms, last_ms.get(key, ms))
        self.watermarks.save(self.klines.state_token(self.spark), last_ms)
        return int(obs.get["rows"])

    def update_funding_rates(self) -> int:
        raw = synthetic.synthetic_funding_raw(
            self.spark, n_symbols=self.cfg.n_perp_symbols, start_ms=self.cfg.start_ms
        )
        # A2: the count rides the write job via observe() (same pattern as
        # update_klines) — a separate .count() would re-run the whole
        # generate+clean pipeline a second time
        obs = Observation("incr_funding")
        cleaned = clean_funding_rates(raw).observe(obs, F.count(F.lit(1)).alias("rows"))
        self.funding_rates.append(cleaned, self._next_seq(self.funding_rates))
        return int(obs.get["rows"])

    def update_margin_rates(self) -> int:
        # seeded by DISTINCT margin-enabled base assets (A1, additional_data:218-219)
        assets = sorted({
            r.base_asset
            for r in self._dim_rows("SPOT")
            if r.is_margin_trading_allowed == 1 and r.base_asset is not None
        })
        raw = synthetic.synthetic_margin_raw(self.spark, start_ms=self.cfg.start_ms)
        raw = raw.filter(F.col("asset").isin(assets))
        obs = Observation("incr_margin")
        cleaned = clean_margin_rates(raw).observe(obs, F.count(F.lit(1)).alias("rows"))
        self.margin_rates.append(cleaned, self._next_seq(self.margin_rates))
        return int(obs.get["rows"])

    # -- run loop (≙ run_pipeline.py:19-57, :83-96) -----------------------

    def log_run(self, status: str, comment: str) -> None:
        """K4: append one audit row (timestamp DEFAULT now())."""
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        row = self.spark.createDataFrame(
            pd.DataFrame({"timestamp": [now], "status": [status], "comment": [comment]}),
            schemas.PIPELINE_LOGS,
        )
        row.write.mode("append").parquet(self.logs_path)

    def update_all(self) -> dict[str, int]:
        t0 = time.monotonic()
        try:
            self.update_symbols()
            counts: dict[str, int] = {}
            for interval in self.cfg.intervals:
                counts[f"spot_klines_{interval}"] = self.update_klines("SPOT", interval)
                counts[f"perp_klines_{interval}"] = self.update_klines("PERPETUAL", interval)
            counts["funding_rates"] = self.update_funding_rates()
            counts["margin_rates"] = self.update_margin_rates()
            counts["klines_daily_months"] = len(self.klines_daily.refresh(self.spark))
        except Exception as e:
            self.log_run("failure", f"{type(e).__name__}: {e}")
            raise
        self.log_run("success", f"update_all finished in {time.monotonic() - t0:.1f}s")
        return counts

    def maintain(
        self,
        min_files: int = 16,
        retention_months: int | None = None,
    ) -> dict[str, object]:
        """Background-merges pass (≙ ClickHouse's merge/TTL threads, run on
        OUR schedule instead of a server's): for every serving table,
        selectively compact months fragmented past ``min_files``, refresh
        any zone-map sidecar over the new layout (compact_months already
        rebuilds it), and optionally expire months older than
        ``retention_months`` behind the newest ingested month (rollups keep
        their own longer retention — the classic raw-short/agg-long split).

        Each step is bounded: compaction touches only fragmented months,
        expiry is a filesystem metadata op, rollup refresh is ∝ months
        touched. Safe to run as often as ingest — a no-op pass costs one
        directory listing per table.
        """
        report: dict[str, object] = {}
        fact_tables = {
            "bn_klines": self.klines,
            "bn_funding_rates": self.funding_rates,
            "bn_margin_rates": self.margin_rates,
        }
        for name, table in fact_tables.items():
            if not table.exists():
                continue
            frag = table.fragmented_months(min_files=min_files)
            if frag:
                table.compact_months(self.spark, frag)
            report[f"{name}_compacted_months"] = frag
            # a compaction rewrites files, which strands any token-bloom
            # sidecar (staleness then falls back to full scans — correct but
            # pruning-less); refresh it here so hasToken reads keep pruning
            if frag:
                from binance_etl_clickhouse_spark.storage import tokenbloom as _tb

                idx = _tb.read_token_bloom(table.path)
                if idx is not None:
                    _tb.build_token_bloom(
                        self.spark, table.path, idx["text_col"], idx["m"], idx["k"]
                    )
                    report[f"{name}_tokenbloom_rebuilt"] = True
            if retention_months is not None:
                months = sorted(
                    int(d.split("=")[1])
                    for d in os.listdir(table.path)
                    if d.startswith("month=") and d.split("=")[1].isdigit()
                )
                if months:
                    newest = months[-1]
                    y, m = divmod(newest, 100)
                    total = y * 12 + (m - 1) - retention_months
                    cutoff = (total // 12) * 100 + (total % 12) + 1
                    report[f"{name}_expired_months"] = table.expire(cutoff)
        return report

    def run(self, once: bool = True, update_interval_s: float = 3600.0) -> None:
        """``--once`` vs scheduler loop (reference run_pipeline.py:83-105).

        The continuous mode is the batch twin of a Structured Streaming
        ``trigger(processingTime=...)``; streaming/jobs.py provides the
        stream-native version.

        ``--once`` propagates failures to the caller; the scheduler loop
        instead logs the failure and sleeps to the next cycle (reference
        run_pipeline.py:49-57, :92-96 — one transient error must not kill
        the long-running process; update_all already wrote the 'failure'
        audit row before re-raising).
        """
        while True:
            try:
                self.update_all()
            except Exception as e:  # noqa: BLE001 — scheduler-loop tolerance
                if once:
                    raise
                print(f"[pipeline] cycle failed, retrying next cycle: {e}")
            if once:
                return
            time.sleep(update_interval_s)


def main() -> None:  # pragma: no cover — thin CLI (≙ run_pipeline.py:99-105)
    import argparse

    from binance_etl_clickhouse_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Run the ETL pipeline")
    ap.add_argument("--base-dir", default="./spark_warehouse")
    ap.add_argument("--once", action="store_true", help="single run, then exit")
    ap.add_argument("--interval-seconds", type=float, default=3600.0)
    args = ap.parse_args()

    spark = get_spark(app_name="pipeline")
    Pipeline(spark, args.base_dir).run(
        once=args.once, update_interval_s=args.interval_seconds
    )


if __name__ == "__main__":  # pragma: no cover
    main()
