"""Job budget and state invalidation of the incremental ingest cycle.

A steady cycle (incremental klines for both markets, funding rates, margin
rates, the daily rollup refresh) is bound by job count: every Spark job is a
scheduler round-trip, and the cycle's data is a few new bars. The symbol
dimensions and the resume watermarks are therefore kept on the driver,
keyed by their table's state token. These tests pin the cycle's job budget
and check that every write the cycle does not account for (a dimension
update, a delete, a backfill append) invalidates the cached state, so the
next stage fetches what a pipeline without any cached state would fetch.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from binance_etl_clickhouse_spark.operators.etl import clean_klines
from binance_etl_clickhouse_spark.pipeline import Pipeline, PipelineConfig
from binance_etl_clickhouse_spark.sources.fetcher import (
    FetchConfig,
    fetch_historical_klines,
    synthetic_page_fn,
)
from binance_etl_clickhouse_spark.storage import RollupTable

HOUR_MS = 3_600_000
START_MS = 1704067200000  # 2024-01-01


def _cfg() -> PipelineConfig:
    return PipelineConfig(
        intervals=["1h"],
        start_ms=START_MS,
        end_ms=START_MS + 99 * HOUR_MS,  # 100 hourly bars inclusive
        fetch_partitions=4,
        n_spot_symbols=4,
        n_perp_symbols=4,
    )


def _recording_page_fn(record_dir: str, outage_marker: str | None = None):
    """Synthetic pages that leave one ``<symbol>@<start_ms>`` file per page
    call; SYM000USDT raises while ``outage_marker`` exists. Closure state
    does not survive pickling to executor tasks, so both live on the
    (shared, local-mode) filesystem."""
    inner = synthetic_page_fn()

    def page(symbol, start, end, limit):
        import os

        if outage_marker and symbol == "SYM000USDT" and os.path.exists(outage_marker):
            raise ConnectionError("symbol outage")
        open(os.path.join(record_dir, f"{symbol}@{start}"), "w").close()
        return inner(symbol, start, end, limit)

    return page


def _fetched(record_dir: str) -> dict[str, int]:
    """Symbol -> start of its first page call since the last call; clears
    the record."""
    out: dict[str, int] = {}
    for name in os.listdir(record_dir):
        symbol, start = name.split("@")
        out[symbol] = min(int(start), out.get(symbol, int(start)))
        os.remove(os.path.join(record_dir, name))
    return out


def _pipeline(spark, tmp_path, name: str, **kw) -> tuple[Pipeline, str]:
    record = tmp_path / f"{name}_pages"
    record.mkdir()
    p = Pipeline(spark, str(tmp_path / name), _cfg(), page_fn=_recording_page_fn(str(record), **kw))
    return p, str(record)


def _snapshot(spark, p: Pipeline) -> set:
    return {
        tuple(r)
        for r in p.klines.read(spark)
        .select("symbol", "type", "interval", F.unix_millis("timestamp"), "close", "volume")
        .collect()
    }


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_steady_cycle_job_budget(spark, tmp_path):
    """A steady cycle runs at most 18 jobs (40 before the driver-side
    symbol snapshot, the watermark state file and the one-exchange rollup
    refresh): 4 per incremental klines stage, 3 each for funding and margin
    rates, 4 for the rollup refresh."""
    p = Pipeline(spark, str(tmp_path / "db"), _cfg())
    p.update_all()
    rows: list[int] = []

    def cycle():
        p.cfg.end_ms += HOUR_MS
        rows.append(p.update_klines_incremental("SPOT", "1h"))
        rows.append(p.update_klines_incremental("PERPETUAL", "1h"))
        p.update_funding_rates()
        p.update_margin_rates()
        p.klines_daily.refresh(spark)

    cycle()  # the first cycle after a backfill rebuilds the watermarks
    rows.clear()
    jobs = _jobs(spark, "steady-ingest-cycle", cycle)
    assert rows == [2, 4]  # one new bar per eligible symbol
    assert jobs <= 18, f"steady ingest cycle ran {jobs} jobs"


def test_symbol_dimension_changes_reach_next_stage(spark, tmp_path):
    p, record = _pipeline(spark, tmp_path, "db")
    p.update_symbols()
    p.update_klines_incremental("SPOT", "1h")
    assert set(_fetched(record)) == {"SYM000USDT", "SYM001USDT"}  # USDT/USDC quotes

    # a quote-asset flip rewrites the dimension: SYM002 now passes, SYM001 not
    p.spot_symbols.update_where(spark, "symbol = 'SYM002USDT'", {"quote_asset": "'USDT'"})
    p.spot_symbols.update_where(spark, "symbol = 'SYM001USDT'", {"quote_asset": "'BTC'"})
    p.cfg.end_ms += HOUR_MS
    p.update_klines_incremental("SPOT", "1h")
    fetched = _fetched(record)
    assert set(fetched) == {"SYM000USDT", "SYM002USDT"}
    assert fetched["SYM002USDT"] == START_MS  # no bars yet: from the start
    assert fetched["SYM000USDT"] == START_MS + 99 * HOUR_MS + 1  # last bar + 1 ms

    # a fresh listing with more symbols restores the listed quotes
    # (USDT/USDC for i % 4 in {0, 1}) and adds SYM004 and SYM005
    p.cfg.n_spot_symbols = 6
    p.update_symbols()
    p.cfg.end_ms += HOUR_MS
    p.update_klines_incremental("SPOT", "1h")
    assert _fetched(record) == {
        "SYM000USDT": START_MS + 100 * HOUR_MS + 1,
        "SYM001USDT": START_MS + 99 * HOUR_MS + 1,  # picks up the bars it missed
        "SYM004USDT": START_MS,
        "SYM005USDT": START_MS,
    }


def _backfill_bars(spark, symbol: str, start_ms: int, end_ms: int):
    symbols = spark.createDataFrame([(symbol,)], "symbol string")
    raw = fetch_historical_klines(
        symbols, synthetic_page_fn(), start_ms, end_ms, FetchConfig(interval="1h"), 1
    )
    return clean_klines(raw.drop("fetch_error"), market_type="SPOT", interval="1h")


def test_table_rewrites_invalidate_watermarks(spark, tmp_path):
    """A delete of a symbol's newest bars and a backfill append past its
    watermark both change the klines table's token: the next incremental
    stage re-fetches exactly what a pipeline without a state file fetches,
    and the snapshots agree."""
    twins = [_pipeline(spark, tmp_path, name) for name in ("kept", "dropped")]

    def step(fn):
        out = []
        for i, (p, record) in enumerate(twins):
            fn(p)
            if i == 1 and os.path.exists(p.watermarks.path):
                os.remove(p.watermarks.path)  # the twin never has state
            p.update_klines_incremental("SPOT", "1h")
            out.append((_fetched(record), _snapshot(spark, p)))
        assert out[0] == out[1]
        return out[0][0]

    step(lambda p: p.update_symbols())
    cut = START_MS + 89 * HOUR_MS
    fetched = step(
        lambda p: p.klines.delete_where(
            spark,
            (F.col("symbol") == "SYM000USDT") & (F.unix_millis("timestamp") > cut),
        )
    )
    assert fetched == {"SYM000USDT": cut + 1}  # SYM001 is up to date: no page call
    last = START_MS + 99 * HOUR_MS

    def backfill(p):
        # five bars past SYM000's watermark arrive out of band
        p.cfg.end_ms += 10 * HOUR_MS
        bars = _backfill_bars(spark, "SYM000USDT", last + HOUR_MS, last + 5 * HOUR_MS)
        p.klines.append(bars, p._next_seq(p.klines))

    fetched = step(backfill)
    assert fetched == {"SYM000USDT": last + 5 * HOUR_MS + 1, "SYM001USDT": last + 1}
    assert len(_snapshot(spark, twins[0][0])) == 2 * 110


def test_failed_symbol_keeps_its_watermark(spark, tmp_path):
    marker = str(tmp_path / "outage_on")
    p, record = _pipeline(spark, tmp_path, "db", outage_marker=marker)
    p.update_symbols()
    p.update_klines_incremental("SPOT", "1h")
    key = "SPOT|1h|SYM000USDT"
    last = START_MS + 99 * HOUR_MS
    assert p._resume_watermarks()[key] == last

    open(marker, "w").close()
    p.cfg.end_ms += 5 * HOUR_MS
    assert p.update_klines_incremental("SPOT", "1h") == 5  # SYM001 only
    state = p.watermarks.load(p.klines.state_token(spark))
    assert state is not None, "a successful append rewrites the state file"
    assert state[key] == last
    assert state["SPOT|1h|SYM001USDT"] == last + 5 * HOUR_MS

    os.remove(marker)
    _fetched(record)
    assert p.update_klines_incremental("SPOT", "1h") == 5  # SYM000 catches up
    assert _fetched(record) == {"SYM000USDT": last + 1}
    assert len(_snapshot(spark, p)) == 2 * 105


def test_rollup_refresh_plans_one_exchange(spark, tmp_path, monkeypatch):
    """Group columns that are source keys: the keep-last window and the
    daily aggregate share one exchange and the write adds none. Group
    columns outside the keys keep the three-exchange shape."""
    p = Pipeline(spark, str(tmp_path / "db"), _cfg())
    p.update_symbols()
    p.update_klines_incremental("SPOT", "1h")
    plans: list[str] = []
    write = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    assert p.klines_daily.refresh(spark) == [202401]
    by_exchange = RollupTable(
        path=str(tmp_path / "by_exchange"),
        source=p.klines,
        granularity="day",
        group_cols=["exchange"],
        aggs=lambda: [F.count(F.lit(1)).alias("n_bars")],
    )
    assert by_exchange.refresh(spark) == [202401]
    assert [plan.count("Exchange ") for plan in plans] == [1, 3]
    assert "hashpartitioning(symbol" in plans[0]
