"""End-to-end pipeline tests: fetch -> clean -> versioned append -> dedup
snapshot, progress-skip idempotence, rates coercion, run logging."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.pipeline import Pipeline, PipelineConfig
from binance_etl_clickhouse_spark.sources.fetcher import (
    FetchConfig,
    fetch_historical_klines,
    paginate_symbol,
    synthetic_page_fn,
)
from binance_etl_clickhouse_spark.sources.ratelimit import TokenBucket


def _cfg() -> PipelineConfig:
    return PipelineConfig(
        intervals=["1h"],
        start_ms=1704067200000,  # 2024-01-01
        end_ms=1704067200000 + 99 * 3_600_000,  # 100 hourly bars inclusive
        fetch_partitions=4,
        n_spot_symbols=4,
        n_perp_symbols=4,
    )


def test_paginate_symbol_watermark_loop():
    cfg = FetchConfig(interval="1h", page_limit=30)
    pages = list(
        paginate_symbol(
            "SYM001USDT",
            1704067200000,
            1704067200000 + 99 * 3_600_000,
            synthetic_page_fn(),
            cfg,
        )
    )
    # 100 bars in pages of 30 -> 4 pages (30+30+30+10), watermark advances
    assert [len(p) for p in pages] == [30, 30, 30, 10]
    assert [int(p["src_order"].iloc[0]) for p in pages] == [0, 1, 2, 3]
    first_ts = [int(p["timestamp"].iloc[0]) for p in pages]
    assert first_ts == sorted(first_ts)


def test_fetch_historical_klines_distributed(spark):
    symbols = spark.createDataFrame([("SYM000USDT",), ("SYM001USDT",)], ["symbol"])
    cfg = FetchConfig(interval="1h", page_limit=1000)
    raw = fetch_historical_klines(
        symbols, synthetic_page_fn(), 1704067200000, 1704067200000 + 49 * 3_600_000, cfg, 2
    )
    assert raw.count() == 2 * 50
    assert raw.select("symbol").distinct().count() == 2


def test_delivery_date_caps_fetch_range(spark):
    # delivered symbol stops at its delivery date (least(end, delivery_date))
    cap_ms = 1704067200000 + 9 * 3_600_000
    symbols = spark.createDataFrame(
        [("SYM000USDT", cap_ms), ("SYM001USDT", None)],
        "symbol string, delivery_date_ms long",
    )
    cfg = FetchConfig(interval="1h")
    raw = fetch_historical_klines(
        symbols, synthetic_page_fn(), 1704067200000, 1704067200000 + 49 * 3_600_000, cfg, 2
    )
    counts = {r.symbol: r["count"] for r in raw.groupBy("symbol").count().collect()}
    assert counts == {"SYM000USDT": 10, "SYM001USDT": 50}


def test_token_bucket_throttles():
    t = [0.0]
    slept = []
    bucket = TokenBucket(2, 1.0, clock=lambda: t[0], sleeper=lambda s: (slept.append(s), t.__setitem__(0, t[0] + s)))
    bucket.acquire()
    bucket.acquire()
    bucket.acquire()  # third call must wait ~0.5s for a token
    assert slept and abs(sum(slept) - 0.5) < 1e-6


def test_token_bucket_weight_above_capacity_terminates():
    # weight_per_call=2 against a budget_calls//n_partitions == 1 bucket
    # used to spin forever (tokens cap at capacity < n); now the burst size
    # widens to the weight while the refill rate keeps honoring the budget
    t = [0.0]
    slept = []
    bucket = TokenBucket(
        1, 1.0, clock=lambda: t[0], sleeper=lambda s: (slept.append(s), t.__setitem__(0, t[0] + s))
    )
    bucket.acquire(2)  # must not hang
    assert abs(sum(slept) - 1.0) < 1e-6  # waited for the 2nd token at 1 tok/s
    bucket.acquire(2)
    assert abs(sum(slept) - 3.0) < 1e-6  # long-run rate still 1 token/sec


def test_update_klines_job_count_constant(spark, tmp_path):
    """The ingest stage runs a FIXED number of Spark jobs — none of them a
    table-size-dependent re-scan. (r1 re-counted the serving table after
    every ingest; the count now rides the write job via observe(), and
    version sequencing reads the O(1) _seq.json sidecar.)"""
    p = Pipeline(spark, str(tmp_path / "db"), _cfg())
    p.update_symbols()
    sc = spark.sparkContext

    sc.setJobGroup("uk1", "first ingest")
    n1 = p.update_klines("SPOT", "1h")
    jobs1 = len(sc.statusTracker().getJobIdsForGroup("uk1"))

    sc.setJobGroup("uk2", "second ingest, table now exists")
    n2 = p.update_klines("PERPETUAL", "1h")
    jobs2 = len(sc.statusTracker().getJobIdsForGroup("uk2"))
    sc.setJobGroup(None, None)

    assert n1 > 0 and n2 > 0
    assert jobs2 == jobs1  # growing table must not add jobs
    assert jobs1 <= 14  # measured constant; a re-scan regression adds jobs


def test_update_all_end_to_end(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "db"), _cfg())
    counts = p.update_all()
    # only quote_asset USDT/USDC symbols pass the P5 filter: i%4 in {0,1} -> 2 of 4
    assert counts["spot_klines_1h"] == 2 * 100
    assert counts["perp_klines_1h"] > 0
    assert counts["funding_rates"] > 0
    assert counts["margin_rates"] > 0

    snap = p.klines.read(spark)
    spot = snap.filter(F.col("type") == "SPOT")
    assert spot.count() == 2 * 100
    # funding rates: unparseable strings coerced to 0, never null (F4)
    fr = p.funding_rates.read(spark)
    assert fr.filter(F.col("fundingRate").isNull()).count() == 0
    assert fr.filter(F.col("markPrice") == 0.0).count() > 0
    # run log captured
    logs = spark.read.parquet(p.logs_path)
    assert logs.filter(F.col("status") == "success").count() == 1
    # continuous aggregate refreshed as part of the run and consistent
    assert counts["klines_daily_months"] > 0
    daily = p.klines_daily.read(spark)
    spot_daily = daily.filter(F.col("type") == "SPOT")
    assert spot_daily.agg(F.sum("n_bars")).collect()[0][0] == 2 * 100
    assert (
        spot_daily.agg(F.round(F.sum("volume"), 4)).collect()[0][0]
        == spot.agg(F.round(F.sum("volume"), 4)).collect()[0][0]
    )


def test_rerun_skips_completed_symbols(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "db"), _cfg())
    p.update_all()
    rows_after_first = p.klines.read_raw(spark).count()
    # second run: all symbols in progress tables -> no new kline versions
    p.update_all()
    assert p.klines.read_raw(spark).count() == rows_after_first
    # but the dedup snapshot is unchanged and correct
    assert p.klines.read(spark).filter(F.col("type") == "SPOT").count() == 2 * 100


def test_incremental_update_fetches_only_delta(spark, tmp_path):
    cfg = _cfg()
    p = Pipeline(spark, str(tmp_path / "db"), cfg)
    p.update_all()
    raw_before = p.klines.read_raw(spark).count()

    # time advances: 20 more hourly bars become available
    cfg.end_ms += 20 * 3_600_000
    n = p.update_klines_incremental("SPOT", "1h")
    # 2 eligible spot symbols x 20 new bars — no full-range refetch
    assert n == 2 * 20
    assert p.klines.read_raw(spark).count() == raw_before + 2 * 20
    snap = p.klines.read(spark).filter(F.col("type") == "SPOT")
    assert snap.count() == 2 * 120
    # re-running with no new data appends nothing
    assert p.update_klines_incremental("SPOT", "1h") == 0
    assert p.klines.read_raw(spark).count() == raw_before + 2 * 20


def test_shard_symbol_ranges_bounds_fetch(spark):
    from binance_etl_clickhouse_spark.sources.fetcher import (
        FetchConfig,
        fetch_historical_klines,
        shard_symbol_ranges,
        synthetic_page_fn,
    )

    symbols = spark.createDataFrame([("SYM000USDT",)], ["symbol"])
    start, end = 1704067200000, 1704067200000 + 99 * 3_600_000
    shards = shard_symbol_ranges(symbols, start, end, max_range_ms=25 * 3_600_000)
    assert shards.count() == 4  # 100h split into 4 sub-ranges
    raw = fetch_historical_klines(
        shards, synthetic_page_fn(), start, end, FetchConfig(interval="1h"), 2
    )
    # sharded fetch covers exactly the full range, no dup bars
    assert raw.count() == 100
    assert raw.select("timestamp").distinct().count() == 100


def test_failed_symbols_reported_and_retried(spark, tmp_path):
    """One symbol's fetch failure must not kill the batch (reference
    :408-410): others load, the failure is logged, and the failed symbol
    stays pending so the next run retries it."""
    from binance_etl_clickhouse_spark.sources.fetcher import synthetic_page_fn

    inner = synthetic_page_fn()
    # closure state doesn't survive pickling to executor tasks, so the
    # outage switch lives on the (shared, local-mode) filesystem
    marker = str(tmp_path / "outage_on")
    open(marker, "w").close()

    def flaky(symbol, start, end, limit):
        import os

        if symbol == "SYM000USDT" and os.path.exists(marker):
            raise ConnectionError("symbol outage")
        return inner(symbol, start, end, limit)

    cfg = _cfg()
    p = Pipeline(spark, str(tmp_path / "db"), cfg, page_fn=flaky)
    p.update_symbols()
    p.update_klines("SPOT", "1h")
    # SYM001USDT loaded, SYM000USDT failed but didn't kill the job
    snap = p.klines.read(spark)
    assert snap.filter(F.col("symbol") == "SYM001USDT").count() == 100
    assert snap.filter(F.col("symbol") == "SYM000USDT").count() == 0
    assert [s for s, _ in p.last_failed_symbols] == ["SYM000USDT"]
    logs = spark.read.parquet(p.logs_path)
    assert logs.filter(F.col("status") == "partial").count() == 1

    # run 2: the outage is over; only the failed symbol is pending
    import os

    os.remove(marker)
    p.update_klines("SPOT", "1h")
    assert p.klines.read(spark).filter(F.col("symbol") == "SYM000USDT").count() == 100
    assert p.last_failed_symbols == []


def test_maintain_compacts_fragmented_months_and_expires(spark, tmp_path):
    """The background-merges pass: repeated ingests fragment month dirs;
    maintain() compacts exactly the fragmented months, read results are
    unchanged, and retention trims months behind the newest ingest."""
    p = Pipeline(spark, str(tmp_path / "wh"), PipelineConfig(intervals=["1h"]))
    p.update_all()
    # re-append the current snapshot twice (a re-fetch shape the watermark
    # would normally skip) so every month dir accumulates version files
    snap = p.klines.read(spark).localCheckpoint(eager=True)
    p.klines.append(snap.drop("ingest_seq", "month"), p._next_seq(p.klines))
    p.klines.append(snap.drop("ingest_seq", "month"), p._next_seq(p.klines))
    frag = p.klines.fragmented_months(min_files=3)
    assert frag, "repeated re-ingest must fragment every month"
    before = p.klines.read(spark).count()

    report = p.maintain(min_files=3)
    assert report["bn_klines_compacted_months"] == frag
    assert p.klines.read(spark).count() == before
    assert p.klines.fragmented_months(min_files=3) == []

    # retention: keep only the newest month (0 months behind newest)
    months = sorted(
        int(d.split("=")[1])
        for d in os.listdir(p.klines.path)
        if d.startswith("month=")
    )
    if len(months) > 1:
        report2 = p.maintain(min_files=3, retention_months=0)
        left = sorted(
            int(d.split("=")[1])
            for d in os.listdir(p.klines.path)
            if d.startswith("month=")
        )
        assert left == months[-1:]
        assert report2["bn_klines_expired_months"] == months[:-1]


def test_maintain_refreshes_token_bloom_after_compaction(spark, tmp_path):
    """A table carrying a token-bloom sidecar (here: per-file SYMBOL
    membership — symbols are single whitespace tokens) gets the index
    rebuilt by maintain() after compaction rewrites every file, so
    hasToken-style pruning keeps working instead of silently falling back."""
    from binance_etl_clickhouse_spark.storage import tokenbloom as tb

    p = Pipeline(spark, str(tmp_path / "wh"), PipelineConfig(intervals=["1h"]))
    p.update_all()
    snap = p.klines.read(spark).localCheckpoint(eager=True)
    p.klines.append(snap.drop("ingest_seq", "month"), p._next_seq(p.klines))
    p.klines.append(snap.drop("ingest_seq", "month"), p._next_seq(p.klines))
    tb.build_token_bloom(spark, p.klines.path, text_col="symbol")
    sym = snap.select("symbol").first().symbol

    report = p.maintain(min_files=3)
    assert report.get("bn_klines_tokenbloom_rebuilt") is True
    idx = tb.read_token_bloom(p.klines.path)
    pruned = tb.prune_files_with_token(idx, p.klines.path, sym)
    assert pruned is not None, "rebuilt sidecar must be fresh (no fallback)"
    got = tb.read_containing(spark, p.klines.path, sym, text_col="symbol")
    want = p.klines.read_raw(spark).filter(F.col("symbol") == sym)
    assert got.count() == want.count() > 0


def test_shard_ranges_keep_boundary_bar_on_even_division(spark):
    """(end - start) an exact multiple of max_range_ms: the inclusive-span
    ceil must still produce a shard covering the bar AT end_ms — the
    exclusive-span version silently dropped that boundary bar."""
    from binance_etl_clickhouse_spark.sources.fetcher import (
        FetchConfig,
        fetch_historical_klines,
        shard_symbol_ranges,
        synthetic_page_fn,
    )

    symbols = spark.createDataFrame([("SYM000USDT",)], ["symbol"])
    start = 1704067200000
    end = start + 2 * 3_600_000  # exactly 2x the shard width -> 3 bars
    shards = shard_symbol_ranges(symbols, start, end, max_range_ms=3_600_000)
    rows = sorted(
        (r.start_ms, r.delivery_date_ms) for r in shards.collect()
    )
    assert rows[-1][1] == end  # last shard reaches end_ms inclusive
    raw = fetch_historical_klines(
        shards, synthetic_page_fn(), start, end, FetchConfig(interval="1h"), 2
    )
    assert raw.count() == 3  # bars at start, +1h, +2h — boundary included


def test_retry_no_dead_sleep_after_final_attempt(monkeypatch):
    """All attempts failing: backoff sleeps between attempts only —
    max_retries-1 sleeps, not max_retries (no dead sleep before raising)."""
    import pytest

    from binance_etl_clickhouse_spark.sources import fetcher

    sleeps: list[float] = []
    monkeypatch.setattr(fetcher.time, "sleep", sleeps.append)

    def bad_page(symbol, start, end, limit):
        raise RuntimeError("down")

    with pytest.raises(RuntimeError, match="after 3 tries"):
        fetcher._with_retry(
            bad_page, "S", 0, 1, fetcher.FetchConfig(max_retries=3, backoff_base_s=0.5)
        )
    assert sleeps == [0.5, 1.0]


def test_log_run_row_reads_back(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "db"), _cfg())
    p.log_run("partial", "2 symbols failed for SPOT/1h: SYM000USDT, SYM001USDT")
    p.log_run("success", "update_all finished in 1.0s")
    rows = spark.read.parquet(p.logs_path).orderBy("timestamp", "status").collect()
    assert sorted((r.status, r.comment) for r in rows) == [
        ("partial", "2 symbols failed for SPOT/1h: SYM000USDT, SYM001USDT"),
        ("success", "update_all finished in 1.0s"),
    ]
    assert all(r.timestamp is not None for r in rows)
