"""Deterministic synthetic Binance-shaped sources (test/default adapter).

The reference's sources are REST endpoints (SURVEY.md S1-S6); for hermetic
tests and benchmarks this module generates the same *shapes* — exchange-info
symbol dimensions and raw 12-field kline pages — Spark-natively via
``spark.range`` so generation itself distributes (no driver-side pandas, no
collect). Determinism comes from arithmetic on the row id, not RNG state.

Overlap semantics: ``overlap_bars`` re-emits the tail of each symbol's range
with a higher ``src_order`` and perturbed values — modelling the reference's
overlapping re-fetch pages whose duplicates must be resolved keep-last
(crypto_data_pipeline_clickhouse.py:293).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INTERVAL_MS = {"1m": 60_000, "5m": 300_000, "1h": 3_600_000, "1d": 86_400_000}

_QUOTE_ASSETS = ["USDT", "USDC", "BTC", "ETH"]


def _symbol_name(i: F.Column) -> F.Column:
    return F.concat(F.lit("SYM"), F.lpad(i.cast("string"), 3, "0"), F.lit("USDT"))


def synthetic_spot_symbols(spark: SparkSession, n: int = 20) -> DataFrame:
    """Spot symbol dimension ≙ get_spot_symbols() (reference :110-147)."""
    r = spark.range(n).withColumnRenamed("id", "i")
    quote = F.element_at(F.array(*[F.lit(q) for q in _QUOTE_ASSETS]), (F.col("i") % 4 + 1).cast("int"))
    return r.select(
        _symbol_name(F.col("i")).alias("symbol"),
        F.concat(F.lit("BASE"), F.col("i").cast("string")).alias("base_asset"),
        quote.alias("quote_asset"),
        F.lit("binance").alias("exchange"),
        F.lit("SPOT").alias("type"),
        F.lit("TRADING").alias("status"),
        F.lit(1).alias("is_spot_trading_allowed"),
        (F.col("i") % 2).cast("int").alias("is_margin_trading_allowed"),
        F.lit(8).alias("base_precision"),
        F.lit(8).alias("quote_precision"),
        (F.col("i") * 0.001 + 0.01).alias("min_price"),
        (F.col("i") * 1000.0 + 100000.0).alias("max_price"),
        F.lit(0.01).alias("tick_size"),
        F.lit(0.001).alias("min_qty"),
        F.lit(10000.0).alias("max_qty"),
        F.lit(0.001).alias("step_size"),
    )


def synthetic_perp_symbols(
    spark: SparkSession, n: int = 12, delivered_every: int = 5
) -> DataFrame:
    """Perp symbol dimension ≙ get_um_perpetual_symbols() (reference :149-188).

    Every ``delivered_every``-th symbol gets a near-term delivery_date so the
    range predicate (P4) and the least(end, delivery_date) bound (F9) have
    rows on both sides of any cutoff.
    """
    r = spark.range(n).withColumnRenamed("id", "i")
    delivered = (F.col("i") % delivered_every) == 0
    return r.select(
        _symbol_name(F.col("i")).alias("symbol"),
        F.concat(F.lit("BASE"), F.col("i").cast("string")).alias("base_asset"),
        F.lit("USDT").alias("quote_asset"),
        F.lit("USDT").alias("margin_asset"),
        F.lit("binance").alias("exchange"),
        F.lit("PERPETUAL").alias("type"),
        F.when(F.col("i") % 3 == 0, F.lit("PoW,Layer-1"))
        .otherwise(F.lit("DeFi"))
        .alias("underlyingSubType"),
        F.lit("TRADING").alias("status"),
        F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("onboard_date"),
        F.when(delivered, F.to_timestamp(F.lit("2024-02-15 00:00:00")))
        .otherwise(F.to_timestamp(F.lit("2100-12-25 00:00:00")))
        .alias("delivery_date"),
        F.lit(2).alias("price_precision"),
        F.lit(3).alias("quantity_precision"),
        F.lit(0.01).alias("min_price"),
        F.lit(100000.0).alias("max_price"),
        F.lit(0.01).alias("tick_size"),
        F.lit(0.001).alias("min_qty"),
        F.lit(10000.0).alias("max_qty"),
        F.lit(0.001).alias("step_size"),
    )


def synthetic_klines_raw(
    spark: SparkSession,
    n_symbols: int = 8,
    bars_per_symbol: int = 2000,
    interval: str = "1h",
    start_ms: int = 1704067200000,  # 2024-01-01 UTC
    overlap_bars: int = 50,
) -> DataFrame:
    """Raw kline pages: 12 string/ms fields per bar (reference :238-242 shape)
    + ``symbol`` + ``src_order`` (page arrival order).

    The tail ``overlap_bars`` of every symbol appears twice: once from the
    "first fetch" (src_order=0, stale values) and once from the "re-fetch"
    (src_order=1, current values). Keep-last must pick src_order=1.
    """
    step = INTERVAL_MS[interval]
    n = n_symbols * bars_per_symbol
    base = (
        spark.range(n)
        .select(
            (F.col("id") % n_symbols).alias("sym_i"),
            (F.col("id") / n_symbols).cast("long").alias("bar_i"),
        )
        .withColumn("src_order", F.lit(0))
    )
    overlap = (
        spark.range(n_symbols * overlap_bars)
        .select(
            (F.col("id") % n_symbols).alias("sym_i"),
            (F.col("id") / n_symbols).cast("long").alias("ov_i"),
        )
        .withColumn("bar_i", F.lit(bars_per_symbol - overlap_bars) + F.col("ov_i"))
        .drop("ov_i")
        .withColumn("src_order", F.lit(1))
    )
    rows = base.unionByName(overlap)

    ts = F.lit(start_ms) + F.col("bar_i") * step
    # deterministic price walk; re-fetched rows (src_order=1) differ slightly
    px = (
        100.0
        + F.col("sym_i") * 10.0
        + F.sin(F.col("bar_i") / 20.0) * 5.0
        + F.col("src_order") * 0.5
    )
    vol = 1000.0 + (F.col("bar_i") % 100) * 7.0 + F.col("src_order") * 10.0
    return rows.select(
        _symbol_name(F.col("sym_i")).alias("symbol"),
        F.col("src_order"),
        ts.alias("timestamp"),
        F.format_string("%.8f", px).alias("open"),
        F.format_string("%.8f", px * 1.01).alias("high"),
        F.format_string("%.8f", px * 0.99).alias("low"),
        F.format_string("%.8f", px * 1.005).alias("close"),
        F.format_string("%.8f", vol).alias("volume"),
        (ts + step - 1).alias("close_time"),
        F.format_string("%.8f", vol * px).alias("quote_volume"),
        (F.col("bar_i") % 500 + 1).alias("trades_count"),
        F.format_string("%.8f", vol * 0.4).alias("taker_buy_volume"),
        F.format_string("%.8f", vol * px * 0.4).alias("taker_buy_quote_volume"),
        F.lit("0").alias("ignore"),
    )


def synthetic_funding_raw(
    spark: SparkSession,
    n_symbols: int = 6,
    n_periods: int = 180,  # 8-hourly grid -> 60 days
    start_ms: int = 1704067200000,
    overlap: int = 10,
) -> DataFrame:
    """Raw funding-rate pages ≙ additional_data.py:59-91 output shape.

    fundingRate/markPrice are strings; every 7th fundingRate and every 11th
    markPrice is unparseable/blank to pin the coerce-to-0 semantic (F4,
    additional_data.py:118-119). The overlap tail re-arrives with
    src_order=1 for keep-last.
    """
    step = 8 * 3_600_000
    n = n_symbols * n_periods
    base = spark.range(n).select(
        (F.col("id") % n_symbols).alias("sym_i"),
        (F.col("id") / n_symbols).cast("long").alias("p_i"),
        F.lit(0).alias("src_order"),
    )
    tail = spark.range(n_symbols * overlap).select(
        (F.col("id") % n_symbols).alias("sym_i"),
        (F.lit(n_periods - overlap) + (F.col("id") / n_symbols).cast("long")).alias("p_i"),
        F.lit(1).alias("src_order"),
    )
    rows = base.unionByName(tail)
    rate = (F.col("p_i") % 19).cast("double") / 10000.0 - 0.0005 + F.col("src_order") * 0.0001
    mark = 100.0 + F.col("sym_i") * 10.0 + (F.col("p_i") % 50).cast("double") / 10.0
    return rows.select(
        _symbol_name(F.col("sym_i")).alias("symbol"),
        F.col("src_order"),
        (F.lit(start_ms) + F.col("p_i") * step).alias("fundingTime"),
        F.when(F.col("p_i") % 7 == 0, F.lit("not-a-number"))
        .otherwise(F.format_string("%.8f", rate))
        .alias("fundingRate"),
        F.when(F.col("p_i") % 11 == 0, F.lit(""))
        .otherwise(F.format_string("%.8f", mark))
        .alias("markPrice"),
    )


def synthetic_margin_raw(
    spark: SparkSession,
    n_assets: int = 5,
    n_days: int = 60,
    start_ms: int = 1704067200000,
) -> DataFrame:
    """Raw margin-rate pages ≙ additional_data.py:182-211 output shape."""
    step = 86_400_000
    rows = spark.range(n_assets * n_days).select(
        (F.col("id") % n_assets).alias("a_i"),
        (F.col("id") / n_assets).cast("long").alias("d_i"),
        F.lit(0).alias("src_order"),
    )
    rate = (F.col("d_i") % 13).cast("double") / 100000.0
    return rows.select(
        F.concat(F.lit("BASE"), F.col("a_i").cast("string")).alias("asset"),
        F.col("src_order"),
        (F.lit(start_ms) + F.col("d_i") * step).alias("timestamp"),
        F.when(F.col("d_i") % 9 == 0, F.lit("n/a"))
        .otherwise(F.format_string("%.8f", rate))
        .alias("dailyInterestRate"),
    )
