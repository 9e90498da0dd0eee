"""The reference's DDL surface runs VERBATIM (r7 verdict item 2).

Every CREATE the reference issues — the database, the six
ReplacingMergeTree serving tables (`app/src/crypto_data_pipeline_clickhouse
.py:537-608`, one spot + one perp klines table for the configured '1h'
interval), and run_pipeline.py:65-73's MergeTree log table — feeds through
``engine.sql(dialect="clickhouse")`` unchanged, provisions a ServingTable,
and round-trips inserted data with keep-last semantics. The queries the
reference then issues against those tables (:326-333,
additional_data.py:218-219) also run unchanged.
"""

from __future__ import annotations

import pandas as pd
import pytest

from binance_etl_clickhouse_spark.engine import AnalyticsEngine

DB = "binance_v2"

# -- the reference's schema constants, verbatim (crypto_data_pipeline_
# clickhouse.py:444-518) --------------------------------------------------
KLINES_SCHEMA = """
        symbol LowCardinality(String),
        exchange LowCardinality(String),
        type LowCardinality(String),
        interval LowCardinality(String),
        timestamp DateTime,
        close_time DateTime,
        open Float64,
        high Float64,
        low Float64,
        close Float64,
        volume Float64,
        quote_volume Float64,
        taker_buy_volume Float64,
        taker_buy_quote_volume Float64,
        trades_count UInt32
"""

SPOT_SYMBOLS_SCHEMA = """
        symbol LowCardinality(String),
        base_asset LowCardinality(String),
        quote_asset LowCardinality(String),
        exchange LowCardinality(String),
        type LowCardinality(String),
        status LowCardinality(String),
        is_spot_trading_allowed UInt8,
        is_margin_trading_allowed UInt8,
        base_precision Int32,
        quote_precision Int32,
        min_price Float64,
        max_price Float64,
        tick_size Float64,
        min_qty Float64,
        max_qty Float64,
        step_size Float64
"""

PERP_SYMBOLS_SCHEMA = """
        symbol LowCardinality(String),
        base_asset LowCardinality(String),
        quote_asset LowCardinality(String),
        margin_asset LowCardinality(String),
        exchange LowCardinality(String),
        type LowCardinality(String),
        underlyingSubType String,
        status LowCardinality(String),
        onboard_date DateTime,
        delivery_date DateTime,
        price_precision Int32,
        quantity_precision Int32,
        min_price Float64,
        max_price Float64,
        tick_size Float64,
        min_qty Float64,
        max_qty Float64,
        step_size Float64
"""

FUNDING_RATES_SCHEMA = """
        symbol LowCardinality(String),
        exchange LowCardinality(String),
        type LowCardinality(String),
        fundingTime DateTime,
        fundingRate Float64,
        markPrice Float64
"""

MARGIN_RATES_SCHEMA = """
        asset LowCardinality(String),
        exchange LowCardinality(String),
        type LowCardinality(String),
        timestamp DateTime,
        dailyInterestRate Float64,
        vipLevel Int32
"""


def _reference_ddl() -> list[str]:
    """The CREATEs `_initialize_database` + `log_run` issue, verbatim,
    for intervals=['1h'] (interval_safe = '1hour')."""
    ddl = [f"CREATE DATABASE IF NOT EXISTS {DB}"]
    ddl.append(f"""
            CREATE TABLE IF NOT EXISTS {DB}.bn_spot_symbols (
                {SPOT_SYMBOLS_SCHEMA}
            )
            ENGINE = ReplacingMergeTree()
            PRIMARY KEY (symbol, exchange)
            ORDER BY (symbol, exchange)
            SETTINGS index_granularity = 8192
        """)
    ddl.append(f"""
            CREATE TABLE IF NOT EXISTS {DB}.bn_perp_symbols (
                {PERP_SYMBOLS_SCHEMA}
            )
            ENGINE = ReplacingMergeTree()
            PRIMARY KEY (symbol, exchange)
            ORDER BY (symbol, exchange)
            SETTINGS index_granularity = 8192
        """)
    for market in ("spot", "perp"):
        ddl.append(f"""
                CREATE TABLE IF NOT EXISTS {DB}.bn_{market}_klines_1hour (
                    {KLINES_SCHEMA}
                )
                ENGINE = ReplacingMergeTree()
                PRIMARY KEY (symbol, interval, timestamp)
                ORDER BY (symbol, interval, timestamp)
                PARTITION BY toYYYYMM(timestamp)
                SETTINGS index_granularity = 8192
            """)
    ddl.append(f"""
            CREATE TABLE IF NOT EXISTS {DB}.bn_funding_rates (
                {FUNDING_RATES_SCHEMA}
            )
            ENGINE = ReplacingMergeTree()
            PRIMARY KEY (symbol, exchange, fundingTime)
            ORDER BY (symbol, exchange, fundingTime)
            PARTITION BY toYYYYMM(fundingTime)
            SETTINGS index_granularity = 8192
        """)
    ddl.append(f"""
            CREATE TABLE IF NOT EXISTS {DB}.bn_margin_rates (
                {MARGIN_RATES_SCHEMA}
            )
            ENGINE = ReplacingMergeTree()
            PRIMARY KEY (asset, exchange, timestamp)
            ORDER BY (asset, exchange, timestamp)
            PARTITION BY toYYYYMM(timestamp)
            SETTINGS index_granularity = 8192
        """)
    ddl.append(f"""
            CREATE TABLE IF NOT EXISTS {DB}.pipeline_logs (
                timestamp DateTime DEFAULT now(),
                status LowCardinality(String),
                comment String
            )
            ENGINE = MergeTree()
            ORDER BY timestamp
        """)
    return ddl


@pytest.fixture()
def engine(spark, tmp_path):
    eng = AnalyticsEngine(spark, verbose=False, ddl_root=str(tmp_path / "ddl"))
    for stmt in _reference_ddl():
        eng.sql(stmt, dialect="clickhouse")
    return eng


def test_all_reference_ddl_provisions(engine):
    cat = engine.ddl_catalog
    assert DB in cat.databases
    assert set(cat.tables) == {
        "bn_spot_symbols",
        "bn_perp_symbols",
        "bn_spot_klines_1hour",
        "bn_perp_klines_1hour",
        "bn_funding_rates",
        "bn_margin_rates",
        "pipeline_logs",
    }
    # clause mapping landed: keys = ORDER BY, month partition col, engine
    kl = cat.tables["bn_spot_klines_1hour"]
    assert kl.table.keys == ["symbol", "interval", "timestamp"]
    assert kl.table.time_col == "timestamp"
    assert kl.dedup
    assert kl.ddl.settings.get("index_granularity") == "8192"
    logs = cat.tables["pipeline_logs"]
    assert not logs.dedup and logs.table.keys == ["timestamp"]
    # type mapping: UInt32 -> bigint, UInt8 -> smallint, DateTime -> ts
    kschema = {f.name: f.dataType.simpleString() for f in kl.ddl.spark_schema}
    assert kschema["trades_count"] == "bigint"
    assert kschema["timestamp"] == "timestamp"
    sschema = {
        f.name: f.dataType.simpleString()
        for f in cat.tables["bn_spot_symbols"].ddl.spark_schema
    }
    assert sschema["is_margin_trading_allowed"] == "smallint"


def test_create_if_not_exists_is_idempotent(engine):
    for stmt in _reference_ddl():
        engine.sql(stmt, dialect="clickhouse")  # second pass: all no-ops
    assert len(engine.ddl_catalog.tables) == 7


def test_insert_and_reference_queries_run_verbatim(engine):
    engine.insert(
        f"{DB}.bn_spot_symbols",
        pd.DataFrame(
            {
                "symbol": ["BTCUSDT", "ETHUSDT", "XXXBNB"],
                "base_asset": ["BTC", "ETH", "XXX"],
                "quote_asset": ["USDT", "USDT", "BNB"],
                "exchange": ["binance"] * 3,
                "type": ["SPOT"] * 3,
                "status": ["TRADING"] * 3,
                "is_spot_trading_allowed": [1, 1, 1],
                "is_margin_trading_allowed": [1, 0, 1],
            }
        ),
    )
    engine.insert(
        f"{DB}.bn_perp_symbols",
        pd.DataFrame(
            {
                "symbol": ["BTCUSDT", "OLDUSDT"],
                "base_asset": ["BTC", "OLD"],
                "quote_asset": ["USDT", "USDT"],
                "delivery_date": pd.to_datetime(["2030-01-01", "2020-01-01"]),
            }
        ),
    )
    # crypto_data_pipeline_clickhouse.py:326-333, verbatim
    perp = engine.sql(
        """SELECT symbol, delivery_date
                        FROM bn_perp_symbols
                        WHERE delivery_date >= '2024-01-01 00:00:00'""",
        dialect="clickhouse",
    ).collect()
    assert [r.symbol for r in perp] == ["BTCUSDT"]
    spot = engine.sql(
        """SELECT symbol FROM bn_spot_symbols
                       WHERE quote_asset IN ('USDT','USDC')""",
        dialect="clickhouse",
    ).collect()
    assert {r.symbol for r in spot} == {"BTCUSDT", "ETHUSDT"}
    # additional_data.py:218-219, verbatim
    assets = engine.sql(
        "SELECT DISTINCT base_asset as asset FROM bn_spot_symbols "
        "WHERE is_margin_trading_allowed = 1",
        dialect="clickhouse",
    ).collect()
    assert {r.asset for r in assets} == {"BTC", "XXX"}


def test_keep_last_round_trip(engine):
    """ReplacingMergeTree semantics: re-inserting a key serves the LAST
    version; MergeTree keeps every row."""
    t = "2024-03-01 10:00:00"
    row = {
        "symbol": "BTCUSDT",
        "exchange": "binance",
        "type": "SPOT",
        "interval": "1h",
        "timestamp": pd.Timestamp(t),
        "open": 100.0,
        "close": 101.0,
    }
    engine.insert(f"{DB}.bn_spot_klines_1hour", [row])
    engine.insert(f"{DB}.bn_spot_klines_1hour", [{**row, "close": 999.0}])
    got = engine.sql(
        "SELECT close, trades_count FROM bn_spot_klines_1hour "
        f"WHERE symbol = 'BTCUSDT' AND timestamp = '{t}'",
        dialect="clickhouse",
    ).collect()
    assert len(got) == 1 and got[0].close == 999.0
    assert got[0].trades_count == 0  # absent insert column -> type default
    # month-partitioned layout actually landed on disk
    import os

    path = engine.ddl_catalog.tables["bn_spot_klines_1hour"].table.path
    assert any(d.startswith("month=") for d in os.listdir(path))


def test_log_insert_clickhouse_driver_idiom(engine):
    """run_pipeline.py:75-78's client.execute(INSERT text, rows) shape,
    plus DEFAULT now() when the column is omitted."""
    from datetime import datetime, timezone

    out = engine.sql(
        f"INSERT INTO {DB}.pipeline_logs (timestamp, status, comment) VALUES",
        args=[
            {
                "timestamp": datetime.now(timezone.utc),
                "status": "success",
                "comment": "",
            }
        ],
        dialect="clickhouse",
    ).collect()
    assert out[0].rows_written == 1
    engine.sql(
        f"INSERT INTO {DB}.pipeline_logs (status, comment) VALUES",
        args=[{"status": "failed", "comment": "boom"}],
        dialect="clickhouse",
    )
    rows = engine.sql(
        "SELECT timestamp, status FROM pipeline_logs ORDER BY status",
        dialect="clickhouse",
    ).collect()
    # MergeTree: both rows served; DEFAULT now() stamped the omitted ts
    assert [r.status for r in rows] == ["failed", "success"]
    assert all(r.timestamp is not None for r in rows)


def test_unsupported_ddl_fails_loudly(engine):
    for bad in (
        "CREATE TABLE t (a String) ENGINE = Log ORDER BY a",
        "CREATE TABLE t (a UInt64) ENGINE = MergeTree() ORDER BY a",
        "CREATE TABLE t (a String) ENGINE = MergeTree() "
        "ORDER BY a PARTITION BY toDate(a)",
        "CREATE TABLE t (a String, b String) ENGINE = MergeTree() "
        "PRIMARY KEY (b) ORDER BY (a, b)",  # PK not a prefix of ORDER BY
    ):
        with pytest.raises((ValueError,)):
            engine.sql(bad, dialect="clickhouse")


def test_versioned_replacing_merge_tree(engine):
    """ReplacingMergeTree(ver): the version column outranks arrival order —
    a LOWER-versioned late insert must not displace the served row."""
    engine.sql(
        f"""CREATE TABLE {DB}.versioned (
            k String, v Float64, ver UInt32
        ) ENGINE = ReplacingMergeTree(ver) ORDER BY k""",
        dialect="clickhouse",
    )
    engine.insert(f"{DB}.versioned", [{"k": "a", "v": 1.0, "ver": 5}])
    engine.insert(f"{DB}.versioned", [{"k": "a", "v": 2.0, "ver": 3}])
    got = engine.sql("SELECT v FROM versioned", dialect="clickhouse").collect()
    assert len(got) == 1 and got[0].v == 1.0


def test_qualified_names_resolve_in_queries(engine):
    engine.insert(
        f"{DB}.bn_funding_rates",
        [
            {
                "symbol": "BTCUSDT",
                "exchange": "binance",
                "type": "PERPETUAL",
                "fundingTime": pd.Timestamp("2024-02-01 08:00:00"),
                "fundingRate": 0.0001,
                "markPrice": 50000.0,
            }
        ],
    )
    got = engine.sql(
        f"SELECT symbol, fundingRate FROM {DB}.bn_funding_rates "
        "WHERE symbol = 'BTCUSDT'",  # the literal must NOT be rewritten
        dialect="clickhouse",
    ).collect()
    assert len(got) == 1 and got[0].fundingRate == 0.0001
    # a string literal containing "db." survives untouched
    lit = engine.sql(
        f"SELECT '{DB}.bn_funding_rates' AS s", dialect="clickhouse"
    ).first()
    assert lit.s == f"{DB}.bn_funding_rates"


def test_truncate_drop_and_optimize(engine):
    engine.insert(
        f"{DB}.bn_margin_rates",
        [
            {
                "asset": "BTC",
                "exchange": "binance",
                "type": "MARGIN",
                "timestamp": pd.Timestamp("2024-02-01"),
                "dailyInterestRate": 0.0002,
                "vipLevel": 0,
            },
            {
                "asset": "BTC",
                "exchange": "binance",
                "type": "MARGIN",
                "timestamp": pd.Timestamp("2024-02-01"),
                "dailyInterestRate": 0.0009,
                "vipLevel": 0,
            },
        ],
    )
    # OPTIMIZE FINAL collapses to one version per key on disk; the served
    # snapshot is unchanged (keep-last already resolved it)
    engine.sql(f"OPTIMIZE TABLE {DB}.bn_margin_rates FINAL", dialect="clickhouse")
    got = engine.sql(
        "SELECT dailyInterestRate FROM bn_margin_rates", dialect="clickhouse"
    ).collect()
    assert [r.dailyInterestRate for r in got] == [0.0009]
    engine.sql(f"TRUNCATE TABLE {DB}.bn_margin_rates", dialect="clickhouse")
    assert (
        engine.sql("SELECT * FROM bn_margin_rates", dialect="clickhouse").count()
        == 0
    )
    # table still exists (insert works again), then DROP removes it
    engine.insert(f"{DB}.bn_margin_rates", [{"asset": "ETH"}])
    assert (
        engine.sql("SELECT * FROM bn_margin_rates", dialect="clickhouse").count()
        == 1
    )
    engine.sql(f"DROP TABLE {DB}.bn_margin_rates", dialect="clickhouse")
    assert "bn_margin_rates" not in engine.ddl_catalog.tables
    with pytest.raises(KeyError):
        engine.insert(f"{DB}.bn_margin_rates", [{"asset": "ETH"}])
    # idempotent forms
    engine.sql(f"DROP TABLE IF EXISTS {DB}.bn_margin_rates", dialect="clickhouse")
    engine.sql(
        f"TRUNCATE TABLE IF EXISTS {DB}.bn_margin_rates", dialect="clickhouse"
    )


def test_alter_add_column_defaults_old_rows(engine):
    engine.insert(
        f"{DB}.bn_spot_symbols",
        [{"symbol": "AAAUSDT", "base_asset": "AAA", "quote_asset": "USDT"}],
    )
    engine.sql(
        f"ALTER TABLE {DB}.bn_spot_symbols ADD COLUMN listing_tier Int32 DEFAULT 3",
        dialect="clickhouse",
    )
    # pre-ALTER rows serve the default; post-ALTER inserts carry their value
    engine.insert(
        f"{DB}.bn_spot_symbols",
        [
            {
                "symbol": "BBBUSDT",
                "base_asset": "BBB",
                "quote_asset": "USDT",
                "listing_tier": 1,
            }
        ],
    )
    got = {
        r.symbol: r.listing_tier
        for r in engine.sql(
            "SELECT symbol, listing_tier FROM bn_spot_symbols "
            "WHERE symbol IN ('AAAUSDT', 'BBBUSDT')",
            dialect="clickhouse",
        ).collect()
    }
    assert got == {"AAAUSDT": 3, "BBBUSDT": 1}
    with pytest.raises(ValueError):
        engine.sql(
            f"ALTER TABLE {DB}.bn_spot_symbols ADD COLUMN listing_tier Int32",
            dialect="clickhouse",
        )
    # DROP COLUMN is supported since r8 (metadata-only): the round trip
    # removes the ALTER-added column again
    engine.sql(
        f"ALTER TABLE {DB}.bn_spot_symbols DROP COLUMN listing_tier",
        dialect="clickhouse",
    )
    assert "listing_tier" not in engine.sql(
        "SELECT * FROM bn_spot_symbols", dialect="clickhouse"
    ).columns


def test_mutations_delete_and_update_where(engine):
    """ClickHouse mutations map onto the month-pruned copy-on-write
    primitives: ALTER TABLE .. DELETE WHERE purges every version of
    matching keys; ALTER TABLE .. UPDATE rewrites only matching months."""
    rows = [
        {
            "symbol": s,
            "exchange": "binance",
            "type": "PERPETUAL",
            "fundingTime": pd.Timestamp(t),
            "fundingRate": r,
            "markPrice": 1.0,
        }
        for s, t, r in [
            ("AAAUSDT", "2024-01-01 00:00:00", 0.001),
            ("BBBUSDT", "2024-01-01 08:00:00", 0.002),
            ("AAAUSDT", "2024-02-01 00:00:00", -0.003),
        ]
    ]
    engine.insert(f"{DB}.bn_funding_rates", rows)
    out = engine.sql(
        f"ALTER TABLE {DB}.bn_funding_rates DELETE WHERE symbol = 'BBBUSDT'",
        dialect="clickhouse",
    ).first()
    assert out.rows_deleted == 1
    left = engine.sql(
        "SELECT symbol FROM bn_funding_rates ORDER BY fundingTime",
        dialect="clickhouse",
    ).collect()
    assert [r.symbol for r in left] == ["AAAUSDT", "AAAUSDT"]
    # UPDATE with a dialect expression in the assignment and the predicate
    out = engine.sql(
        f"ALTER TABLE {DB}.bn_funding_rates "
        "UPDATE fundingRate = arraySum(array(fundingRate, toFloat64(1))) "
        "WHERE fundingRate < 0",
        dialect="clickhouse",
    ).first()
    assert out.rows_updated == 1
    got = engine.sql(
        "SELECT round(fundingRate, 6) AS r FROM bn_funding_rates "
        "ORDER BY fundingTime",
        dialect="clickhouse",
    ).collect()
    assert [r.r for r in got] == [0.001, 0.997]
    # key columns cannot be assigned (dedup identity would move)
    with pytest.raises(ValueError):
        engine.sql(
            f"ALTER TABLE {DB}.bn_funding_rates "
            "UPDATE symbol = 'X' WHERE fundingRate > 0",
            dialect="clickhouse",
        )


# ---------------------------------------------------------------------------
# CREATE MATERIALIZED VIEW (r8): ClickHouse's insert trigger. Each inserted
# block runs the SELECT and appends to the view's storage; a
# SummingMergeTree-backed view stores per-block PARTIAL aggregates and
# collapses per ORDER BY key at read time — per-insert cost O(block), never
# O(table), and the read-side shuffle carries stored partials, not raw rows.
# ---------------------------------------------------------------------------

_MV_SRC_DDL = """CREATE TABLE m.klines (
    symbol LowCardinality(String),
    ts DateTime,
    vol Float64,
    trades Int64
) ENGINE = MergeTree ORDER BY (symbol, ts) PARTITION BY toYYYYMM(ts)"""

_MV_DDL = """CREATE MATERIALIZED VIEW m.daily
ENGINE = SummingMergeTree ORDER BY (symbol, day)
AS SELECT symbol, toStartOfDay(ts) AS day,
          sum(vol) AS vol, sum(trades) AS trades, count() AS n
FROM m.klines GROUP BY symbol, day"""


def _mv_blocks(engine):
    blocks = [
        [
            {"symbol": "BTC", "ts": pd.Timestamp("2024-01-01 01:00"), "vol": 1.0, "trades": 10},
            {"symbol": "BTC", "ts": pd.Timestamp("2024-01-01 02:00"), "vol": 2.0, "trades": 20},
        ],
        [
            {"symbol": "BTC", "ts": pd.Timestamp("2024-01-01 03:00"), "vol": 3.0, "trades": 30},
            {"symbol": "ETH", "ts": pd.Timestamp("2024-01-02 01:00"), "vol": 5.0, "trades": 50},
        ],
        [
            {"symbol": "BTC", "ts": pd.Timestamp("2024-01-02 09:00"), "vol": 7.0, "trades": 70},
        ],
    ]
    for b in blocks:
        engine.sql("INSERT INTO m.klines (symbol, ts, vol, trades) VALUES",
                   args=b, dialect="clickhouse")


def test_materialized_view_summing_trigger(engine, spark):
    engine.register_clickhouse_compat()
    engine.sql(_MV_SRC_DDL, dialect="clickhouse")
    engine.sql(_MV_DDL, dialect="clickhouse")
    _mv_blocks(engine)
    served = [
        tuple(r)
        for r in engine.sql(
            "SELECT * FROM m.daily ORDER BY symbol, day", dialect="clickhouse"
        ).collect()
    ]
    recomputed = [
        tuple(r)
        for r in engine.sql(
            "SELECT symbol, toStartOfDay(ts) AS day, sum(vol) AS vol, "
            "sum(trades) AS trades, count() AS n FROM m.klines "
            "GROUP BY symbol, day ORDER BY symbol, day",
            dialect="clickhouse",
        ).collect()
    ]
    assert served == recomputed and len(served) == 3
    # the storage holds PER-BLOCK partials (BTC day-1 appears once per
    # contributing block) — merge happens at read, like SummingMergeTree
    raw = engine.ddl_catalog.tables["daily"].table.read_raw(spark)
    assert raw.count() == 4
    # dropping the view stops the trigger and removes its owned storage
    engine.sql("DROP VIEW m.daily", dialect="clickhouse")
    assert "daily" not in engine.ddl_catalog.views
    assert "daily" not in engine.ddl_catalog.tables


def test_materialized_view_to_target_and_populate(engine):
    engine.register_clickhouse_compat()
    engine.sql(_MV_SRC_DDL, dialect="clickhouse")
    engine.sql(
        """CREATE TABLE m.sym_counts (symbol String, n Int64)
        ENGINE = SummingMergeTree(n) ORDER BY symbol""",
        dialect="clickhouse",
    )
    # one pre-existing block, then the MV with POPULATE folds it in
    engine.sql(
        "INSERT INTO m.klines (symbol, ts, vol, trades) VALUES",
        args=[{"symbol": "XRP", "ts": pd.Timestamp("2024-01-01"), "vol": 1.0, "trades": 1}],
        dialect="clickhouse",
    )
    engine.sql(
        """CREATE MATERIALIZED VIEW m.counter TO m.sym_counts POPULATE
        AS SELECT symbol, count() AS n FROM m.klines GROUP BY symbol""",
        dialect="clickhouse",
    )
    _mv_blocks(engine)
    got = {
        (r.symbol, r.n)
        for r in engine.sql("SELECT * FROM m.counter", dialect="clickhouse").collect()
    }
    assert got == {("BTC", 4), ("ETH", 1), ("XRP", 1)}
    # the TO target is independently queryable with the same state
    tgt = {
        (r.symbol, r.n)
        for r in engine.sql("SELECT * FROM m.sym_counts", dialect="clickhouse").collect()
    }
    assert tgt == got
    # DROP VIEW stops the trigger but KEEPS the target table + data
    engine.sql("DROP VIEW m.counter", dialect="clickhouse")
    engine.sql(
        "INSERT INTO m.klines (symbol, ts, vol, trades) VALUES",
        args=[{"symbol": "BTC", "ts": pd.Timestamp("2024-02-01"), "vol": 1.0, "trades": 1}],
        dialect="clickhouse",
    )
    after = {
        (r.symbol, r.n)
        for r in engine.sql("SELECT * FROM m.sym_counts", dialect="clickhouse").collect()
    }
    assert after == got  # unchanged: no trigger anymore


@pytest.mark.parametrize(
    "ddl,msg",
    [
        # (AggregatingMergeTree MVs are SUPPORTED since r11 — the
        # transparent -State partials gave the states portable storage;
        # see TestAggregatingMergeTree::test_mv_into_aggregating_engine)
        (
            "CREATE MATERIALIZED VIEW m.x ENGINE = GraphiteMergeTree "
            "ORDER BY k AS SELECT k FROM m.klines",
            "GraphiteMergeTree",
        ),
        (
            "CREATE MATERIALIZED VIEW m.x TO m.t ENGINE = MergeTree "
            "ORDER BY k AS SELECT k FROM m.klines",
            "TO target OR ENGINE",
        ),
        (
            "CREATE MATERIALIZED VIEW m.x ENGINE = MergeTree "
            "AS SELECT k FROM m.klines",
            "requires ORDER BY",
        ),
        (
            "CREATE MATERIALIZED VIEW m.x ENGINE = MergeTree ORDER BY symbol "
            "AS SELECT a.symbol FROM m.klines a JOIN m.klines b ON a.ts = b.ts",
            "exactly one table",
        ),
    ],
)
def test_materialized_view_unsupported_shapes(engine, ddl, msg):
    engine.sql(_MV_SRC_DDL, dialect="clickhouse")
    with pytest.raises((ValueError, KeyError), match=msg):
        engine.sql(ddl, dialect="clickhouse")


def test_summing_merge_tree_plain_table(engine):
    # CREATE TABLE ENGINE = SummingMergeTree also works outside the MV path
    engine.sql(
        """CREATE TABLE m.tot (k String, v Int64, note String)
        ENGINE = SummingMergeTree ORDER BY k""",
        dialect="clickhouse",
    )
    for block in ([{"k": "a", "v": 1, "note": "x"}],
                  [{"k": "a", "v": 2, "note": "y"}, {"k": "b", "v": 5, "note": "z"}]):
        engine.sql("INSERT INTO m.tot (k, v, note) VALUES", args=block,
                   dialect="clickhouse")
    rows = {
        (r.k, r.v, r.note)
        for r in engine.sql("SELECT * FROM m.tot", dialect="clickhouse").collect()
    }
    # v sums per key; the non-summed string keeps the deterministic min
    assert rows == {("a", 3, "x"), ("b", 5, "z")}


def test_ctas_and_insert_select(engine):
    engine.register_clickhouse_compat()
    engine.sql(
        "CREATE TABLE c.src (k String, v Int64) ENGINE = MergeTree ORDER BY k",
        dialect="clickhouse",
    )
    engine.sql(
        "INSERT INTO c.src (k, v) VALUES",
        args=[{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 5}],
        dialect="clickhouse",
    )
    # CTAS: schema from the SELECT, dialect combinators translate inside
    engine.sql(
        """CREATE TABLE c.agg ENGINE = MergeTree ORDER BY k
        AS SELECT k, sumIf(v, v > 1) AS big, count() AS n
        FROM c.src GROUP BY k""",
        dialect="clickhouse",
    )
    rows = [
        tuple(r)
        for r in engine.sql(
            "SELECT * FROM c.agg ORDER BY k", dialect="clickhouse"
        ).collect()
    ]
    assert rows == [("a", 2, 2), ("b", 5, 1)]
    # INSERT ... SELECT appends through the catalog and fires MV triggers
    # on the block it inserts (the MV was created AFTER the first rows, so
    # only the INSERT-SELECT block materializes: 10 + 20 + 50)
    engine.sql(
        """CREATE MATERIALIZED VIEW c.totals
        ENGINE = SummingMergeTree ORDER BY one
        AS SELECT 1 AS one, sum(v) AS total FROM c.src GROUP BY one""",
        dialect="clickhouse",
    )
    n = engine.sql(
        "INSERT INTO c.src (k, v) "
        "SELECT concat(k, '2') AS k, v * 10 AS v FROM c.src",
        dialect="clickhouse",
    ).first()
    assert n.rows_written == 3
    assert engine.sql("SELECT * FROM c.src", dialect="clickhouse").count() == 6
    assert [
        tuple(r)
        for r in engine.sql("SELECT * FROM c.totals", dialect="clickhouse").collect()
    ] == [(1, 80)]
    # CTAS requires ORDER BY, like the column-list form
    with pytest.raises(ValueError, match="requires ORDER BY"):
        engine.sql(
            "CREATE TABLE c.bad ENGINE = MergeTree AS SELECT k FROM c.src",
            dialect="clickhouse",
        )


def test_insert_select_matches_by_position(engine):
    # ClickHouse matches SELECT output to target columns BY POSITION: an
    # unaliased expression column must land in the right target column,
    # not silently fall back to the type default
    engine.sql(
        "CREATE TABLE p.t (a Float64, b Int64) ENGINE = MergeTree ORDER BY b",
        dialect="clickhouse",
    )
    engine.sql(
        "CREATE TABLE p.src (x Int64, y Int64) ENGINE = MergeTree ORDER BY x",
        dialect="clickhouse",
    )
    engine.sql("INSERT INTO p.src (x, y) VALUES",
               args=[{"x": 1, "y": 7}], dialect="clickhouse")
    engine.sql("INSERT INTO p.t SELECT x + 0.5, y FROM p.src", dialect="clickhouse")
    assert [tuple(r) for r in engine.sql("SELECT * FROM p.t", dialect="clickhouse").collect()] == [(1.5, 7)]
    with pytest.raises(ValueError, match="do not match"):
        engine.sql("INSERT INTO p.t SELECT x FROM p.src", dialect="clickhouse")


def test_fresh_materialized_view_reads_empty(engine):
    # a just-created (unpopulated) view must read as EMPTY, not
    # TABLE_OR_VIEW_NOT_FOUND — its first rows only arrive with the first
    # triggered insert
    engine.sql(
        "CREATE TABLE f.src (k String, v Int64) ENGINE = MergeTree ORDER BY k",
        dialect="clickhouse",
    )
    engine.sql(
        """CREATE MATERIALIZED VIEW f.mv ENGINE = SummingMergeTree ORDER BY k
        AS SELECT k, sum(v) AS v FROM f.src GROUP BY k""",
        dialect="clickhouse",
    )
    assert engine.sql("SELECT * FROM f.mv", dialect="clickhouse").count() == 0


def test_drop_view_on_a_plain_table_refuses(engine):
    # ClickHouse rejects DROP VIEW on a non-view — silently deleting table
    # data on a typo'd statement would be data loss
    engine.sql(
        "CREATE TABLE d.keep (k String) ENGINE = MergeTree ORDER BY k",
        dialect="clickhouse",
    )
    with pytest.raises(KeyError, match="not a VIEW"):
        engine.sql("DROP VIEW d.keep", dialect="clickhouse")
    assert "keep" in engine.ddl_catalog.tables
    # IF EXISTS stays a no-op; DROP TABLE still works
    engine.sql("DROP VIEW IF EXISTS d.keep", dialect="clickhouse")
    assert "keep" in engine.ddl_catalog.tables
    engine.sql("DROP TABLE d.keep", dialect="clickhouse")
    assert "keep" not in engine.ddl_catalog.tables


# ---------------------------------------------------------------------------
# CREATE DICTIONARY + dictGet family (r8): ClickHouse's RAM-dictionary
# lookup surface — metadata-only registration, dictGet rewritten into a
# correlated aggregated scalar subquery (broadcast left-outer join plan)
# ---------------------------------------------------------------------------


class TestDictionary:
    @pytest.fixture()
    def dict_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "dict")
        )
        eng.register_clickhouse_compat()
        eng.sql(
            """CREATE TABLE dim.assets (
                asset LowCardinality(String),
                chain LowCardinality(String),
                decimals Int32,
                listed DateTime
            ) ENGINE = MergeTree ORDER BY asset""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO dim.assets (asset, chain, decimals, listed) VALUES",
            args=[
                {"asset": "BTC", "chain": "bitcoin", "decimals": 8,
                 "listed": pd.Timestamp("2017-01-01")},
                {"asset": "ETH", "chain": "ethereum", "decimals": 18,
                 "listed": pd.Timestamp("2017-08-01")},
            ],
            dialect="clickhouse",
        )
        eng.sql(
            """CREATE DICTIONARY dim.asset_dict (
                asset String,
                chain String DEFAULT 'none',
                decimals Int32
            ) PRIMARY KEY asset
            SOURCE(CLICKHOUSE(TABLE 'assets'))
            LAYOUT(FLAT())
            LIFETIME(300)""",
            dialect="clickhouse",
        )
        return eng

    def _one(self, eng, expr):
        return eng.sql(f"SELECT {expr} AS x", dialect="clickhouse").collect()[0][0]

    def test_hit_and_declared_default_miss(self, dict_engine):
        assert self._one(
            dict_engine, "dictGet('asset_dict', 'chain', 'BTC')"
        ) == "bitcoin"
        assert self._one(
            dict_engine, "dictGet('asset_dict', 'chain', 'DOGE')"
        ) == "none"

    def test_type_zero_default_when_undeclared(self, dict_engine):
        assert self._one(
            dict_engine, "dictGet('asset_dict', 'decimals', 'DOGE')"
        ) == 0

    def test_or_default_and_or_null(self, dict_engine):
        assert self._one(
            dict_engine,
            "dictGetOrDefault('asset_dict', 'decimals', 'DOGE', -1)",
        ) == -1
        assert self._one(
            dict_engine, "dictGetOrNull('asset_dict', 'chain', 'DOGE')"
        ) is None

    def test_dict_has(self, dict_engine):
        assert self._one(dict_engine, "dictHas('asset_dict', 'ETH')") is True
        assert self._one(dict_engine, "dictHas('asset_dict', 'DOGE')") is False

    def test_typed_variant_casts(self, dict_engine):
        got = self._one(
            dict_engine, "dictGetInt64('asset_dict', 'decimals', 'ETH')"
        )
        assert got == 18 and isinstance(got, int)

    def test_nested_call_translates(self, dict_engine):
        # dictGet argument through the dialect (toString) and dictGet
        # nested inside another translated call (upper)
        assert self._one(
            dict_engine,
            "upper(dictGet('asset_dict', 'chain', toString('BTC')))",
        ) == "BITCOIN"

    def test_lookup_joins_against_keep_last_snapshot(self, dict_engine):
        # dictionary over a catalog table reads the SERVED view: after a
        # re-insert the lookup must see the new row (LIFETIME(0) behavior)
        dict_engine.sql(
            "INSERT INTO dim.assets (asset, chain, decimals, listed) VALUES",
            args=[{"asset": "DOGE", "chain": "dogecoin", "decimals": 8,
                   "listed": pd.Timestamp("2019-07-05")}],
            dialect="clickhouse",
        )
        assert self._one(
            dict_engine, "dictGet('asset_dict', 'chain', 'DOGE')"
        ) == "dogecoin"

    def test_broadcast_join_plan(self, dict_engine):
        df = dict_engine.sql(
            "SELECT a.asset, dictGet('asset_dict', 'decimals', a.asset) AS d "
            "FROM assets a",
            dialect="clickhouse",
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_bare_key_collision_refused(self, dict_engine):
        # a BARE key column that also exists in the source would resolve to
        # the source column inside the subquery (silent uncorrelated
        # lookup) — must refuse loudly, qualified form must pass
        with pytest.raises(ValueError, match="qualify"):
            dict_engine.sql(
                "SELECT dictGet('asset_dict', 'decimals', asset) AS d "
                "FROM assets",
                dialect="clickhouse",
            )

    def test_composite_key(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "dict2")
        )
        eng.sql(
            """CREATE TABLE pairs (
                base String, quote String, tick Float64
            ) ENGINE = MergeTree ORDER BY (base, quote)""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO pairs (base, quote, tick) VALUES",
            args=[{"base": "BTC", "quote": "USDT", "tick": 0.01}],
            dialect="clickhouse",
        )
        eng.sql(
            """CREATE DICTIONARY pair_dict (
                base String, quote String, tick Float64
            ) PRIMARY KEY base, quote
            SOURCE(CLICKHOUSE(TABLE 'pairs'))
            LAYOUT(COMPLEX_KEY_HASHED())""",
            dialect="clickhouse",
        )
        got = eng.sql(
            "SELECT dictGet('pair_dict', 'tick', tuple('BTC', 'USDT')) AS x",
            dialect="clickhouse",
        ).collect()[0][0]
        assert got == 0.01
        with pytest.raises(ValueError, match="2-part key"):
            eng.sql(
                "SELECT dictGet('pair_dict', 'tick', 'BTC') AS x",
                dialect="clickhouse",
            )

    def test_errors(self, dict_engine):
        with pytest.raises(KeyError, match="unknown dictionary"):
            dict_engine.sql(
                "SELECT dictGet('nope', 'a', 1) AS x", dialect="clickhouse"
            )
        with pytest.raises(KeyError, match="no attribute"):
            dict_engine.sql(
                "SELECT dictGet('asset_dict', 'nope', 'BTC') AS x",
                dialect="clickhouse",
            )
        with pytest.raises(ValueError, match="string literal"):
            dict_engine.sql(
                "SELECT dictGet(asset_col, 'chain', 'BTC') AS x",
                dialect="clickhouse",
            )
        with pytest.raises(KeyError, match="source table"):
            dict_engine.sql(
                """CREATE DICTIONARY bad_dict (k Int32) PRIMARY KEY k
                SOURCE(CLICKHOUSE(TABLE 'no_such_table')) LAYOUT(HASHED())""",
                dialect="clickhouse",
            )

    def test_drop_dictionary(self, dict_engine):
        dict_engine.sql("DROP DICTIONARY asset_dict", dialect="clickhouse")
        with pytest.raises(KeyError, match="unknown dictionary"):
            dict_engine.sql(
                "SELECT dictGet('asset_dict', 'chain', 'BTC') AS x",
                dialect="clickhouse",
            )
        # idempotent with IF EXISTS; loud without
        dict_engine.sql(
            "DROP DICTIONARY IF EXISTS asset_dict", dialect="clickhouse"
        )
        with pytest.raises(KeyError):
            dict_engine.sql("DROP DICTIONARY asset_dict", dialect="clickhouse")


# ---------------------------------------------------------------------------
# RENAME / EXISTS / SHOW TABLES / DESCRIBE (r8): the clickhouse-client
# introspection conveniences
# ---------------------------------------------------------------------------


class TestIntrospection:
    @pytest.fixture()
    def intro_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "intro")
        )
        eng.sql(
            """CREATE TABLE db1.alpha (k String, v Float64 DEFAULT 1.5)
            ENGINE = MergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            """CREATE TABLE db1.beta (k String, n Int32)
            ENGINE = ReplacingMergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO db1.alpha (k, v) VALUES",
            args=[{"k": "a", "v": 2.0}],
            dialect="clickhouse",
        )
        return eng

    def test_exists_table(self, intro_engine):
        assert intro_engine.sql(
            "EXISTS TABLE db1.alpha", dialect="clickhouse"
        ).collect()[0].result == 1
        assert intro_engine.sql(
            "EXISTS TABLE nope", dialect="clickhouse"
        ).collect()[0].result == 0

    def test_show_tables_and_like(self, intro_engine):
        names = [
            r.name
            for r in intro_engine.sql(
                "SHOW TABLES", dialect="clickhouse"
            ).collect()
        ]
        assert names == ["alpha", "beta"]
        liked = [
            r.name
            for r in intro_engine.sql(
                "SHOW TABLES LIKE 'al%'", dialect="clickhouse"
            ).collect()
        ]
        assert liked == ["alpha"]

    def test_describe_table(self, intro_engine):
        rows = [
            tuple(r)
            for r in intro_engine.sql(
                "DESCRIBE TABLE alpha", dialect="clickhouse"
            ).collect()
        ]
        assert rows == [("k", "string", ""), ("v", "double", "1.5")]

    def test_rename_moves_view_and_data(self, intro_engine):
        intro_engine.sql(
            "RENAME TABLE db1.alpha TO db1.gamma", dialect="clickhouse"
        )
        names = [
            r.name
            for r in intro_engine.sql(
                "SHOW TABLES", dialect="clickhouse"
            ).collect()
        ]
        assert names == ["beta", "gamma"]
        got = intro_engine.sql(
            "SELECT k, v FROM gamma", dialect="clickhouse"
        ).collect()
        assert [(r.k, r.v) for r in got] == [("a", 2.0)]
        # inserts under the NEW name land; the old name is gone
        intro_engine.sql(
            "INSERT INTO db1.gamma (k, v) VALUES",
            args=[{"k": "b", "v": 3.0}],
            dialect="clickhouse",
        )
        assert intro_engine.sql(
            "SELECT count(*) AS c FROM gamma", dialect="clickhouse"
        ).collect()[0].c == 2
        with pytest.raises(Exception):
            intro_engine.sql(
                "SELECT * FROM alpha", dialect="clickhouse"
            ).collect()

    def test_rename_to_existing_refused(self, intro_engine):
        with pytest.raises(ValueError, match="already exists"):
            intro_engine.sql(
                "RENAME TABLE db1.alpha TO db1.beta", dialect="clickhouse"
            )

    def test_rename_mv_backed_refused(self, intro_engine, spark):
        intro_engine.sql(
            """CREATE MATERIALIZED VIEW db1.mv1
            ENGINE = SummingMergeTree ORDER BY (k)
            AS SELECT k, sum(v) AS v FROM db1.alpha GROUP BY k""",
            dialect="clickhouse",
        )
        with pytest.raises(ValueError, match="materialized view"):
            intro_engine.sql(
                "RENAME TABLE db1.alpha TO db1.gamma", dialect="clickhouse"
            )


# ---------------------------------------------------------------------------
# r8 review regressions (DDL introspection side)
# ---------------------------------------------------------------------------


class TestIntrospectionRegressions:
    @pytest.fixture()
    def mv_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ir")
        )
        eng.sql(
            "CREATE TABLE db1.base (k String, v Float64) "
            "ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        eng.sql(
            """CREATE MATERIALIZED VIEW db2.mv1
            ENGINE = SummingMergeTree ORDER BY (k)
            AS SELECT k, sum(v) AS v FROM db1.base GROUP BY k""",
            dialect="clickhouse",
        )
        return eng

    def _names(self, eng, sql):
        return [r.name for r in eng.sql(sql, dialect="clickhouse").collect()]

    def test_show_from_db_filters_mvs_too(self, mv_engine):
        assert self._names(mv_engine, "SHOW TABLES FROM db1") == ["base"]
        assert self._names(mv_engine, "SHOW TABLES FROM db2") == ["mv1"]

    def test_like_dot_is_literal(self, mv_engine):
        mv_engine.sql(
            "CREATE TABLE db1.axb (k String) ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        # 'a.b' must NOT match 'axb' (dot is literal in SQL LIKE)
        assert self._names(mv_engine, "SHOW TABLES LIKE 'a.b'") == []
        assert self._names(mv_engine, "SHOW TABLES LIKE 'a_b'") == ["axb"]

    def test_exists_and_describe_cover_mvs(self, mv_engine):
        assert mv_engine.sql(
            "EXISTS TABLE mv1", dialect="clickhouse"
        ).collect()[0].result == 1
        cols = [
            r.name
            for r in mv_engine.sql(
                "DESCRIBE TABLE mv1", dialect="clickhouse"
            ).collect()
        ]
        assert cols == ["k", "v"]

    def test_cross_database_rename_moves_record(self, mv_engine):
        mv_engine.sql(
            "CREATE TABLE db1.solo (k String) ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        mv_engine.sql(
            "RENAME TABLE db1.solo TO db3.moved", dialect="clickhouse"
        )
        assert self._names(mv_engine, "SHOW TABLES FROM db3") == ["moved"]
        assert "solo" not in self._names(mv_engine, "SHOW TABLES FROM db1")
        # the new qualifier resolves in queries
        assert (
            mv_engine.sql(
                "SELECT count(*) AS c FROM db3.moved", dialect="clickhouse"
            ).collect()[0].c
            == 0
        )


# ---------------------------------------------------------------------------
# ALTER DROP/RENAME COLUMN + EXCHANGE TABLES (r8)
# ---------------------------------------------------------------------------


class TestColumnMutationsAndExchange:
    @pytest.fixture()
    def mut_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "mut")
        )
        eng.sql(
            """CREATE TABLE m.t1 (k String, a Int32, b String DEFAULT 'x')
            ENGINE = ReplacingMergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO m.t1 (k, a, b) VALUES",
            args=[{"k": "r1", "a": 1, "b": "b1"},
                  {"k": "r2", "a": 2, "b": "b2"}],
            dialect="clickhouse",
        )
        return eng

    def test_drop_column_hides_old_bytes(self, mut_engine):
        mut_engine.sql("ALTER TABLE m.t1 DROP COLUMN b", dialect="clickhouse")
        df = mut_engine.sql("SELECT * FROM t1", dialect="clickhouse")
        assert df.columns == ["k", "a"]
        # inserts conform to the NEW schema; reads stay consistent
        mut_engine.sql(
            "INSERT INTO m.t1 (k, a) VALUES",
            args=[{"k": "r3", "a": 3}],
            dialect="clickhouse",
        )
        got = sorted(
            (r.k, r.a)
            for r in mut_engine.sql(
                "SELECT k, a FROM t1", dialect="clickhouse"
            ).collect()
        )
        assert got == [("r1", 1), ("r2", 2), ("r3", 3)]

    def test_drop_column_guards(self, mut_engine):
        with pytest.raises(ValueError, match="key column"):
            mut_engine.sql(
                "ALTER TABLE m.t1 DROP COLUMN k", dialect="clickhouse"
            )
        with pytest.raises(KeyError, match="does not exist"):
            mut_engine.sql(
                "ALTER TABLE m.t1 DROP COLUMN nope", dialect="clickhouse"
            )
        mut_engine.sql(
            "ALTER TABLE m.t1 DROP COLUMN IF EXISTS nope",
            dialect="clickhouse",
        )

    def test_rename_column_coalesces_old_batches(self, mut_engine):
        mut_engine.sql(
            "ALTER TABLE m.t1 RENAME COLUMN a TO amount",
            dialect="clickhouse",
        )
        mut_engine.sql(
            "INSERT INTO m.t1 (k, amount, b) VALUES",
            args=[{"k": "r3", "amount": 3, "b": "b3"}],
            dialect="clickhouse",
        )
        got = sorted(
            (r.k, r.amount)
            for r in mut_engine.sql(
                "SELECT k, amount FROM t1", dialect="clickhouse"
            ).collect()
        )
        # pre-rename rows read through the original storage name
        assert got == [("r1", 1), ("r2", 2), ("r3", 3)]
        # chained rename still reaches the original bytes
        mut_engine.sql(
            "ALTER TABLE m.t1 RENAME COLUMN amount TO qty",
            dialect="clickhouse",
        )
        got = {r.k: r.qty for r in mut_engine.sql(
            "SELECT k, qty FROM t1", dialect="clickhouse").collect()}
        assert got == {"r1": 1, "r2": 2, "r3": 3}

    def test_rename_then_drop_hides_original_bytes(self, mut_engine):
        mut_engine.sql(
            "ALTER TABLE m.t1 RENAME COLUMN a TO amount",
            dialect="clickhouse",
        )
        mut_engine.sql(
            "ALTER TABLE m.t1 DROP COLUMN amount", dialect="clickhouse"
        )
        df = mut_engine.sql("SELECT * FROM t1", dialect="clickhouse")
        assert df.columns == ["k", "b"]

    def test_exchange_tables_swaps_data(self, mut_engine):
        mut_engine.sql(
            """CREATE TABLE m.t1_new (k String, a Int32, b String)
            ENGINE = ReplacingMergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        mut_engine.sql(
            "INSERT INTO m.t1_new (k, a, b) VALUES",
            args=[{"k": "fresh", "a": 9, "b": "nb"}],
            dialect="clickhouse",
        )
        mut_engine.sql(
            "EXCHANGE TABLES m.t1 AND m.t1_new", dialect="clickhouse"
        )
        live = [r.k for r in mut_engine.sql(
            "SELECT k FROM t1", dialect="clickhouse").collect()]
        assert live == ["fresh"]
        old = sorted(r.k for r in mut_engine.sql(
            "SELECT k FROM t1_new", dialect="clickhouse").collect())
        assert old == ["r1", "r2"]
        # the blue/green epilogue: drop the scratch name
        mut_engine.sql("DROP TABLE m.t1_new", dialect="clickhouse")
        assert [r.k for r in mut_engine.sql(
            "SELECT k FROM t1", dialect="clickhouse").collect()] == ["fresh"]

    def test_exchange_unknown_refused(self, mut_engine):
        with pytest.raises(KeyError, match="unknown table"):
            mut_engine.sql(
                "EXCHANGE TABLES m.t1 AND m.nope", dialect="clickhouse"
            )


# ---------------------------------------------------------------------------
# r8 review regressions: reshape materialization + residual-name guards
# ---------------------------------------------------------------------------


class TestReshapeMaterialization:
    @pytest.fixture()
    def rs_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "rs")
        )
        eng.sql(
            """CREATE TABLE r.t (k String, a Int32, b String)
            ENGINE = ReplacingMergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO r.t (k, a, b) VALUES",
            args=[{"k": "r1", "a": 1, "b": "B1"}],
            dialect="clickhouse",
        )
        return eng

    def test_optimize_materializes_rename(self, rs_engine):
        rs_engine.sql(
            "ALTER TABLE r.t RENAME COLUMN a TO amount", dialect="clickhouse"
        )
        rs_engine.sql(
            "INSERT INTO r.t (k, amount, b) VALUES",
            args=[{"k": "r2", "amount": 2, "b": "B2"}],
            dialect="clickhouse",
        )
        rs_engine.sql("OPTIMIZE TABLE r.t FINAL", dialect="clickhouse")
        got = {r.k: r.amount for r in rs_engine.sql(
            "SELECT k, amount FROM t", dialect="clickhouse").collect()}
        assert got == {"r1": 1, "r2": 2}  # pre-rename bytes survived
        # bookkeeping cleared: the name is reusable again
        rs_engine.sql(
            "ALTER TABLE r.t ADD COLUMN a Int32 DEFAULT -1",
            dialect="clickhouse",
        )
        got = {r.k: r.a for r in rs_engine.sql(
            "SELECT k, a FROM t", dialect="clickhouse").collect()}
        assert got == {"r1": -1, "r2": -1}  # fresh column, NOT old bytes

    def test_mutation_materializes_rename(self, rs_engine):
        rs_engine.sql(
            "ALTER TABLE r.t RENAME COLUMN a TO amount", dialect="clickhouse"
        )
        rs_engine.sql(
            "INSERT INTO r.t (k, amount, b) VALUES",
            args=[{"k": "r3", "amount": 3, "b": "B3"}],
            dialect="clickhouse",
        )
        rs_engine.sql(
            "ALTER TABLE r.t DELETE WHERE k = 'r3'", dialect="clickhouse"
        )
        got = {r.k: r.amount for r in rs_engine.sql(
            "SELECT k, amount FROM t", dialect="clickhouse").collect()}
        assert got == {"r1": 1}  # the copy-on-write rewrite kept r1.amount

    def test_update_where_sees_renamed_values(self, rs_engine):
        rs_engine.sql(
            "ALTER TABLE r.t RENAME COLUMN a TO amount", dialect="clickhouse"
        )
        rs_engine.sql(
            "ALTER TABLE r.t UPDATE b = 'hit' WHERE amount = 1",
            dialect="clickhouse",
        )
        got = rs_engine.sql(
            "SELECT b FROM t WHERE k = 'r1'", dialect="clickhouse"
        ).collect()[0].b
        assert got == "hit"  # the predicate resolved pre-rename bytes

    def test_residual_name_reuse_refused_until_optimize(self, rs_engine):
        rs_engine.sql("ALTER TABLE r.t DROP COLUMN b", dialect="clickhouse")
        with pytest.raises(ValueError, match="residual"):
            rs_engine.sql(
                "ALTER TABLE r.t ADD COLUMN b String DEFAULT 'z'",
                dialect="clickhouse",
            )
        with pytest.raises(ValueError, match="residual"):
            rs_engine.sql(
                "ALTER TABLE r.t RENAME COLUMN a TO b", dialect="clickhouse"
            )
        rs_engine.sql("OPTIMIZE TABLE r.t FINAL", dialect="clickhouse")
        rs_engine.sql(
            "ALTER TABLE r.t ADD COLUMN b String DEFAULT 'z'",
            dialect="clickhouse",
        )
        got = rs_engine.sql(
            "SELECT b FROM t WHERE k = 'r1'", dialect="clickhouse"
        ).collect()[0].b
        assert got == "z"  # the old 'B1' bytes are physically gone

    def test_renamed_added_column_keeps_default_fill(self, rs_engine):
        rs_engine.sql(
            "ALTER TABLE r.t ADD COLUMN x Int32 DEFAULT 7",
            dialect="clickhouse",
        )
        rs_engine.sql(
            "INSERT INTO r.t (k, a, b, x) VALUES",
            args=[{"k": "r2", "a": 2, "b": "B2", "x": 9}],
            dialect="clickhouse",
        )
        rs_engine.sql(
            "ALTER TABLE r.t RENAME COLUMN x TO y", dialect="clickhouse"
        )
        got = {r.k: r.y for r in rs_engine.sql(
            "SELECT k, y FROM t", dialect="clickhouse").collect()}
        assert got == {"r1": 7, "r2": 9}  # pre-ADD rows keep the default

    def test_column_mutation_on_mv_wired_table_refused(self, rs_engine):
        rs_engine.sql(
            """CREATE MATERIALIZED VIEW r.mv1
            ENGINE = SummingMergeTree ORDER BY (k)
            AS SELECT k, sum(a) AS a FROM r.t GROUP BY k""",
            dialect="clickhouse",
        )
        with pytest.raises(ValueError, match="materialized view"):
            rs_engine.sql(
                "ALTER TABLE r.t RENAME COLUMN a TO amount",
                dialect="clickhouse",
            )
        with pytest.raises(ValueError, match="materialized view"):
            rs_engine.sql(
                "ALTER TABLE r.t DROP COLUMN b", dialect="clickhouse"
            )


class TestOptimizeEngineSemantics:
    """r8 second review pass: OPTIMIZE must respect the table ENGINE."""

    def test_optimize_mergetree_keeps_duplicate_keys(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "oe")
        )
        eng.sql(
            "CREATE TABLE o.logs (ts DateTime, msg String) "
            "ENGINE = MergeTree ORDER BY ts",
            dialect="clickhouse",
        )
        t = pd.Timestamp("2024-01-01 00:00:00")
        eng.sql(
            "INSERT INTO o.logs (ts, msg) VALUES",
            args=[{"ts": t, "msg": f"m{i}"} for i in range(5)],
            dialect="clickhouse",
        )
        eng.sql("OPTIMIZE TABLE o.logs FINAL", dialect="clickhouse")
        # duplicate keys are legitimate rows on a plain MergeTree — the
        # rewrite merges parts, it must NOT keep-last per ORDER BY key
        n = eng.sql(
            "SELECT count(*) AS c FROM logs", dialect="clickhouse"
        ).collect()[0].c
        assert n == 5

    def test_optimize_respects_version_column(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ov")
        )
        eng.sql(
            "CREATE TABLE o.v (k String, ver Int32, val String) "
            "ENGINE = ReplacingMergeTree(ver) ORDER BY k",
            dialect="clickhouse",
        )
        # higher version arrives FIRST; a later lower-version append must
        # not survive compaction (the snapshot serves ver=2)
        eng.sql(
            "INSERT INTO o.v (k, ver, val) VALUES",
            args=[{"k": "a", "ver": 2, "val": "new"}],
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO o.v (k, ver, val) VALUES",
            args=[{"k": "a", "ver": 1, "val": "old"}],
            dialect="clickhouse",
        )
        before = eng.sql(
            "SELECT val FROM v", dialect="clickhouse"
        ).collect()[0].val
        eng.sql("OPTIMIZE TABLE o.v FINAL", dialect="clickhouse")
        after = eng.sql(
            "SELECT val FROM v", dialect="clickhouse"
        ).collect()[0].val
        assert before == after == "new"

    def test_residuals_clear_on_empty_table_and_truncate(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "oc")
        )
        eng.sql(
            "CREATE TABLE o.e (k String, b String) "
            "ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        # drop before any insert: OPTIMIZE on the EMPTY table must still
        # free the name (there are no bytes to disagree)
        eng.sql("ALTER TABLE o.e DROP COLUMN b", dialect="clickhouse")
        eng.sql("OPTIMIZE TABLE o.e FINAL", dialect="clickhouse")
        eng.sql(
            "ALTER TABLE o.e ADD COLUMN b String DEFAULT 'z'",
            dialect="clickhouse",
        )
        # TRUNCATE likewise purges residual bytes
        eng.sql(
            "INSERT INTO o.e (k, b) VALUES",
            args=[{"k": "r", "b": "B"}],
            dialect="clickhouse",
        )
        eng.sql("ALTER TABLE o.e DROP COLUMN b", dialect="clickhouse")
        eng.sql("TRUNCATE TABLE o.e", dialect="clickhouse")
        eng.sql(
            "ALTER TABLE o.e ADD COLUMN b String DEFAULT 'y'",
            dialect="clickhouse",
        )
        assert "b" in eng.sql("SELECT * FROM e", dialect="clickhouse").columns

    def test_rename_back_allowed(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "rb")
        )
        eng.sql(
            "CREATE TABLE o.r (k String, a Int32) "
            "ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO o.r (k, a) VALUES",
            args=[{"k": "x", "a": 1}],
            dialect="clickhouse",
        )
        eng.sql("ALTER TABLE o.r RENAME COLUMN a TO b", dialect="clickhouse")
        eng.sql("ALTER TABLE o.r RENAME COLUMN b TO a", dialect="clickhouse")
        got = eng.sql("SELECT k, a FROM r", dialect="clickhouse").collect()
        assert [(r.k, r.a) for r in got] == [("x", 1)]


# ---------------------------------------------------------------------------
# r9 review regression (DDL side): cross-database RENAME keeping the bare
# table name — ClickHouse's standard 'move between databases' form — used
# to be refused with a misleading 'already exists' (the collision check
# compared bare names and new == old).
# ---------------------------------------------------------------------------


class TestCrossDbRenameKeepingName:
    @pytest.fixture()
    def move_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "movekeep")
        )
        eng.sql(
            "CREATE TABLE db1.keep (k String) ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO db1.keep (k) VALUES",
            args=[{"k": "a"}],
            dialect="clickhouse",
        )
        return eng

    def _names(self, eng, sql):
        return [r.name for r in eng.sql(sql, dialect="clickhouse").collect()]

    def test_move_keeps_name_and_data(self, move_engine):
        move_engine.sql(
            "RENAME TABLE db1.keep TO db2.keep", dialect="clickhouse"
        )
        assert "keep" in self._names(move_engine, "SHOW TABLES FROM db2")
        assert "keep" not in self._names(move_engine, "SHOW TABLES FROM db1")
        assert (
            move_engine.sql(
                "SELECT count(*) AS c FROM db2.keep", dialect="clickhouse"
            ).collect()[0].c
            == 1
        )
        # inserts under the moved qualifier still land
        move_engine.sql(
            "INSERT INTO db2.keep (k) VALUES",
            args=[{"k": "b"}],
            dialect="clickhouse",
        )
        assert (
            move_engine.sql(
                "SELECT count(*) AS c FROM keep", dialect="clickhouse"
            ).collect()[0].c
            == 2
        )

    def test_same_database_self_rename_is_noop(self, move_engine):
        move_engine.sql(
            "RENAME TABLE db1.keep TO db1.keep", dialect="clickhouse"
        )
        assert (
            move_engine.sql(
                "SELECT count(*) AS c FROM keep", dialect="clickhouse"
            ).collect()[0].c
            == 1
        )

    def test_real_collision_still_refused(self, move_engine):
        move_engine.sql(
            "CREATE TABLE db2.other (k String) ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        with pytest.raises(ValueError, match="already exists"):
            move_engine.sql(
                "RENAME TABLE db1.keep TO db2.other", dialect="clickhouse"
            )


# ---------------------------------------------------------------------------
# ALTER MODIFY COLUMN type (r9, r8 verdict item 7): metadata-declared type
# WIDEN — old batches keep their narrow bytes, reads serve them under the
# explicit declared-type schema (Spark 4 scan-level widening), new inserts
# write the wide type, and maintenance ops materialize the reshape exactly
# like DROP/RENAME. Lossy narrows refuse loudly.
# ---------------------------------------------------------------------------


class TestModifyColumnType:
    @pytest.fixture()
    def mod_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "modcol")
        )
        eng.sql(
            """CREATE TABLE mc.t (k String, v Int32, f Float32)
            ENGINE = ReplacingMergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO mc.t (k, v, f) VALUES",
            args=[{"k": "r1", "v": 1, "f": 1.5}, {"k": "r2", "v": 2, "f": 2.5}],
            dialect="clickhouse",
        )
        return eng

    def _rows(self, eng):
        return sorted(
            (r.k, r.v, float(r.f))
            for r in eng.sql("SELECT k, v, f FROM t", dialect="clickhouse").collect()
        )

    def test_widen_int32_to_int64_round_trip(self, mod_engine):
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN v Int64", dialect="clickhouse"
        )
        df = mod_engine.sql("SELECT * FROM t", dialect="clickhouse")
        assert dict(df.dtypes)["v"] == "bigint"
        # pre-MODIFY narrow bytes still serve
        assert self._rows(mod_engine) == [("r1", 1, 1.5), ("r2", 2, 2.5)]
        # a value past int32 range lands and reads back next to them
        big = 2**40
        mod_engine.sql(
            "INSERT INTO mc.t (k, v, f) VALUES",
            args=[{"k": "r3", "v": big, "f": 3.5}],
            dialect="clickhouse",
        )
        assert self._rows(mod_engine) == [
            ("r1", 1, 1.5), ("r2", 2, 2.5), ("r3", big, 3.5)
        ]
        # DESCRIBE reflects the declared (widened) type
        types = {
            r.name: r.type
            for r in mod_engine.sql(
                "DESCRIBE TABLE t", dialect="clickhouse"
            ).collect()
        }
        assert types["v"] == "bigint"

    def test_widen_float_to_double(self, mod_engine):
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN f Float64", dialect="clickhouse"
        )
        df = mod_engine.sql("SELECT * FROM t", dialect="clickhouse")
        assert dict(df.dtypes)["f"] == "double"
        assert self._rows(mod_engine) == [("r1", 1, 1.5), ("r2", 2, 2.5)]

    def test_lossy_narrow_refused(self, mod_engine):
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN v Int64", dialect="clickhouse"
        )
        with pytest.raises(ValueError, match="not a lossless widen"):
            mod_engine.sql(
                "ALTER TABLE mc.t MODIFY COLUMN v Int32", dialect="clickhouse"
            )
        with pytest.raises(ValueError, match="not a lossless widen"):
            mod_engine.sql(
                "ALTER TABLE mc.t MODIFY COLUMN f String", dialect="clickhouse"
            )

    def test_key_column_and_missing_guards(self, mod_engine):
        with pytest.raises(ValueError, match="key column"):
            mod_engine.sql(
                "ALTER TABLE mc.t MODIFY COLUMN k Int64", dialect="clickhouse"
            )
        with pytest.raises(KeyError, match="does not exist"):
            mod_engine.sql(
                "ALTER TABLE mc.t MODIFY COLUMN nope Int64", dialect="clickhouse"
            )
        # IF EXISTS tolerates; same-type MODIFY is a no-op
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN IF EXISTS nope Int64",
            dialect="clickhouse",
        )
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN v Int32", dialect="clickhouse"
        )

    def test_optimize_materializes_the_widen(self, mod_engine):
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN v Int64", dialect="clickhouse"
        )
        mod_engine.sql(
            "INSERT INTO mc.t (k, v, f) VALUES",
            args=[{"k": "r3", "v": 2**40, "f": 3.5}],
            dialect="clickhouse",
        )
        mod_engine.sql("OPTIMIZE TABLE mc.t FINAL", dialect="clickhouse")
        # post-materialize: files carry the wide type, the fast path (no
        # read transform / explicit schema) serves, data intact
        entry = mod_engine.ddl_catalog.tables["t"]
        assert entry.table.read_schema is None
        assert entry.table.read_transform is None
        assert not entry.retyped_cols
        assert self._rows(mod_engine) == [
            ("r1", 1, 1.5), ("r2", 2, 2.5), ("r3", 2**40, 3.5)
        ]

    def test_widen_then_rename_keeps_serving(self, mod_engine):
        mod_engine.sql(
            "ALTER TABLE mc.t MODIFY COLUMN v Int64", dialect="clickhouse"
        )
        mod_engine.sql(
            "ALTER TABLE mc.t RENAME COLUMN v TO amount", dialect="clickhouse"
        )
        mod_engine.sql(
            "INSERT INTO mc.t (k, amount, f) VALUES",
            args=[{"k": "r3", "amount": 2**40, "f": 3.5}],
            dialect="clickhouse",
        )
        got = sorted(
            (r.k, r.amount)
            for r in mod_engine.sql(
                "SELECT k, amount FROM t", dialect="clickhouse"
            ).collect()
        )
        assert got == [("r1", 1), ("r2", 2), ("r3", 2**40)]

    def test_widen_partitioned_table_keeps_pruning_column(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "modpart")
        )
        eng.sql(
            """CREATE TABLE mp.e (ts DateTime, v Int32)
            ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY ts""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO mp.e (ts, v) VALUES",
            args=[{"ts": "2024-01-05 00:00:00", "v": 1},
                  {"ts": "2024-02-05 00:00:00", "v": 2}],
            dialect="clickhouse",
        )
        eng.sql("ALTER TABLE mp.e MODIFY COLUMN v Int64", dialect="clickhouse")
        eng.sql(
            "INSERT INTO mp.e (ts, v) VALUES",
            args=[{"ts": "2024-03-05 00:00:00", "v": 2**40}],
            dialect="clickhouse",
        )
        got = sorted(
            int(r.v)
            for r in eng.sql(
                "SELECT v FROM e WHERE ts >= '2024-02-01 00:00:00'",
                dialect="clickhouse",
            ).collect()
        )
        assert got == [2, 2**40]


class TestModifyColumnMaintenancePaths:
    def test_widen_then_delete_where_materializes(self, spark, tmp_path):
        """DELETE WHERE after a widen reads through the explicit schema
        (including the zone-map month-pruned partial-read path) and
        rewrites the touched files in the declared type."""
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "modmut")
        )
        eng.sql(
            """CREATE TABLE md.e (ts DateTime, v Int32)
            ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY ts""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO md.e (ts, v) VALUES",
            args=[{"ts": "2024-01-05 00:00:00", "v": 1},
                  {"ts": "2024-02-05 00:00:00", "v": 2},
                  {"ts": "2024-02-06 00:00:00", "v": 3}],
            dialect="clickhouse",
        )
        eng.sql("ALTER TABLE md.e MODIFY COLUMN v Int64", dialect="clickhouse")
        eng.sql(
            "INSERT INTO md.e (ts, v) VALUES",
            args=[{"ts": "2024-03-05 00:00:00", "v": 2**40}],
            dialect="clickhouse",
        )
        n = eng.sql(
            "ALTER TABLE md.e DELETE WHERE v = 2", dialect="clickhouse"
        ).collect()[0].rows_deleted
        assert n == 1
        got = sorted(
            int(r.v) for r in eng.sql("SELECT v FROM e", dialect="clickhouse").collect()
        )
        assert got == [1, 3, 2**40]
        # UPDATE through the same machinery
        eng.sql(
            "ALTER TABLE md.e UPDATE v = v + 1 WHERE v = 3",
            dialect="clickhouse",
        )
        got = sorted(
            int(r.v) for r in eng.sql("SELECT v FROM e", dialect="clickhouse").collect()
        )
        assert got == [1, 4, 2**40]


# ---------------------------------------------------------------------------
# OPTIMIZE ... DEDUPLICATE + ALTER ADD/DROP INDEX (r9)
# ---------------------------------------------------------------------------


class TestOptimizeDeduplicate:
    @pytest.fixture()
    def dup_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "dedup9")
        )
        eng.sql(
            "CREATE TABLE dd.t (k String, v Int32) ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO dd.t (k, v) VALUES",
            args=[{"k": "a", "v": 1}, {"k": "a", "v": 1},  # full-row dup
                  {"k": "a", "v": 2},                       # same k, new v
                  {"k": "b", "v": 9}],
            dialect="clickhouse",
        )
        return eng

    def _rows(self, eng):
        return sorted(
            (r.k, r.v)
            for r in eng.sql("SELECT k, v FROM t", dialect="clickhouse").collect()
        )

    def test_full_row_deduplicate(self, dup_engine):
        dup_engine.sql("OPTIMIZE TABLE dd.t DEDUPLICATE", dialect="clickhouse")
        assert self._rows(dup_engine) == [("a", 1), ("a", 2), ("b", 9)]

    def test_deduplicate_by_columns(self, dup_engine):
        dup_engine.sql(
            "OPTIMIZE TABLE dd.t FINAL DEDUPLICATE BY k", dialect="clickhouse"
        )
        # first arrival per k survives (deterministic, NOT arbitrary)
        assert self._rows(dup_engine) == [("a", 1), ("b", 9)]

    def test_plain_optimize_keeps_duplicates(self, dup_engine):
        # MergeTree OPTIMIZE without DEDUPLICATE merges parts only
        dup_engine.sql("OPTIMIZE TABLE dd.t FINAL", dialect="clickhouse")
        assert self._rows(dup_engine) == [("a", 1), ("a", 1), ("a", 2), ("b", 9)]

    def test_deduplicate_by_guards(self, dup_engine):
        with pytest.raises(KeyError, match="does not exist"):
            dup_engine.sql(
                "OPTIMIZE TABLE dd.t DEDUPLICATE BY nope", dialect="clickhouse"
            )
        with pytest.raises(ValueError, match="bare column names"):
            dup_engine.sql(
                "OPTIMIZE TABLE dd.t DEDUPLICATE BY lower(k)",
                dialect="clickhouse",
            )


class TestSkipIndexes:
    @pytest.fixture()
    def idx_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "skidx")
        )
        eng.sql(
            """CREATE TABLE ix.t (ts DateTime, sym String, px Float64)
            ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY (sym, ts)""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO ix.t (ts, sym, px) VALUES",
            args=[{"ts": "2024-01-05 00:00:00", "sym": "AAA", "px": 1.0},
                  {"ts": "2024-02-05 00:00:00", "sym": "BBB", "px": 2.0}],
            dialect="clickhouse",
        )
        return eng

    def test_minmax_index_builds_real_zonemap(self, idx_engine):
        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        idx_engine.sql(
            "ALTER TABLE ix.t ADD INDEX px_idx px TYPE minmax GRANULARITY 4",
            dialect="clickhouse",
        )
        entry = idx_engine.ddl_catalog.tables["t"]
        zm = _zm.read_zonemap(entry.table.path)
        assert zm is not None and "px" in zm["columns"]
        assert len(zm["files"]) > 0  # existing files footer-scanned
        # the sidecar actually prunes: px=1.0 lives in one month's file
        kept = _zm.prune_files(zm, entry.table.path, {"px": ("eq", 1.0)})
        assert kept is not None and len(kept) < len(zm["files"])
        # appends maintain it incrementally
        idx_engine.sql(
            "INSERT INTO ix.t (ts, sym, px) VALUES",
            args=[{"ts": "2024-03-05 00:00:00", "sym": "CCC", "px": 3.0}],
            dialect="clickhouse",
        )
        zm2 = _zm.read_zonemap(entry.table.path)
        assert len(zm2["files"]) > len(zm["files"])

    def test_bloom_index_builds_token_sidecar(self, idx_engine):
        from binance_etl_clickhouse_spark.storage import tokenbloom as _tb

        idx_engine.sql(
            "ALTER TABLE ix.t ADD INDEX sym_bf sym TYPE tokenbf_v1(256, 3, 0)",
            dialect="clickhouse",
        )
        entry = idx_engine.ddl_catalog.tables["t"]
        idx = _tb.read_token_bloom(entry.table.resolved_path())
        assert idx is not None
        kept = _tb.prune_files_with_token(
            idx, entry.table.resolved_path(), "AAA"
        )
        assert kept is not None and len(kept) >= 1

    def test_index_guards_and_drop(self, idx_engine):
        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        idx_engine.sql(
            "ALTER TABLE ix.t ADD INDEX px_idx px TYPE minmax",
            dialect="clickhouse",
        )
        with pytest.raises(ValueError, match="already exists"):
            idx_engine.sql(
                "ALTER TABLE ix.t ADD INDEX px_idx px TYPE minmax",
                dialect="clickhouse",
            )
        idx_engine.sql(  # tolerated
            "ALTER TABLE ix.t ADD INDEX IF NOT EXISTS px_idx px TYPE minmax",
            dialect="clickhouse",
        )
        with pytest.raises(KeyError, match="does not exist"):
            idx_engine.sql(
                "ALTER TABLE ix.t ADD INDEX bad nope TYPE minmax",
                dialect="clickhouse",
            )
        with pytest.raises(ValueError, match="unsupported type"):
            idx_engine.sql(
                "ALTER TABLE ix.t ADD INDEX h px TYPE hypothetical",
                dialect="clickhouse",
            )
        # MATERIALIZE validates the name
        idx_engine.sql(
            "ALTER TABLE ix.t MATERIALIZE INDEX px_idx", dialect="clickhouse"
        )
        with pytest.raises(KeyError, match="unknown index"):
            idx_engine.sql(
                "ALTER TABLE ix.t MATERIALIZE INDEX nope", dialect="clickhouse"
            )
        entry = idx_engine.ddl_catalog.tables["t"]
        idx_engine.sql("ALTER TABLE ix.t DROP INDEX px_idx", dialect="clickhouse")
        zm = _zm.read_zonemap(entry.table.path)
        assert zm is None or "px" not in zm["columns"]
        with pytest.raises(KeyError, match="unknown index"):
            idx_engine.sql(
                "ALTER TABLE ix.t DROP INDEX px_idx", dialect="clickhouse"
            )
        idx_engine.sql(
            "ALTER TABLE ix.t DROP INDEX IF EXISTS px_idx", dialect="clickhouse"
        )


class TestModifyColumnDefault:
    def test_default_change_is_metadata_only(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "moddflt")
        )
        eng.sql(
            """CREATE TABLE df.t (k String, v Float64 DEFAULT 1.5)
            ENGINE = MergeTree ORDER BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO df.t (k) VALUES", args=[{"k": "a"}], dialect="clickhouse"
        )
        eng.sql(
            "ALTER TABLE df.t MODIFY COLUMN v DEFAULT 9.25", dialect="clickhouse"
        )
        # the already-materialized row keeps its insert-time default;
        # new inserts take the new one (CH materializes at insert too)
        eng.sql(
            "INSERT INTO df.t (k) VALUES", args=[{"k": "b"}], dialect="clickhouse"
        )
        got = {r.k: r.v for r in eng.sql("SELECT k, v FROM t", dialect="clickhouse").collect()}
        assert got == {"a": 1.5, "b": 9.25}
        # DESCRIBE shows the new default
        d = {r.name: r.default_expression for r in eng.sql("DESCRIBE TABLE t", dialect="clickhouse").collect()}
        assert d["v"] == "9.25"
        # ALTER-added column: pre-ADD batches re-read the CURRENT default
        eng.sql(
            "ALTER TABLE df.t ADD COLUMN w Int32 DEFAULT 7", dialect="clickhouse"
        )
        eng.sql(
            "ALTER TABLE df.t MODIFY COLUMN w DEFAULT 11", dialect="clickhouse"
        )
        got = {r.k: r.w for r in eng.sql("SELECT k, w FROM t", dialect="clickhouse").collect()}
        assert got == {"a": 11, "b": 11}
        # guards
        with pytest.raises(KeyError, match="does not exist"):
            eng.sql(
                "ALTER TABLE df.t MODIFY COLUMN nope DEFAULT 1",
                dialect="clickhouse",
            )
        eng.sql(
            "ALTER TABLE df.t MODIFY COLUMN IF EXISTS nope DEFAULT 1",
            dialect="clickhouse",
        )


# ---------------------------------------------------------------------------
# ENGINE = Null + SHOW CREATE TABLE (r9)
# ---------------------------------------------------------------------------


class TestNullEngineAndShowCreate:
    def test_null_engine_feeds_mvs_stores_nothing(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "nulleng")
        )
        eng.sql(
            "CREATE TABLE st.raw (k String, v Int64) ENGINE = Null",
            dialect="clickhouse",
        )
        eng.sql(
            """CREATE MATERIALIZED VIEW st.sums
            ENGINE = SummingMergeTree ORDER BY (k)
            AS SELECT k, sum(v) AS v FROM st.raw GROUP BY k""",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO st.raw (k, v) VALUES",
            args=[{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 5}],
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO st.raw (k, v) VALUES",
            args=[{"k": "a", "v": 10}],
            dialect="clickhouse",
        )
        # the Null table serves EMPTY — nothing landed
        assert eng.sql("SELECT count(*) AS c FROM raw", dialect="clickhouse").collect()[0].c == 0
        # ...but the MV aggregated every inserted block
        got = sorted(
            (r.k, int(r.v))
            for r in eng.sql("SELECT k, v FROM sums", dialect="clickhouse").collect()
        )
        assert got == [("a", 13), ("b", 5)]

    def test_null_engine_rejects_engine_args_and_allows_no_order_by(
        self, spark, tmp_path
    ):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "nulleng2")
        )
        with pytest.raises(ValueError, match="engine arguments"):
            eng.sql(
                "CREATE TABLE st.bad (k String) ENGINE = Null(x) ORDER BY k",
                dialect="clickhouse",
            )

    def test_show_create_round_trips(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "showcr")
        )
        eng.sql(
            """CREATE TABLE sc.kl (
                symbol String, ts DateTime, close Float64 DEFAULT 0.0,
                ver Int64
            ) ENGINE = ReplacingMergeTree(ver)
            PARTITION BY toYYYYMM(ts)
            PRIMARY KEY (symbol)
            ORDER BY (symbol, ts)""",
            dialect="clickhouse",
        )
        stmt = eng.sql(
            "SHOW CREATE TABLE sc.kl", dialect="clickhouse"
        ).collect()[0].statement
        assert "ReplacingMergeTree(ver)" in stmt
        assert "PARTITION BY toYYYYMM(ts)" in stmt
        assert "ORDER BY (symbol, ts)" in stmt
        assert "PRIMARY KEY (symbol)" in stmt
        assert "DEFAULT 0.0" in stmt
        # the statement ROUND-TRIPS through this engine: re-create under a
        # fresh catalog from the emitted text and insert
        eng2 = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "showcr2")
        )
        eng2.sql(stmt.replace("sc.kl", "sc2.kl2"), dialect="clickhouse")
        eng2.sql(
            "INSERT INTO sc2.kl2 (symbol, ts, close, ver) VALUES",
            args=[{"symbol": "X", "ts": "2024-01-01 00:00:00",
                   "close": 1.0, "ver": 1}],
            dialect="clickhouse",
        )
        assert eng2.sql(
            "SELECT count(*) AS c FROM kl2", dialect="clickhouse"
        ).collect()[0].c == 1

    def test_show_create_unknown_table(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "showcr3")
        )
        with pytest.raises(KeyError, match="unknown table"):
            eng.sql("SHOW CREATE TABLE nope", dialect="clickhouse")


# ---------------------------------------------------------------------------
# Plain (non-materialized) CREATE VIEW (r9): query-time macro over the
# catalog — always reads CURRENT state, never a stale captured plan.
# ---------------------------------------------------------------------------


class TestPlainViews:
    @pytest.fixture()
    def pv_engine(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "plainv")
        )
        eng.sql(
            "CREATE TABLE pv.t (k String, v Int64) ENGINE = MergeTree ORDER BY k",
            dialect="clickhouse",
        )
        eng.sql(
            "INSERT INTO pv.t (k, v) VALUES",
            args=[{"k": "a", "v": 1}, {"k": "b", "v": 2}],
            dialect="clickhouse",
        )
        eng.sql(
            "CREATE VIEW pv.big AS SELECT k, v * 10 AS v10 FROM pv.t WHERE v > 1",
            dialect="clickhouse",
        )
        return eng

    def test_view_reads_current_state(self, pv_engine):
        got = [
            (r.k, r.v10)
            for r in pv_engine.sql("SELECT * FROM big", dialect="clickhouse").collect()
        ]
        assert got == [("b", 20)]
        # an insert AFTER the CREATE VIEW is visible (no stale plan)
        pv_engine.sql(
            "INSERT INTO pv.t (k, v) VALUES",
            args=[{"k": "c", "v": 3}],
            dialect="clickhouse",
        )
        got = sorted(
            (r.k, r.v10)
            for r in pv_engine.sql("SELECT * FROM big", dialect="clickhouse").collect()
        )
        assert got == [("b", 20), ("c", 30)]

    def test_view_over_view_and_or_replace(self, pv_engine):
        pv_engine.sql(
            "CREATE VIEW pv.bigger AS SELECT k FROM big WHERE v10 >= 20",
            dialect="clickhouse",
        )
        assert [r.k for r in pv_engine.sql("SELECT * FROM bigger", dialect="clickhouse").collect()] == ["b"]
        pv_engine.sql(
            "CREATE OR REPLACE VIEW pv.big AS SELECT k, v * 100 AS v10 FROM pv.t",
            dialect="clickhouse",
        )
        got = sorted(
            r.k for r in pv_engine.sql("SELECT * FROM bigger", dialect="clickhouse").collect()
        )
        assert got == ["a", "b"]  # the dependent view re-analyzed

    def test_introspection_and_guards(self, pv_engine):
        assert pv_engine.sql("EXISTS TABLE big", dialect="clickhouse").collect()[0].result == 1
        names = [r.name for r in pv_engine.sql("SHOW TABLES FROM pv", dialect="clickhouse").collect()]
        assert names == ["big", "t"]
        d = {r.name: r.type for r in pv_engine.sql("DESCRIBE TABLE big", dialect="clickhouse").collect()}
        assert d == {"k": "string", "v10": "bigint"}
        stmt = pv_engine.sql("SHOW CREATE TABLE big", dialect="clickhouse").collect()[0].statement
        assert stmt.startswith("CREATE VIEW pv.big AS SELECT")
        with pytest.raises(ValueError, match="already exists"):
            pv_engine.sql(
                "CREATE VIEW pv.big AS SELECT 1 AS x", dialect="clickhouse"
            )
        with pytest.raises(ValueError, match="already exists as a view"):
            pv_engine.sql(
                "CREATE TABLE pv.big (x Int64) ENGINE = MergeTree ORDER BY x",
                dialect="clickhouse",
            )
        # broken SELECT fails at CREATE, like ClickHouse
        with pytest.raises(Exception):
            pv_engine.sql(
                "CREATE VIEW pv.broken AS SELECT nope FROM pv.t",
                dialect="clickhouse",
            )

    def test_drop_source_breaks_view_loudly(self, pv_engine):
        pv_engine.sql("DROP TABLE pv.t", dialect="clickhouse")
        with pytest.raises(Exception):
            pv_engine.sql("SELECT * FROM big", dialect="clickhouse").collect()
        # DROP VIEW removes it; a second drop errors, IF EXISTS tolerates
        pv_engine.sql("DROP VIEW pv.big", dialect="clickhouse")
        with pytest.raises(KeyError):
            pv_engine.sql("DROP VIEW pv.big", dialect="clickhouse")
        pv_engine.sql("DROP VIEW IF EXISTS pv.big", dialect="clickhouse")

    def test_drop_table_also_removes_plain_view(self, pv_engine):
        pv_engine.sql("DROP TABLE pv.big", dialect="clickhouse")
        assert pv_engine.sql("EXISTS TABLE big", dialect="clickhouse").collect()[0].result == 0


class TestEnumColumns:
    """r10 (r9 verdict item 4): Enum8/Enum16 column types. Stored and
    served as the NAME (string); the declared value set gates INSERTs
    (ClickHouse's "Unknown element" refusal); integer-code inserts map to
    their names; toString(e) is the identity (names are the strings);
    numeric-code comparisons are NOT supported — documented divergence."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_enum")
        )
        eng.sql(
            """
            CREATE TABLE mkt (
                symbol String,
                market Enum8('spot' = 1, 'perp' = 2, 'margin' = 5),
                ts DateTime
            ) ENGINE = MergeTree ORDER BY (symbol, ts)
            """,
            dialect="clickhouse",
        )
        return eng

    def test_create_and_insert_valid_names(self, eng):
        n = eng.insert(
            "mkt",
            [
                {"symbol": "BTCUSDT", "market": "spot", "ts": "2024-01-01 00:00:00"},
                {"symbol": "BTCUSDT", "market": "perp", "ts": "2024-01-01 01:00:00"},
            ],
        )
        assert n == 2
        got = {
            (r.symbol, r.market)
            for r in eng.sql("SELECT symbol, market FROM mkt").collect()
        }
        assert got == {("BTCUSDT", "spot"), ("BTCUSDT", "perp")}

    def test_insert_integer_codes_map_to_names(self, eng):
        eng.insert(
            "mkt",
            [
                {"symbol": "A", "market": 1, "ts": "2024-01-01 00:00:00"},
                {"symbol": "B", "market": 5, "ts": "2024-01-01 00:00:00"},
            ],
        )
        got = dict(
            (r.symbol, r.market)
            for r in eng.sql("SELECT symbol, market FROM mkt").collect()
        )
        assert got == {"A": "spot", "B": "margin"}

    def test_insert_out_of_set_value_refused(self, eng):
        with pytest.raises(ValueError, match="unknown Enum element"):
            eng.insert(
                "mkt",
                [{"symbol": "A", "market": "futures", "ts": "2024-01-01 00:00:00"}],
            )
        with pytest.raises(ValueError, match="unknown Enum element"):
            # 3 is not a declared code either
            eng.insert(
                "mkt", [{"symbol": "A", "market": 3, "ts": "2024-01-01 00:00:00"}]
            )
        # nothing landed
        assert eng.sql("SELECT count(*) AS c FROM mkt").collect()[0].c == 0

    def test_null_and_absent_take_first_declared_value(self, eng):
        eng.insert(
            "mkt",
            [
                {"symbol": "N", "market": None, "ts": "2024-01-01 00:00:00"},
                {"symbol": "M", "ts": "2024-01-01 00:00:00"},
            ],
        )
        got = {r.market for r in eng.sql("SELECT market FROM mkt").collect()}
        assert got == {"spot"}  # first declared value, never ''

    def test_tostring_and_name_comparison(self, eng):
        eng.insert(
            "mkt",
            [
                {"symbol": "A", "market": "perp", "ts": "2024-01-01 00:00:00"},
                {"symbol": "B", "market": "spot", "ts": "2024-01-01 00:00:00"},
            ],
        )
        rows = eng.sql(
            "SELECT symbol, toString(market) AS m FROM mkt "
            "WHERE market = 'perp'",
            dialect="clickhouse",
        ).collect()
        assert [(r.symbol, r.m) for r in rows] == [("A", "perp")]

    def test_show_create_prints_enum_and_roundtrips(self, eng, spark, tmp_path):
        stmt = eng.sql("SHOW CREATE TABLE mkt", dialect="clickhouse").collect()[
            0
        ].statement
        assert "Enum8('spot' = 1, 'perp' = 2, 'margin' = 5)" in stmt
        # the reconstructed CREATE re-provisions in a fresh catalog, with
        # the same value set enforced
        eng2 = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_enum2")
        )
        eng2.sql(stmt.replace("TABLE mkt", "TABLE mkt2"), dialect="clickhouse")
        assert eng2.ddl_catalog.tables["mkt2"].ddl.enum_cols["market"] == (
            8,
            {"spot": 1, "perp": 2, "margin": 5},
        )
        with pytest.raises(ValueError, match="unknown Enum element"):
            eng2.insert(
                "mkt2", [{"symbol": "X", "market": "nope", "ts": "2024-01-01 00:00:00"}]
            )

    def test_describe_prints_enum_type(self, eng):
        rows = eng.sql("DESCRIBE TABLE mkt", dialect="clickhouse").collect()
        types = {r.name: r.type for r in rows}
        assert types["market"] == "Enum8('spot' = 1, 'perp' = 2, 'margin' = 5)"
        assert types["symbol"] == "string"

    def test_modify_extends_value_set(self, eng):
        eng.insert(
            "mkt", [{"symbol": "A", "market": "spot", "ts": "2024-01-01 00:00:00"}]
        )
        eng.sql(
            "ALTER TABLE mkt MODIFY COLUMN market "
            "Enum8('spot' = 1, 'perp' = 2, 'margin' = 5, 'option' = 9)",
            dialect="clickhouse",
        )
        eng.insert(
            "mkt", [{"symbol": "B", "market": "option", "ts": "2024-01-01 00:00:00"}]
        )
        got = {r.market for r in eng.sql("SELECT market FROM mkt").collect()}
        assert got == {"spot", "option"}

    def test_modify_shrinking_or_recoding_refused(self, eng):
        with pytest.raises(ValueError, match="may only be ADDED"):
            eng.sql(
                "ALTER TABLE mkt MODIFY COLUMN market Enum8('spot' = 1)",
                dialect="clickhouse",
            )
        with pytest.raises(ValueError, match="may only be ADDED"):
            eng.sql(
                "ALTER TABLE mkt MODIFY COLUMN market "
                "Enum8('spot' = 7, 'perp' = 2, 'margin' = 5)",
                dialect="clickhouse",
            )

    def test_modify_enum_to_string_and_string_to_enum(self, eng):
        eng.insert(
            "mkt", [{"symbol": "A", "market": "perp", "ts": "2024-01-01 00:00:00"}]
        )
        eng.sql("ALTER TABLE mkt MODIFY COLUMN market String", dialect="clickhouse")
        # value set gone: anything inserts now
        eng.insert(
            "mkt", [{"symbol": "B", "market": "whatever", "ts": "2024-01-01 00:00:00"}]
        )
        got = {r.market for r in eng.sql("SELECT market FROM mkt").collect()}
        assert got == {"perp", "whatever"}
        # String -> Enum needs a rewrite: refused
        with pytest.raises(ValueError, match="full validation pass"):
            eng.sql(
                "ALTER TABLE mkt MODIFY COLUMN symbol Enum8('a' = 1)",
                dialect="clickhouse",
            )

    def test_enum_widening_to_enum16(self, eng):
        eng.sql(
            "ALTER TABLE mkt MODIFY COLUMN market "
            "Enum16('spot' = 1, 'perp' = 2, 'margin' = 5, 'big' = 30000)",
            dialect="clickhouse",
        )
        assert eng.ddl_catalog.tables["mkt"].ddl.enum_cols["market"][0] == 16

    def test_alter_add_enum_column_fills_first_value(self, eng):
        eng.insert(
            "mkt", [{"symbol": "A", "market": "spot", "ts": "2024-01-01 00:00:00"}]
        )
        eng.sql(
            "ALTER TABLE mkt ADD COLUMN venue Enum8('cex' = 1, 'dex' = 2)",
            dialect="clickhouse",
        )
        # pre-ALTER rows read back the FIRST declared value, not ''
        assert eng.sql("SELECT venue FROM mkt").collect()[0].venue == "cex"
        with pytest.raises(ValueError, match="unknown Enum element"):
            eng.insert(
                "mkt",
                [{"symbol": "B", "market": "spot", "venue": "otc",
                  "ts": "2024-01-01 00:00:00"}],
            )

    def test_implicit_codes_and_bare_enum(self, eng, spark, tmp_path):
        eng.sql(
            "CREATE TABLE impl (k String, e Enum('lo', 'hi')) "
            "ENGINE = MergeTree ORDER BY (k)",
            dialect="clickhouse",
        )
        spec = eng.ddl_catalog.tables["impl"].ddl.enum_cols["e"]
        assert spec == (16, {"lo": 1, "hi": 2})
        eng.insert("impl", [{"k": "a", "e": 2}])
        assert eng.sql("SELECT e FROM impl").collect()[0].e == "hi"

    def test_float_coerced_codes_with_nulls_accepted(self, eng):
        """r10 ADVICE (medium): a dict block mixing integer enum codes with
        NULL/absent rows arrives float-coerced from pandas (code 2 -> 2.0);
        ClickHouse accepts it (code -> name, NULL -> default) — the gate
        must too, without tripping ANSI NaN->bigint overflow."""
        n = eng.insert(
            "mkt",
            [
                {"symbol": "A", "market": 2, "ts": "2024-01-01 00:00:00"},
                {"symbol": "B", "market": None, "ts": "2024-01-01 01:00:00"},
            ],
        )
        assert n == 2
        got = dict(
            (r.symbol, r.market)
            for r in eng.sql("SELECT symbol, market FROM mkt").collect()
        )
        assert got == {"A": "perp", "B": "spot"}
        # an unknown code in the same float-coerced shape is still refused
        with pytest.raises(ValueError, match="unknown Enum element"):
            eng.insert(
                "mkt",
                [
                    {"symbol": "C", "market": 7, "ts": "2024-01-01 00:00:00"},
                    {"symbol": "D", "market": None, "ts": "2024-01-01 00:00:00"},
                ],
            )
        # a non-integral float is never a code
        with pytest.raises(ValueError, match="unknown Enum element"):
            eng.insert(
                "mkt", [{"symbol": "C", "market": 2.5, "ts": "2024-01-01 00:00:00"}]
            )

    def test_spark_dataframe_float_column_codes_accepted(self, eng, spark):
        # the Spark-DataFrame insert path (no pandas loop) with a DOUBLE
        # column of integral codes goes through the same canonicalization
        sdf = spark.createDataFrame(
            [("E", 2.0, "2024-01-01 00:00:00")],
            "symbol string, market double, ts string",
        )
        assert eng.insert("mkt", sdf) == 1
        assert eng.sql("SELECT market FROM mkt").collect()[0].market == "perp"


class TestMapColumns:
    """r10 (r9 verdict item 5): Map(K, V) column type. Maps to Spark
    map<k,v>; dict-valued INSERTs round-trip; m[key] access and the
    existing map function family work on a DECLARED Map column. Missing
    keys read NULL (Spark) where ClickHouse reads the value type's
    default — documented divergence, coalesce at the call site."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_map")
        )
        eng.sql(
            """
            CREATE TABLE feats (
                doc_id Int64,
                counts Map(String, Int64),
                ts DateTime
            ) ENGINE = MergeTree ORDER BY (doc_id)
            """,
            dialect="clickhouse",
        )
        return eng

    def test_create_maps_declared_type(self, eng):
        cols = dict(
            (n, t) for n, t, _ in eng.ddl_catalog.tables["feats"].ddl.columns
        )
        assert cols["counts"] == "map<string,bigint>"

    def test_dict_insert_roundtrip_and_key_access(self, eng):
        eng.insert(
            "feats",
            [
                {"doc_id": 1, "counts": {"a": 3, "b": 1}, "ts": "2024-01-01 00:00:00"},
                {"doc_id": 2, "counts": {"a": 7}, "ts": "2024-01-01 00:00:00"},
            ],
        )
        rows = eng.sql(
            "SELECT doc_id, counts['a'] AS a, counts['b'] AS b "
            "FROM feats ORDER BY doc_id",
            dialect="clickhouse",
        ).collect()
        assert [(r.doc_id, r.a, r.b) for r in rows] == [(1, 3, 1), (2, 7, None)]

    def test_map_function_family_on_declared_column(self, eng):
        eng.insert(
            "feats",
            [{"doc_id": 1, "counts": {"x": 2, "y": 5}, "ts": "2024-01-01 00:00:00"}],
        )
        r = eng.sql(
            "SELECT mapKeys(counts) AS ks, mapValues(counts) AS vs, "
            "mapContains(counts, 'y') AS has_y FROM feats",
            dialect="clickhouse",
        ).collect()[0]
        assert sorted(r.ks) == ["x", "y"] and sorted(r.vs) == [2, 5] and r.has_y

    def test_absent_map_column_defaults_empty(self, eng):
        eng.insert("feats", [{"doc_id": 9, "ts": "2024-01-01 00:00:00"}])
        r = eng.sql("SELECT counts FROM feats").collect()[0]
        assert r.counts == {}

    def test_show_create_roundtrips_map(self, eng, spark, tmp_path):
        stmt = eng.sql("SHOW CREATE TABLE feats", dialect="clickhouse").collect()[
            0
        ].statement
        assert "map<string,bigint>" in stmt
        eng2 = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_map2")
        )
        eng2.sql(stmt.replace("TABLE feats", "TABLE feats2"), dialect="clickhouse")
        cols = dict(
            (n, t) for n, t, _ in eng2.ddl_catalog.tables["feats2"].ddl.columns
        )
        assert cols["counts"] == "map<string,bigint>"

    def test_nested_map_of_array(self, eng):
        eng.sql(
            "CREATE TABLE nested (k Int64, m Map(String, Array(Int32))) "
            "ENGINE = MergeTree ORDER BY (k)",
            dialect="clickhouse",
        )
        eng.insert("nested", [{"k": 1, "m": {"xs": [1, 2, 3]}}])
        r = eng.sql(
            "SELECT m['xs'] AS xs FROM nested", dialect="clickhouse"
        ).collect()[0]
        assert list(r.xs) == [1, 2, 3]


class TestGenericTypeRunHeuristic:
    """r10 ADVICE item 2: `<...>` is a generic TYPE run only after a known
    container head (array/map/struct); a pair of unquoted comparisons in
    DEFAULT expressions must not be swallowed as one token across the
    top-level comma."""

    def test_default_comparisons_do_not_merge_columns(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_gen")
        )
        eng.sql(
            "CREATE TABLE gdef (a Int8 DEFAULT 1<2, b Int8 DEFAULT 3>2, "
            "k String) ENGINE = MergeTree ORDER BY (k)",
            dialect="clickhouse",
        )
        assert [c for c, _, _ in eng.ddl_catalog.tables["gdef"].ddl.columns] == [
            "a",
            "b",
            "k",
        ]

    def test_spark_generic_spellings_still_one_token(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_gen2")
        )
        eng.sql(
            "CREATE TABLE gmap (k String, m map<string,array<bigint>>, "
            "s struct<a:bigint,b:string>) ENGINE = MergeTree ORDER BY (k)",
            dialect="clickhouse",
        )
        cols = {c: t for c, t, _ in eng.ddl_catalog.tables["gmap"].ddl.columns}
        assert cols["m"] == "map<string,array<bigint>>"
        assert cols["s"] == "struct<a:bigint,b:string>"


class TestInsertInlineValues:
    """r10: the inline-literal insert idiom — INSERT INTO t VALUES
    ('a', 1), ('b', 2) — runs verbatim. Rows evaluate through Spark's
    native VALUES clause AFTER the scalar dialect, so ClickHouse
    expressions (toDateTime, ...) work inside the literals; the block
    then takes the same catalog path as every insert (defaults,
    keep-last, MV triggers, enum gates)."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_inl")
        )
        eng.sql(
            """CREATE TABLE kv (
                k String, v Int64, ts DateTime
            ) ENGINE = ReplacingMergeTree()
            ORDER BY (k)""",
            dialect="clickhouse",
        )
        return eng

    def test_insert_format_streamed_forms_refused_loudly(self, eng):
        """r10 verdict item 7: INSERT INTO t FORMAT CSV/JSONEachRow/... is
        a client-streamed form (rows arrive out of band) — refuse with a
        clear message instead of a parser error or a silent zero-row
        insert."""
        for q in (
            "INSERT INTO kv FORMAT CSV",
            "INSERT INTO kv (k, v) FORMAT JSONEachRow",
            "INSERT INTO kv FORMAT TabSeparated",
        ):
            with pytest.raises(ValueError, match="client-streamed"):
                eng.sql(q, dialect="clickhouse")

    def test_insert_format_values_inline_runs(self, eng):
        # FORMAT Values with inline rows IS executable: same path as the
        # plain VALUES spelling
        out = eng.sql(
            "INSERT INTO kv (k, v, ts) FORMAT Values "
            "('a', 1, toDateTime('2024-01-01 00:00:00'))",
            dialect="clickhouse",
        )
        assert out.collect()[0].rows_written == 1
        assert eng.sql("SELECT v FROM kv").collect()[0].v == 1

    def test_plain_literals(self, eng):
        out = eng.sql(
            "INSERT INTO kv (k, v, ts) VALUES "
            "('a', 1, toDateTime('2024-01-01 00:00:00')), "
            "('b', 2, toDateTime('2024-01-02 00:00:00'))",
            dialect="clickhouse",
        )
        assert out.collect()[0].rows_written == 2
        got = sorted(
            (r.k, r.v) for r in eng.sql("SELECT k, v FROM kv").collect()
        )
        assert got == [("a", 1), ("b", 2)]

    def test_no_column_list_uses_declared_order(self, eng):
        eng.sql(
            "INSERT INTO kv VALUES ('x', 9, toDateTime('2024-03-01 00:00:00'));",
            dialect="clickhouse",
        )
        r = eng.sql("SELECT k, v FROM kv").collect()[0]
        assert (r.k, r.v) == ("x", 9)

    def test_strings_with_commas_and_parens(self, eng):
        eng.sql(
            "INSERT INTO kv (k, v, ts) VALUES "
            "('a,b (c)', 1, toDateTime('2024-01-01 00:00:00'))",
            dialect="clickhouse",
        )
        assert eng.sql("SELECT k FROM kv").collect()[0].k == "a,b (c)"

    def test_keep_last_applies_within_literal_block(self, eng):
        eng.sql(
            "INSERT INTO kv (k, v, ts) VALUES "
            "('a', 1, toDateTime('2024-01-01 00:00:00')), "
            "('a', 2, toDateTime('2024-01-01 00:00:00'))",
            dialect="clickhouse",
        )
        rows = eng.sql("SELECT k, v FROM kv").collect()
        assert [(r.k, r.v) for r in rows] == [("a", 2)]  # last in block wins

    def test_arity_mismatch_refused(self, eng):
        with pytest.raises(ValueError, match="do not match"):
            eng.sql("INSERT INTO kv (k, v) VALUES ('a', 1, 2)", dialect="clickhouse")

    def test_enum_gate_applies_to_literal_inserts(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_inl_e")
        )
        eng.sql(
            "CREATE TABLE me (k String, m Enum8('x' = 1, 'y' = 2)) "
            "ENGINE = MergeTree ORDER BY (k)",
            dialect="clickhouse",
        )
        # one spelling per block: Spark's inline table requires a single
        # type per VALUES column (mixing 'y' and 1 in one block is refused
        # at parse — use two inserts, as below; documented divergence)
        eng.sql("INSERT INTO me VALUES ('a', 'y')", dialect="clickhouse")
        eng.sql("INSERT INTO me VALUES ('b', 1)", dialect="clickhouse")
        got = sorted((r.k, r.m) for r in eng.sql("SELECT k, m FROM me").collect())
        assert got == [("a", "y"), ("b", "x")]
        with pytest.raises(ValueError, match="unknown Enum element"):
            eng.sql("INSERT INTO me VALUES ('c', 'nope')", dialect="clickhouse")

    def test_driver_args_idiom_still_works(self, eng):
        out = eng.sql(
            "INSERT INTO kv (k, v, ts) VALUES",
            args=[{"k": "z", "v": 5, "ts": "2024-01-01 00:00:00"}],
            dialect="clickhouse",
        )
        assert out.collect()[0].rows_written == 1


class TestSystemTables:
    """r10: the system.* introspection tables — live views over the
    catalog's CURRENT state (ClickHouse semantics), rebuilt at query time
    and only when referenced."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_sys")
        )
        eng.sql("CREATE DATABASE IF NOT EXISTS db1", dialect="clickhouse")
        eng.sql(
            """CREATE TABLE db1.kl (
                symbol String, ts DateTime, close Float64, ver Int64
            ) ENGINE = ReplacingMergeTree(ver)
            PARTITION BY toYYYYMM(ts)
            PRIMARY KEY (symbol) ORDER BY (symbol, ts)""",
            dialect="clickhouse",
        )
        eng.sql(
            "CREATE TABLE db1.agg (k String, v Int64) "
            "ENGINE = SummingMergeTree ORDER BY (k)",
            dialect="clickhouse",
        )
        eng.sql(
            "CREATE MATERIALIZED VIEW db1.mv TO db1.agg AS "
            "SELECT symbol AS k, toInt64(close) AS v FROM db1.kl",
            dialect="clickhouse",
        )
        eng.sql(
            "CREATE VIEW db1.v AS SELECT symbol FROM db1.kl",
            dialect="clickhouse",
        )
        return eng

    def test_databases_and_tables(self, eng):
        dbs = {r.name for r in eng.sql(
            "SELECT name FROM system.databases", dialect="clickhouse"
        ).collect()}
        assert dbs == {"db1", "system"}
        rows = {
            r.name: r.engine
            for r in eng.sql(
                "SELECT name, engine FROM system.tables", dialect="clickhouse"
            ).collect()
        }
        assert rows == {
            "kl": "ReplacingMergeTree",
            "agg": "SummingMergeTree",
            "mv": "MaterializedView",
            "v": "View",
        }

    def test_tables_keys_and_create_query(self, eng):
        r = eng.sql(
            "SELECT partition_key, sorting_key, primary_key, "
            "create_table_query FROM system.tables WHERE name = 'kl'",
            dialect="clickhouse",
        ).collect()[0]
        assert r.partition_key == "toYYYYMM(ts)"
        assert r.sorting_key == "symbol, ts"
        assert r.primary_key == "symbol"
        assert r.create_table_query.startswith("CREATE TABLE db1.kl")

    def test_columns_reflect_alters_live(self, eng):
        q = (
            "SELECT name, type, position FROM system.columns "
            "WHERE table = 'kl' ORDER BY position"
        )
        before = [(r.name, r.position) for r in eng.sql(q, dialect="clickhouse").collect()]
        assert before == [("symbol", 1), ("ts", 2), ("close", 3), ("ver", 4)]
        eng.sql(
            "ALTER TABLE db1.kl ADD COLUMN venue Enum8('cex' = 1)",
            dialect="clickhouse",
        )
        after = {r.name: r.type for r in eng.sql(q, dialect="clickhouse").collect()}
        assert after["venue"] == "Enum8('cex' = 1)"  # live state, enum-typed

    def test_parts_footer_metadata(self, eng):
        eng.sql(
            "INSERT INTO db1.kl VALUES "
            "('BTC', toDateTime('2024-01-01 00:00:00'), 10.5, 1), "
            "('ETH', toDateTime('2024-02-01 00:00:00'), 2.5, 1)",
            dialect="clickhouse",
        )
        rows = eng.sql(
            "SELECT table, partition, rows, active FROM system.parts "
            "WHERE table = 'kl' ORDER BY partition",
            dialect="clickhouse",
        ).collect()
        assert [(r.partition, r.rows, r.active) for r in rows] == [
            ("202401", 1, 1),
            ("202402", 1, 1),
        ]
        # MV target: no partition col -> 'all'; the per-block trigger wrote
        # the block's 2 per-key partials
        agg = eng.sql(
            "SELECT partition, rows FROM system.parts WHERE table = 'agg'",
            dialect="clickhouse",
        ).collect()
        assert [(r.partition, r.rows) for r in agg] == [("all", 2)]

    def test_unknown_system_table_raises(self, eng):
        with pytest.raises(KeyError, match="unsupported system table"):
            eng.sql("SELECT * FROM system.nope", dialect="clickhouse")

    def test_unknown_system_ref_outside_table_position_passes_through(self, eng):
        """r10 ADVICE item 3: only a system.* reference in TABLE position
        (after FROM/JOIN) is gated; a mere identifier spelling elsewhere is
        not this layer's to refuse."""
        r = eng.sql(
            "SELECT 1 AS x FROM system.one WHERE 'a' != 'system.zzz'",
            dialect="clickhouse",
        ).collect()
        assert r[0].x == 1

    def test_system_one_and_numbers(self, eng):
        """``system.one`` (one row, dummy=0) and ``system.numbers``
        (LIMIT-bounded natural numbers) — the two most common ClickHouse
        idioms outside the introspection four."""
        assert [r.dummy for r in eng.sql(
            "SELECT * FROM system.one", dialect="clickhouse"
        ).collect()] == [0]
        assert [r.number for r in eng.sql(
            "SELECT number FROM system.numbers LIMIT 5", dialect="clickhouse"
        ).collect()] == [0, 1, 2, 3, 4]
        # expressions + predicates over numbers stay lazy (range + limit)
        assert [r.n2 for r in eng.sql(
            "SELECT number * 2 AS n2 FROM system.numbers WHERE number > 1 "
            "LIMIT 3",
            dialect="clickhouse",
        ).collect()] == [4, 6, 8]

    def test_system_tables_work_before_any_ddl(self, spark, tmp_path):
        # a fresh engine with NO ddl yet still serves system.one/numbers
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_sysfresh")
        )
        assert eng.sql(
            "SELECT count(*) AS c FROM system.one", dialect="clickhouse"
        ).collect()[0].c == 1

    def test_string_literal_untouched(self, eng):
        r = eng.sql(
            "SELECT 'system.tables' AS s", dialect="clickhouse"
        ).collect()[0]
        assert r.s == "system.tables"


class TestTokenBloomReadPath:
    """r10: the skip-index READ path — read_containing serves hasToken-
    style lookups through the token-bloom sidecar a declared tokenbf_v1
    index maintains, pruning whole files; correct in every fallback."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_tb")
        )
        eng.sql(
            "CREATE TABLE docs (doc_id Int64, body String, ts DateTime) "
            "ENGINE = MergeTree ORDER BY (doc_id) PARTITION BY toYYYYMM(ts)",
            dialect="clickhouse",
        )
        eng.insert(
            "docs",
            [
                {"doc_id": 1, "body": "alpha beta gamma",
                 "ts": "2024-01-01 00:00:00"},
                {"doc_id": 2, "body": "beta delta",
                 "ts": "2024-02-01 00:00:00"},
                {"doc_id": 3, "body": "epsilon zeta",
                 "ts": "2024-03-01 00:00:00"},
            ],
        )
        eng.sql(
            "ALTER TABLE docs ADD INDEX body_tokens body TYPE tokenbf_v1 "
            "GRANULARITY 4",
            dialect="clickhouse",
        )
        return eng

    def test_prunes_and_matches_exact_filter(self, eng):
        got = eng.ddl_catalog.read_containing("docs", "alpha")
        assert [r.doc_id for r in got.collect()] == [1]
        # the pruned read schedules ONLY the surviving file's month dir
        files = got.inputFiles()
        assert len(files) == 1 and "month=202401" in files[0]
        # a token in two files keeps both
        two = eng.ddl_catalog.read_containing("docs", "beta")
        assert sorted(r.doc_id for r in two.collect()) == [1, 2]
        # a token nowhere: empty, zero files
        none = eng.ddl_catalog.read_containing("docs", "nosuchtoken")
        assert none.count() == 0

    def test_result_equals_served_filter(self, eng):
        from binance_etl_clickhouse_spark.storage.tokenbloom import tokens
        from pyspark.sql import functions as F

        want = sorted(
            r.doc_id
            for r in eng.ddl_catalog.snapshot("docs")
            .filter(F.array_contains(tokens("body"), "beta"))
            .collect()
        )
        got = sorted(
            r.doc_id
            for r in eng.ddl_catalog.read_containing("docs", "beta").collect()
        )
        assert got == want == [1, 2]

    def test_stale_sidecar_falls_back_full_scan(self, eng):
        # an append AFTER the index build leaves new files outside the
        # bloom: pruning must disable, never lose the new rows
        eng.insert(
            "docs",
            [{"doc_id": 4, "body": "alpha omega", "ts": "2024-04-01 00:00:00"}],
        )
        got = sorted(
            r.doc_id
            for r in eng.ddl_catalog.read_containing("docs", "alpha").collect()
        )
        assert got == [1, 4]

    def test_no_index_raises(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_tb2")
        )
        eng.sql(
            "CREATE TABLE plain (k Int64, s String) ENGINE = MergeTree "
            "ORDER BY (k)",
            dialect="clickhouse",
        )
        with pytest.raises(ValueError, match="no token-bloom skip index"):
            eng.ddl_catalog.read_containing("plain", "x")

    def test_dedup_table_filters_served_state(self, spark, tmp_path):
        # ReplacingMergeTree: the filter must apply AFTER keep-last, so a
        # superseded old version containing the token must NOT resurrect
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_tb3")
        )
        eng.sql(
            "CREATE TABLE rdocs (k Int64, body String) "
            "ENGINE = ReplacingMergeTree() ORDER BY (k)",
            dialect="clickhouse",
        )
        eng.insert("rdocs", [{"k": 1, "body": "alpha old"}])
        eng.sql(
            "ALTER TABLE rdocs ADD INDEX bt body TYPE tokenbf_v1",
            dialect="clickhouse",
        )
        eng.insert("rdocs", [{"k": 1, "body": "fresh body"}])  # supersedes
        got = eng.ddl_catalog.read_containing("rdocs", "alpha").collect()
        assert got == []  # the old version is dead, token and all
        got2 = [
            r.k for r in eng.ddl_catalog.read_containing("rdocs", "fresh").collect()
        ]
        assert got2 == [1]


class TestAggregatingMergeTree:
    """r11: ENGINE = AggregatingMergeTree with AggregateFunction(f, T)
    columns. States are TRANSPARENT partials (plain value / (sum,count)
    struct / collected array) instead of CH's opaque blobs; the read-side
    collapse merges per ORDER BY key; -Merge queries fold to finals —
    the classic two-stage MV pattern runs verbatim."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        eng = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_aggmt")
        )
        eng.sql(
            """
            CREATE TABLE agg_daily (
                sym String,
                trades AggregateFunction(count, UInt64),
                volume AggregateFunction(sum, Float64),
                avg_px AggregateFunction(avg, Float64),
                users AggregateFunction(uniqExact, String)
            ) ENGINE = AggregatingMergeTree ORDER BY (sym)
            """,
            dialect="clickhouse",
        )
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW agg_src1 AS SELECT * FROM VALUES "
            "('BTC', 10.0, 'u1'), ('BTC', 20.0, 'u2'), ('ETH', 5.0, 'u1') "
            "AS s(sym, px, u)"
        )
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW agg_src2 AS SELECT * FROM VALUES "
            "('BTC', 30.0, 'u2'), ('ETH', 15.0, 'u3') AS s(sym, px, u)"
        )
        for v in ("agg_src1", "agg_src2"):
            eng.sql(
                f"INSERT INTO agg_daily SELECT sym, countState(px) AS trades,"
                f" sumState(px) AS volume, avgState(px) AS avg_px, "
                f"uniqExactState(u) AS users FROM {v} GROUP BY sym",
                dialect="clickhouse",
            )
        return eng

    def test_snapshot_collapses_states_per_key(self, eng):
        rows = eng.sql(
            "SELECT sym, trades, volume, avg_px, sort_array(users) AS users "
            "FROM agg_daily ORDER BY sym",
            dialect="clickhouse",
        ).collect()
        assert [(r.sym, r.trades, r.volume) for r in rows] == [
            ("BTC", 3, 60.0),
            ("ETH", 2, 20.0),
        ]
        # index access: Row.count is the method name
        assert (rows[0].avg_px[0], rows[0].avg_px[1]) == (60.0, 3)
        assert list(rows[0].users) == ["u1", "u2"]

    def test_merge_queries_fold_to_finals(self, eng):
        rows = eng.sql(
            "SELECT sym, countMerge(trades) AS n, sumMerge(volume) AS vol, "
            "avgMerge(avg_px) AS apx, uniqExactMerge(users) AS uu "
            "FROM agg_daily GROUP BY sym ORDER BY sym",
            dialect="clickhouse",
        ).collect()
        assert [(r.sym, r.n, r.vol, r.apx, r.uu) for r in rows] == [
            ("BTC", 3, 60.0, 20.0, 2),
            ("ETH", 2, 20.0, 10.0, 2),
        ]

    def test_show_create_roundtrips(self, eng, spark, tmp_path):
        stmt = eng.sql(
            "SHOW CREATE TABLE agg_daily", dialect="clickhouse"
        ).collect()[0].statement
        assert "AggregateFunction(avg, Float64)" in stmt
        eng2 = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_aggmt2")
        )
        eng2.sql(stmt.replace("agg_daily", "agg2"), dialect="clickhouse")
        assert eng2.ddl_catalog.tables["agg2"].ddl.agg_cols["avg_px"] == (
            "avg",
            "AggregateFunction(avg, Float64)",
        )

    def test_mv_into_aggregating_engine(self, eng):
        eng.sql(
            "CREATE TABLE raw_tr (sym String, px Float64) "
            "ENGINE = MergeTree ORDER BY (sym)",
            dialect="clickhouse",
        )
        eng.sql(
            "CREATE MATERIALIZED VIEW mv_agg "
            "ENGINE = AggregatingMergeTree ORDER BY (sym) AS "
            "SELECT sym, avgState(px) AS apx, countState(px) AS n "
            "FROM raw_tr GROUP BY sym",
            dialect="clickhouse",
        )
        eng.insert("raw_tr", [{"sym": "BTC", "px": 10.0}, {"sym": "BTC", "px": 30.0}])
        eng.insert("raw_tr", [{"sym": "BTC", "px": 50.0}])
        r = eng.sql(
            "SELECT sym, avgMerge(apx) AS apx, countMerge(n) AS n "
            "FROM mv_agg GROUP BY sym",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.sym, r.apx, r.n) == ("BTC", 30.0, 3)

    def test_guards(self, eng, spark, tmp_path):
        # AggregateFunction columns demand the aggregating engine
        eng3 = AnalyticsEngine(
            spark, verbose=False, ddl_root=str(tmp_path / "ddl_aggmt3")
        )
        with pytest.raises(ValueError, match="AggregatingMergeTree"):
            eng3.sql(
                "CREATE TABLE bad (k String, s AggregateFunction(sum, Int64))"
                " ENGINE = MergeTree ORDER BY (k)",
                dialect="clickhouse",
            )
        # unsupported state function refused loudly
        with pytest.raises(ValueError, match="not supported"):
            eng3.sql(
                "CREATE TABLE bad2 (k String, "
                "s AggregateFunction(quantileTDigest, Float64)) "
                "ENGINE = AggregatingMergeTree ORDER BY (k)",
                dialect="clickhouse",
            )
        # column mutations refused (collapse binds schema to storage)
        with pytest.raises(ValueError, match="read-time collapse"):
            eng.sql(
                "ALTER TABLE agg_daily DROP COLUMN users",
                dialect="clickhouse",
            )


# -- lexical contract on the DDL path: one lexer (sqltext) for quotes and
# comments, shared with the query dialect --------------------------------


def test_backslash_escaped_quote_in_default_parses():
    from binance_etl_clickhouse_spark.dialect_ddl import parse_clickhouse_ddl

    ddl = parse_clickhouse_ddl(
        r"CREATE TABLE t (a String DEFAULT 'it\'s, ok', b Int8) "
        "ENGINE = MergeTree ORDER BY b"
    )
    assert ddl.columns == [
        ("a", "string", r"'it\'s, ok'"),
        ("b", "tinyint", None),
    ]


def test_comments_in_ddl_provision_the_same_table(spark, tmp_path):
    plain = (
        "CREATE TABLE {name} (sym String, note String DEFAULT '--kept', "
        "ts DateTime) ENGINE = ReplacingMergeTree ORDER BY (sym, ts)"
    )
    commented = {
        "lead": "-- provisioned by the nightly job\n" + plain,
        "block": plain.replace("(sym String,", "(sym String, /* key, (part) */"),
        "inline": plain.replace(
            "note String", "-- a comma, and a paren (\n note String"
        ),
    }
    eng = AnalyticsEngine(spark, verbose=False, ddl_root=str(tmp_path / "ddl"))
    eng.sql(plain.format(name="t_plain"), dialect="clickhouse")
    want = eng.ddl_catalog.tables["t_plain"].ddl
    assert ("note", "string", "'--kept'") in want.columns
    for label, text in commented.items():
        eng.sql(text.format(name=f"t_{label}"), dialect="clickhouse")
        got = eng.ddl_catalog.tables[f"t_{label}"].ddl
        assert (got.columns, got.order_by, got.engine) == (
            want.columns,
            want.order_by,
            want.engine,
        ), label
