"""Streaming jobs + klines-shaped analytics operators (as-of, OHLC resample)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators.asof import asof_join
from binance_etl_clickhouse_spark.operators.etl import clean_funding_rates, clean_klines
from binance_etl_clickhouse_spark.operators.resample import resample_ohlcv
from binance_etl_clickhouse_spark.schemas import KLINES, KLINES_PK
from binance_etl_clickhouse_spark.sources.synthetic import (
    synthetic_funding_raw,
    synthetic_klines_raw,
)
from binance_etl_clickhouse_spark.storage.table import INGEST_SEQ, ServingTable
from binance_etl_clickhouse_spark.streaming.jobs import (
    stream_ingest_staging,
    stream_resample_bars,
)
from binance_etl_clickhouse_spark.tables import load_table


def _klines(spark, n_symbols=2, bars=72):
    raw = synthetic_klines_raw(spark, n_symbols=n_symbols, bars_per_symbol=bars, overlap_bars=0)
    return clean_klines(raw, market_type="SPOT", interval="1h")


def test_resample_ohlcv_1d(spark):
    k = _klines(spark, n_symbols=2, bars=72)  # 3 days of hourly bars
    daily = resample_ohlcv(k, "1 day")
    rows = daily.collect()
    assert len(rows) == 2 * 3
    one = [r for r in rows if r.symbol == "SYM000USDT" and r.bucket_start.day == 1][0]
    assert one.n_bars == 24
    hourly = {
        r.timestamp.hour: r
        for r in k.filter(
            (F.col("symbol") == "SYM000USDT") & (F.dayofmonth("timestamp") == 1)
        ).collect()
    }
    assert one.open == hourly[0].open  # first bar's open
    assert one.close == hourly[23].close  # last bar's close
    assert abs(one.volume - sum(h.volume for h in hourly.values())) < 1e-6


def test_asof_join_klines_funding(spark):
    k = _klines(spark, n_symbols=2, bars=48)
    funding = clean_funding_rates(
        synthetic_funding_raw(spark, n_symbols=2, n_periods=6, overlap=0)
    )
    joined = asof_join(
        k,
        funding.select("symbol", "fundingTime", "fundingRate"),
        on="timestamp",
        right_on="fundingTime",
        by=["symbol"],
        value_cols=["fundingRate"],
    )
    assert joined.count() == k.count()
    # a kline at 07:00 sees the 00:00 funding rate; at 08:00 the 08:00 one
    r7 = joined.filter(
        (F.col("symbol") == "SYM000USDT") & (F.hour("timestamp") == 7) & (F.dayofmonth("timestamp") == 1)
    ).first()
    r8 = joined.filter(
        (F.col("symbol") == "SYM000USDT") & (F.hour("timestamp") == 8) & (F.dayofmonth("timestamp") == 1)
    ).first()
    fr = {
        r.fundingTime.hour: r.fundingRate
        for r in funding.filter(
            (F.col("symbol") == "SYM000USDT") & (F.dayofmonth("fundingTime") == 1)
        ).collect()
    }
    assert r7.fundingRate_asof == fr[0]
    assert r8.fundingRate_asof == fr[8]


def test_stream_ingest_staging_available_now(spark, tmp_path):
    staging = str(tmp_path / "staging")
    k = _klines(spark)
    k.write.mode("append").parquet(staging)
    table = ServingTable(
        path=str(tmp_path / "serving"),
        keys=KLINES_PK,
        time_col="timestamp",
        sort_cols=["symbol", "type", "interval", "timestamp"],
    )
    q = stream_ingest_staging(
        spark, staging, KLINES, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    snap = table.read(spark)
    assert snap.count() == k.count()
    # restart with no new files -> checkpoint prevents re-ingest
    q2 = stream_ingest_staging(
        spark, staging, KLINES, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert table.read_raw(spark).count() == k.count()  # no duplicate versions


def test_stream_seq_monotonic_after_batch_appends(spark, tmp_path):
    """Mixing batch appends and streamed batches on one table must keep
    version stamps monotonic: the streamed rows (newer arrivals) have to win
    keep-last dedup over the earlier batch rows."""
    k = _klines(spark, n_symbols=1, bars=24)
    table = ServingTable(
        path=str(tmp_path / "serving"),
        keys=KLINES_PK,
        time_col="timestamp",
        sort_cols=["symbol", "type", "interval", "timestamp"],
    )
    # batch writer got there first, several times
    table.append(k, ingest_seq=1)
    table.append(k.withColumn("volume", F.lit(111.0)), ingest_seq=5)
    # now the same keys arrive via the stream (a re-fetch) with volume=999
    staging = str(tmp_path / "staging")
    k.withColumn("volume", F.lit(999.0)).write.mode("append").parquet(staging)
    q = stream_ingest_staging(
        spark, staging, KLINES, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    snap = table.read(spark)
    assert snap.count() == 24
    # epoch 0 alone would have stamped seq=1 (colliding with the first batch
    # and losing to seq=5); the base offset makes the stream rows newest
    assert {r.volume for r in snap.select("volume").distinct().collect()} == {999.0}
    assert table.max_ingest_seq(spark) >= 6


def test_stream_resample_with_watermark(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # drive the streaming agg with a bounded memory source: use the batch df
    # through the same builder to validate plan + results parity
    agg = stream_resample_bars(ev)  # batch DataFrame flows through identically
    batch_equiv = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("bucket_start"), "user_id", "n", "total_value")
    )
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, batch_equiv.collect()))


def test_stream_resample_hopping_windows(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    agg = stream_resample_bars(ev, window_len="1 hour", slide="15 minutes")
    batch_equiv = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("bucket_start"), "user_id", "n", "total_value")
    )
    got, want = agg.collect(), batch_equiv.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # hopping replicates: ~4x the tumbling row count (edges excepted)
    n_tumbling = stream_resample_bars(ev).count()
    assert len(got) > 3 * n_tumbling


def test_stream_dedup_within_watermark(spark, tmp_path):
    staging = str(tmp_path / "staging")
    k = _klines(spark, n_symbols=1, bars=24)
    dup = k.unionByName(k.limit(10))  # 10 duplicate rows in the same batch
    dup.write.mode("append").parquet(staging)
    table = ServingTable(
        path=str(tmp_path / "serving"),
        keys=KLINES_PK,
        time_col="timestamp",
        sort_cols=["symbol", "type", "interval", "timestamp"],
    )
    q = stream_ingest_staging(
        spark,
        staging,
        KLINES,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dedup_keys=["symbol", "type", "interval", "timestamp"],
        watermark=("timestamp", "1 hour"),
    )
    q.awaitTermination(120)
    assert table.read_raw(spark).count() == 24  # dups dropped in-stream


def test_stream_session_windows(spark, tmp_path):
    from binance_etl_clickhouse_spark.streaming.jobs import stream_session_windows

    staging = str(tmp_path / "ev")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("append").parquet(staging)
    src = spark.readStream.schema(ev.schema).parquet(staging)
    agg = stream_session_windows(src)
    qname = "sess_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName(qname)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql(f"SELECT * FROM {qname}")
    assert got.count() > 0
    # session invariant: span never exceeds events*gap; counts sum to input
    assert got.agg(F.sum("n_events")).first()[0] == ev.count()


def test_stream_per_key_watermark_state(spark, tmp_path):
    from binance_etl_clickhouse_spark.streaming.jobs import stream_per_key_watermark

    staging = str(tmp_path / "k")
    k = _klines(spark, n_symbols=2, bars=48)
    k.write.mode("append").parquet(staging)
    src = spark.readStream.schema(k.schema).parquet(staging)
    out = stream_per_key_watermark(src, key_col="symbol", ts_col="timestamp")
    q = (
        out.writeStream.outputMode("update")
        .format("memory").queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {r.symbol: r for r in spark.sql("SELECT * FROM wm_out").collect()}
    assert len(got) == 2
    batch_wm = {
        r.symbol: r.last_ts
        for r in k.groupBy("symbol").agg(F.max("timestamp").alias("last_ts")).collect()
    }
    for sym, row in got.items():
        assert row.total_rows == 48
        assert row.last_ts == batch_wm[sym]


def test_stream_running_candles_transform_with_state(spark, tmp_path):
    # transformWithStateInPandas' worker protocol is protobuf-based; without
    # google.protobuf the driver worker crashes at init. The GroupState twin
    # (test_stream_per_key_watermark_state) covers stateful semantics here.
    pytest.importorskip("google.protobuf")
    from binance_etl_clickhouse_spark.streaming.jobs import stream_running_candles

    staging = str(tmp_path / "k")
    k = _klines(spark, n_symbols=2, bars=48)
    k.write.mode("append").parquet(staging)
    src = spark.readStream.schema(k.schema).parquet(staging)
    # the StatefulProcessor API requires the RocksDB state store
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = stream_running_candles(src, key_col="symbol", ts_col="timestamp")
        q = (
            out.writeStream.outputMode("update")
            .format("memory").queryName("candle_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {r.symbol: r for r in spark.sql("SELECT * FROM candle_out").collect()}
    assert len(got) == 2
    exp = {
        r.symbol: r
        for r in k.groupBy("symbol").agg(
            F.min_by("close", "timestamp").alias("open"),
            F.max("close").alias("high"),
            F.min("close").alias("low"),
            F.max_by("close", "timestamp").alias("close"),
            F.count(F.lit(1)).alias("n_rows"),
        ).collect()
    }
    for sym, row in got.items():
        e = exp[sym]
        assert row.n_rows == e.n_rows == 48
        assert (row.open, row.high, row.low, row.close) == (
            e.open, e.high, e.low, e.close,
        )


def test_stream_dedup_corpus_incremental(spark, tmp_path):
    """Cross-batch near-dups are dropped at ingest against the signature
    index; within-batch dups are dropped too; distinct docs all land."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import stream_dedup_corpus

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven twelve"
    third = "red orange yellow green blue indigo violet ultra maroon cyan"

    def drop(fname, docs):
        with open(in_dir / fname, "w") as f:
            for i, text in docs:
                f.write(
                    json.dumps(
                        {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                    )
                    + "\n"
                )

    # batch 1: doc 2 is a within-batch exact dup of doc 1
    drop("b1.jsonl", [(1, base), (2, base), (3, other)])
    q = stream_dedup_corpus(spark, str(in_dir), index_dir, out_dir, ckpt)
    q.awaitTermination(120)
    q.stop()
    got1 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {1, 3}

    # batch 2: doc 11 near-dups accepted doc 1 (one token changed), doc 12
    # is new — only 12 should land, caught via the index (no text rescans)
    drop("b2.jsonl", [(11, base.replace("kappa", "lambda")), (12, third)])
    q2 = stream_dedup_corpus(spark, str(in_dir), index_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    q2.stop()
    got2 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {1, 3, 12}
    # index holds exactly the accepted docs' signatures
    idx = spark.read.parquet(index_dir)
    assert {r.doc_id for r in idx.select("doc_id").collect()} == {1, 3, 12}
    assert len(idx.columns) == 1 + 24


def test_stream_dedup_corpus_replay_is_idempotent(spark, tmp_path):
    """Simulated at-least-once replay (fresh checkpoint, same input files):
    out_dir has no version column, so the replay gate must keep already-
    accepted docs from re-landing — corpus rows stay exactly unchanged."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import stream_dedup_corpus

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    args = (str(in_dir), str(tmp_path / "idx"), str(tmp_path / "corpus"))
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven twelve"
    with open(in_dir / "b1.jsonl", "w") as f:
        for i, text in [(1, base), (2, other)]:
            f.write(
                json.dumps(
                    {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                )
                + "\n"
            )
    q = stream_dedup_corpus(spark, *args, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    q.stop()
    before = sorted(map(tuple, spark.read.parquet(args[2]).collect()))
    # replay the same files under a fresh checkpoint (same epoch re-delivery)
    q2 = stream_dedup_corpus(spark, *args, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    q2.stop()
    after = sorted(map(tuple, spark.read.parquet(args[2]).collect()))
    assert after == before
    # signature index did not double up either
    idx = spark.read.parquet(args[1])
    assert idx.count() == idx.select("doc_id").distinct().count() == 2


# ---------------------------------------------------------------------------
# Funnel + cohort retention (operators/funnel.py)
# ---------------------------------------------------------------------------
def test_funnel_strict_order_and_window(spark):
    from binance_etl_clickhouse_spark.operators.funnel import funnel_stages

    rows = [
        # u1 converts fully: signup 00:00, click 01:00, purchase 02:00
        (1, "signup", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 01:00:00"),
        (1, "purchase", "2024-01-01 02:00:00"),
        # u2: click BEFORE signup only -> stalls at stage 0
        (2, "click", "2024-01-01 00:00:00"),
        (2, "signup", "2024-01-01 01:00:00"),
        # u3: click at the exact signup instant -> strict order rejects it
        (3, "signup", "2024-01-01 00:00:00"),
        (3, "click", "2024-01-01 00:00:00"),
        # u4: click outside the 1h conversion window
        (4, "signup", "2024-01-01 00:00:00"),
        (4, "click", "2024-01-01 02:00:01"),
    ]
    ev = spark.createDataFrame(
        [(u, t, ts) for u, t, ts in rows], "user_id long, event_type string, ts string"
    ).selectExpr("user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")
    out = {
        r.stage: r
        for r in funnel_stages(
            ev, ["signup", "click", "purchase"], within_seconds=3600
        ).collect()
    }
    assert out["signup"].n_users == 4
    assert out["click"].n_users == 1  # only u1
    assert out["purchase"].n_users == 1
    assert out["signup"].conv_from_prev is None
    assert out["click"].conv_from_prev == 0.25
    assert out["purchase"].conv_from_first == 0.25


def test_funnel_min_qualifying_not_min_global(spark):
    """Conversion anchors on the earliest QUALIFYING event: u1's first click
    precedes signup (doesn't qualify) but a later one converts."""
    from binance_etl_clickhouse_spark.operators.funnel import funnel_stages

    ev = spark.createDataFrame(
        [
            (1, "click", "2024-01-01 00:00:00"),
            (1, "signup", "2024-01-01 01:00:00"),
            (1, "click", "2024-01-01 02:00:00"),
        ],
        "user_id long, event_type string, ts string",
    ).selectExpr("user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")
    out = {r.stage: r.n_users for r in funnel_stages(ev, ["signup", "click"]).collect()}
    assert out == {"signup": 1, "click": 1}


def test_cohort_retention_matrix(spark):
    from binance_etl_clickhouse_spark.operators.funnel import cohort_retention

    ev = spark.createDataFrame(
        [
            # u1 cohort Jan 1, active days 0 and 2; u2 same cohort, day 0 only
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-03 09:00:00"),
            (2, "2024-01-01 23:59:59"),
            # u3 cohort Jan 2, active days 0 and 1 (two events same day dedup)
            (3, "2024-01-02 05:00:00"),
            (3, "2024-01-02 06:00:00"),
            (3, "2024-01-03 05:00:00"),
        ],
        "user_id long, ts string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts")
    out = {
        (r.cohort_date.strftime("%m-%d"), r.day_offset): (r.n_active, r.n_cohort, r.retention_rate)
        for r in cohort_retention(ev).collect()
    }
    assert out[("01-01", 0)] == (2, 2, 1.0)
    assert out[("01-01", 2)] == (1, 2, 0.5)
    assert out[("01-02", 0)] == (1, 1, 1.0)
    assert out[("01-02", 1)] == (1, 1, 1.0)
    assert set(out) == {("01-01", 0), ("01-01", 2), ("01-02", 0), ("01-02", 1)}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from binance_etl_clickhouse_spark.streaming.jobs import stream_stream_interval_join

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.parquet(cdir)
    purchases.write.parquet(pdir)

    c_src = spark.readStream.schema(clicks.schema).parquet(cdir)
    p_src = spark.readStream.schema(purchases.schema).parquet(pdir)
    joined = stream_stream_interval_join(c_src, p_src)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM ssj_out")

    batch = stream_stream_interval_join(clicks, purchases)
    assert not batch.isStreaming and joined.isStreaming
    want = batch.collect()
    assert len(want) > 0
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))
    # interval semantics: clicks strictly inside the 1h lookback
    for r in want[:50]:
        delta = (r.purchase_ts - r.click_ts).total_seconds()
        assert 0 <= delta <= 3600


def test_stream_span_dedup_incremental(spark, tmp_path):
    """Spans seen in earlier batches are removed from later documents via
    the hash index; within-batch repeats dedup too; docs reassemble in
    position order and fully-duplicate docs land with empty text."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import stream_span_dedup

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    index_dir = str(tmp_path / "span_index")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def drop(fname, docs):
        with open(in_dir / fname, "w") as f:
            for i, text in docs:
                f.write(
                    json.dumps(
                        {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                    )
                    + "\n"
                )

    # k=2 spans; batch 1: doc 2 repeats doc 1's only span
    drop("b1.jsonl", [(1, "a b"), (2, "a b c d")])
    q = stream_span_dedup(spark, str(in_dir), index_dir, out_dir, ckpt, k=2)
    q.awaitTermination(120)
    q.stop()
    got1 = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    assert got1[1].text_deduped == "a b"
    assert got1[2].text_deduped == "c d"  # lost "a b" to doc 1

    # batch 2: doc 11 is spans {"c d", "e f"} — "c d" was accepted in batch
    # 1, so only "e f" survives; doc 12 is entirely previously-seen spans
    drop("b2.jsonl", [(11, "c d e f"), (12, "a b c d")])
    q2 = stream_span_dedup(spark, str(in_dir), index_dir, out_dir, ckpt, k=2)
    q2.awaitTermination(120)
    q2.stop()
    got2 = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    assert got2[11].text_deduped == "e f" and got2[11].n_spans_total == 2
    assert got2[12].text_deduped == "" and got2[12].n_spans_kept == 0
    assert set(got2) == {1, 2, 11, 12}  # every doc lands, deduped or empty
    # index holds each distinct accepted span hash exactly once
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.distinct().count() == 3  # a b, c d, e f (none from 12)


def test_stream_span_dedup_replay_is_idempotent(spark, tmp_path):
    """Simulated at-least-once replay (wiped checkpoint, same input files):
    already-accepted docs must not re-land — the corpus stays unchanged."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import stream_span_dedup

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    args = (str(in_dir), str(tmp_path / "idx"), str(tmp_path / "corpus"))
    with open(in_dir / "b1.jsonl", "w") as f:
        for i, text in [(1, "a b c d"), (2, "a b e f")]:
            f.write(json.dumps({"doc_id": i, "lang": "en", "text": text, "n_chars": 7}) + "\n")
    q = stream_span_dedup(spark, *args, str(tmp_path / "ck1"), k=2)
    q.awaitTermination(120)
    q.stop()
    before = sorted(map(tuple, spark.read.parquet(args[2]).collect()))
    # replay the same files under a fresh checkpoint (same epoch re-delivery)
    q2 = stream_span_dedup(spark, *args, str(tmp_path / "ck2"), k=2)
    q2.awaitTermination(120)
    q2.stop()
    after = sorted(map(tuple, spark.read.parquet(args[2]).collect()))
    assert after == before


def test_stream_ingest_refreshes_rollup_per_epoch(spark, tmp_path):
    """Materialized-view-on-insert: a RollupTable passed to
    stream_ingest_staging refreshes inside each micro-batch epoch, so the
    rollup serves the streamed data with no separate maintenance job."""
    from binance_etl_clickhouse_spark.storage.rollup import RollupTable

    table = ServingTable(
        path=str(tmp_path / "serving"),
        keys=KLINES_PK,
        time_col="timestamp",
        sort_cols=["symbol", "type", "interval", "timestamp"],
    )
    rollup = RollupTable(
        path=str(tmp_path / "daily"),
        source=table,
        granularity="day",
        group_cols=["symbol"],
        aggs=lambda: [
            F.count(F.lit(1)).alias("n_bars"),
            F.round(F.sum("volume"), 4).alias("volume"),
        ],
    )
    staging = str(tmp_path / "staging")
    k = _klines(spark, n_symbols=2, bars=48)
    k.write.mode("append").parquet(staging)
    q = stream_ingest_staging(
        spark,
        staging,
        KLINES,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        rollups=[rollup],
    )
    q.awaitTermination(120)
    got = rollup.read(spark)
    assert got.count() == 2 * 2  # 2 symbols x 2 days
    want = (
        table.read(spark)
        .groupBy(F.date_trunc("day", "timestamp").alias("bucket"), "symbol")
        .agg(F.round(F.sum("volume"), 4).alias("v"))
    )
    gotv = {(r.symbol, r.bucket): r.volume for r in got.collect()}
    wantv = {(r.symbol, r.bucket): r.v for r in want.collect()}
    assert gotv == wantv

    # a second micro-batch (new staging file) refreshes incrementally
    k2 = _klines(spark, n_symbols=2, bars=48).withColumn(
        "volume", F.col("volume") + 5.0
    )
    k2.write.mode("append").parquet(staging)
    q2 = stream_ingest_staging(
        spark,
        staging,
        KLINES,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        rollups=[rollup],
    )
    q2.awaitTermination(120)
    got2 = {(r.symbol, r.bucket): r.volume for r in rollup.read(spark).collect()}
    want2 = {
        (r.symbol, r.bucket): r.v
        for r in table.read(spark)
        .groupBy(F.date_trunc("day", "timestamp").alias("bucket"), "symbol")
        .agg(F.round(F.sum("volume"), 4).alias("v"))
        .collect()
    }
    assert got2 == want2
    assert all(v != gotv[k_] for k_, v in got2.items())  # re-fetch won


def test_asof_join_carries_whole_rows_not_per_column(spark):
    """Most-recent right row with a NULL payload field: the as-of result
    must keep that NULL (whole-row carry), not backfill the field from an
    older right row — a composite row that never existed."""
    from binance_etl_clickhouse_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 3)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 1, 0.01, 100.0), (1, 2, 0.02, None)],
        "k int, ts int, rate double, price double",
    )
    out = asof_join(left, right, on="ts", by=["k"]).collect()[0]
    assert out["rate_asof"] == 0.02
    assert out["price_asof"] is None  # r2's NULL, not r1's 100.0


def test_stream_ingest_rejects_dedup_keys_without_watermark(spark, tmp_path):
    import pytest

    from binance_etl_clickhouse_spark.streaming.jobs import stream_ingest_staging

    table = ServingTable(
        path=str(tmp_path / "serving"),
        keys=KLINES_PK,
        time_col="timestamp",
        sort_cols=["symbol", "type", "interval", "timestamp"],
    )
    with pytest.raises(ValueError, match="watermark"):
        stream_ingest_staging(
            spark,
            str(tmp_path / "staging"),
            KLINES,
            table,
            str(tmp_path / "ckpt"),
            dedup_keys=["symbol", "timestamp"],
        )


def test_stream_dedup_corpus_replay_heals_indexes(spark, tmp_path):
    """Crash window between the corpus append and the index appends: on
    replay, docs already in the corpus must get their signatures (and
    search-index postings) healed instead of being skipped forever."""
    import json
    import os

    from binance_etl_clickhouse_spark.storage.invindex import InvertedIndex
    from binance_etl_clickhouse_spark.streaming.jobs import stream_dedup_corpus

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    index_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "corpus")
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
    ]
    with open(in_dir / "b1.jsonl", "w") as f:
        for i, text in docs:
            f.write(
                json.dumps(
                    {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                )
                + "\n"
            )
    # simulate the crashed first run: corpus rows landed, indexes did not
    spark.createDataFrame(
        [(i, "en", t, len(t)) for i, t in docs],
        "doc_id long, lang string, text string, n_chars long",
    ).write.parquet(out_dir)
    assert not os.path.isdir(index_dir)
    search = InvertedIndex(str(tmp_path / "search"), n_buckets=16)

    q = stream_dedup_corpus(
        spark, str(in_dir), index_dir, out_dir, str(tmp_path / "ck"),
        search_index=search,
    )
    q.awaitTermination(120)
    q.stop()
    # corpus unchanged (no duplicate append)
    assert spark.read.parquet(out_dir).count() == 2
    # signature index healed with both docs
    sig_ids = {r.doc_id for r in spark.read.parquet(index_dir).select("doc_id").collect()}
    assert sig_ids == {1, 2}
    # search index healed too
    post_ids = {r.doc_id for r in search.postings(spark).select("doc_id").collect()}
    assert post_ids == {1, 2}


def test_localcheckpoint_release_frees_blocks(spark):
    """checkpoints.release must actually free storage blocks — neither
    unpersist() nor the ContextCleaner reclaims a locally-checkpointed
    RDD (verified empirically), which is why the streaming sinks and the
    BPE trainer call it explicitly."""
    from binance_etl_clickhouse_spark.checkpoints import release

    sc = spark.sparkContext

    def n_persisted():
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_persisted()
    df = spark.range(50_000).localCheckpoint(eager=True)
    assert n_persisted() == base + 1
    release(df)
    assert n_persisted() == base
    release(None)  # no-op contract
    release(spark.range(5))  # non-checkpointed frame: no-op, no raise


def test_redelivered_doc_does_not_duplicate_search_postings(spark, tmp_path):
    """A doc accepted in an earlier epoch arriving AGAIN later (duplicate
    feed row, not a crash replay) is already fully indexed — the heal is
    membership-gated, so its postings and corpus stats must not double."""
    import json

    from binance_etl_clickhouse_spark.storage.invindex import InvertedIndex
    from binance_etl_clickhouse_spark.streaming.jobs import stream_dedup_corpus

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    args = (str(in_dir), str(tmp_path / "idx"), str(tmp_path / "corpus"))
    search = InvertedIndex(str(tmp_path / "search"), n_buckets=16)
    row = {"doc_id": 1, "lang": "en",
           "text": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
           "n_chars": 57}
    with open(in_dir / "b1.jsonl", "w") as f:
        f.write(json.dumps(row) + "\n")
    q = stream_dedup_corpus(spark, *args, str(tmp_path / "ck1"), search_index=search)
    q.awaitTermination(120)
    q.stop()
    n_postings = search.postings(spark).count()
    n_docs = search.meta()["n_docs"]
    assert n_postings > 0 and n_docs == 1

    with open(in_dir / "b2.jsonl", "w") as f:
        f.write(json.dumps(row) + "\n")  # same doc re-delivered
    q2 = stream_dedup_corpus(spark, *args, str(tmp_path / "ck1"), search_index=search)
    q2.awaitTermination(120)
    q2.stop()
    assert search.postings(spark).count() == n_postings
    assert search.meta()["n_docs"] == n_docs


def test_asof_join_directions(spark):
    """forward picks the earliest same-or-later right row; nearest picks
    the closer candidate with ties preferring backward (pandas
    merge_asof semantics); allow_exact_matches toggles the boundary."""
    from binance_etl_clickhouse_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (2, 25)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 8, "r8"), (1, 10, "r10"), (1, 13, "r13"), (2, 40, "r40")],
        "k int, ts int, tag string",
    )

    def got(direction, exact=True):
        rows = asof_join(
            left, right, on="ts", by=["k"], direction=direction,
            allow_exact_matches=exact,
        ).collect()
        return {r["ts"]: r["tag_asof"] for r in rows}

    assert got("backward") == {10: "r10", 25: None}  # no 2-key row <= 25? r40 later -> None... wait k=2
    assert got("forward") == {10: "r10", 25: "r40"}
    assert got("forward", exact=False) == {10: "r13", 25: "r40"}
    assert got("backward", exact=False) == {10: "r8", 25: None}
    # nearest: ts=10 -> exact r10; ts=25 -> r40 (only candidate for k=2)
    assert got("nearest") == {10: "r10", 25: "r40"}
    # nearest tie: left at 11 between r10 (d=1) and r13 (d=2) -> backward;
    # left at 11.5-equivalent: make an exact tie at integer ts
    left2 = spark.createDataFrame([(1, 9)], "k int, ts int")  # r8 d=1, r10 d=1
    rows = asof_join(
        left2, right, on="ts", by=["k"], direction="nearest"
    ).collect()
    assert rows[0]["tag_asof"] == "r8"  # tie -> backward


def test_asof_nearest_carries_whole_rows(spark):
    from binance_etl_clickhouse_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 4, 0.1, None), (1, 9, 0.2, 99.0)],
        "k int, ts int, rate double, price double",
    )
    out = asof_join(left, right, on="ts", by=["k"], direction="nearest").collect()[0]
    # nearest is ts=4 (d=1 vs d=4): whole row carried, NULL price kept
    assert out["rate_asof"] == 0.1 and out["price_asof"] is None


def _write_docs_jsonl(path, docs):
    import json

    with open(path, "w") as f:
        for i, text in docs:
            f.write(
                json.dumps(
                    {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                )
                + "\n"
            )


_CORPUS_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten eleven"),
]


def test_partially_visible_epoch_heals_to_full_search_index(spark, tmp_path):
    """ADVICE r2 scenario: with a non-atomic commit protocol the crashed
    epoch can be PARTIALLY visible (some docs' postings committed, the
    per-epoch stats entry never written). A doc-membership gate alone
    treats the visible doc as indexed and the dynamic overwrite would then
    drop its postings while healing the other — the missing stats entry
    must instead trigger a full-epoch rewrite that converges to the
    complete index, stats included."""
    import json
    import os

    from binance_etl_clickhouse_spark.storage.invindex import META, InvertedIndex
    from binance_etl_clickhouse_spark.streaming.jobs import stream_dedup_corpus

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    out_dir = str(tmp_path / "corpus")
    _write_docs_jsonl(in_dir / "b1.jsonl", _CORPUS_DOCS)
    # crashed epoch 0: corpus fully written...
    corpus_df = spark.createDataFrame(
        [(i, "en", t, len(t)) for i, t in _CORPUS_DOCS],
        "doc_id long, lang string, text string, n_chars long",
    )
    corpus_df.write.parquet(out_dir)
    # ...but only doc 1's postings visible under epoch 0, and NO stats
    # entry (crash between the partial postings commit and the meta
    # replace). Build the partial state via a real epoch-0 append of doc 1
    # then surgically drop the stats entry.
    search = InvertedIndex(str(tmp_path / "search"), n_buckets=16)
    search.append(corpus_df.filter(F.col("doc_id") == 1), epoch=0)
    meta_path = os.path.join(search.path, META)
    m = json.load(open(meta_path))
    m["epochs"] = {}
    json.dump(m, open(meta_path, "w"))
    assert not search.has_epoch(0)

    q = stream_dedup_corpus(
        spark, str(in_dir), str(tmp_path / "idx"), out_dir, str(tmp_path / "ck"),
        search_index=search,
    )
    q.awaitTermination(120)
    q.stop()

    rebuilt = InvertedIndex(str(tmp_path / "rebuild"), n_buckets=16)
    rebuilt.build(spark.read.parquet(out_dir))

    def posting_set(ix):
        return {
            (r.doc_id, r.term, r.tf, r.dl)
            for r in ix.postings(spark).select("doc_id", "term", "tf", "dl").collect()
        }

    assert posting_set(search) == posting_set(rebuilt)
    got, want = search.meta(), rebuilt.meta()
    assert (got["n_docs"], got["total_tokens"]) == (want["n_docs"], want["total_tokens"])


def test_stream_dedup_corpus_kill_mid_epoch_restart_rebuilds_index(
    spark, tmp_path, monkeypatch
):
    """VERDICT r2 item 7: kill the stream BETWEEN the corpus write and the
    search-index write (the real crash ordering), restart from the same
    checkpoint, and prove the healed search index equals a from-scratch
    rebuild over the corpus."""
    from binance_etl_clickhouse_spark.storage.invindex import InvertedIndex
    from binance_etl_clickhouse_spark.streaming.jobs import stream_dedup_corpus

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    out_dir = str(tmp_path / "corpus")
    _write_docs_jsonl(in_dir / "b1.jsonl", _CORPUS_DOCS)
    search = InvertedIndex(str(tmp_path / "search"), n_buckets=16)

    orig_append = InvertedIndex.append
    calls = {"n": 0}

    def dying_append(self, df, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before the search-index append")
        return orig_append(self, df, *a, **kw)

    monkeypatch.setattr(InvertedIndex, "append", dying_append)

    args = (str(in_dir), str(tmp_path / "idx"), out_dir, str(tmp_path / "ck"))
    q = stream_dedup_corpus(spark, *args, search_index=search)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        raise AssertionError("first run should have died mid-epoch")
    q.stop()
    # the crash ordering contract: corpus committed, search index not
    import os

    assert spark.read.parquet(out_dir).count() == 2
    assert not search.has_epoch(0)

    q2 = stream_dedup_corpus(spark, *args, search_index=search)
    q2.awaitTermination(120)
    q2.stop()
    assert calls["n"] >= 2
    assert spark.read.parquet(out_dir).count() == 2  # no duplicate corpus rows

    rebuilt = InvertedIndex(str(tmp_path / "rebuild"), n_buckets=16)
    rebuilt.build(spark.read.parquet(out_dir))

    def posting_set(ix):
        return {
            (r.doc_id, r.term, r.tf, r.dl)
            for r in ix.postings(spark).select("doc_id", "term", "tf", "dl").collect()
        }

    assert posting_set(search) == posting_set(rebuilt)
    got, want = search.meta(), rebuilt.meta()
    assert (got["n_docs"], got["total_tokens"]) == (want["n_docs"], want["total_tokens"])


def test_invindex_query_paths_raise_on_missing_index(spark, tmp_path):
    """ADVICE r2: a typo'd / never-built index path must FAIL on the query
    paths (meta, bm25) instead of silently returning empty results; only
    append()'s streaming flow may fabricate an empty meta."""
    from binance_etl_clickhouse_spark.storage.invindex import InvertedIndex

    ix = InvertedIndex(str(tmp_path / "nope"), n_buckets=16)
    with pytest.raises(FileNotFoundError):
        ix.meta()
    with pytest.raises(FileNotFoundError):
        ix.bm25_topk(spark, [("q0", "alpha beta")], k=3)
    # the append flow legitimately starts from nothing
    df = spark.createDataFrame(
        [(1, "en", "alpha beta", 10)],
        "doc_id long, lang string, text string, n_chars long",
    )
    ix.append(df, epoch=0)
    assert ix.meta()["n_docs"] == 1


def test_stream_substring_dedup_incremental_and_matches_batch(spark, tmp_path):
    """One availableNow batch over a corpus must equal the batch operator
    exactly; a later batch loses runs already indexed, at any alignment."""
    import json

    from binance_etl_clickhouse_spark.operators.corpus import substring_dedup
    from binance_etl_clickhouse_spark.streaming.jobs import stream_substring_dedup

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    index_dir = str(tmp_path / "win_index")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def drop(fname, docs):
        with open(in_dir / fname, "w") as f:
            for i, text in docs:
                f.write(
                    json.dumps(
                        {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                    )
                    + "\n"
                )

    L = 3
    b1 = [(1, "a b c d e"), (2, "x1 a b c d x2 x3 x4"), (3, "u1 u2 u3 u4 u5")]
    drop("b1.jsonl", b1)
    q = stream_substring_dedup(
        spark, str(in_dir), index_dir, out_dir, ckpt, min_len=L
    )
    q.awaitTermination(120)
    q.stop()
    got1 = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    # single batch == the batch operator, row for row
    batch_df = spark.createDataFrame(b1, "doc_id long, text string")
    want1 = {r.doc_id: r for r in substring_dedup(batch_df, min_len=L).collect()}
    for d in want1:
        assert got1[d].text_deduped == want1[d].text_deduped, d
        assert got1[d].n_removed == want1[d].n_removed, d
    # doc 2 lost the misaligned "a b c d" run to doc 1
    assert got1[2].text_deduped == "x1 x2 x3 x4"

    # batch 2: doc 11 embeds doc 1's run at yet another alignment; doc 12
    # is fresh text and passes through whole
    drop("b2.jsonl", [(11, "y1 y2 b c d e y3"), (12, "v1 v2 v3 v4")])
    q2 = stream_substring_dedup(
        spark, str(in_dir), index_dir, out_dir, ckpt, min_len=L
    )
    q2.awaitTermination(120)
    q2.stop()
    got2 = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    assert got2[11].text_deduped == "y1 y2 y3" and got2[11].n_removed == 4
    assert got2[12].text_deduped == "v1 v2 v3 v4" and got2[12].n_removed == 0
    assert set(got2) == {1, 2, 3, 11, 12}
    # replay under a fresh checkpoint: corpus unchanged
    before = sorted((r.doc_id, r.text_deduped) for r in got2.values())
    q3 = stream_substring_dedup(
        spark, str(in_dir), index_dir, out_dir, str(tmp_path / "ck2"), min_len=L
    )
    q3.awaitTermination(120)
    q3.stop()
    after = sorted(
        (r.doc_id, r.text_deduped)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert after == before


def test_stream_heavy_hitters_epoch_state_and_replay(spark, tmp_path):
    """Per-epoch MG summaries land under epoch partitions; the query-time
    fold retains every heavy item across batches; re-running the stream
    over the same input (fresh checkpoint, same epoch ids) overwrites
    rather than double-counts."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import (
        heavy_hitters_from_state,
        stream_heavy_hitters,
    )

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    state = str(tmp_path / "hh_state")

    def drop(fname, langs):
        with open(in_dir / fname, "w") as f:
            for i, lang in enumerate(langs):
                f.write(
                    json.dumps(
                        {"doc_id": hash(fname) % 10_000 * 100 + i, "lang": lang,
                         "text": "x", "n_chars": 1}
                    )
                    + "\n"
                )

    drop("b1.jsonl", ["en"] * 30 + ["de"] * 10 + ["fr"] * 2)
    q = stream_heavy_hitters(spark, str(in_dir), state, str(tmp_path / "c1"), k=4)
    q.awaitTermination(120)
    q.stop()
    first = {r.item: r.lower_count for r in heavy_hitters_from_state(spark, state, k=4).collect()}
    assert first.get("en", 0) >= 25  # dominant item retained with tight bound

    drop("b2.jsonl", ["de"] * 40 + ["zh"] * 3)
    q2 = stream_heavy_hitters(spark, str(in_dir), state, str(tmp_path / "c1"), k=4)
    q2.awaitTermination(120)
    q2.stop()
    merged = {r.item: r.lower_count for r in heavy_hitters_from_state(spark, state, k=4).collect()}
    # both cross-batch heavy items survive the fold; counts never exceed truth
    assert "en" in merged and "de" in merged
    assert merged["de"] <= 50 and merged["en"] <= 30

    # replay: the SAME epoch re-delivered (crash between state write and
    # checkpoint commit) overwrites its own partition, never double-counts
    from binance_etl_clickhouse_spark.sources.files import read_documents_jsonl
    from binance_etl_clickhouse_spark.streaming.jobs import (
        heavy_hitters_append_epoch,
    )

    b2 = read_documents_jsonl(spark, str(in_dir / "b2.jsonl"))
    heavy_hitters_append_epoch(b2, state, 1, "lang", 4)
    replayed = {r.item: r.lower_count for r in heavy_hitters_from_state(spark, state, k=4).collect()}
    assert replayed == merged


def test_stream_dq_monitor_epoch_reports_and_replay(spark, tmp_path):
    """The streaming expectation gate lands per-epoch violation counts
    (corrupt lines counted under _corrupt_records, not dropped); totals
    match a batch recount; a re-delivered epoch overwrites itself."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import (
        DQ_DOC_RULES,
        dq_monitor_append_epoch,
        dq_report_from_monitor,
        stream_dq_monitor,
    )

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    monitor = str(tmp_path / "dq_monitor")
    with open(in_dir / "b1.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "lang": "en", "text": "ab", "n_chars": 2}) + "\n")
        f.write(json.dumps({"doc_id": 2, "lang": None, "text": "abc", "n_chars": 3}) + "\n")
        f.write(json.dumps({"doc_id": 3, "lang": "de", "text": "", "n_chars": 9}) + "\n")
        f.write("{not valid json\n")

    q = stream_dq_monitor(spark, str(in_dir), monitor, str(tmp_path / "ck"))
    q.awaitTermination(120)
    q.stop()
    rep = {r.rule: (r.n_rows, r.n_violations) for r in dq_report_from_monitor(spark, monitor).collect()}
    assert set(rep) == set(DQ_DOC_RULES) | {"_corrupt_records"}
    n = rep["doc_id_not_null"][0]
    assert all(v[0] == n for v in rep.values())  # one scan, one row count
    assert rep["_corrupt_records"][1] == 1
    assert rep["lang_not_null"][1] == 2  # null lang + corrupt line
    assert rep["text_nonempty"][1] == 2  # empty text + corrupt line
    # n_chars mismatch: doc 3 (9 != 0) + corrupt line (null = null -> violation)
    assert rep["n_chars_matches_text"][1] == 2
    assert rep["doc_id_not_null"][1] == 1  # corrupt line only

    # replayed epoch: re-landing the same epoch id must not double-count
    from binance_etl_clickhouse_spark.sources.files import read_documents_jsonl

    batch = read_documents_jsonl(spark, str(in_dir))
    epoch = spark.read.parquet(monitor).select("epoch").distinct().collect()[0][0]
    rules = dict(DQ_DOC_RULES)
    rules["_corrupt_records"] = "_corrupt_record IS NULL"
    dq_monitor_append_epoch(batch, monitor, int(epoch), rules)
    rep2 = {r.rule: (r.n_rows, r.n_violations) for r in dq_report_from_monitor(spark, monitor).collect()}
    assert rep2 == rep


def test_compact_sidecar_index_merges_files_and_survives_crash(spark, tmp_path):
    """The OPTIMIZE-FINAL analogue for the streaming sidecar indexes:
    many per-epoch parquet appends merge to few files with duplicate rows
    dropped and the probe-side contents unchanged; a crash between the
    swap's two renames is healed by recover_sidecar_index (and by the
    next compaction), never presenting as an empty index."""
    import os

    from binance_etl_clickhouse_spark.streaming.jobs import (
        compact_sidecar_index,
        recover_sidecar_index,
    )

    index_dir = str(tmp_path / "sigidx")
    # simulate 6 epoch appends of (doc_id, mh0..mh23) rows, one exact
    # duplicate row (crashed-heal shape)
    cols = "doc_id long, " + ", ".join(f"mh{j} long" for j in range(24))
    for e in range(6):
        rows = [tuple([e * 10 + i] + [e * 100 + i + j for j in range(24)]) for i in range(3)]
        spark.createDataFrame(rows, cols).coalesce(2).write.mode("append").parquet(index_dir)
    dup = [tuple([0] + [0 + j for j in range(24)])]  # == epoch 0, i=0 row
    spark.createDataFrame(dup, cols).write.mode("append").parquet(index_dir)

    before = spark.read.parquet(index_dir)
    expected = {tuple(r) for r in before.distinct().collect()}
    held = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    stats = compact_sidecar_index(spark, index_dir, target_files=2)
    # the lineage cut's blocks are released, not left to a no-op unpersist()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= held
    assert stats["files_after"] <= 2 < stats["files_before"]
    assert stats["rows"] == len(expected) == 18
    after = spark.read.parquet(index_dir)
    assert {tuple(r) for r in after.collect()} == expected

    # crash window: live renamed away, tmp not yet promoted
    os.rename(index_dir, index_dir + ".compact.bak")
    assert not os.path.isdir(index_dir)
    assert recover_sidecar_index(index_dir) is True
    assert {tuple(r) for r in spark.read.parquet(index_dir).collect()} == expected
    # idempotent when nothing to heal / compact a missing dir is a no-op
    assert recover_sidecar_index(index_dir) is False
    assert compact_sidecar_index(spark, str(tmp_path / "nope")) == {
        "files_before": 0,
        "files_after": 0,
        "rows": 0,
    }


def test_stream_dedup_still_catches_dups_after_index_compaction(spark, tmp_path):
    """Compaction is semantically invisible to the stream: a near-dup
    arriving AFTER the signature index is compacted is still dropped."""
    import json

    from binance_etl_clickhouse_spark.streaming.jobs import (
        compact_sidecar_index,
        stream_dedup_corpus,
    )

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    third = "red orange yellow green blue indigo violet ultra maroon cyan"

    def drop(fname, docs):
        with open(in_dir / fname, "w") as f:
            for i, text in docs:
                f.write(
                    json.dumps(
                        {"doc_id": i, "lang": "en", "text": text, "n_chars": len(text)}
                    )
                    + "\n"
                )

    drop("b1.jsonl", [(1, base), (3, third)])
    q = stream_dedup_corpus(spark, str(in_dir), index_dir, out_dir, ckpt)
    q.awaitTermination(120)
    q.stop()
    compact_sidecar_index(spark, index_dir, target_files=1)

    drop("b2.jsonl", [(11, base.replace("kappa", "lambda")), (12, "solo words nobody else uses here at all ten tokens")])
    q2 = stream_dedup_corpus(spark, str(in_dir), index_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    q2.stop()
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 3, 12}
