"""Storage layer + ETL transform tests: ReplacingMergeTree semantics,
monthly partitioning, compaction, raw-page cleaning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators.etl import clean_klines
from binance_etl_clickhouse_spark.schemas import KLINES, KLINES_PK
from binance_etl_clickhouse_spark.sources.synthetic import synthetic_klines_raw
from binance_etl_clickhouse_spark.storage import ServingTable


def _table(tmp_path) -> ServingTable:
    return ServingTable(
        path=str(tmp_path / "klines"),
        keys=KLINES_PK,
        time_col="timestamp",
        sort_cols=["symbol", "type", "interval", "timestamp"],
    )


def _clean(spark, **kw):
    raw = synthetic_klines_raw(spark, **kw)
    return clean_klines(raw, market_type="SPOT", interval="1h")


def test_clean_klines_schema_and_keep_last(spark):
    raw = synthetic_klines_raw(spark, n_symbols=3, bars_per_symbol=100, overlap_bars=10)
    out = clean_klines(raw, market_type="SPOT", interval="1h")
    assert [f.name for f in out.schema.fields] == [f.name for f in KLINES.fields]
    # exactly one row per (symbol, timestamp); overlap resolved
    assert out.count() == 3 * 100
    # the re-fetched (src_order=1) values must win: bar_i=95 is in the
    # overlap tail, so volume = 1000 + (95%100)*7 + 10 (the +10 re-fetch mark)
    tail = out.filter(F.col("timestamp") == F.to_timestamp(F.lit("2024-01-04 23:00:00")))
    vols = [r.volume for r in tail.collect()]
    assert vols == [1675.0] * 3


def test_serving_table_append_read_dedup(spark, tmp_path):
    t = _table(tmp_path)
    batch1 = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    t.append(batch1, ingest_seq=1)
    # second ingest: same rows re-fetched with different volume -> must win
    batch2 = batch1.withColumn("volume", F.col("volume") + 10000.0).limit(20)
    t.append(batch2, ingest_seq=2)

    raw = t.read_raw(spark)
    assert raw.count() == 2 * 48 + 20  # all versions on disk
    snap = t.read(spark)
    assert snap.count() == 2 * 48  # dedup to newest per key
    assert snap.filter(F.col("volume") > 10000.0).count() == 20

    # month partition dirs exist (toYYYYMM analogue)
    parts = [d for d in os.listdir(t.path) if d.startswith("month=")]
    assert parts, "expected month= partition dirs"


def test_serving_table_compact(spark, tmp_path):
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    t.append(b.withColumn("volume", F.col("volume") * 2), ingest_seq=2)
    before_files = t.read_raw(spark).count()
    t.compact(spark)
    after = t.read_raw(spark)
    assert after.count() == 2 * 48 < before_files  # one version per key on disk
    # post-compaction snapshot identical to pre-compaction dedup view
    assert t.read(spark).count() == 2 * 48


def test_partition_pruning_on_month(spark, tmp_path):
    t = _table(tmp_path)
    # 1500 hourly bars ≈ 2+ months -> several month partitions
    t.append(_clean(spark, n_symbols=2, bars_per_symbol=1500, overlap_bars=0), ingest_seq=1)
    snap = t.read_raw(spark).filter(F.col("month") == 202401)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert snap.count() == 2 * 31 * 24  # January only
    # the parquet scan must carry a partition filter, not a post-scan filter
    assert "PartitionFilters: [isnotnull(month" in plan or "month#" in plan


def test_max_watermark(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0), ingest_seq=1)
    wm = {r.symbol: r.last_ts for r in t.max_watermark(spark, per="symbol").collect()}
    assert len(wm) == 2
    assert all(ts.hour == 23 for ts in wm.values())


def test_serving_files_are_key_sorted_on_disk(spark, tmp_path):
    """Physical layout claim behind the sparse-index analogue: every parquet
    file written by append() is internally sorted by the table sort key, so
    row-group/page min-max stats can skip like ClickHouse's PK index
    (reference crypto_data_pipeline_clickhouse.py:543-544)."""
    import glob

    import pandas as pd

    t = _table(tmp_path)
    t.append(_clean(spark, n_symbols=4, bars_per_symbol=200, overlap_bars=0), ingest_seq=1)
    files = glob.glob(str(tmp_path / "klines" / "month=*" / "*.parquet"))
    assert files
    checked = 0
    for f in files:
        pdf = pd.read_parquet(f)
        if len(pdf) < 2:
            continue
        key = list(zip(pdf["symbol"], pdf["type"], pdf["interval"], pdf["timestamp"]))
        assert key == sorted(key), f"unsorted file {f}"
        checked += 1
    assert checked > 0


def test_compact_crash_recovery(spark, tmp_path):
    """A crash between the two swap moves must not lose the table: on next
    open the .compact.bak is restored (pre-compact state, always safe)."""
    import shutil

    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    t.append(b.withColumn("volume", F.col("volume") * 2), ingest_seq=2)
    expected = t.read(spark).count()
    # simulate the crash window: live moved to .bak, tmp never moved in
    shutil.move(t.path, t.path + ".compact.bak")
    assert not os.path.isdir(t.path)
    # any entry point heals it
    assert t.exists()
    assert os.path.isdir(t.path)
    assert not os.path.isdir(t.path + ".compact.bak")
    assert t.read(spark).count() == expected
    assert t.max_ingest_seq(spark) == 2


def test_max_ingest_seq_sidecar(spark, tmp_path):
    t = _table(tmp_path)
    assert t.max_ingest_seq(spark) == 0
    b = _clean(spark, n_symbols=1, bars_per_symbol=10, overlap_bars=0)
    t.append(b, ingest_seq=1)
    t.append(b, ingest_seq=7)
    assert t.max_ingest_seq(spark) == 7
    # sidecar survives compaction (versions are preserved by keep-max)
    t.compact(spark)
    assert t.max_ingest_seq(spark) == 7
    # self-heals from parquet footers if the sidecar is missing (legacy table)
    os.remove(os.path.join(t.path, "_seq.json"))
    assert t.max_ingest_seq(spark) == 7
    assert os.path.isfile(os.path.join(t.path, "_seq.json"))


def test_append_heals_crashed_compact_first(spark, tmp_path):
    """Appending into the crashed-compact state must restore the .bak BEFORE
    writing — otherwise the write recreates the live dir and the next
    _recover() deletes the .bak holding the whole pre-compact table."""
    import shutil

    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    shutil.move(t.path, t.path + ".compact.bak")  # crash window
    extra = _clean(spark, n_symbols=1, bars_per_symbol=5, overlap_bars=0)
    t.append(extra, ingest_seq=2)  # straight into append, no read first
    assert not os.path.isdir(t.path + ".compact.bak")
    # pre-compact rows AND the new batch both survive
    assert t.read_raw(spark).count() == 2 * 48 + 5


def test_append_seeds_sidecar_from_legacy_footers(spark, tmp_path):
    """First append to a pre-sidecar table must seed max_ingest_seq from the
    parquet footers, not this batch's (possibly lower) seq — else keep-last
    dedup prefers stale rows forever."""
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=1, bars_per_symbol=10, overlap_bars=0)
    t.append(b, ingest_seq=7)
    os.remove(os.path.join(t.path, "_seq.json"))  # legacy table state
    t.append(b.limit(3), ingest_seq=1)  # direct append with a low seq
    assert t.max_ingest_seq(spark) == 7
    # pipeline-style next-seq now clears the legacy max
    nxt = t.max_ingest_seq(spark) + 1
    assert nxt == 8


def test_quantize_int8_zero_vector_null_metrics(spark):
    from binance_etl_clickhouse_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    # all-zero embedding: NULL scale/metrics, never DIVIDE_BY_ZERO
    assert out[1].scale is None and out[1].recon_mse is None
    assert out[2].scale == 63.5 and out[2].q_min == -127


def test_append_write_uses_rebalance_exchange(spark, tmp_path):
    """The append shuffle must be an AQE REBALANCE (splits hot
    (month, symbol) writer tasks), not a plain hash repartition."""
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    from binance_etl_clickhouse_spark.schemas import MONTH_COL
    from binance_etl_clickhouse_spark.functions.scalars import month_bucket
    from pyspark.sql import functions as F

    out = (
        b.withColumn("ingest_seq", F.lit(1))
        .withColumn(MONTH_COL, month_bucket("timestamp"))
        .hint("rebalance", MONTH_COL, "symbol")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    # end-to-end write still correct
    t.append(b, ingest_seq=1)
    assert t.read(spark).count() == 2 * 48


def test_expire_drops_old_month_partitions(spark, tmp_path):
    """TTL retention (DROP PARTITION analogue): whole-month dirs older than
    the cutoff vanish without a Spark job; newer months are untouched and
    reads/pruning keep working."""
    t = _table(tmp_path)
    # ~3 months of hourly bars (Jan-Mar 2024)
    t.append(_clean(spark, n_symbols=2, bars_per_symbol=2000, overlap_bars=0), ingest_seq=1)
    months_before = sorted(
        r.month for r in t.read_raw(spark).select("month").distinct().collect()
    )
    assert len(months_before) >= 3
    cutoff = months_before[1]  # drop only the oldest month
    dropped = t.expire(before_month=cutoff)
    assert dropped == [months_before[0]]
    remaining = sorted(
        r.month for r in t.read_raw(spark).select("month").distinct().collect()
    )
    assert remaining == months_before[1:]
    # dedup read still works and holds no expired rows
    snap = t.read(spark)
    assert snap.filter(F.col("month") < cutoff).count() == 0
    assert snap.count() == t.read_raw(spark).count()  # single version per key
    # idempotent: nothing left below the cutoff
    assert t.expire(before_month=cutoff) == []


def test_expire_on_missing_table_is_noop(tmp_path):
    t = _table(tmp_path / "never_written")
    assert t.expire(before_month=999999) == []


def test_schema_evolution_add_column(spark, tmp_path):
    """ALTER TABLE ADD COLUMN analogue: a later batch carries a new column;
    merge_schema reads union the schemas, with NULLs for pre-evolution rows,
    and keep-last dedup still resolves versions across the schema change."""
    t = _table(tmp_path)
    b1 = _clean(spark, n_symbols=1, bars_per_symbol=24, overlap_bars=0)
    t.append(b1, ingest_seq=1)
    # evolved batch: same keys (a re-fetch) plus a brand-new column
    b2 = b1.withColumn("funding_adj", F.lit(0.25))
    t.append(b2, ingest_seq=2)

    merged = t.read_raw(spark, merge_schema=True)
    assert "funding_adj" in merged.columns
    assert merged.filter(F.col("funding_adj").isNull()).count() == 24  # seq-1 rows
    # dedup keeps the evolved (newer) versions
    snap = t.read(spark, merge_schema=True)
    assert snap.count() == 24
    assert snap.filter(F.col("funding_adj") == 0.25).count() == 24
    # default read stays the pinned-schema fast path and still dedups
    assert t.read(spark).count() == 24


def test_expire_compact_reappend_interplay(spark, tmp_path):
    """Lifecycle sequence on one table: TTL-expire an old month, compact the
    survivor months, then re-ingest data for an expired month — each step
    must leave the table consistent (dedup read, sidecar, partitions)."""
    t = _table(tmp_path)
    batch = _clean(spark, n_symbols=2, bars_per_symbol=2000, overlap_bars=0)
    t.append(batch, ingest_seq=1)
    months = sorted(r.month for r in t.read_raw(spark).select("month").distinct().collect())
    cutoff = months[1]
    t.expire(before_month=cutoff)
    t.compact(spark)
    after_compact = t.read(spark)
    assert sorted(
        r.month for r in after_compact.select("month").distinct().collect()
    ) == months[1:]
    n_after = after_compact.count()
    # re-ingest rows for the expired month (a backfill): lands as a fresh
    # partition with a newer seq, dedup read stays one-version-per-key
    backfill = batch.filter(F.date_format("timestamp", "yyyyMM") == str(months[0]))
    assert backfill.count() > 0
    t.append(backfill, ingest_seq=t.max_ingest_seq(spark) + 1)
    snap = t.read(spark)
    assert sorted(r.month for r in snap.select("month").distinct().collect()) == months
    assert snap.count() == n_after + backfill.count()
    assert snap.groupBy(*t.keys).count().filter(F.col("count") > 1).count() == 0


def test_expire_everything_removes_table(spark, tmp_path):
    """An all-partitions TTL cutoff must leave exists()==False (not an
    unreadable dir of bare sidecars), and a later append recreates cleanly."""
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=1, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    dropped = t.expire(before_month=999999)
    assert dropped and not t.exists()
    t.append(b, ingest_seq=1)
    assert t.read(spark).count() == 48


def test_selective_month_compaction(spark, tmp_path):
    """compact_months rewrites ONLY the fragmented months: versions
    collapse there, other months keep their history, and the global
    snapshot is unchanged."""
    t = _table(tmp_path)
    # ~3 months of hourly bars; re-append twice so every month holds 3
    # versions of every key
    b = _clean(spark, n_symbols=2, bars_per_symbol=24 * 80, overlap_bars=0)
    t.append(b, ingest_seq=1)
    t.append(b.withColumn("volume", F.col("volume") + 1.0), ingest_seq=2)
    t.append(b.withColumn("volume", F.col("volume") + 2.0), ingest_seq=3)

    months = sorted(
        int(d.split("=")[1]) for d in os.listdir(t.path) if d.startswith("month=")
    )
    assert len(months) >= 3
    frag = t.fragmented_months(min_files=2)
    assert set(frag) == set(months)  # every month has 3 appends' files

    target = months[0]
    before_snap = {
        (r.symbol, r.timestamp): r.volume
        for r in t.read(spark).select("symbol", "timestamp", "volume").collect()
    }
    t.compact_months(spark, [target])

    raw = t.read_raw(spark)
    per_month_versions = {
        r.month: r.n
        for r in raw.groupBy("month")
        .agg(F.countDistinct("ingest_seq").alias("n"))
        .collect()
    }
    assert per_month_versions[target] == 1  # compacted month: single version
    for m in months[1:]:
        assert per_month_versions[m] == 3  # untouched months keep history

    after_snap = {
        (r.symbol, r.timestamp): r.volume
        for r in t.read(spark).select("symbol", "timestamp", "volume").collect()
    }
    assert after_snap == before_snap
    # compacted month no longer fragmented; others still are
    assert target not in t.fragmented_months(min_files=2)
    assert set(months[1:]) <= set(t.fragmented_months(min_files=2))
    # sidecar seq survives (newest version was kept, not re-stamped)
    assert t.max_ingest_seq(spark) == 3


def test_compact_months_requires_time_key(spark, tmp_path):
    t = ServingTable(
        path=str(tmp_path / "bad"),
        keys=["symbol"],  # month NOT derivable from the key
        time_col="timestamp",
    )
    import pytest

    with pytest.raises(ValueError, match="part of the dedup key"):
        t.compact_months(spark, [202401])


def test_read_skips_dedup_window_after_full_compact(spark, tmp_path):
    """FINAL-is-free-after-OPTIMIZE: a fully-compacted table's read() plan
    carries no window (the shuffle the dedup would cost); the next append
    restores it. Results identical throughout."""
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    t.append(b.withColumn("volume", F.col("volume") + 1.0), ingest_seq=2)

    def has_window(df):
        return "Window" in df._jdf.queryExecution().executedPlan().toString()

    assert has_window(t.read(spark))
    before = {
        (r.symbol, r.timestamp): r.volume
        for r in t.read(spark).select("symbol", "timestamp", "volume").collect()
    }
    t.compact(spark)
    snap = t.read(spark)
    assert not has_window(snap)  # single version on disk -> no dedup shuffle
    after = {
        (r.symbol, r.timestamp): r.volume
        for r in snap.select("symbol", "timestamp", "volume").collect()
    }
    assert after == before
    # an append invalidates the flag; dedup returns and newest wins
    t.append(b.withColumn("volume", F.lit(7777.0)).limit(10), ingest_seq=3)
    snap2 = t.read(spark)
    assert has_window(snap2)
    assert snap2.filter(F.col("volume") == 7777.0).count() == 10
    # per-month compaction is conservative: flag stays cleared
    months = sorted(
        int(d.split("=")[1]) for d in os.listdir(t.path) if d.startswith("month=")
    )
    t.compact_months(spark, months[:1])
    assert has_window(t.read(spark))
    # as-of reads always dedup (history may be multi-version)
    t.compact(spark)
    assert not has_window(t.read(spark))
    assert has_window(t.read(spark, as_of_seq=3))


def test_delete_where_rewrites_only_matching_months(spark, tmp_path):
    """Row-level delete purges every VERSION of matching rows, leaves
    non-matching months' files byte-untouched, drops fully-emptied month
    dirs, and returns the deleted-row count."""
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=800, overlap_bars=0)  # spans months
    t.append(b, ingest_seq=1)
    # superseded versions of one symbol must be purged too
    t.append(b.filter(F.col("symbol") == "SYM000USDT").limit(30), ingest_seq=2)

    months = sorted(
        int(d.split("=")[1]) for d in os.listdir(t.path) if d.startswith("month=")
    )
    assert len(months) >= 2
    target = months[0]
    untouched_dir = os.path.join(t.path, f"month={months[-1]}")
    before = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
        if f.endswith(".parquet")
    }
    raw_before = t.read_raw(spark).count()
    hit_raw = t.read_raw(spark).filter(
        (F.col("symbol") == "SYM000USDT") & (F.col("month") == target)
    )
    n_hits = hit_raw.count()
    assert n_hits > 0

    n_del = t.delete_where(
        spark, (F.col("symbol") == "SYM000USDT") & (F.col("month") == target)
    )
    assert n_del == n_hits
    raw = t.read_raw(spark)
    assert raw.count() == raw_before - n_hits
    assert raw.filter(
        (F.col("symbol") == "SYM000USDT") & (F.col("month") == target)
    ).count() == 0
    # the non-matching month's files were not rewritten
    after = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
        if f.endswith(".parquet")
    }
    assert after == before
    # table still reads + dedups fine; seq sidecar survived
    assert t.read(spark).count() > 0
    assert t.max_ingest_seq(spark) == 2


def test_delete_where_drops_fully_emptied_month(spark, tmp_path):
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=1, bars_per_symbol=800, overlap_bars=0)
    t.append(b, ingest_seq=1)
    months = sorted(
        int(d.split("=")[1]) for d in os.listdir(t.path) if d.startswith("month=")
    )
    target = months[0]
    n_del = t.delete_where(spark, F.col("month") == target)
    assert n_del > 0
    assert not os.path.isdir(os.path.join(t.path, f"month={target}"))
    assert t.read(spark).filter(F.col("month") == target).count() == 0


def test_delete_where_null_predicate_rows_kept_and_noop_returns_zero(spark, tmp_path):
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=1, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    # predicate NULL on every row (null comparison) -> SQL DELETE keeps all
    assert t.delete_where(spark, F.lit(None).cast("boolean")) == 0
    assert t.read_raw(spark).count() == 48
    assert t.delete_where(spark, F.col("symbol") == "NO_SUCH") == 0


def test_update_where_rewrites_only_matching_months(spark, tmp_path):
    """UPDATE sets the assigned columns on matching rows only, leaves
    other months' files byte-untouched, preserves row counts and version
    structure, and refuses key/partition-column assignments."""
    import pytest

    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=800, overlap_bars=0)
    t.append(b, ingest_seq=1)
    months = sorted(
        int(d.split("=")[1]) for d in os.listdir(t.path) if d.startswith("month=")
    )
    target = months[0]
    untouched_dir = os.path.join(t.path, f"month={months[-1]}")
    before = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
        if f.endswith(".parquet")
    }
    raw_before = t.read_raw(spark).count()
    pred = (F.col("symbol") == "SYM000USDT") & (F.col("month") == target)
    n_hits = t.read_raw(spark).filter(pred).count()
    assert n_hits > 0

    n_upd = t.update_where(spark, pred, {"volume": F.lit(-1.0)})
    assert n_upd == n_hits
    raw = t.read_raw(spark)
    assert raw.count() == raw_before  # updates never change cardinality
    assert raw.filter(F.col("volume") == -1.0).count() == n_hits
    assert raw.filter(pred & (F.col("volume") != -1.0)).count() == 0
    # non-matching rows in the SAME month untouched
    assert raw.filter(
        (F.col("month") == target) & (F.col("symbol") != "SYM000USDT")
        & (F.col("volume") == -1.0)
    ).count() == 0
    after = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
        if f.endswith(".parquet")
    }
    assert after == before
    assert t.max_ingest_seq(spark) == 1
    with pytest.raises(ValueError, match="key/partition"):
        t.update_where(spark, pred, {"symbol": F.lit("X")})
    # no matches -> 0, no rewrite
    assert t.update_where(spark, F.col("symbol") == "NO_SUCH", {"volume": F.lit(0.0)}) == 0


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.mark.parametrize("rewrite", ["compact_months", "delete_where", "update_where"])
def test_month_rewrites_leave_the_session_as_found(spark, tmp_path, rewrite):
    """A month rewrite passes dynamic overwrite to its own write and frees
    its lineage cut: the session conf stays unset (a later plain
    ``partitionBy`` overwrite must still replace the whole dir) and no
    checkpoint blocks stay behind."""
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48, overlap_bars=0)
    t.append(b, ingest_seq=1)
    t.append(b.filter(F.col("symbol") == "SYM000USDT"), ingest_seq=2)
    month = int(t.read_raw(spark).first()["month"])
    hit = F.col("symbol") == "SYM000USDT"
    spark.conf.unset(_OVERWRITE_MODE)
    held = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    if rewrite == "compact_months":
        t.compact_months(spark, [month])
        assert t.read_raw(spark).count() == 96
    elif rewrite == "delete_where":
        assert t.delete_where(spark, hit) == 96
    else:
        assert t.update_where(spark, hit, {"volume": F.lit(-1.0)}) == 96
    assert spark.conf.get(_OVERWRITE_MODE, None) is None
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= held


# -- crash-safe commits (storage/commit.py) ---------------------------------

_SWAP_SIBLINGS = (".compact.tmp", ".compact.bak", ".old", ".build.tmp")
_DOCS = "doc_id long, text string"


def _index_docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"w{i % 3} w{i % 5} common") for i in range(lo, hi)], _DOCS
    )


def _index_state(spark, idx):
    from binance_etl_clickhouse_spark.storage.invindex import InvertedIndex

    fresh = InvertedIndex(idx.path, n_buckets=idx.n_buckets)
    m = fresh.meta()  # the next open: heals an interrupted swap first
    rows = fresh.postings(spark).select("doc_id", "term", "tf", "epoch")
    return m["n_docs"], m["total_tokens"], len(m["epochs"]), sorted(map(tuple, rows.collect()))


def _crash_case(spark, kind, path):
    """(setup, op, observe) over tiny inputs at ``path``: ``observe`` is the
    next open of the stored state, returning its rows."""
    from binance_etl_clickhouse_spark.storage.invindex import InvertedIndex
    from binance_etl_clickhouse_spark.streaming.jobs import (
        compact_sidecar_index,
        recover_sidecar_index,
    )

    if kind == "ServingTable.compact":
        t = ServingTable(path=path, keys=KLINES_PK, time_col="timestamp")

        def setup():
            b = _clean(spark, n_symbols=1, bars_per_symbol=6, overlap_bars=0)
            t.append(b, ingest_seq=1)
            t.append(b.withColumn("volume", F.col("volume") * 2), ingest_seq=2)

        return setup, lambda: t.compact(spark), lambda: sorted(
            map(tuple, ServingTable(path, KLINES_PK, "timestamp").read_raw(spark).collect())
        )
    if kind.startswith("InvertedIndex"):
        idx = InvertedIndex(path, n_buckets=4)

        def setup():
            idx.build(_index_docs(spark, 0, 6))
            if kind == "InvertedIndex.compact":
                idx.append(_index_docs(spark, 6, 9))

        if kind == "InvertedIndex.build":
            op = lambda: idx.build(_index_docs(spark, 0, 9))  # noqa: E731
        else:
            op = lambda: idx.compact(spark)  # noqa: E731
        return setup, op, lambda: _index_state(spark, idx)

    def setup():
        rows = [(i, i * 7) for i in range(6)] + [(0, 0)]  # one exact duplicate
        for part in (rows[:3], rows[3:]):
            spark.createDataFrame(part, "k long, h long").write.mode("append").parquet(path)

    def observe():
        recover_sidecar_index(path)
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    return setup, lambda: compact_sidecar_index(spark, path, target_files=1), observe


@pytest.mark.parametrize("fault", ["swap_rename", "bak_removal"])
@pytest.mark.parametrize(
    "kind",
    [
        "ServingTable.compact",
        "InvertedIndex.build",
        "InvertedIndex.compact",
        "compact_sidecar_index",
    ],
)
def test_interrupted_swap_opens_to_old_or_new_state(spark, tmp_path, monkeypatch, kind, fault):
    """Every whole-dir rewrite commits through ``commit.swap_dir``. A crash
    at its second rename (staged -> live) or at the removal of the parked
    bak after it must leave a state the next open recovers to exactly the
    old or the new rows, never neither, and with no swap sibling left."""
    from binance_etl_clickhouse_spark.storage import commit

    setup, op, observe = _crash_case(spark, kind, str(tmp_path / "ref"))
    setup()
    old = observe()
    op()
    new = observe()
    assert old != new

    setup, op, observe = _crash_case(spark, kind, str(tmp_path / "crash"))
    setup()
    real_rename, real_remove = commit._rename, commit.remove

    def rename(src, dst):
        if fault == "swap_rename" and src.endswith(commit.TMP):
            raise OSError("injected crash at the swap rename")
        real_rename(src, dst)

    def remove(p):
        if fault == "bak_removal" and p.endswith(commit.BAK) and os.path.lexists(p):
            raise OSError("injected crash removing the parked bak")
        real_remove(p)

    with monkeypatch.context() as m:
        m.setattr(commit, "_rename", rename)
        m.setattr(commit, "remove", remove)
        with pytest.raises(OSError, match="injected"):
            op()
    got = observe()
    if fault == "swap_rename":
        assert got in (old, new)
    else:
        assert got == new
    live = str(tmp_path / "crash")
    assert os.path.isdir(live)
    assert not [s for s in _SWAP_SIBLINGS if os.path.lexists(live + s)]


def test_write_json_keeps_the_previous_file_when_the_dump_fails(tmp_path, monkeypatch):
    from binance_etl_clickhouse_spark.storage import commit

    path = str(tmp_path / "_meta.json")
    commit.write_json(path, {"seq": 1, "files": ["a", "b"]})
    before = open(path, "rb").read()

    def torn_dump(obj, f):
        f.write('{"seq": 2, "fi')
        raise RuntimeError("disk full")

    monkeypatch.setattr(commit.json, "dump", torn_dump)
    with pytest.raises(RuntimeError, match="disk full"):
        commit.write_json(path, {"seq": 2, "files": []})
    monkeypatch.undo()
    assert open(path, "rb").read() == before
    assert commit.read_json(path) == {"seq": 1, "files": ["a", "b"]}
