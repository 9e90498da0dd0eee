"""Versioned (snapshot-isolated) compaction: atomic symlink commit, reader
isolation across the swap, crash recovery mid-conversion, vacuum GC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators.etl import clean_klines
from binance_etl_clickhouse_spark.schemas import KLINES_PK
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


def _rows(df):
    return sorted(
        (r.symbol, r.timestamp, r.volume)
        for r in df.select("symbol", "timestamp", "volume").collect()
    )


def _two_version_table(spark, tmp_path) -> tuple[ServingTable, list]:
    t = _table(tmp_path)
    b = _clean(spark, n_symbols=2, bars_per_symbol=48)
    t.append(b, ingest_seq=1)
    t.append(b.withColumn("volume", F.col("volume") * 2).limit(30), ingest_seq=2)
    return t, _rows(t.read(spark))


def test_versioned_compact_swaps_atomically_and_stays_versioned(spark, tmp_path):
    t, want = _two_version_table(spark, tmp_path)
    t.compact(spark, versioned=True)
    assert os.path.islink(t.path)
    assert _rows(t.read(spark)) == want
    # compacted flag holds: exactly one version per key on disk
    assert t.read_raw(spark).count() == len(want)
    # appends keep flowing through the pointer into the current snapshot dir
    t.append(
        _clean(spark, n_symbols=2, bars_per_symbol=48)
        .withColumn("volume", F.col("volume") + 5.0)
        .limit(10),
        ingest_seq=3,
    )
    after = t.read(spark)
    assert after.filter(F.col("volume") > 5.0).count() >= 10
    # a later compact with the default flag stays versioned automatically
    t.compact(spark)
    assert os.path.islink(t.path)
    assert t.read(spark).count() == len(want)


def test_inflight_reader_survives_the_swap(spark, tmp_path):
    # the isolation guarantee is for ALREADY-versioned tables (the one-time
    # flat->versioned conversion moves the live dir, so convert first)
    t, want = _two_version_table(spark, tmp_path)
    t.compact(spark, versioned=True)
    # pile more versions onto the versioned layout
    b = _clean(spark, n_symbols=2, bars_per_symbol=48)
    t.append(b.withColumn("volume", F.col("volume") * 3).limit(20), ingest_seq=5)
    raw_before = t.read_raw(spark)  # planned against the current snapshot dir
    n_raw_before = raw_before.count()
    assert n_raw_before == len(want) + 20
    t.compact(spark)  # atomic repoint to a freshly compacted snapshot
    # post-swap, the pre-swap frame still reads its retained version dir:
    # every pre-compact row (duplicate versions included) is still there
    assert raw_before.count() == n_raw_before
    # while a fresh read sees the compacted single-version layout
    assert t.read_raw(spark).count() == len(want)


def test_conversion_crash_before_symlink_recovers(spark, tmp_path):
    t, want = _two_version_table(spark, tmp_path)
    real_symlink = os.symlink

    def boom(*a, **kw):
        raise RuntimeError("crash before the commit rename")

    os.symlink = boom
    try:
        with pytest.raises(RuntimeError):
            t.compact(spark, versioned=True)
    finally:
        os.symlink = real_symlink
    # the live dir was parked in the version store; recovery restores it
    assert _rows(t.read(spark)) == want
    # and a retried compact completes
    t.compact(spark, versioned=True)
    assert os.path.islink(t.path) and _rows(t.read(spark)) == want


def test_vacuum_drops_unreferenced_versions(spark, tmp_path):
    t, want = _two_version_table(spark, tmp_path)
    t.compact(spark, versioned=True)
    t.append(
        _clean(spark, n_symbols=1, bars_per_symbol=48).limit(5), ingest_seq=9
    )
    t.compact(spark)  # second version dir
    vroot = t._versions_root()
    assert len(os.listdir(vroot)) >= 2
    removed = t.vacuum(keep=0)
    assert removed  # the legacy/previous snapshots are gone
    current = os.path.realpath(t.path)
    assert os.path.isdir(current)
    assert t.read(spark).count() >= len(want)


def test_expire_all_months_drops_versioned_table(spark, tmp_path):
    t, _ = _two_version_table(spark, tmp_path)
    t.compact(spark, versioned=True)
    dropped = t.expire(before_month=999999)
    assert dropped
    assert not t.exists()


def _versioned_dim(spark, tmp_path) -> ServingTable:
    """An unpartitioned table after ``compact(versioned=True)``."""
    t = ServingTable(path=str(tmp_path / "dim"), keys=["k"], time_col=None)
    t.append(
        spark.createDataFrame([(k, f"v{k}") for k in range(6)], "k int, v string"),
        ingest_seq=1,
    )
    t.compact(spark, versioned=True)
    return t


@pytest.mark.parametrize(
    "mutate, want",
    [
        ("delete_where", [(k, f"v{k}") for k in range(2, 6)]),
        ("update_where", [(k, "x" if k < 2 else f"v{k}") for k in range(6)]),
    ],
)
def test_row_mutations_commit_through_the_version_store(spark, tmp_path, mutate, want):
    t = _versioned_dim(spark, tmp_path)
    if mutate == "delete_where":
        n = t.delete_where(spark, "k < 2")
    else:
        n = t.update_where(spark, "k < 2", {"v": "'x'"})
    assert n == 2
    assert os.path.islink(t.path)
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == want
    assert t.max_ingest_seq(spark) == 1


def test_read_heals_a_symlinked_swap_leftover(spark, tmp_path):
    """A whole-table swap that parked a versioned table's pointer as
    ``.compact.bak`` and then failed to delete it: the live path holds the
    rewritten rows as a plain dir. The next read drops the stale link
    (its snapshot stays in the version store) and serves the live rows."""
    t = _versioned_dim(spark, tmp_path)
    snapshot = os.path.realpath(t.path)
    os.rename(t.path, t.path + ".compact.bak")
    spark.createDataFrame(
        [(k, f"v{k}", 1) for k in range(2, 6)], "k int, v string, ingest_seq int"
    ).write.parquet(t.path)
    assert sorted(r.k for r in t.read(spark).collect()) == [2, 3, 4, 5]
    assert not os.path.lexists(t.path + ".compact.bak")
    assert os.path.isdir(snapshot)
