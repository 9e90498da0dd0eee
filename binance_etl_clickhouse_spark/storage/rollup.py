"""Incrementally-refreshed materialized rollup — the ClickHouse
materialized-view / TimescaleDB continuous-aggregate analogue.

The reference's serving layer pre-aggregates nothing: every analytical read
over ``bn_*_klines_*`` re-scans raw bars. A 100 TB deployment wants the
standard warehouse answer instead — a materialized time-bucketed aggregate
that refreshes *incrementally*: cost proportional to the months touched by
new ingest, never to total table size.

Design (all plain DataFrame code, no Catalyst extension):

1. **Change detection via the version column.** ``ServingTable.append``
   stamps every batch with ``ingest_seq``; within one parquet file the stamp
   is constant, so a scan filtered on ``ingest_seq > last_refreshed_seq``
   prunes *all pre-existing files* from row-group min/max stats alone — the
   "what changed" scan reads only new data, no log/manifest infrastructure
   needed.
2. **Month-granular invalidation.** The dedup key contains the event-time
   column and ``month = toYYYYMM(time)`` is a pure function of it, so every
   version of a given key lives in exactly one month partition. Recomputing
   the touched months from the deduped snapshot is therefore exact — a
   late/duplicate bar can never shift an aggregate in an untouched month.
3. **Dynamic partition overwrite.** Refresh rewrites only the invalidated
   ``month=`` dirs of the rollup (``partitionOverwriteMode=dynamic``);
   untouched months are never read or written.

Equivalent maintenance loop in the reference: none — it relies on ClickHouse
``GROUP BY`` at query time over the MergeTree (README.md "query examples");
this class is the §7-extension that makes those queries O(months-changed)
to keep warm instead of O(table) to run cold.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.functions.scalars import month_bucket
from binance_etl_clickhouse_spark.operators.dedup import keep_last
from binance_etl_clickhouse_spark.schemas import MONTH_COL
from binance_etl_clickhouse_spark.storage.table import (
    INGEST_SEQ,
    ServingTable,
    expire_month_partitions,
)

BUCKET_COL = "bucket"
_META = "_rollup_meta.json"


@dataclass
class RollupTable:
    """Materialized ``date_trunc`` rollup over a :class:`ServingTable`.

    ``aggs`` is a zero-arg callable returning aliased aggregate Columns so a
    single definition can be refreshed repeatedly (Columns are reusable
    expression trees, but a factory keeps call sites explicit).
    """

    path: str
    source: ServingTable
    granularity: str  # date_trunc unit: 'hour', 'day', 'week', ...
    group_cols: list[str]  # e.g. ['symbol']
    aggs: Callable[[], list[Column]]

    def __post_init__(self) -> None:
        if self.source.time_col is None:
            raise ValueError("RollupTable requires a time-partitioned source")

    def expire(self, before_month: int) -> list[int]:
        """TTL on the ROLLUP independently of its source: the classic
        retention split keeps raw data short (source.expire) and aggregates
        long — or, symmetric, trims ancient rollup months. Refresh state is
        untouched: last_seq only gates which NEW ingest months recompute,
        so dropped months stay dropped unless their raw data is re-ingested
        (at which point recomputation is correct anyway).

        Whole-table expiry needs care: expire_month_partitions removes the
        entire dir (sidecar included) when every month drops, and a lost
        last_seq would make the next refresh treat ALL raw files as fresh
        and resurrect every deliberately-dropped month. The meta survives
        by re-writing it into the (otherwise empty, exists()==False) dir."""
        meta = self._meta()
        dropped = expire_month_partitions(self.path, before_month)
        if dropped and not os.path.isdir(self.path) and meta:
            os.makedirs(self.path, exist_ok=True)
            self._write_meta(meta)
        return dropped

    # -- refresh ----------------------------------------------------------

    def refresh(self, spark: SparkSession) -> list[int]:
        """Incrementally refresh; returns the month buckets recomputed.

        One job finds the touched months and their max seq from files newer
        than the last refresh — parquet stats prune everything older; the
        scan is observed into a no-op sink, so no exchange — then one job per
        refresh recomputes exactly those months from the deduped snapshot
        and dynamically overwrites the matching rollup partitions. When
        ``group_cols`` share columns with the source keys, the keep-last
        window and the aggregate reuse one exchange on those columns, and the
        write needs none; otherwise the output is repartitioned by month.
        """
        last_seq = self._meta().get("last_seq", -1)
        if not self.source.exists():
            return []
        src = self.source
        base = src.read_raw(spark)  # one schema inference for both scans
        obs = Observation("rollup_touched")
        (
            base.filter(F.col(INGEST_SEQ) > last_seq)
            .select(MONTH_COL, INGEST_SEQ)
            .observe(
                obs, F.collect_set(MONTH_COL).alias("months"), F.max(INGEST_SEQ).alias("seq")
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        touched = obs.get
        if not touched["months"]:
            return []
        months = sorted(int(m) for m in touched["months"])
        new_seq = int(touched["seq"])

        # Dedup within the touched months only — exact because the dedup key
        # contains time_col and month is a function of it (every version of a
        # key shares a month), so the partition filter commutes with keep-last.
        raw = base.filter(F.col(MONTH_COL).isin(months))
        # one exchange serves both the keep-last window and the aggregate when
        # the group columns share source keys: hash-partitioning on the shared
        # keys clusters every dedup key and every group (a superset of them)
        shared = [c for c in self.group_cols if c in src.keys]
        if shared:
            raw = raw.repartition(*shared)
        snap = keep_last(raw, src.keys, INGEST_SEQ)
        bucket = F.date_trunc(self.granularity, F.col(src.time_col)).alias(BUCKET_COL)
        out = (
            snap.groupBy(bucket, *self.group_cols)
            .agg(*self.aggs())
            .withColumn(MONTH_COL, month_bucket(BUCKET_COL))
        )
        if not shared:
            out = out.repartition(MONTH_COL)
        (
            out.sortWithinPartitions(MONTH_COL, *self.group_cols, BUCKET_COL)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(MONTH_COL)
            .parquet(self.path)
        )
        self._write_meta({"last_seq": new_seq})
        return months

    # -- read -------------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    # -- refresh manifest (tiny driver-side JSON, like progress.json T2) ---

    def _meta_path(self) -> str:
        return os.path.join(self.path, _META)

    def _meta(self) -> dict:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path())
