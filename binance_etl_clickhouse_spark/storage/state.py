"""Progress-checkpoint state — the reference's progress.json as a table.

The reference writes ``{"completed": [...]}`` per cache dir and skips those
symbols on restart (crypto_data_pipeline_clickhouse.py:317-322, :339). Here
the completed set is a small parquet table and the skip is a broadcast
left-anti join (SURVEY.md P7/T2) — the same crash-resume semantic,
cluster-visible, and composable into the symbol-selection plan.

:class:`WatermarkState` is the incremental loop's twin of progress.json: the
last written bar per ``type|interval|symbol`` (the reference resumes each
symbol at ``last_ts + 1``, T1), kept as one small driver-side JSON file and
trusted only while the serving table's state token is unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.schemas import PROGRESS
from binance_etl_clickhouse_spark.storage.commit import read_json, write_json


@dataclass
class ProgressTable:
    path: str
    key: str = "symbol"

    def read(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.path):
            return spark.createDataFrame([], PROGRESS)
        return spark.read.parquet(self.path)

    def pending(self, symbols: DataFrame, spark: SparkSession) -> DataFrame:
        """Anti-join the completed set off the symbol dimension (P7)."""
        done = self.read(spark).select(self.key)
        return symbols.join(F.broadcast(done), self.key, "left_anti")

    def mark_done(self, symbols: DataFrame) -> None:
        symbols.select(self.key).distinct().write.mode("append").parquet(self.path)

    def clear(self) -> None:
        """≙ clearing progress.json after a successful load (reference :653-656)."""
        import shutil

        if os.path.isdir(self.path):
            shutil.rmtree(self.path)


@dataclass
class WatermarkState:
    """Resume watermarks of a serving table: ``{key: last bar in ms}``,
    stamped with the table's :meth:`ServingTable.state_token` at the time
    they were true. Any write the pipeline did not account for (a backfill,
    compaction, delete, update or expiry) changes the token, and
    :meth:`load` then answers ``None`` so the caller rescans the table."""

    path: str

    def load(self, token: list | None) -> dict[str, int] | None:
        state = read_json(self.path)
        if not isinstance(state, dict) or state.get("token") != token:
            return None
        last_ms = state.get("last_ms")
        return last_ms if isinstance(last_ms, dict) else None

    def save(self, token: list | None, last_ms: dict[str, int]) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        write_json(self.path, {"token": token, "last_ms": last_ms})
