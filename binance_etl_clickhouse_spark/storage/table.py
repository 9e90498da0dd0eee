"""Serving-table storage layer — the ClickHouse MergeTree analogue.

The reference relies on ClickHouse for four storage semantics (SURVEY.md §1.1,
§4); each maps to an explicit Spark/parquet mechanism here:

| ClickHouse                                  | here |
|---------------------------------------------|------|
| ``PARTITION BY toYYYYMM(ts)`` (:570)        | parquet dir partition ``month=yyyyMM`` -> partition pruning |
| ``ORDER BY (symbol, interval, ts)`` (:569)  | ``sortWithinPartitions`` on write -> row-group min/max skipping |
| ReplacingMergeTree keep-last dedup (:541)   | ``ingest_seq`` version column + window dedup on read; ``compact()`` ≙ OPTIMIZE FINAL |
| ``LowCardinality(String)`` (:445)           | parquet dictionary encoding (automatic) |

Scale design: appends only touch the months present in the batch; the dedup
window shuffles on the dedup key only when reading un-compacted data, and
``compact()`` rewrites months into exactly-one-version files so steady-state
reads skip the window entirely.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.functions.scalars import month_bucket
from binance_etl_clickhouse_spark.operators.dedup import keep_last
from binance_etl_clickhouse_spark.schemas import MONTH_COL
from binance_etl_clickhouse_spark.storage import commit

INGEST_SEQ = "ingest_seq"
SEQ_SIDECAR = "_seq.json"  # leading "_" -> invisible to Spark's parquet reader
_VERSIONS = ".versions"  # sibling of a table's path: its snapshot store


def drop_storage(path: str) -> None:
    """Remove a table's data dir, its version store (or crash recovery would
    resurrect a parked snapshot of a deliberately dropped table) and any
    swap debris."""
    commit.remove(path.rstrip("/") + _VERSIONS)
    commit.discard(path)


def expire_month_partitions(path: str, before_month: int) -> list[int]:
    """Drop ``month=yyyyMM`` partition dirs strictly older than the cutoff —
    the shared TTL primitive (DROP PARTITION shape: filesystem-only, no
    Spark job, no rewrite). Non-numeric partition dirs (null partitions)
    are never dropped. If the cutoff removes EVERY partition, the whole
    table directory goes with it (sidecars included): a dir holding only
    underscore-prefixed metadata is unreadable to Spark ("unable to infer
    schema"), whereas a missing table is the state every caller already
    gates on with ``exists()`` — and the next append/refresh recreates it
    from scratch. Returns dropped months, oldest first."""
    dropped: list[int] = []
    if not os.path.isdir(path):
        return dropped
    prefix = f"{MONTH_COL}="
    remaining = 0
    for d in sorted(os.listdir(path)):
        if not d.startswith(prefix):
            continue
        try:
            month = int(d[len(prefix):])
        except ValueError:
            remaining += 1
            continue
        if month < before_month:
            shutil.rmtree(os.path.join(path, d))
            dropped.append(month)
        else:
            remaining += 1
    if dropped and remaining == 0:
        drop_storage(path)
    return dropped


@dataclass
class ServingTable:
    """A monthly-partitioned, sorted, version-deduped parquet table."""

    path: str
    keys: list[str]  # ReplacingMergeTree ORDER BY key (dedup identity)
    time_col: str | None  # event-time column driving the month partition
    sort_cols: list[str] = field(default_factory=list)  # physical sort (defaults to keys)
    #: optional read-time projection applied by EVERY raw read (and thus by
    #: snapshot/compact/delete/update uniformly): the DdlCatalog installs
    #: one after ALTER ADD/DROP/RENAME COLUMN so pending column reshapes
    #: serve consistently AND materialize whenever a maintenance op
    #: rewrites storage — ClickHouse mutations rewrite parts with the
    #: current schema the same way. Must be IDEMPOTENT (post-materialize
    #: files re-project to themselves) and must preserve INGEST_SEQ.
    #: Setting it forces mergeSchema (reshaped tables have heterogeneous
    #: file footers).
    read_transform: object | None = None
    #: optional EXPLICIT read schema (pyspark StructType), installed by the
    #: DdlCatalog after ALTER MODIFY COLUMN: mergeSchema cannot union
    #: int32/int64 footers, but the parquet reader can serve narrow bytes
    #: under a declared wider schema (Spark 4 scan-level type widening).
    #: Takes precedence over mergeSchema on every raw read.
    read_schema: object | None = None

    # -- crash recovery ---------------------------------------------------

    def _recover(self) -> None:
        """Heal an interrupted :meth:`_commit`: a whole-table swap through
        ``storage/commit.py``'s :func:`~commit.recover_dir`, or a versioned
        conversion that moved the live dir into the version store before
        the symlink landed (the moved dir is restored)."""
        commit.recover_dir(self.path)
        if not os.path.lexists(self.path):
            vroot = self._versions_root()
            if os.path.isdir(vroot):
                legacy = sorted(
                    d for d in os.listdir(vroot) if d.startswith("legacy-")
                )
                if legacy:
                    shutil.move(os.path.join(vroot, legacy[-1]), self.path)

    # -- versioned layout (atomic compact swap) ---------------------------

    def _versions_root(self) -> str:
        return self.path.rstrip("/") + _VERSIONS

    def resolved_path(self) -> str:
        """Physical data dir with the version symlink resolved. DataFrames
        are built on THIS path, so an atomic ``compact(versioned=True)``
        repoint can never invalidate an in-flight reader — it keeps reading
        the snapshot dir it planned against (retained until :meth:`vacuum`)."""
        return os.path.realpath(self.path)

    def vacuum(self, keep: int = 1) -> list[str]:
        """Drop version dirs no longer referenced by the live symlink,
        keeping the ``keep`` most recent unreferenced ones as a grace window
        for in-flight readers. Returns removed dir names."""
        vroot = self._versions_root()
        if not os.path.isdir(vroot):
            return []
        current = os.path.realpath(self.path)
        candidates = sorted(
            d
            for d in os.listdir(vroot)
            if os.path.realpath(os.path.join(vroot, d)) != current
        )
        doomed = candidates[: max(0, len(candidates) - keep)]
        for d in doomed:
            shutil.rmtree(os.path.join(vroot, d), ignore_errors=True)
        return doomed

    def drop(self) -> None:
        """Remove the table's storage (DROP / TRUNCATE): data, version
        store and swap debris."""
        drop_storage(self.path)

    # -- version sequencing -----------------------------------------------

    def _sidecar_path(self) -> str:
        return os.path.join(self.path, SEQ_SIDECAR)

    def _read_seqs(self) -> tuple[int | None, int | None]:
        """``(max_ingest_seq, compacted_seq)`` from the sidecar, each None
        when absent. ``compacted_seq`` is the seq at which the WHOLE table
        was last compacted to one version per key; appends clear it."""
        meta = commit.read_json(self._sidecar_path())
        try:
            compacted = meta.get("compacted_seq")
            return (
                int(meta["max_ingest_seq"]),
                None if compacted is None else int(compacted),
            )
        except (AttributeError, KeyError, TypeError, ValueError):
            return None, None

    def _write_sidecar(self, max_seq: int, compacted_seq: int | None = None) -> None:
        meta: dict = {"max_ingest_seq": int(max_seq)}
        if compacted_seq is not None:
            meta["compacted_seq"] = int(compacted_seq)
        commit.write_json(self._sidecar_path(), meta)

    def max_ingest_seq(self, spark: SparkSession) -> int:
        """Highest version stamp ever appended (0 for an empty table).

        O(1) via the ``_seq.json`` sidecar each append maintains; a missing
        sidecar (pre-sidecar table) falls back to one ``max(ingest_seq)``
        parquet-footer scan and then self-heals by writing the sidecar.
        """
        if not self.exists():
            return 0
        cached = self._read_seqs()[0]
        if cached is not None:
            return cached
        row = self.read_raw(spark).agg(F.max(INGEST_SEQ).alias("m")).first()
        v = int(row.m or 0)
        self._write_sidecar(v)
        return v

    def state_token(self, spark: SparkSession) -> list | None:
        """Driver-side identity of the table's contents, read with no Spark
        job: the newest ingest seq plus a digest of the data-file list.
        Appends bump the seq; compaction, deletes, updates and expiry
        rewrite or drop files, whose names are unique per write. ``None``
        for a missing table. Caches of derived state (a symbol-dimension
        snapshot, resume watermarks) stay valid while the token is equal."""
        import hashlib

        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        if not self.exists():
            return None
        files = "\n".join(_zm.data_files(self.path)).encode()
        return [self.max_ingest_seq(spark), hashlib.sha1(files).hexdigest()]

    # -- write path -------------------------------------------------------

    def append(self, df: DataFrame, ingest_seq: int) -> None:
        """Append one ingest batch with a version stamp.

        Layout per batch: one dir per month; files sorted by the table key so
        parquet page stats give PK-index-like skipping (≙ index_granularity
        sparse index, reference :544). ``repartition(month, keys)`` keeps each
        output file single-month and key-clustered — at cluster scale this is
        the shuffle that buys co-located, pruned reads forever after.

        If a zone-map sidecar exists (:meth:`build_zonemap`), the batch's new
        files are footer-scanned and folded in — incremental maintenance, no
        full rebuild.
        """
        from binance_etl_clickhouse_spark.storage import zonemap as _zm
        # heal an interrupted compact FIRST: writing into a missing live dir
        # while .compact.bak still holds the table would make the next
        # _recover() treat the bak as stale debris and delete the pre-compact
        # data
        self._recover()
        # legacy (pre-sidecar) tables must seed the sidecar from the real
        # footer max BEFORE this write, not from this batch's seq — else a
        # low ingest_seq would understate max forever and keep-last dedup
        # would prefer stale rows
        prior = self._read_seqs()[0]
        if prior is None and self.exists():
            row = self.read_raw(df.sparkSession).agg(F.max(INGEST_SEQ).alias("m")).first()
            prior = int(row.m or 0)
        has_zonemap = _zm.read_zonemap(self.path) is not None
        before_files = set(_zm.data_files(self.path)) if has_zonemap else set()
        out = df.withColumn(INGEST_SEQ, F.lit(ingest_seq))
        sort_cols = self.sort_cols or self.keys
        if self.time_col is not None:
            out = out.withColumn(MONTH_COL, month_bucket(self.time_col))
            # REBALANCE (not plain repartition): AQE splits a hot
            # (month, symbol) group across tasks instead of funneling it into
            # one giant writer — the skewed-ingest case at 100 TB — and
            # coalesces tiny groups; a split group just yields several files
            # for that key, each still internally sorted
            out = out.hint("rebalance", MONTH_COL, *self.keys[:1])
            # month leads the sort: a task's rows stream one partition dir at
            # a time, so the dynamic-partition write keeps a single parquet
            # writer open (instead of one per month seen — the row-group
            # memory-scaling spiral at wide batches); within each single-month
            # file the remaining keys still give the sorted page-stats layout
            out = out.sortWithinPartitions(MONTH_COL, *sort_cols)
            out.write.mode("append").partitionBy(MONTH_COL).parquet(self.path)
        else:
            # dimension tables: small, unpartitioned
            out.sortWithinPartitions(*sort_cols).write.mode("append").parquet(self.path)
        self._write_sidecar(max(prior or 0, ingest_seq))
        if has_zonemap:
            new = [f for f in _zm.data_files(self.path) if f not in before_files]
            _zm.extend_zonemap(self.path, new)

    def expire(self, before_month: int) -> list[int]:
        """TTL retention ≙ ClickHouse ``ALTER TABLE ... DROP PARTITION`` /
        partition-granular ``TTL ... DELETE``: removes whole month
        directories strictly older than ``before_month`` (yyyyMM int).

        A pure filesystem/metadata operation — no Spark job, no data
        rewrite. At 100 TB this is the ONLY affordable delete shape;
        row-level TTL would rewrite every file it touches. Month dirs are
        the partition unit, so the cutoff is month-granular by design
        (same contract as the reference's backing store). Returns the
        dropped months, oldest first.
        """
        self._recover()
        return expire_month_partitions(self.path, before_month)

    # -- read path --------------------------------------------------------

    def read_raw(self, spark: SparkSession, merge_schema: bool = False) -> DataFrame:
        """All versions, no dedup (≙ SELECT without FINAL).

        ``merge_schema=True`` unions the schemas of every batch ever written
        (≙ the state after ``ALTER TABLE ADD COLUMN``): rows from batches
        that predate a column read back NULL there. Opt-in because schema
        merging reads every file's footer — steady-state pipelines pin their
        schemas and take the single-footer fast path.
        """
        self._recover()
        reader = spark.read
        if self.read_schema is not None:
            # pending MODIFY COLUMN widen: the explicit declared-type
            # schema both unions the storage names (like mergeSchema) and
            # upcasts pre-MODIFY narrow bytes in the scan
            reader = reader.schema(self.read_schema)
        elif merge_schema or self.read_transform is not None:
            # a read_transform implies heterogeneous file footers (pending
            # column reshape) — the union schema is required for the
            # projection's coalesce chains to see every storage name
            reader = reader.option("mergeSchema", "true")
        # symlink-resolved: an atomic compact repoint after this call leaves
        # the returned frame reading its original (retained) snapshot dir
        out = reader.parquet(self.resolved_path())
        if self.read_transform is not None:
            out = self.read_transform(out)
        return out

    def read(
        self,
        spark: SparkSession,
        merge_schema: bool = False,
        as_of_seq: int | None = None,
    ) -> DataFrame:
        """Current snapshot: newest version per key (≙ SELECT ... FINAL).

        Keep-last over (keys) ordered by ingest_seq; within one batch the
        writer has already deduped, so ingest_seq is a total enough order.

        ``as_of_seq=N`` time-travels: the snapshot as it stood after ingest
        batch N (rows stamped later are ignored BEFORE dedup, so a key
        re-ingested after N resolves to its version at N). Appends never
        rewrite old versions, so any historical seq stays reconstructible
        until ``compact()`` collapses history to the current version.
        """
        raw = self.read_raw(spark, merge_schema)
        if as_of_seq is not None:
            raw = raw.filter(F.col(INGEST_SEQ) <= int(as_of_seq))
            return keep_last(raw, self.keys, INGEST_SEQ)
        # FINAL-is-free-after-OPTIMIZE: a full compact leaves exactly one
        # version per key on disk and records it in the sidecar; until the
        # next append the keep-last window (a whole shuffle) is a no-op and
        # is skipped. Appends and per-month compacts clear the flag.
        seq, compacted = self._read_seqs()
        if compacted is not None and seq == compacted:
            return raw
        return keep_last(raw, self.keys, INGEST_SEQ)

    def build_zonemap(self, columns: list[str] | None = None) -> dict:
        """Build the file-level sparse index sidecar (``storage/zonemap.py``).

        Defaults to the physical sort columns plus the time column — the
        dimensions the key-sorted layout actually makes narrow per file.
        """
        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        if columns is None:
            columns = list(self.sort_cols or self.keys)
            if self.time_col and self.time_col not in columns:
                columns.append(self.time_col)
        return _zm.build_zonemap(self.path, columns)

    def read_pruned(
        self,
        spark: SparkSession,
        predicates: dict[str, tuple],
        dedup: bool = True,
    ) -> DataFrame:
        """Point/range lookup through the zone map: the driver drops files
        whose key bounds cannot match BEFORE Spark schedules tasks, then the
        same predicates run as ordinary filters over the surviving files —
        correct with or without pruning, and a stale/missing sidecar falls
        back to the full scan. ``predicates`` as in ``zonemap.prune_files``.

        This is the ClickHouse sparse-PK read shape: on a million-file
        table a ``symbol =`` lookup schedules tasks for only the files that
        can contain the key, instead of an O(files) listing+footer pass.
        """
        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        self._recover()
        # validate ops BEFORE branching on the sidecar: without this, a
        # table that never ran build_zonemap would skip prune_files' op
        # check AND fall through the residual-filter branches below,
        # silently returning unfiltered rows for a typo'd op that errors
        # loudly on an indexed table
        for col, pred in predicates.items():
            if pred[0] not in ("eq", "between"):
                raise ValueError(
                    f"read_pruned: unsupported predicate op {pred[0]!r} on "
                    f"{col!r} (supported: 'eq', 'between')"
                )
        zm = _zm.read_zonemap(self.path)
        files = (
            _zm.prune_files(zm, self.path, predicates) if zm is not None else None
        )
        if files is None:
            df = self.read_raw(spark)
        elif not files:
            df = self.read_raw(spark).limit(0)
        else:
            # basePath keeps the month= dir column in scope for partial reads
            reader = spark.read.option("basePath", self.path)
            if self.read_schema is not None:
                reader = reader.schema(self.read_schema)
            elif self.read_transform is not None:
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(*files)
            if self.read_transform is not None:
                # the reshape projection applies to EVERY read path — the
                # read_raw branches above already did
                df = self.read_transform(df)
        for col, pred in predicates.items():
            if pred[0] == "eq":
                df = df.filter(F.col(col) == F.lit(pred[1]))
            elif pred[0] == "between":
                if pred[1] is not None:
                    df = df.filter(F.col(col) >= F.lit(pred[1]))
                if pred[2] is not None:
                    df = df.filter(F.col(col) <= F.lit(pred[2]))
        return keep_last(df, self.keys, INGEST_SEQ) if dedup else df

    def exists(self) -> bool:
        self._recover()
        return os.path.isdir(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    # -- maintenance ------------------------------------------------------

    def _zdim(self, df: DataFrame, name: str):
        """Scale an arbitrary column into z-order's non-negative int domain:
        timestamps bucket to hours, strings hash, ints pass through.

        The table's own time column becomes hour-OF-MONTH, not absolute
        hour: files are laid out inside month partitions, where the
        absolute hour's varying bits are the low ones — normalized globally
        they sit above every within-month variation, so the curve
        degenerates to a symbol-major sort inside each month and time
        slices stop pruning. Position-within-partition restores a full-range
        time dimension per month."""
        dt = dict(df.dtypes)[name]
        c = F.col(name)
        if dt == "timestamp":
            if name == self.time_col and self.time_col is not None:
                month_start = F.unix_timestamp(F.date_trunc("month", c))
                return F.floor((F.unix_timestamp(c) - month_start) / 3600).cast("long")
            return F.floor(F.unix_timestamp(c) / 3600).cast("long")
        if dt == "string":
            return F.abs(F.xxhash64(c))
        return c.cast("long")

    def _arrange(self, snap: DataFrame, zorder: tuple[str, str] | None) -> DataFrame:
        """Compaction write layout: key-sorted (default) or z-ordered."""
        sort_cols = self.sort_cols or self.keys
        if zorder is not None:
            from binance_etl_clickhouse_spark.storage.zorder import with_zorder_key

            w = with_zorder_key(
                snap, self._zdim(snap, zorder[0]), self._zdim(snap, zorder[1])
            )
            if self.time_col is not None:
                w = w.repartitionByRange(MONTH_COL, "__z").sortWithinPartitions(
                    MONTH_COL, "__z"
                )
            else:
                w = w.repartitionByRange("__z").sortWithinPartitions("__z")
            return w.drop("__z")
        w = (
            snap.hint("rebalance", MONTH_COL, *self.keys[:1])
            if self.time_col
            else snap
        )
        return w.sortWithinPartitions(*sort_cols)

    def fragmented_months(self, min_files: int = 8) -> list[int]:
        """Months whose partition dir holds at least ``min_files`` data
        files — the selective-compaction worklist. Pure listing, no Spark
        job (≙ ClickHouse's parts-count merge heuristic)."""
        self._recover()
        out: list[int] = []
        prefix = f"{MONTH_COL}="
        if not os.path.isdir(self.path):
            return out
        for d in sorted(os.listdir(self.path)):
            if not d.startswith(prefix):
                continue
            try:
                month = int(d[len(prefix):])
            except ValueError:
                continue
            n = sum(
                1
                for f in os.listdir(os.path.join(self.path, d))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if n >= min_files:
                out.append(month)
        return out

    def _commit(
        self,
        w: DataFrame,
        months: list[int] | None = None,
        versioned: bool | None = None,
        collapsed: bool = False,
    ) -> None:
        """The one copy-on-write commit behind compaction, DELETE and UPDATE:
        the stored rows become the arranged frame ``w``.

        ``months=None`` replaces the whole table. ``w`` lands in a fresh
        dir: a new ``<path>.versions/vNNN`` behind one atomic symlink
        rename when the table is versioned (``versioned=None`` keeps the
        table's layout), else a staging dir swapped in whole. Both commits
        and their crash recovery are ``storage/commit.py``'s. With
        ``months``, only those month partitions are
        rewritten, in place, by a dynamic partition overwrite — every other
        month's files stay untouched bytes — and a listed month that ``w``
        holds no rows for is removed (dynamic overwrite cannot replace a
        partition with nothing).

        A rewrite keeps every row's version stamp, so the seq sidecar
        carries over; ``collapsed=True`` records that the table now holds
        one version per key, else the compacted flag carries over (no
        rewrite adds versions). A zone map is rebuilt over the new files if
        one existed.
        """
        from binance_etl_clickhouse_spark import checkpoints
        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        seq, compacted = self._read_seqs()
        prior_zm = _zm.read_zonemap(self.path)
        if months is None:
            if versioned is None:
                versioned = os.path.islink(self.path)
            if versioned:
                vroot = self._versions_root()
                os.makedirs(vroot, exist_ok=True)
                nums = [
                    int(d[1:])
                    for d in os.listdir(vroot)
                    if d.startswith("v") and d[1:].isdigit()
                ]
                target = os.path.join(vroot, f"v{max(nums, default=0) + 1:09d}")
            else:
                target = commit.stage_dir(self.path)
            writer = w.write.mode("overwrite")
            (writer.partitionBy(MONTH_COL) if self.time_col else writer).parquet(target)
            if versioned:
                if not os.path.islink(self.path):
                    # one-time conversion: park the live dir in the version
                    # store (it stays readable for in-flight readers and is
                    # the recovery source if the crash lands before the link)
                    shutil.move(
                        self.path,
                        os.path.join(vroot, f"legacy-{os.path.basename(target)}"),
                    )
                commit.swap_link(target, self.path)
            else:
                commit.swap_dir(target, self.path)
        else:
            month_dirs = [os.path.join(self.path, f"{MONTH_COL}={m}") for m in months]
            before = {d: set(os.listdir(d)) for d in month_dirs if os.path.isdir(d)}
            # materialize and CUT LINEAGE before overwriting the dirs the
            # plan reads from (Spark rejects self-overwrite, and lazily
            # re-reading a half-rewritten dir would be worse)
            w = w.localCheckpoint(eager=True)
            try:
                (
                    w.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(MONTH_COL)
                    .parquet(self.path)
                )
            finally:
                checkpoints.release(w)
            # file names are unique per write: a month still holding an old
            # file was not overwritten, so ``w`` had no rows for it
            for d, names in before.items():
                if names & set(os.listdir(d)):
                    shutil.rmtree(d)
        if seq is not None:
            self._write_sidecar(seq, compacted_seq=seq if collapsed else compacted)
        if prior_zm is not None:
            _zm.build_zonemap(self.path, prior_zm["columns"])

    def compact_months(
        self,
        spark: SparkSession,
        months: list[int],
        zorder: tuple[str, str] | None = None,
    ) -> None:
        """Selective compaction: rewrite ONLY the given month partitions to
        one version per key (dynamic partition overwrite), leaving every
        other month untouched.

        At 100 TB whole-table OPTIMIZE is not a thing — merges run on the
        parts that accumulated versions (``fragmented_months`` is the
        worklist). Exactness rests on the table invariant that the month
        derives from a key column (``time_col in keys``): every version of
        a key lives in one month dir, so per-month keep-last equals global
        keep-last. Asserted, not assumed.
        """
        if self.time_col is None or self.time_col not in self.keys:
            raise ValueError(
                "per-month compaction requires time_col to be part of the "
                "dedup key (versions of a key must share a month)"
            )
        if not months:
            return
        months = [int(m) for m in months]
        snap = self.read(spark).filter(F.col(MONTH_COL).isin(months))
        self._commit(self._arrange(snap, zorder), months)

    def _matches(self, spark: SparkSession, hit) -> tuple[list[int] | None, int, DataFrame]:
        """Where a row-level mutation lands: the months holding a row where
        ``hit`` is TRUE (``None`` for an unpartitioned table, which
        rewrites whole), the number of such rows, and the raw rows of the
        rewrite's scope. Superseded versions are rows too: a mutation runs
        on the RAW frame, so a later ``read`` can never resurrect them."""
        raw = self.read_raw(spark)
        if self.time_col is None:
            return None, raw.filter(hit).count(), raw
        per_month = raw.filter(hit).groupBy(MONTH_COL).count().collect()
        months = [int(r[0]) for r in per_month]
        n = int(sum(r["count"] for r in per_month))
        return months, n, raw.filter(F.col(MONTH_COL).isin(months))

    def delete_where(self, spark: SparkSession, predicate) -> int:
        """Row-level delete: remove every version of every row where
        ``predicate`` is TRUE (the GDPR / right-to-be-forgotten primitive;
        ``DELETE FROM .. WHERE`` ≙ ClickHouse lightweight delete,
        materialized immediately as copy-on-write).

        Scale shape: only the month partitions CONTAINING matches rewrite
        (dynamic partition overwrite, like :meth:`compact_months`); every
        other month's files are untouched bytes. Rows where the predicate
        is NULL are kept (SQL DELETE semantics). A month whose every row
        matches is dropped as a directory. Returns rows deleted.
        """
        if not self.exists():
            return 0
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred, F.lit(False))
        months, n_del, scope = self._matches(spark, hit)
        if n_del:
            self._commit(self._arrange(scope.filter(~hit), None), months)
        return n_del

    def update_where(
        self, spark: SparkSession, predicate, assignments: dict
    ) -> int:
        """Row-level update (≙ ClickHouse ``ALTER TABLE .. UPDATE``):
        set ``assignments`` (col -> Column/SQL expr) on every row where
        ``predicate`` is TRUE, with the same month-pruned copy-on-write as
        :meth:`delete_where` — only partitions containing matches rewrite.
        Key and time columns cannot be assigned (that would move a row's
        dedup identity/partition — that operation is a delete + append).
        Returns rows updated.
        """
        forbidden = set(self.keys) | {self.time_col, MONTH_COL, INGEST_SEQ}
        bad = sorted(set(assignments) & forbidden)
        if bad:
            raise ValueError(
                f"cannot UPDATE key/partition/version columns {bad}; "
                "delete + append instead"
            )
        if not self.exists():
            return 0
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        sets = {
            c: (F.expr(v) if isinstance(v, str) else v)
            for c, v in assignments.items()
        }
        hit = F.coalesce(pred, F.lit(False))
        months, n_upd, scope = self._matches(spark, hit)
        if n_upd:
            updated = scope.select(
                *[
                    (F.when(hit, sets[c]).otherwise(F.col(c)).alias(c) if c in sets else c)
                    for c in scope.columns
                ]
            )
            self._commit(self._arrange(updated, None), months)
        return n_upd

    def compact(
        self,
        spark: SparkSession,
        zorder: tuple[str, str] | None = None,
        versioned: bool | None = None,
        dedup: bool = True,
        dedup_order=None,
        distinct_by: list[str] | None = None,
    ) -> None:
        """Rewrite to exactly one version per key (≙ OPTIMIZE TABLE FINAL).

        ``dedup=False`` rewrites WITHOUT collapsing versions — the
        OPTIMIZE semantics for plain-append (MergeTree) tables, where
        duplicate keys are legitimate rows and SummingMergeTree partials
        must survive: files merge and re-sort, nothing drops.
        ``dedup_order`` overrides the survivor ordering (e.g. a declared
        ReplacingMergeTree version column ordered before arrival:
        ``[ver, INGEST_SEQ]``) so compaction keeps the same row the
        version-aware snapshot serves, not merely the latest arrival.

        Reads the deduped snapshot and atomically replaces the table dir.
        Partition-parallel: each month rewrites independently; at 100 TB this
        runs as a per-month (or per-month-bucket) job rather than whole-table.

        ``zorder=(dim_a, dim_b)`` switches the rewrite from the lexicographic
        key sort to a Morton z-value layout over the two dimensions (Delta
        ``OPTIMIZE ZORDER BY`` analogue, ``storage/zorder.py``): files become
        axis-aligned tiles so a predicate on EITHER dimension alone prunes
        file footers, where the lexicographic sort serves only its leading
        key. Same single shuffle as the sorted rewrite.

        ``versioned=True`` upgrades the swap to a SNAPSHOT-ISOLATED commit
        (the single-FS analogue of a Delta/Iceberg manifest pointer): the new
        snapshot lands in ``<path>.versions/vNNN`` and the table path becomes
        a symlink repointed with one atomic ``rename``. Readers planned
        before the swap keep reading their (retained) old version dir —
        ``read_raw`` resolves the symlink at plan time — so OPTIMIZE is
        downtime-free; old versions age out via :meth:`vacuum`. Default
        ``None`` keeps whichever layout the table already uses (a symlinked
        table stays versioned forever).
        """
        if not dedup:
            snap = self.read_raw(spark)  # merge + re-sort, keep every row
        elif dedup_order is not None:
            snap = keep_last(self.read_raw(spark), self.keys, dedup_order)
        else:
            snap = self.read(spark)
        if distinct_by:
            # OPTIMIZE ... DEDUPLICATE [BY cols]: one row per distinct
            # value of ``distinct_by`` — DETERMINISTIC survivor (first
            # arrival by INGEST_SEQ; same-batch ties break by the
            # remaining column VALUES, since one batch shares one seq)
            # where ClickHouse keeps an arbitrary one, so repeated runs
            # and the oracle agree. Composes after the version collapse
            # (FINAL) like CH's own clause order.
            from pyspark.sql.window import Window as _W

            tie = [
                F.col(c).asc_nulls_last()
                for c in snap.columns
                if c not in distinct_by and c != INGEST_SEQ
            ]
            dd_w = _W.partitionBy(*distinct_by).orderBy(
                F.col(INGEST_SEQ).asc(), *tie
            )
            snap = (
                snap.withColumn("__dd_rn", F.row_number().over(dd_w))
                .filter(F.col("__dd_rn") == 1)
                .drop("__dd_rn")
            )
        # every file is rewritten, so a zone map rebuilds over the new layout;
        # read() may skip the dedup window until the next append only when
        # this rewrite collapsed to one row per key
        self._commit(self._arrange(snap, zorder), versioned=versioned, collapsed=dedup)

    def stats_max(self, col: str):
        """Driver-side footer-stats maximum of ``col`` — ZERO Spark jobs.

        Answered from the zone-map sidecar (``_zonemap.json``) when it is
        fresh (covers every data file on disk) and carries ``col`` with
        stats for every file; returns the ENCODED bound (timestamps are
        epoch micros, see ``zonemap._encode``) or ``None`` when the sidecar
        cannot answer — callers must then fall back to a Spark aggregation.

        Correct for the watermark because appends only add rows and versions
        of a key share its time value, so max over raw files == max over the
        deduped view.
        """
        from binance_etl_clickhouse_spark.storage import zonemap as _zm

        zm = _zm.read_zonemap(self.path)
        if zm is None or col not in zm.get("columns", []):
            return None
        on_disk = _zm.data_files(self.path)
        if not on_disk or any(rel not in zm["files"] for rel in on_disk):
            return None
        hi = None
        for rel in on_disk:
            b = zm["files"].get(rel)
            if not b or b.get(col) is None:
                return None
            v = b[col][1]
            hi = v if hi is None or v > hi else hi
        return hi

    def max_watermark(
        self, spark: SparkSession, per: str | None = None, use_stats: bool = True
    ) -> DataFrame:
        """Resume offsets (SURVEY.md A5/T1): max(time_col) overall or per key.

        The global watermark is the highest-frequency metadata query in the
        ingest loop (once per ``update_*`` call). With a zone-map sidecar it
        is answered ENTIRELY driver-side from footer stats — the returned
        frame is a 1-row local relation, no file scan is planned at all (at
        a million files that is the difference between a metadata lookup and
        a cluster job). Stale/missing sidecar, or ``per``-key watermarks
        (file stats are not per-key), fall back to the Spark aggregation —
        itself parquet-footer-cheap, but O(files) tasks.
        """
        if per:
            return (
                self.read_raw(spark)
                .groupBy(per)
                .agg(F.max(self.time_col).alias("last_ts"))
            )
        if use_stats and self.time_col:
            enc = self.stats_max(self.time_col)
            if enc is not None:
                from datetime import datetime, timezone

                # time_col is a timestamp by the table contract (it drives
                # the month partitioning); sidecar bounds encode epoch micros
                ts = datetime.fromtimestamp(enc / 1e6, tz=timezone.utc).replace(
                    tzinfo=None
                )
                return spark.createDataFrame([(ts,)], schema="last_ts timestamp")
        return self.read_raw(spark).agg(F.max(self.time_col).alias("last_ts"))
