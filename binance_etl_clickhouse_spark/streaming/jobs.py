"""Structured Streaming jobs — the stream-native replacement for the
reference's ``while True: run; sleep(3600)`` scheduler (run_pipeline.py:83-96,
SURVEY.md T3).

- ``--once``            ≙ ``trigger(availableNow=True)``
- continuous hourly     ≙ ``trigger(processingTime='1 hour')``
- progress.json         ≙ ``checkpointLocation`` offsets (T2)
- keep-last re-ingest   ≙ ``dropDuplicatesWithinWatermark`` in-stream +
                          the serving table's version dedup at rest (T4)

The staging parquet directory doubles as the stream source: each ingest
batch the fetch layer lands becomes a micro-batch here, so batch and
streaming modes share the storage layer unchanged (foreachBatch appends
through ServingTable with the epoch id as the version stamp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from binance_etl_clickhouse_spark.storage import commit
from binance_etl_clickhouse_spark.storage.table import ServingTable


def recover_sidecar_index(index_dir: str) -> bool:
    """Heal a sidecar index left mid-swap by a crashed
    :func:`compact_sidecar_index` (:func:`commit.recover_dir`). Returns
    True if the parked index was restored. Called by the streaming sinks
    before they probe the index so a crashed compaction can never silently
    present as an empty index (which would re-admit duplicates)."""
    return commit.recover_dir(index_dir)


def compact_sidecar_index(
    spark: SparkSession,
    index_dir: str,
    dedup_cols: list[str] | None = None,
    target_files: int | None = None,
) -> dict:
    """OPTIMIZE FINAL for the streaming sidecar indexes (the MinHash
    signature index of :func:`stream_dedup_corpus`, the window-hash sets
    of :func:`stream_span_dedup` / :func:`stream_substring_dedup`).

    Every micro-batch appends one small parquet file per reducer; after
    10^4 epochs the per-batch probe join pays 10^4 file opens — the exact
    small-parts problem ClickHouse's background merges solve for
    MergeTree (``crypto_data_pipeline_clickhouse.py`` relies on OPTIMIZE
    FINAL; here it is an explicit maintenance job, schedulable between
    triggers). Rewrites the index to ``target_files`` files (default:
    cluster parallelism) with exact duplicates dropped (replay healing is
    anti-joined so dups are rare, but a crash inside a heal can leave
    identical rows — identical, so keep-any is exact).

    The rewrite is written aside and swapped in whole by
    ``storage/commit.py``; :func:`recover_sidecar_index`, which every
    consumer runs before probing, heals an interrupted swap. Returns
    ``{files_before, files_after, rows}``.
    """
    import os

    from binance_etl_clickhouse_spark.checkpoints import release as release_ckpt

    recover_sidecar_index(index_dir)
    if not os.path.isdir(index_dir):
        return {"files_before": 0, "files_after": 0, "rows": 0}

    def _nfiles(d: str) -> int:
        return sum(
            1
            for root, _dirs, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    files_before = _nfiles(index_dir)
    df = spark.read.parquet(index_dir)
    out = df.dropDuplicates(dedup_cols) if dedup_cols else df.distinct()
    # materialize + cut lineage BEFORE touching the dir the plan reads
    out = out.localCheckpoint(eager=True)
    rows = out.count()
    tgt = target_files or spark.sparkContext.defaultParallelism
    staged = commit.stage_dir(index_dir)
    out.coalesce(tgt).write.mode("overwrite").parquet(staged)
    release_ckpt(out)
    commit.swap_dir(staged, index_dir)
    return {"files_before": files_before, "files_after": _nfiles(index_dir), "rows": rows}


def stream_ingest_staging(
    spark: SparkSession,
    staging_dir: str,
    schema: T.StructType,
    table: ServingTable,
    checkpoint_dir: str,
    dedup_keys: list[str] | None = None,
    watermark: tuple[str, str] | None = None,
    available_now: bool = True,
    processing_time: str = "1 hour",
    rollups: list | None = None,
) -> StreamingQuery:
    """staging parquet stream -> (optional in-stream dedup) -> serving table.

    ``watermark=(ts_col, delay)`` + ``dedup_keys`` enables
    ``dropDuplicatesWithinWatermark`` — duplicate (late/re-fetched) rows
    arriving within the delay are dropped in-stream; anything older is
    handled by the table's version dedup at read (idempotent upsert, T4).

    ``rollups``: RollupTables over this serving table to refresh after each
    micro-batch lands — the ClickHouse materialized-view-on-insert
    contract, kept incremental by the rollup's own ingest_seq month
    pruning (only months the batch touched recompute). Refresh runs AFTER
    the append inside the same epoch, so a crash between the two replays
    the epoch and the rollup catches up on the rerun — it can lag, never
    diverge.
    """
    if dedup_keys and watermark is None:
        # dropDuplicatesWithinWatermark REQUIRES a watermark; silently
        # skipping the dedup a caller asked for would flow duplicate
        # re-fetched rows through with no signal
        raise ValueError(
            "dedup_keys requires watermark=(ts_col, delay) — in-stream "
            "dedup is watermark-bounded (dropDuplicatesWithinWatermark)"
        )
    src = spark.readStream.schema(schema).parquet(staging_dir)
    if watermark is not None:
        src = src.withWatermark(*watermark)
        if dedup_keys:
            src = src.dropDuplicatesWithinWatermark(dedup_keys)

    # Version stamps must stay monotonic even if batch appends happened on
    # this table before, between, or DURING stream runs: epoch ids restart
    # relative to the checkpoint, so raw `epoch_id + 1` could collide with
    # (or fall below) existing batch seqs and keep-last dedup would prefer
    # stale rows. Each micro-batch therefore stamps
    # max(start-offset + epoch, current table max + 1) — the sidecar read is
    # O(1), and a batch writer landing mid-stream bumps the sidecar so the
    # next epoch clears it. Checkpoint-replayed epochs re-stamp the same
    # keys with a newer seq, which keep-last dedup absorbs (idempotent).
    base_seq = table.max_ingest_seq(spark)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            next_seq = max(
                base_seq + epoch_id + 1,
                table.max_ingest_seq(batch.sparkSession) + 1,
            )
            table.append(batch, ingest_seq=next_seq)
            for rollup in rollups or ():
                rollup.refresh(batch.sparkSession)

    writer = src.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_resample_bars(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_len: str = "1 hour",
    watermark_delay: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with a watermark (late data beyond
    the delay is finalized out) — the streaming twin of resample/T5.
    ``slide`` < ``window_len`` makes the windows hopping (each event lands
    in window_len/slide overlapping windows, replicated JVM-side by
    ``window()`` itself); None keeps them tumbling."""
    w = (
        F.window(F.col(ts_col), window_len, slide)
        if slide is not None
        else F.window(F.col(ts_col), window_len)
    )
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(w.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), key_col, "n", "total_value")
    )


def stream_session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` (the stream-native
    twin of operators.sessionize): sessions close when the watermark passes
    start + gap."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def stream_per_key_watermark(
    events: DataFrame,
    key_col: str = "symbol",
    ts_col: str = "timestamp",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: tracks each
    key's running max event time + row count across micro-batches (the
    streaming twin of the T1 resume-offset table). State survives between
    batches in the state store; emits one row per key per batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = f"{key_col} string, last_ts timestamp, total_rows long"
    state_schema = "last_ms long, total_rows long"

    def update(key, pdfs, state: GroupState):
        last_ms, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if len(pdf):
                # datetime64[ns] -> epoch ms
                batch_max_ms = int(pdf[ts_col].astype("int64").max() // 1_000_000)
                last_ms = max(last_ms, batch_max_ms)
                total += len(pdf)
        state.update((last_ms, total))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                "total_rows": [total],
            }
        )

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def stream_running_candles(
    events: DataFrame,
    key_col: str = "symbol",
    ts_col: str = "timestamp",
    price_col: str = "close",
) -> DataFrame:
    """Running per-key OHLC candle across micro-batches via Spark 4's
    ``transformWithStateInPandas`` (StatefulProcessor) — the successor API
    to ``applyInPandasWithState`` (``stream_per_key_watermark`` keeps the
    GroupState form; both state surfaces stay covered). The candle
    accumulates forever: open/close track the min/max event time seen, so
    late or re-ordered batches fold in correctly without reprocessing.

    Environment note: the StatefulProcessor worker protocol needs
    ``google.protobuf`` (not in this sandbox — the paired test skips when
    absent; the GroupState twin covers stateful semantics in CI here).
    Requires the RocksDB state store provider.

    Scale: state is one fixed-width row per key in the (RocksDB) state
    store; each micro-batch shuffles only on the key — the same
    one-partitioning-per-batch cost as any keyed stateful op.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        f"{key_col} string, open double, high double, low double, "
        "close double, n_rows long"
    )

    class RunningCandle(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "candle",
                "first_ms long, open double, high double, low double, "
                "last_ms long, close double, n_rows long",
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                first_ms, op, hi, lo, last_ms, cl, n = self._state.get()
            else:
                first_ms, op, hi, lo, last_ms, cl, n = (None,) * 7
            for pdf in rows:
                if not len(pdf):
                    continue
                ms = pdf[ts_col].astype("int64") // 1_000_000
                px = pdf[price_col].astype("float64")
                bmin, bmax = int(ms.idxmin()), int(ms.idxmax())
                if first_ms is None or int(ms.loc[bmin]) < first_ms:
                    first_ms, op = int(ms.loc[bmin]), float(px.loc[bmin])
                if last_ms is None or int(ms.loc[bmax]) >= last_ms:
                    last_ms, cl = int(ms.loc[bmax]), float(px.loc[bmax])
                hi = float(px.max()) if hi is None else max(hi, float(px.max()))
                lo = float(px.min()) if lo is None else min(lo, float(px.min()))
                n = (n or 0) + len(pdf)
            self._state.update((first_ms, op, hi, lo, last_ms, cl, n))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "open": [op],
                    "high": [hi],
                    "low": [lo],
                    "close": [cl],
                    "n_rows": [n],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningCandle(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_dedup_corpus(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    available_now: bool = True,
    processing_time: str = "1 hour",
    search_index=None,
) -> StreamingQuery:
    """Incremental corpus dedup: a JSONL document feed streams in, and each
    micro-batch is near-dup-checked against everything already ACCEPTED
    before any new row lands in the corpus.

    The batch near-dup queries (`minhash_lsh_neardup` etc.) answer "which
    pairs exist in this static corpus"; a training-data ingest needs the
    incremental form — "is this NEW document a dup of anything seen so
    far" — without rescanning (or even storing the text of) the accepted
    corpus. The state carried between batches is a parquet signature index
    of 24 MinHash ints per accepted doc (~200 B/doc: 1 B docs ≈ 200 GB,
    a plain equi-join-able table — no driver-side state).

    Per micro-batch (foreachBatch):
      1. quarantine malformed lines (same PERMISSIVE contract as the batch
         reader in ``sources/files.py``);
      2. within-batch dedup via :func:`minhash_lsh_pairs` — exact-Jaccard
         verified (text is in hand), greedy keep-lowest-id per pair;
      3. cross-batch dedup: band the new signatures with
         :func:`minhash_band_values`, equi-join against the banded index
         (shuffle on band value only — never all-pairs), then verify
         candidates by signature agreement: matching components / K is an
         unbiased Jaccard estimate, so >= threshold drops the newcomer.
         No text is read back from the corpus;
      4. append survivors to ``out_dir`` and their signatures to the index;
      5. optionally (``search_index=InvertedIndex(...)``) index the
         survivors for keyword retrieval under the epoch id —
         replay-idempotent, see ``storage/invindex.py``.

    Crash ordering: corpus append before index append — a failure between
    the two can only leave an accepted doc unindexed (its future dups slip
    through: bounded recall loss), never a doc indexed-but-missing (silent
    data loss). Checkpoint replay is made idempotent by an explicit gate:
    docs already present in ``out_dir`` are split out of a re-delivered
    epoch before any dedup work or corpus write (out_dir has no version
    column, so a replayed append would otherwise duplicate rows) — and the
    replayed set then HEALS the sidecars: its missing signatures are
    appended (anti-joined against the index, which also lacks a version
    column) and the whole set re-indexes into the keyword search index
    under the same epoch (dynamic partition overwrite converges), so the
    crash window between corpus append and index appends costs nothing
    when the epoch is replayed.

    Scale: every join here is an equi-join on band value or id; index
    growth is linear in accepted docs; the only state Spark itself holds is
    stream offsets in the checkpoint.
    """
    import os

    from binance_etl_clickhouse_spark.operators.neardup import (
        LSH_BANDS,
        LSH_ROWS,
        minhash_band_values,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from binance_etl_clickhouse_spark.sources.files import (
        DOCUMENTS_JSONL_SCHEMA,
        partition_corrupt,
    )

    n_perm = LSH_BANDS * LSH_ROWS
    src = spark.readStream.schema(DOCUMENTS_JSONL_SCHEMA).json(input_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        from binance_etl_clickhouse_spark.checkpoints import release as release_ckpt

        if batch.isEmpty():
            return
        ckpts: list[DataFrame] = []
        try:
            _sink_body(batch, epoch_id, ckpts)
        finally:
            # localCheckpoint blocks are NOT reclaimed by unpersist() or
            # the ContextCleaner (see checkpoints.py) — a continuous
            # stream would pin every epoch's frames in executor storage
            # without this explicit release
            for df in ckpts:
                release_ckpt(df)
            batch.unpersist()

    def _sink_body(batch: DataFrame, epoch_id: int, ckpts: list) -> None:
        # a compaction crash between its renames must not present as an
        # empty signature index (every duplicate would re-admit)
        recover_sidecar_index(index_dir)
        clean, _quarantined = partition_corrupt(batch, persist=False)
        # replay idempotence: foreachBatch is at-least-once — a crash after
        # the corpus append but before the checkpoint commit re-delivers
        # this epoch, and out_dir is a plain parquet dir with no version
        # column for a keep-last read to resolve. Docs already accepted are
        # split off before any dedup work or write (doc_id-only
        # column-pruned scan), same gate as stream_span_dedup — but NOT
        # discarded: their sidecar-index writes may be the part that
        # crashed, so they are healed below.
        replayed = None
        if os.path.isdir(out_dir):
            seen = (
                batch.sparkSession.read.parquet(out_dir).select("doc_id").distinct()
            )
            replayed = clean.join(seen, "doc_id", "semi")
            clean = clean.join(seen, "doc_id", "left_anti")
        # eager pin: the surviving frame feeds ~5 downstream actions
        # (dedup join, two writes, search-index stats + postings) — without
        # this every action re-runs the parse + gate chain from scratch
        # (same reason stream_span_dedup checkpoints)
        clean = clean.localCheckpoint(eager=True)
        ckpts.append(clean)
        if replayed is not None:
            replayed = replayed.localCheckpoint(eager=True)
            ckpts.append(replayed)
            if replayed.isEmpty():
                replayed = None
        if clean.isEmpty() and replayed is None:
            return
        # heal the sidecars for replayed (already-accepted) docs: a crash
        # BETWEEN the corpus append and the index appends left them
        # unsearchable. BOTH heals are membership-gated — neither sidecar
        # has a version column, and a doc re-DELIVERED in a later epoch
        # (duplicate feed row, not a crash replay) is already fully
        # indexed: blindly re-indexing it would duplicate postings and
        # double-count the BM25 corpus stats.
        heal_search = None
        if replayed is not None:
            missing = replayed
            if os.path.isdir(index_dir):
                have = (
                    batch.sparkSession.read.parquet(index_dir)
                    .select("doc_id")
                    .distinct()
                )
                missing = replayed.join(have, "doc_id", "left_anti")
            if not missing.isEmpty():
                minhash_signatures(missing, k=k).write.mode("append").parquet(
                    index_dir
                )
            if search_index is not None and not search_index.has_epoch(
                int(epoch_id)
            ):
                # This epoch's index append never COMPLETED: the per-epoch
                # stats entry is replaced only after the postings commit,
                # so its absence covers every crash point — before any
                # postings write, mid-commit (a non-atomic committer can
                # leave the epoch PARTIALLY visible), or between the
                # postings commit and the meta replace (which previously
                # left the stats entry missing forever). Doc-membership
                # anti-joins cannot see a partially-visible epoch (a doc
                # with SOME postings files committed looks indexed), so
                # heal with the FULL replayed set minus docs committed
                # under an EARLIER epoch (stream epochs commit in order,
                # so cross-epoch membership means complete; feed-dups
                # re-delivered from committed epochs must NOT re-index —
                # they'd duplicate postings). The heal set then contains
                # every doc this epoch could have touched, so the dynamic
                # partition overwrite rewrites all of the epoch's
                # partitions and converges to the complete index.
                from binance_etl_clickhouse_spark.storage.invindex import EPOCH

                committed_elsewhere = (
                    search_index.postings(batch.sparkSession)
                    .filter(F.col(EPOCH) != int(epoch_id))
                    .select("doc_id")
                    .distinct()
                )
                heal_search = replayed.join(
                    committed_elsewhere, "doc_id", "left_anti"
                )
                if heal_search.isEmpty():
                    heal_search = None
        if clean.isEmpty():
            if search_index is not None and heal_search is not None:
                search_index.append(heal_search, epoch=int(epoch_id))
            return
        # (2) within-batch: drop the higher id of every verified near-dup
        # pair. persist_index=False: the pin inside minhash_lsh_pairs has
        # no unpersist hook, and a persisted pair per epoch would leak
        # cache entries for the stream's lifetime — the localCheckpoint
        # above already bounds recompute to the signature projection.
        # band_cap=None EXPLICITLY: this job has no exact-dedup stage
        # upstream, so a micro-batch holding >cap byte-identical copies
        # would evict the tail from EVERY band (correlated eviction) and
        # admit the duplicates. A micro-batch is bounded by the trigger, so
        # the uncapped verify is itself bounded — unlike the whole-corpus
        # batch path, where the cap plus exact_dup_canonical is the guard.
        losers = (
            minhash_lsh_pairs(
                clean,
                k=k,
                threshold=jaccard_threshold,
                persist_index=False,
                band_cap=None,
            )
            .select(F.col("d2").alias("doc_id"))
            .distinct()
        )
        clean = clean.join(losers, "doc_id", "left_anti")
        sigs = minhash_signatures(clean, k=k)
        if os.path.isdir(index_dir):
            # (3) cross-batch: band-bucket equi-join then signature-agreement
            # verify — candidates only, no all-pairs, no text reads
            idx = batch.sparkSession.read.parquet(index_dir)
            new_b = minhash_band_values(sigs).withColumnRenamed("doc_id", "new_id")
            old_b = minhash_band_values(idx).withColumnRenamed("doc_id", "old_id")
            cand = new_b.join(old_b, "bv").select("new_id", "old_id").distinct()
            new_sig = sigs.select(
                F.col("doc_id").alias("new_id"),
                *[F.col(f"mh{j}").alias(f"n{j}") for j in range(n_perm)],
            )
            old_sig = idx.select(
                F.col("doc_id").alias("old_id"),
                *[F.col(f"mh{j}").alias(f"o{j}") for j in range(n_perm)],
            )
            agree = sum(
                F.when(F.col(f"n{j}") == F.col(f"o{j}"), 1).otherwise(0)
                for j in range(n_perm)
            )
            dup_ids = (
                cand.join(new_sig, "new_id")
                .join(old_sig, "old_id")
                .filter(agree / F.lit(n_perm) >= jaccard_threshold)
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            clean = clean.join(dup_ids, "doc_id", "left_anti")
            sigs = sigs.join(dup_ids, "doc_id", "left_anti")
        # final pin: `clean` narrowed by the dedup anti-joins feeds the two
        # writes plus the search-index append — re-checkpoint so those
        # actions don't re-run the LSH chain, and rebuild sigs from the
        # pinned survivors (identical rows to filtering the earlier frame)
        clean = clean.localCheckpoint(eager=True)
        ckpts.append(clean)
        sigs = minhash_signatures(clean, k=k)
        # (4) corpus first, index second (see crash ordering above)
        clean.write.mode("append").parquet(out_dir)
        sigs.write.mode("append").parquet(index_dir)
        if search_index is not None:
            # (5) keyword-search index stays warm as the corpus streams in:
            # this epoch's accepted docs (new survivors + replayed docs
            # whose postings are actually missing) index under THIS epoch —
            # replay-idempotent (dynamic overwrite of the epoch's
            # partitions + per-epoch stats entry)
            to_index = (
                clean if heal_search is None else clean.unionByName(heal_search)
            )
            search_index.append(to_index, epoch=int(epoch_id))

    writer = src.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition: each
    purchase pairs with the same user's clicks inside
    ``[purchase_ts - lookback, purchase_ts]``.

    The canonical watermarked interval join: BOTH sides carry a watermark
    and the join condition time-bounds one side against the other, which is
    exactly what lets Spark size and evict the buffered join state — without
    the interval bound a stream-stream join would buffer forever. On batch
    inputs ``withWatermark`` is a no-op and the same plan becomes an
    equi+range sort-merge join, so one builder serves both modes.

    Scale shape: the equi key (user) drives the shuffle; the range predicate
    is evaluated within the matched key group, so there is no nested-loop
    product. State per key is bounded by lookback + watermark delay.
    """
    c = clicks.alias("c")
    p = purchases.alias("p")
    if clicks.isStreaming or purchases.isStreaming:
        c = clicks.withWatermark(ts_col, watermark_delay).alias("c")
        p = purchases.withWatermark(ts_col, watermark_delay).alias("p")
    cts, pts = F.col(f"c.{ts_col}"), F.col(f"p.{ts_col}")
    cond = (
        (F.col(f"c.{user_col}") == F.col(f"p.{user_col}"))
        & (cts <= pts)
        & (cts >= pts - F.expr(f"INTERVAL {lookback}"))
    )
    return p.join(c, cond, "inner").select(
        F.col(f"p.{user_col}").alias(user_col),
        pts.alias("purchase_ts"),
        F.col("p.value").alias("purchase_value"),
        cts.alias("click_ts"),
        F.col("c.value").alias("click_value"),
    )


def stream_span_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """Incremental C4-style span dedup: each micro-batch's documents lose
    every k-token span already seen — within the batch (global first
    occurrence by (doc_id, pos), exactly :func:`operators.corpus.span_dedup`
    semantics) or in ANY earlier batch — and are reassembled before landing
    in the corpus.

    State between batches is a parquet index of 60-bit span hashes (one
    BIGINT per distinct span ever accepted): membership is an equi anti-join
    on the hash — no span text is stored or rescanned. A trillion distinct
    spans is ~8 TB of index, linear and equi-join-able; nothing is held on
    the driver.

    Crash ordering mirrors :func:`stream_dedup_corpus`: corpus append
    BEFORE index append, so a failure between the two leaves accepted spans
    unindexed (their future dups slip through — bounded recall loss), never
    indexed-but-missing output. Checkpoint replay is idempotent: docs
    already present in the corpus are anti-joined out of a re-delivered
    epoch before any write (without that gate, a replayed doc would re-land
    empty — its spans are in the index by then — beside its original row).
    """
    import os

    from binance_etl_clickhouse_spark.operators.corpus import doc_spans
    from binance_etl_clickhouse_spark.operators.texthash import hash60, tokens
    from binance_etl_clickhouse_spark.sources.files import (
        DOCUMENTS_JSONL_SCHEMA,
        partition_corrupt,
    )

    src = spark.readStream.schema(DOCUMENTS_JSONL_SCHEMA).json(input_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        from pyspark.sql import Window

        recover_sidecar_index(index_dir)
        clean, _quarantined = partition_corrupt(batch, persist=False)
        # replay idempotence: a crash between the corpus append and the
        # checkpoint commit re-delivers this epoch with its spans already
        # indexed — without this gate every replayed doc would re-land with
        # empty text beside its original row. Docs already in the corpus
        # are simply done (doc_id-only column-pruned scan).
        if os.path.isdir(out_dir):
            seen = (
                batch.sparkSession.read.parquet(out_dir)
                .select("doc_id")
                .distinct()
            )
            clean = clean.join(seen, "doc_id", "left_anti")
        if clean.isEmpty():
            batch.unpersist()
            return
        spans = doc_spans(clean, k=k).withColumn("h", hash60(F.col("span")))
        first = Window.partitionBy("h").orderBy("doc_id", "pos")
        kept = (
            spans.withColumn("rn", F.row_number().over(first))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if os.path.isdir(index_dir):
            idx = batch.sparkSession.read.parquet(index_dir)
            kept = kept.join(idx, "h", "left_anti")
        # materialize NOW and CUT THE LINEAGE: kept's plan reads both
        # out_dir (replay gate) and index_dir (anti-join), and the corpus
        # append mutates out_dir. A plain persist() is not enough — Spark's
        # post-write refreshByPath(out_dir) invalidates every cache whose
        # plan references the written path and lazily RE-EXECUTES it, so the
        # index write would re-read the mutated dir, anti-join this epoch's
        # own docs away, and silently append an empty index delta
        # (observed). localCheckpoint truncates the plan to the materialized
        # data, which no path refresh can touch.
        kept = kept.localCheckpoint(eager=True)
        reassembled = kept.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text_deduped"),
        )
        out = (
            clean.select(
                "doc_id",
                "lang",
                F.ceil(F.size(tokens("text")) / F.lit(float(k)))
                .cast("long")
                .alias("n_spans_total"),
            )
            .join(reassembled, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                "n_spans_total",
                F.coalesce(F.col("n_spans_kept"), F.lit(0).cast("long")).alias(
                    "n_spans_kept"
                ),
                F.coalesce(F.col("text_deduped"), F.lit("")).alias("text_deduped"),
            )
        )
        from binance_etl_clickhouse_spark.checkpoints import release as release_ckpt

        # corpus first, index second (see crash ordering above)
        out.write.mode("append").parquet(out_dir)
        kept.select("h").distinct().write.mode("append").parquet(index_dir)
        # NOT Dataset.unpersist(): that only clears CacheManager entries
        # and leaves the localCheckpoint RDD's blocks pinned for the app's
        # lifetime — release goes through the internal RDD (checkpoints.py)
        release_ckpt(kept)
        batch.unpersist()

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_substring_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_len: int = 12,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """Incremental EXACT substring dedup (the stride-1 twin of
    :func:`stream_span_dedup`): each micro-batch's documents lose every
    ``min_len``-token run whose window hash was seen in an earlier batch or
    earlier (by (doc_id, pos)) within this batch — exactly
    :func:`operators.corpus.substring_dedup` semantics applied batch-by-
    batch — and are reassembled before landing in the corpus.

    The between-batch state is a parquet index of 60-bit window hashes
    (one BIGINT per distinct stride-1 window ever processed): membership
    is an equi anti-join, no window text stored. Because windows stride by
    one token, the index is ~n_tokens rows — min_len times denser than the
    span index; it buys removal at ANY alignment, the property batch
    `substring_dedup` has over `span_dedup`.

    Crash ordering and replay idempotence mirror :func:`stream_span_dedup`:
    corpus append BEFORE index append (a crash between them costs bounded
    recall, never phantom-indexed output), and re-delivered epochs are
    anti-joined against the corpus by doc_id before any write.
    """
    import os

    from binance_etl_clickhouse_spark.operators.parallel import (
        ensure_min_parallelism,
    )
    from binance_etl_clickhouse_spark.operators.texthash import hash60, tokens
    from binance_etl_clickhouse_spark.sources.files import (
        DOCUMENTS_JSONL_SCHEMA,
        partition_corrupt,
    )

    src = spark.readStream.schema(DOCUMENTS_JSONL_SCHEMA).json(input_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        from pyspark.sql import Window

        recover_sidecar_index(index_dir)
        clean, _quarantined = partition_corrupt(batch, persist=False)
        if os.path.isdir(out_dir):
            seen = (
                batch.sparkSession.read.parquet(out_dir)
                .select("doc_id")
                .distinct()
            )
            clean = clean.join(seen, "doc_id", "left_anti")
        if clean.isEmpty():
            batch.unpersist()
            return
        w = tokens("text")
        n = F.size(w)
        win_hashes = F.when(
            n >= min_len,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(min_len - 1)),
                lambda i: hash60(F.concat_ws(" ", F.slice(w, i, min_len))),
            ),
        ).otherwise(F.array().cast("array<long>"))
        wins = (
            ensure_min_parallelism(clean)
            .select(F.col("doc_id"), F.posexplode(win_hashes).alias("pos0", "h"))
            .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
        )
        first = Window.partitionBy("h").orderBy("doc_id", "pos")
        batch_first = (
            wins.withColumn("rn", F.row_number().over(first))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        dups_within = (
            wins.withColumn("rn", F.row_number().over(first))
            .filter(F.col("rn") > 1)
            .select("doc_id", "pos")
        )
        if os.path.isdir(index_dir):
            idx = batch.sparkSession.read.parquet(index_dir)
            fresh = batch_first.join(idx, "h", "left_anti")
        else:
            fresh = batch_first
        # a batch-first window whose hash IS indexed counts as a dup too
        dups_vs_index = batch_first.join(
            fresh.select("h"), "h", "left_anti"
        ).select("doc_id", "pos")
        dups = dups_within.unionByName(dups_vs_index)
        # lineage cut BEFORE the corpus append mutates out_dir (see
        # stream_span_dedup: refreshByPath lazily re-executes plain caches
        # whose plans read the written path)
        fresh = fresh.localCheckpoint(eager=True)
        removed = (
            dups.select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("pos"), F.col("pos") + F.lit(min_len - 1))
                ).alias("rpos"),
            )
            .distinct()
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_removed"),
                F.collect_set("rpos").alias("rset"),
            )
        )
        rset = F.coalesce(F.col("rset"), F.array().cast("array<int>"))
        kept_pos = F.filter(
            F.sequence(F.lit(1), n), lambda p: ~F.array_contains(rset, p.cast("int"))
        )
        out = clean.join(removed, "doc_id", "left").select(
            "doc_id",
            "lang",
            n.cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias("n_removed"),
            F.concat_ws(
                " ", F.transform(kept_pos, lambda p: F.element_at(w, p))
            ).alias("text_deduped"),
        )
        # the removed-positions plan reads index_dir via `dups`; cut it too
        # before the index append below mutates that dir
        out = out.localCheckpoint(eager=True)
        from binance_etl_clickhouse_spark.checkpoints import release as release_ckpt

        out.write.mode("append").parquet(out_dir)
        fresh.select("h").distinct().write.mode("append").parquet(index_dir)
        release_ckpt(out)
        release_ckpt(fresh)
        batch.unpersist()

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def heavy_hitters_append_epoch(
    batch: DataFrame, state_dir: str, epoch_id: int, item_col: str, k: int
) -> None:
    """Land one epoch's MG summary under its epoch partition. Dynamic
    partition overwrite makes a re-delivered epoch replace itself —
    replay-idempotent with no membership gate (summaries are state, not
    appended facts)."""
    from binance_etl_clickhouse_spark.operators.sketches import (
        misra_gries_summaries,
    )

    summary = misra_gries_summaries(
        batch.withColumn("bucket", F.lit("all")), ["bucket"], item_col, k=k
    ).withColumn("epoch", F.lit(int(epoch_id)))
    (
        summary.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(state_dir)
    )


def stream_heavy_hitters(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    item_col: str = "lang",
    k: int = 8,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """Incremental Misra-Gries heavy hitters over a JSONL document drop.

    Each micro-batch runs the one-pass O(k)-memory MG summary
    (operators/sketches.misra_gries_summaries) and lands it under an
    EPOCH-STAMPED partition of the state table — the AggregatingMergeTree
    shape: state is per-epoch mergeable summaries, the query-time answer is
    :func:`operators.sketches.merge_mg_summaries` folded over every epoch
    (O(epochs * k) rows, driver never sees raw items). Checkpoint replay is
    idempotent by construction: a re-delivered epoch dynamically OVERWRITES
    its own partition instead of double-counting — no membership gate
    needed, unlike the dedup sinks.
    """
    from binance_etl_clickhouse_spark.sources.files import (
        DOCUMENTS_JSONL_SCHEMA,
        partition_corrupt,
    )

    src = spark.readStream.schema(DOCUMENTS_JSONL_SCHEMA).json(input_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        clean, _ = partition_corrupt(batch, persist=False)
        heavy_hitters_append_epoch(clean, state_dir, int(epoch_id), item_col, k)

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def heavy_hitters_from_state(spark: SparkSession, state_dir: str, k: int = 8) -> DataFrame:
    """Query-time answer: fold every epoch's MG summary into one."""
    from binance_etl_clickhouse_spark.operators.sketches import merge_mg_summaries

    return merge_mg_summaries(spark.read.parquet(state_dir), k=k)


# ---------------------------------------------------------------------------
# Streaming data-quality monitor (per-epoch expectation gate)
# ---------------------------------------------------------------------------

#: rule name -> boolean SQL over the documents stream (violation = NOT rule)
DQ_DOC_RULES: dict[str, str] = {
    "doc_id_not_null": "doc_id IS NOT NULL",
    "text_nonempty": "text IS NOT NULL AND length(text) > 0",
    "lang_not_null": "lang IS NOT NULL",
    "n_chars_matches_text": "n_chars = length(text)",
}


def dq_monitor_append_epoch(
    batch: DataFrame, monitor_dir: str, epoch_id: int, rules: dict[str, str]
) -> None:
    """Land one epoch's expectation report under its epoch partition.

    Same replay discipline as the MG summaries: the report is per-epoch
    STATE, so a re-delivered epoch dynamically OVERWRITES its own
    partition — idempotent with no membership gate. ALL rules evaluate in
    the one conditional-aggregate scan of ``dq_expectations_lineitem``;
    per-rule rows come from the constant-sized ``stack`` unpivot.
    """
    aggs = [
        F.sum(
            F.when(F.expr(cond).isNull() | ~F.expr(cond), 1).otherwise(0)
        ).cast("long").alias(f"v_{i}")
        for i, cond in enumerate(rules.values())
    ]
    one = batch.agg(F.count("*").cast("long").alias("n"), *aggs)
    stack_args = ", ".join(f"'{r}', v_{i}" for i, r in enumerate(rules))
    report = one.select(
        F.expr(f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)"),
        F.col("n").alias("n_rows"),
        F.lit(int(epoch_id)).alias("epoch"),
    )
    (
        report.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(monitor_dir)
    )


def stream_dq_monitor(
    spark: SparkSession,
    input_dir: str,
    monitor_dir: str,
    checkpoint_dir: str,
    rules: dict[str, str] | None = None,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """Streaming expectation suite over a JSONL document drop: every
    micro-batch appends its per-rule violation counts to an epoch-
    partitioned monitor table (the continuous-ingest data-quality gate —
    a batch-side consumer alerts on `n_violations > 0` or a rate jump).
    PERMISSIVE-mode corrupt lines are their own implicit rule: they are
    counted under ``_corrupt_records`` rather than silently dropped."""
    from binance_etl_clickhouse_spark.sources.files import (
        CORRUPT_COL,
        DOCUMENTS_JSONL_SCHEMA,
    )

    rules = dict(rules or DQ_DOC_RULES)
    rules["_corrupt_records"] = f"{CORRUPT_COL} IS NULL"

    src = spark.readStream.schema(DOCUMENTS_JSONL_SCHEMA).json(input_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        dq_monitor_append_epoch(batch, monitor_dir, int(epoch_id), rules)

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def dq_report_from_monitor(spark: SparkSession, monitor_dir: str) -> DataFrame:
    """Query-time totals: violations summed across epochs per rule (the
    monitor table stays per-epoch for trend/alerting reads)."""
    return (
        spark.read.parquet(monitor_dir)
        .groupBy("rule")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        )
    )
