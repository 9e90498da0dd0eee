"""Materialized inverted index for keyword retrieval — the search-engine
read path, expressed as a partitioned-parquet layout.

BM25 over the raw corpus (`operators/corpus.bm25_topk`) re-tokenizes every
document per query batch. A search deployment instead materializes the
postings ONCE and answers every query from them — this module is that
layout, following the same design as the IVF cell-partitioned ANN table
(`operators/ivf.py`): the pruning dimension IS the partition key.

Layout:

- ``postings/`` — one row per (doc, term): ``(term, doc_id, tf, dl)``,
  parquet-partitioned by ``tbucket = hash60(term) % n_buckets``. A query
  for terms T reads only T's buckets — PartitionFilters prune the rest of
  the corpus driver-side before any task is scheduled. Bucketing by hash
  (not raw term) bounds the partition count and spreads hot terms' buckets
  evenly; within a bucket files are term-sorted so footer stats prune
  further.
- postings are additionally partitioned by an ``epoch`` ingest stamp so
  incremental appends are REPLAY-IDEMPOTENT: re-appending the same epoch
  dynamically overwrites exactly that epoch's partitions and replaces its
  per-epoch stats entry, so a streaming checkpoint replay converges to
  the same index instead of double-counting (the property the
  exactly-once JDBC sink pins the same way).
- ``_invindex_meta.json`` — per-epoch (n_docs, total_tokens) entries whose
  sums are the two corpus scalars BM25 needs, plus the bucket count;
  document frequency is computed from the pruned postings themselves at
  query time (exactly the same value as a full-corpus scan, because df
  only involves the queried terms — the pruning is EXACT for retrieval,
  not approximate).

Query-time scores are bit-identical to `operators/corpus.bm25_topk` over
the raw corpus: same idf/tf-norm expressions, same rounding, same
tie-breaks — pinned by `tests/test_invindex.py`. The index is rebuildable
at any time: `build()` and `compact()` swap a whole new index in.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators.corpus import BM25_B, BM25_K1
from binance_etl_clickhouse_spark.operators.parallel import ensure_min_parallelism
from binance_etl_clickhouse_spark.operators.texthash import hash60, tokens
from binance_etl_clickhouse_spark.storage import commit

META = "_invindex_meta.json"
TBUCKET = "tbucket"
EPOCH = "epoch"


class InvertedIndex:
    """Term-bucket-partitioned postings table + stats sidecar. Rebuilds
    commit, and opens recover, through ``storage/commit.py``."""

    def __init__(self, path: str, n_buckets: int = 64):
        self.path = path
        self.n_buckets = n_buckets

    # -- build -------------------------------------------------------------

    def build(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> dict:
        """Tokenize once, write postings partitioned by (epoch=0, bucket).

        One explode + one (doc, term) partial-aggregated shuffle — the same
        cost as a single BM25 query over the raw corpus; every query after
        that reads only its own term buckets. The new index replaces the
        old one in a single swap.
        """
        stats = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(tokens(text_col))).alias("t"),
        ).first()
        postings = self._postings_of(df, id_col, text_col, epoch=0)
        self._swap_in(postings, self.n_buckets, int(stats["n"] or 0), int(stats["t"] or 0))
        return self.meta()

    def _swap_in(
        self, postings: DataFrame, n_buckets: int, n_docs: int, total_tokens: int
    ) -> None:
        """Write epoch-0 ``postings`` and their one-epoch sidecar aside,
        then make them the live index in one :func:`commit.swap_dir`."""
        staged = commit.stage_dir(self.path)
        (
            postings.repartition(TBUCKET)
            .sortWithinPartitions(TBUCKET, "term", "doc_id")
            .write.mode("overwrite")
            .partitionBy(EPOCH, TBUCKET)
            .parquet(os.path.join(staged, "postings"))
        )
        meta = {"n_docs": n_docs, "total_tokens": total_tokens}
        commit.write_json(
            os.path.join(staged, META), {"n_buckets": n_buckets, "epochs": {"0": meta}}
        )
        commit.swap_dir(staged, self.path)

    def _postings_of(
        self, df: DataFrame, id_col: str, text_col: str, epoch: int
    ) -> DataFrame:
        tok = ensure_min_parallelism(df).select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens(text_col)).alias("dl"),
            F.explode(tokens(text_col)).alias("term"),
        )
        return (
            tok.groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .withColumn(TBUCKET, (hash60("term") % self.n_buckets).cast("int"))
            .withColumn(EPOCH, F.lit(epoch).cast("long"))
        )

    def append(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        epoch: int | None = None,
    ) -> dict:
        """Incrementally index NEW documents under an ``epoch`` stamp: their
        postings land in that epoch's partitions via dynamic partition
        overwrite and the sidecar's per-epoch stats entry is REPLACED — so
        re-running the same epoch (a streaming checkpoint replay) converges
        instead of double-counting. ``epoch=None`` allocates the next one
        (plain batch use). No rebuild, no read of old postings; query
        answers equal a from-scratch build over the union.

        Caller contract: ``df`` contains only doc_ids not yet indexed
        (the same contract as ServingTable.append's ingest batches; the
        streaming corpus dedup produces exactly such batches).
        """
        m = self._read_meta(allow_missing=True)
        if epoch is None:
            epoch = max((int(e) for e in m["epochs"]), default=-1) + 1
        stats = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(tokens(text_col))).alias("t"),
        ).first()
        postings = self._postings_of(df, id_col, text_col, epoch=int(epoch))
        (
            postings.repartition(TBUCKET)
            .sortWithinPartitions(TBUCKET, "term", "doc_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(EPOCH, TBUCKET)
            .parquet(os.path.join(self.path, "postings"))
        )
        m["epochs"][str(int(epoch))] = {
            "n_docs": int(stats["n"] or 0),
            "total_tokens": int(stats["t"] or 0),
        }
        commit.write_json(os.path.join(self.path, META), m)
        return self.meta()

    def compact(self, spark: SparkSession) -> int:
        """Merge all epochs into one: streaming appends leave an epoch dir
        (and its small files) per micro-batch; compaction rewrites the
        postings from THEMSELVES — no re-tokenization of the corpus — into
        a single epoch-0 layout and collapses the sidecar stats to one
        entry (totals unchanged). The same single swap as build().
        Returns the number of epochs merged."""
        totals = self.meta()
        n_epochs = len(totals["epochs"])
        if n_epochs <= 1:
            return n_epochs
        post = self.postings(spark).withColumn(EPOCH, F.lit(0).cast("long"))
        self._swap_in(
            post, totals["n_buckets"], totals["n_docs"], totals["total_tokens"]
        )
        return n_epochs

    def _read_meta(self, allow_missing: bool = False) -> dict:
        """Load the sidecar. ``allow_missing=True`` (append/streaming flow
        ONLY — those legitimately start from an empty dir) fabricates an
        empty meta for a never-built path; every QUERY path keeps the
        default and raises, so a typo'd or never-built index path fails
        loudly instead of silently returning empty results."""
        commit.recover_dir(self.path)  # heal an interrupted build/compact
        meta_path = os.path.join(self.path, META)
        if not os.path.isfile(meta_path):
            if allow_missing:
                return {"n_buckets": self.n_buckets, "epochs": {}}
            raise FileNotFoundError(
                f"no inverted index at {self.path!r} (missing {META}); "
                "build() it first, or use append() to start one incrementally"
            )
        with open(meta_path) as f:
            return json.load(f)

    def has_epoch(self, epoch: int) -> bool:
        """True iff ``epoch``'s stats entry exists in the sidecar — i.e. the
        epoch's append COMPLETED (the entry is replaced only after the
        postings commit, so its absence is the crash signal streaming heal
        keys on). Tolerates a never-built index (False)."""
        m = self._read_meta(allow_missing=True)
        return str(int(epoch)) in m["epochs"]

    def meta(self) -> dict:
        """Totals view: sums the per-epoch entries (exact corpus scalars)."""
        m = self._read_meta()
        return {
            "n_buckets": m["n_buckets"],
            "n_docs": sum(e["n_docs"] for e in m["epochs"].values()),
            "total_tokens": sum(e["total_tokens"] for e in m["epochs"].values()),
            "epochs": m["epochs"],
        }

    def postings(self, spark: SparkSession) -> DataFrame:
        commit.recover_dir(self.path)  # heal an interrupted build/compact
        # an empty build writes a partition-less parquet dir Spark cannot
        # infer a schema from — surface it as a typed empty frame instead
        try:
            return spark.read.parquet(os.path.join(self.path, "postings"))
        except Exception:
            return spark.createDataFrame(
                [], "doc_id long, dl int, term string, tf long, "
                f"{EPOCH} long, {TBUCKET} int"
            )

    # -- query -------------------------------------------------------------

    def bm25_topk(
        self,
        spark: SparkSession,
        queries: list[tuple[str, str]],
        k: int = 5,
    ) -> DataFrame:
        """Top-``k`` docs per query, answered FROM THE INDEX: the postings
        scan carries a PartitionFilter on the queried terms' buckets (plus
        a pushed term filter within them), so cost scales with the queried
        terms' posting lists, not the corpus. Scores are bit-identical to
        the raw-corpus `operators/corpus.bm25_topk` (same expressions,
        rounding, ties)."""
        from pyspark.sql import Window

        m = self.meta()
        n = float(m["n_docs"])
        t_tot = float(m["total_tokens"])
        n_buckets = int(m["n_buckets"])

        qterms = sorted({t for _, qtext in queries for t in qtext.split(" ")})
        buckets = sorted(
            {self._bucket_of(t, n_buckets) for t in qterms}
        )
        qt = spark.createDataFrame(
            [(qid, t) for qid, qtext in queries for t in sorted(set(qtext.split(" ")))],
            "query_id string, term string",
        )
        post = (
            self.postings(spark)
            .filter(F.col(TBUCKET).isin(buckets))  # -> PartitionFilters
            .filter(F.col("term").isin(qterms))  # -> PushedFilters in-bucket
        )
        dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_count"))
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n) - F.col("df_count") + F.lit(0.5)) / (F.col("df_count") + F.lit(0.5))
        )
        norm = F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") * F.lit(n) / F.lit(t_tot))
        )
        contrib = F.round(
            idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (F.col("tf") + norm), 6
        )
        scored = (
            post.join(F.broadcast(dfreq), "term")
            .join(F.broadcast(qt), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.round(F.sum(contrib), 6).alias("bm25"))
        )
        w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k)
            .select("query_id", "doc_id", "bm25", "rnk")
        )

    @staticmethod
    def _bucket_of(term: str, n_buckets: int) -> int:
        """Driver-side twin of the hash60(term) % n_buckets bucket id."""
        import hashlib

        return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets
