"""Near-duplicate detection over the documents table — the dedup family.

Four escalating strategies, each designed for the 100 TB shape:

- exact: one narrow hash-groupBy (fingerprint -> canonical id). One shuffle
  on a 128-bit key; trivially scalable.
- n-gram Jaccard: shingle inverted index self-join. The classic exact
  near-dup; the shingle join is the scale hazard, so hot shingles (appearing
  in > ``stop_shingle_df`` docs) are dropped first — the standard
  stop-shingle cap that bounds join fan-out.
- MinHash + LSH: K=24 permutations, b=12 bands x r=2 rows. Signatures are a
  per-row projection (no shuffle); candidate generation shuffles only on
  band-bucket keys; exact Jaccard verifies candidates. At 100 TB this is the
  workhorse: cost ~ O(docs x K) + O(colliding pairs).
- SimHash: see operators.text.simhash_wide — constant-size 60-bit
  signature; pairs via the banded equi-join (simhash_banded_pairs), which
  is pigeonhole-exact for the hamming threshold and shuffles on ~32k-value
  band buckets instead of forming the O(n^2) pair join.

Every operator has a DuckDB-oracle twin generated from the same hash
constants (operators.texthash), so correctness is pinned end-to-end.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Observation

from binance_etl_clickhouse_spark.operators.parallel import ensure_min_parallelism
from binance_etl_clickhouse_spark.operators.texthash import (
    M31,
    hash31,
    hash60,
    minhash_perm,
    shingles,
)

LSH_BANDS = 12
LSH_ROWS = 2  # K = bands * rows = 24 permutations


def _pin(df: DataFrame, persist: bool) -> DataFrame:
    """Persist a frame that a self-join consumes from BOTH sides.

    Self-join diamonds defeat ReuseExchange (the build side becomes a
    broadcast exchange, the probe side a plain pipeline — nothing matches),
    so without this the md5-heavy signature projection runs once per side,
    re-scanning the corpus each time. Persisting mirrors what production
    dedup systems do anyway — the signature index is materialized, never
    recomputed per lookup (the streaming corpus dedup persists the same
    frame to parquet). MEMORY_AND_DISK: signatures are a few ints per doc,
    orders of magnitude narrower than the text they summarize.
    """
    return df.persist(StorageLevel.MEMORY_AND_DISK) if persist else df


def exact_dup_canonical(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest id as
    canonical. Output one row per distinct content."""
    from binance_etl_clickhouse_spark.operators.text import content_fingerprint

    return (
        df.select(id_col, content_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, k: int, stop_shingle_df: int | None
) -> DataFrame:
    """(id, shingle-hash) inverted index, optionally dropping hot shingles.

    The index carries xxhash64 of each shingle, not the shingle text: every
    consumer (the equi-self-join, the per-doc size agg, the stop-shingle
    cap) needs only shingle EQUALITY, so the 8-byte key shuffles ~3x fewer
    bytes than the k-token string and compares cheaper in the join (guide
    §2.3 — shuffle keys, not payloads; collisions ~postings^2/2^64, nil).
    """
    sh = ensure_min_parallelism(df).select(
        id_col,
        F.explode(
            F.transform(shingles(text_col, k), lambda s: F.xxhash64(s))
        ).alias("s"),
    )
    if stop_shingle_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") > stop_shingle_df)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    stop_shingle_df: int | None = None,
    persist_index: bool = True,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    J(A,B) = |A∩B| / (|A| + |B| - |A∩B|): intersection counts come from the
    inverted-index self-join, set sizes from a pre-agg — no array materialized
    across the join.
    """
    # three consumers (sizes + both self-join sides) — pin the inverted index
    sh = _pin(_shingle_index(df, id_col, text_col, k, stop_shingle_df), persist_index)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .filter(jac >= threshold)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    stop_shingle_df: int | None = None,
    persist_index: bool = True,
) -> DataFrame:
    """All pairs with shingle-set CONTAINMENT >= threshold, where
    C(A,B) = |A∩B| / min(|A|,|B|) — the asymmetric near-dup measure that
    catches subset duplication (one doc quoted or embedded inside a much
    larger one), which Jaccard structurally misses: a 50-shingle doc fully
    contained in a 5000-shingle doc has J ≈ 0.01 but C = 1.0. Same
    inverted-index scale shape as :func:`ngram_jaccard_pairs` (equi-join
    on shingles, sizes from a pre-agg, optional stop-shingle cap)."""
    sh = _pin(_shingle_index(df, id_col, text_col, k, stop_shingle_df), persist_index)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    cont = F.col("c") / F.least("n1", "n2")
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .filter(cont >= threshold)
        .select("d1", "d2", F.round(cont, 6).alias("containment"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """24-permutation MinHash signature as columns mh0..mh23.

    Pure per-row projection over the shingle array (aggregate inside the
    array, no explode/shuffle): signature cost is O(shingles x K) in one
    codegen stage.
    """
    out = ensure_min_parallelism(df).select(id_col, shingles(text_col, k).alias("sh"))
    return _signatures_from_shingles(out, id_col)


def _signatures_from_shingles(sh_sets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mh0..mh{K-1} signature columns from an (id, sh array) frame —
    factored out so a caller that also needs the shingle arrays (the
    exact-Jaccard verify) shingles the corpus text exactly once."""
    hashed = sh_sets.withColumn("hv", F.transform(F.col("sh"), lambda s: hash31(s)))
    cols = [
        F.array_min(F.transform(F.col("hv"), lambda x: minhash_perm(j, x))).alias(f"mh{j}")
        for j in range(LSH_BANDS * LSH_ROWS)
    ]
    return hashed.select(id_col, *cols)


def _signatures_from_hash60s(hv_sets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mh0..mh{K-1} from an (id, hv array<long>) frame of hash60 shingle
    values — hash31(s) == hash60(s) % M31, so the signatures are
    bit-identical to :func:`_signatures_from_shingles` while the one md5
    per shingle is shared with the exact-Jaccard verify arrays."""
    hashed = hv_sets.withColumn(
        "h31", F.transform(F.col("hv"), lambda x: x % F.lit(M31))
    )
    cols = [
        F.array_min(F.transform(F.col("h31"), lambda x: minhash_perm(j, x))).alias(f"mh{j}")
        for j in range(LSH_BANDS * LSH_ROWS)
    ]
    return hashed.select(id_col, *cols)


def minhash_band_values(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, bv) band-bucket rows from an ``mh0..mh{K-1}`` signature frame.

    Band t's bucket value is md5(t, mh_{2t}, mh_{2t+1}) — the same keys
    :func:`minhash_lsh_pairs` buckets on, factored out so an incremental
    consumer (the streaming corpus dedup) can bucket NEW signatures against
    a persisted signature index without recomputing shingles.
    """
    band_cols = [
        F.md5(
            F.concat_ws(",", F.lit(t), F.col(f"mh{2 * t}"), F.col(f"mh{2 * t + 1}"))
        ).alias(f"band{t}")
        for t in range(LSH_BANDS)
    ]
    return sig.select(id_col, F.explode(F.array(*band_cols)).alias("bv"))


#: production default band cap — measured, not guessed, at two storm
#: depths (bench corpus_scale, r8):
#:   10x replicas (~45x duplicate density): 357 evicted band rows across
#:     21 overflowing buckets (max bucket 120), ZERO of 250,600 true
#:     >=0.5-Jaccard pairs lost — eviction decorrelates across the 12
#:     bands exactly as designed.
#:   30x replicas (max bucket 360 = 5.6x the cap): 12,164 evictions in
#:     250 buckets, 0.74% of 2,405,400 true pairs lost — degradation is
#:     GRACEFUL as overflow deepens, not a cliff. At that density the
#:     pairs being lost are storm members; the intended pipeline collapses
#:     byte-identical storms upstream (exact_dup_canonical) before the cap
#:     ever bites.
#: Pass ``band_cap=None`` for the unbounded-verify form (the uncapped
#: oracle twin `minhash_lsh_neardup` does, explicitly). If a corpus
#: legitimately holds >64-member NEAR-identical (not exact) storms, feed
#: the observed ``max_bucket`` to :func:`recommended_band_cap` — the r9
#: cap sweep measured cap=128 LOSSLESS at the 30x storm (where 64 loses
#: 0.744%), so widening one ladder step recovers the tail at bounded cost.
DEFAULT_BAND_CAP = 64


def recommended_band_cap(
    max_bucket: int, ladder: tuple[int, ...] = (64, 128, 256, 512)
) -> int:
    """The band cap the storm measurements support, from the observed
    ``max_bucket`` (largest band-bucket membership — read it from the
    ``overflow`` Observation any capped run can attach, or from
    :func:`minhash_band_overflow`).

    Measured regime guide (bench ``corpus_scale`` / ``deep_storm`` +
    the r9 ``cap_sweep``, sf0.1 corpus, 12 bands x 2 rows):

    ==============  ==========  ===================================
    max_bucket/cap  loss        evidence
    ==============  ==========  ===================================
    <= 1            0 (exact)   cap never engages
    1.9x            measured 0  10x storm: max_bucket 120, cap 64 ->
                                0 of 250,600 true pairs lost
    2.8x            measured 0  30x storm: max_bucket 360, cap 128 ->
                                0 of 2,405,400 true pairs lost
    1.4x            measured 0  30x storm, cap 256
    5.6x            0.744%      30x storm, cap 64 (12,164 evictions
                                in 250 buckets)
    ==============  ==========  ===================================

    Policy: the smallest ladder cap with ``max_bucket <= 2 * cap`` —
    strictly inside the measured-lossless region (lossless up to 2.8x
    overflow; band eviction decorrelates across the 12 bands to at least
    that depth, and the 2x margin leaves headroom below the deepest
    lossless point). Past the ladder top the function
    returns the top and the caller should collapse exact duplicates
    upstream first (``exact_dup_canonical``): a >1024-member near-identical
    (not byte-identical) storm costs cap^2-bounded verify work per bucket,
    and widening further trades quadratic cost for a recall tail the
    storm's own members dominate.
    """
    for cap in ladder:
        if max_bucket <= 2 * cap:
            return cap
    return ladder[-1]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    persist_index: bool = True,
    band_cap: "int | str | None" = DEFAULT_BAND_CAP,
    overflow: "Observation | None" = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact Jaccard.

    Banding: band t's bucket key is md5(t, mh_{2t}, mh_{2t+1}); docs sharing
    any bucket are candidates (P[catch | J=0.5] ≈ 0.97 with b=12, r=2).
    Candidates then verified against the true shingle Jaccard so output
    precision is exact; only recall is probabilistic.

    ``band_cap`` bounds the verify stage against duplicate storms (a real
    crawl's dominant failure mode): a band bucket holding M docs generates
    O(M^2) candidate pairs, and since near-identical docs share ALL bands,
    a storm of M copies costs b*M^2 verifies. With the cap, each bucket
    keeps only its first ``band_cap`` docs (deterministic: ordered by id),
    so verify work is bounded by buckets x band_cap^2 regardless of
    duplicate density. The recall trade: a pair is lost only when the two
    docs are evicted from EVERY bucket they share. For byte-identical
    storms eviction is perfectly correlated across all 12 bands, so
    collapse those upstream with :func:`exact_dup_canonical` (one linear
    hash-groupBy) — the cap is the guard for the NEAR-identical tail,
    where differing signatures decorrelate eviction across bands and
    members past the cap keep pairing through buckets that kept them.
    Overflow is REPORTED, never silent: pass a ``pyspark.sql.Observation``
    as ``overflow`` and
    read ``overflow_rows`` (evicted band-doc rows), ``overflow_buckets``
    (buckets that hit the cap) and ``max_bucket`` after the action, or get
    the per-bucket report from :func:`minhash_band_overflow`.

    ``band_cap="auto"`` (r9) makes the measured regime policy executable:
    one cheap pre-pass over the band frame (a bucket-count aggregate on
    data already computed and pinned — no extra corpus scan) measures the
    actual ``max_bucket``, and :func:`recommended_band_cap` picks the cap
    the storm measurements support. Costs one extra aggregation job;
    right when the duplication regime is unknown ahead of time.
    """
    # ONE corpus text scan AND one md5 per shingle: the pinned frame holds
    # the hash60 values of each doc's distinct shingles, which feed both
    # the signatures (hash31 = hash60 % M31, bit-identical permutation
    # inputs) and the exact-Jaccard verify arrays (|A∩B| over hash60
    # longs equals |A∩B| over the shingle strings — the verify only needs
    # shingle EQUALITY — while the pinned/verify shuffle carries 8-byte
    # longs instead of k-token strings; guide §2.3).
    sh_sets = _pin(
        ensure_min_parallelism(df).select(
            F.col(id_col),
            F.transform(shingles(text_col, k), lambda s: hash60(s)).alias("hv"),
        ),
        persist_index,
    )
    sig = _pin(_signatures_from_hash60s(sh_sets, id_col), persist_index)
    bands = minhash_band_values(sig, id_col)
    if band_cap == "auto":
        # bounded driver value (one int); the band frame reads from the
        # pinned signature frame, so this is an aggregate, not a re-scan
        row = bands.groupBy("bv").count().agg(F.max("count").alias("m")).first()
        band_cap = recommended_band_cap(int(row.m or 0))
    if band_cap is not None:
        ranked = bands.withColumn(
            "rnk", F.row_number().over(Window.partitionBy("bv").orderBy(id_col))
        )
        if overflow is not None:
            ranked = ranked.observe(
                overflow,
                F.sum((F.col("rnk") > band_cap).cast("long")).alias("overflow_rows"),
                F.sum((F.col("rnk") == band_cap + 1).cast("long")).alias("overflow_buckets"),
                F.max("rnk").alias("max_bucket"),
            )
        bands = ranked.filter(F.col("rnk") <= band_cap).drop("rnk")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.bv") == F.col("b.bv")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )
    # Exact-Jaccard verify on the CANDIDATES ONLY: join each pair back to its
    # two (distinct-)shingle arrays and intersect per row. The full
    # inverted-index self-join — the very cost LSH exists to avoid — never
    # runs; verification work is O(candidate pairs x shingles), and the
    # arithmetic (|A∩B| / (|A|+|B|-|A∩B|) on the same integers) is identical
    # to ngram_jaccard_pairs, so precision stays exact.
    s1 = sh_sets.select(F.col(id_col).alias("d1"), F.col("hv").alias("sh1"))
    s2 = sh_sets.select(F.col(id_col).alias("d2"), F.col("hv").alias("sh2"))
    inter = F.size(F.array_intersect(F.col("sh1"), F.col("sh2")))
    jac = inter / (F.size("sh1") + F.size("sh2") - inter)
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .filter(jac >= threshold)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


def minhash_band_overflow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    band_cap: int = 64,
) -> DataFrame:
    """Per-bucket overflow report for :func:`minhash_lsh_pairs`'s
    ``band_cap``: one row per band bucket that exceeds the cap, with its
    size and how many band-doc rows the cap evicts. Run this (or read the
    ``overflow`` Observation) alongside a capped dedup so the recall trade
    is measured, never assumed."""
    sig = _signatures_from_shingles(
        ensure_min_parallelism(df).select(F.col(id_col), shingles(text_col, k).alias("sh")),
        id_col,
    )
    return (
        minhash_band_values(sig, id_col)
        .groupBy("bv")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > band_cap)
        .select(
            "bv",
            "bucket_size",
            (F.col("bucket_size") - F.lit(band_cap)).cast("long").alias("evicted_rows"),
        )
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.45
) -> DataFrame:
    """All-pairs embedding cosine near-dup (the exact baseline).

    O(n^2) by construction — correct at test scale; the 100 TB path is
    LSH-bucketed (operators.similarity.random_hyperplane_buckets) which cuts
    the cross join to per-bucket blocks.
    """
    from binance_etl_clickhouse_spark.operators.similarity import cosine_expr

    v = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    a, b = v.alias("a"), v.alias("b")
    pair = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    sim = cosine_expr(F.col("a.v"), F.col("b.v"))
    return pair.select(
        F.col(f"a.{id_col}").alias("v1"),
        F.col(f"b.{id_col}").alias("v2"),
        F.round(sim, 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def embedding_cosine_pairs_gemm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine via block-pair GEMM (same semantics as
    :func:`embedding_cosine_pairs`, equivalence pinned by test).

    The expression form evaluates a d-element fold per pair inside a
    nested-loop join — correct but scalar-at-a-time. This form keeps the
    O(n^2) math but runs it at BLAS speed and fully distributed:

    - rows are hashed into ``n_blocks`` blocks; each row is replicated to
      every block-pair task it participates in (shuffle volume
      O(n * n_blocks), not O(n^2));
    - each of the n_blocks*(n_blocks+1)/2 tasks computes its similarity
      sub-matrix with ONE normalized matmul inside ``applyInPandas``
      (Arrow-batched, numpy/BLAS);
    - a pair (x, y) lands in exactly one task — (min(blk), max(blk)) — so
      the union over tasks is exactly the a.id < b.id all-pairs set.

    At corpus scale, tasks are independent → parallelism = block pairs;
    pick n_blocks so one block's matrix fits executor memory
    (n/n_blocks x d doubles).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # integral ids are part of this operator's contract (the block tasks
    # order pairs with numpy min/max and emit a bigint schema): a silent
    # cast('long') on string ids would throw mid-job under ANSI mode or
    # NULL out every pair with ANSI off — reject loudly instead
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise ValueError(
            f"embedding_cosine_pairs_gemm needs an integral {id_col!r} "
            f"(got {id_type.simpleString()}); use embedding_cosine_pairs "
            "or add a surrogate integer id"
        )

    spark = df.sparkSession
    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("blk", F.pmod(F.hash("id"), F.lit(n_blocks)))
    tasks = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], "i int, j int"
    )
    rep = v.join(F.broadcast(tasks), (F.col("blk") == F.col("i")) | (F.col("blk") == F.col("j")))

    def block_pair_sims(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key
        a = pdf[pdf["blk"] == i]
        b = pdf[pdf["blk"] == j]
        if a.empty or b.empty:
            return pd.DataFrame({"v1": [], "v2": [], "cos_sim": []})
        ma = np.stack(a["v"].to_numpy())
        mb = np.stack(b["v"].to_numpy())
        ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia = a["id"].to_numpy()
        ib = b["id"].to_numpy()
        # tolerance superset — the exact HALF_UP round + threshold happens
        # JVM-side below so tie behavior matches the SQL oracle bit-for-bit.
        # The margin must cover the round(·, 6) half-ulp (5e-7): a raw cosine
        # in [threshold - 5e-7, threshold) rounds UP to the threshold and is
        # kept by the JVM filter, so the pre-mask may not drop it.
        mask = sims >= threshold - 5e-7 - 1e-9
        if i == j:
            # same block on both sides: strict upper triangle by id, else
            # every pair shows up twice plus the self-pairs once
            mask &= ia[:, None] < ib[None, :]
        xs, ys = np.nonzero(mask)
        left, right = ia[xs], ib[ys]
        return pd.DataFrame(
            {
                "v1": np.minimum(left, right),
                "v2": np.maximum(left, right),
                "cos_sim": sims[xs, ys],
            }
        )

    raw = rep.groupBy("i", "j").applyInPandas(
        block_pair_sims, "v1 bigint, v2 bigint, cos_sim double"
    )
    return raw.select("v1", "v2", F.round("cos_sim", 6).alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


#: driver-side-closure bound: 200k undirected edge rows ≈ 3 MB on the
#: driver — far below any practical driver heap, far above any deduped
#: corpus's near-dup pair graph. Past it, the distributed loop takes over.
DRIVER_CLOSURE_MAX_EDGES = 200_000


def _label_pair_graph_distributed(
    edges: DataFrame, max_rounds: int
) -> DataFrame:
    """Min-label propagation over the symmetric (a, b) edge frame ->
    (node, lbl), run by the graph operators' fixpoint loop
    (``operators.graph._min_label_fixpoint``).

    One equi-join + one groupBy(min) shuffle per round, both O(|pairs|);
    rounds needed = component diameter (shallow for near-dup chains), with
    a loud failure past the cap — part-propagated labels would silently
    split a component, which leakage_safe_split cannot detect. Each round
    is lineage-truncated: with mere caching the plan doubled every round
    and a 7-round pair graph never finished planning.
    """
    from binance_etl_clickhouse_spark.operators.graph import (
        _min_label_fixpoint,
        _resolve_reliable,
    )

    labels = _min_label_fixpoint(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")),
        max_rounds,
        _resolve_reliable(edges, None),
        "neardup_clusters",
    )
    return labels.select(F.col("u").alias("node"), "lbl")


def _label_pair_graph_local(edges_rows, spark, dtype) -> DataFrame:
    """Union-find closure on the driver -> (node, lbl) frame (min-id label
    per component). Pure integer bookkeeping over a BOUNDED edge list."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges_rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {v for r in edges_rows for v in (r[0], r[1])}
    data = [(n, find(n)) for n in sorted(nodes)]
    schema = StructType(
        [StructField("node", dtype), StructField("lbl", dtype)]
    )
    return spark.createDataFrame(data, schema)


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 20,
    driver_max_edges: int = DRIVER_CLOSURE_MAX_EDGES,
) -> DataFrame:
    """Connected components over near-dup pairs: every document labeled with
    the minimum id reachable through the pair graph (its canonical id).

    The standard dedup follow-on — pair detection says "these two match";
    clustering turns matches into keep/drop decisions (keep doc ==
    cluster_id, drop the rest) that are consistent across chains
    (a~b, b~c => one cluster even if a,c never compared).

    The closure runs over PAIRED nodes only — near-dup pairs are a tiny
    fraction of a deduped corpus, so the component computation never
    touches corpus-sized data; unpaired documents join their own singleton
    label back in ONE final left join (coalesce to self). Two regimes,
    switched on the MEASURED edge count (the cached edge frame is counted
    anyway):

    - ``<= driver_max_edges`` (the overwhelmingly common case): collect the
      bounded edge list and union-find on the driver — 2 Spark actions
      total instead of one count per propagation round, the same
      bounded-collect collapse that took MMR from R+1 jobs to 4.
    - past the bound (duplicate-storm pair graphs): distributed min-label
      propagation, one O(|pairs|) join + groupBy shuffle per round, loud
      failure past ``max_rounds``.

    Deterministic in both regimes: the fixpoint (min reachable id) is
    unique regardless of iteration order, so a DuckDB recursive-CTE twin
    hash-matches exactly.
    """
    edges = (
        pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .union(pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .distinct()
        .cache()
    )
    try:
        n_edges = edges.count()
        if n_edges <= driver_max_edges:
            # bounded collect: n_edges <= driver_max_edges (~3 MB at the cap)
            labels = _label_pair_graph_local(
                edges.collect(), df.sparkSession, edges.schema["a"].dataType
            )
        else:
            labels = _label_pair_graph_distributed(edges, max_rounds)
        # one pass back over the corpus: unpaired docs are their own
        # singleton cluster (coalesce to self). No forced broadcasts here:
        # the paired-label frame is usually tiny (AQE broadcasts it), but
        # under a duplicate storm it tracks pair volume, and the sizes
        # frame is cluster-count-sized (~|corpus|) — forcing either onto
        # the driver is the 100 TB failure mode.
        full = df.select(F.col(id_col).alias("node")).distinct().join(
            labels, "node", "left"
        ).select("node", F.coalesce("lbl", F.col("node")).alias("lbl"))
        sizes = full.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
        return (
            full.join(sizes, "lbl")
            .select(
                F.col("node").alias(id_col),
                F.col("lbl").alias("cluster_id"),
                F.col("cluster_size"),
            )
        )
    finally:
        # release the edge cache: the returned plan reads either the
        # driver-built label frame or the checkpointed fixpoint, so nothing
        # recomputes on consumption.
        edges.unpersist()


def fuzzy_blocked_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    snippet_len: int = 40,
    block_len: int = 8,
    persist_index: bool = True,
) -> DataFrame:
    """Edit-distance fuzzy matching with blocking — the record-linkage /
    entity-resolution member of the dedup family.

    Levenshtein is quadratic per pair and inexpressible as a hash, so the
    scale shape is the classic blocking join: candidates are pairs sharing
    a normalized snippet PREFIX or SUFFIX block key (two blocking passes,
    unioned), and the edit distance runs on candidates only — never
    all-pairs. Recall is the usual blocking trade-off (a pair whose edits
    hit both ends of the snippet is missed); precision is exact. At 100 TB
    add more blocking passes (e.g. mid n-grams) to taste — each is another
    equi-join, and the verify cost stays O(candidates).

    Output: (d1, d2, edit_dist) for every blocked candidate pair, distances
    computed over the normalized first-``snippet_len`` chars.
    """
    snip = F.substring(F.lower(F.col(text_col)), 1, snippet_len)
    s = _pin(
        ensure_min_parallelism(df).select(F.col(id_col), snip.alias("snip")),
        persist_index,
    )
    prefix = s.select(id_col, F.substring("snip", 1, block_len).alias("k"))
    # right(): total on short strings (returns the whole string), same
    # semantics in DuckDB so the oracle blocks identically
    suffix = s.select(id_col, F.expr(f"right(snip, {block_len})").alias("k"))
    blocks = prefix.union(suffix)
    a = blocks.select(F.col(id_col).alias("d1"), "k")
    b = blocks.select(F.col(id_col).alias("d2"), "k")
    cand = (
        a.join(b, "k")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    s1 = s.select(F.col(id_col).alias("d1"), F.col("snip").alias("snip1"))
    s2 = s.select(F.col(id_col).alias("d2"), F.col("snip").alias("snip2"))
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", F.levenshtein("snip1", "snip2").alias("edit_dist"))
    )


def semdedup_flags(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist_index: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings with the coarse
    k-means codebook, then drop any vector that has an EARLIER (lower-id)
    near-duplicate (cosine >= threshold) in the SAME cluster.

    The k-means partition is what makes semantic dedup affordable: the
    pairwise cosine check runs per cell (an equi-join on ``cell``), never
    across the whole corpus — with k cells the candidate volume drops from
    O(n^2) to ~O(n^2/k), and each cell's block is an independent task. At
    100 TB: train the codebook on a sample, raise k so a cell's block fits
    one task, and reuse the cell-partitioned IVF layout so the join needs
    no extra shuffle.

    Keep rule: deterministic "no earlier near-dup" — a vector is kept iff
    no same-cell vector with a smaller id is within the threshold. (The
    SemDeDup paper's greedy chain scan is order-dependent inside a cluster;
    this declarative variant is fully parallel, and unlike the greedy form
    it is expressible as pure relational algebra, so a DuckDB oracle can
    pin it exactly.) Output: one row per input vector —
    (id, cell, kept boolean).
    """
    from binance_etl_clickhouse_spark.operators.ivf import assign_cells
    from binance_etl_clickhouse_spark.operators.similarity import cosine_expr

    cells = _pin(
        assign_cells(df, centroids, id_col, vec_col).select(
            F.col(id_col),
            F.col("cell"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        ),
        persist_index,
    )
    a = cells.select(F.col(id_col), "cell", F.col("v").alias("va"))
    b = cells.select(F.col(id_col).alias("_earlier"), "cell", F.col("v").alias("vb"))
    dropped = (
        a.join(b, ["cell"])
        .filter(F.col("_earlier") < F.col(id_col))
        .filter(F.round(cosine_expr(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(id_col)
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        cells.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def simhash_banded_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    sig_bits: int = 16,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    persist_index: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs via band-bucketed candidate generation.

    Pigeonhole: a pair within ``max_hamming <= n_bands - 1`` bit flips can
    touch at most ``n_bands - 1`` of the bands, so it collides in at least
    one (band, band-value) bucket — the candidate join is a hash equi-join
    on that key and the result is EXACTLY the all-pairs semantics
    (equivalence pinned by test).

    Regime note (measured, see queries/llm.py): with narrow signatures a
    band has few distinct values (16-bit / 4 bands -> 16 buckets) and the
    bucketing prunes little; with the production 60-bit signature
    (text.simhash_wide) each 15-bit band has ~32k values and almost no
    non-dup pairs collide — that width is the registered default.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding is only exact for max_hamming <= n_bands-1 "
            f"(got {max_hamming} with {n_bands} bands)"
        )
    if sig_bits % n_bands:
        raise ValueError("sig_bits must divide evenly into n_bands")
    w = sig_bits // n_bands
    mask = (1 << w) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(t).alias("band"),
                F.shiftright(F.col(sig_col), w * t).bitwiseAND(mask).alias("bv"),
            )
            for t in range(n_bands)
        ]
    )
    # both join sides read this frame; pinning it keeps the upstream
    # signature aggregation (one corpus scan + shuffle) from running twice
    banded = _pin(
        sig.select(F.col(id_col), F.col(sig_col), F.explode(bands).alias("k")).select(
            id_col, sig_col, "k.band", "k.bv"
        ),
        persist_index,
    )
    a = banded.select(
        "band", "bv", F.col(id_col).alias("d1"), F.col(sig_col).alias("s1")
    )
    b = banded.select(
        "band", "bv", F.col(id_col).alias("d2"), F.col(sig_col).alias("s2")
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may collide in several bands
    )
