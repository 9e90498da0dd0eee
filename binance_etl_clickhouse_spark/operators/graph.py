"""Distributed graph analytics over a co-purchase graph.

The reference has no graph operators (its analytics surface ends at
ClickHouse SQL — ``crypto_data_pipeline_clickhouse.py:326-333``); these are
part of the training-data-pipeline extension: entity graphs (co-purchase,
co-citation, link graphs) drive dedup clustering, popularity weighting and
spam detection in large corpus pipelines.

Graph = undirected part co-purchase: two parts are connected iff some order
contains both. Built by a self-equi-join of ``(orderkey, partkey)`` on the
order key — the join fans out only within one order (TPC-H order size <= 7,
real carts are similarly bounded), so pair generation is O(rows * cart_size)
with no global blow-up, and the shuffle key (orderkey) is the natural
ingest partitioning. Everything downstream touches only the edge list.

Scale notes (100 TB lens):
- ``triangle_count`` uses the degree-ordered orientation (Cohen / Suri-
  Vassilvitskii MapReduce form): each undirected edge is directed from the
  lower-(degree, id) endpoint to the higher one, so every wedge is generated
  at its lowest-degree vertex — the per-vertex wedge work is O(d_min^2)
  instead of O(d_max^2), which is the difference between hours and forever
  on a power-law graph. The DuckDB oracle counts triangles with the naive
  a<b<c id-ordering; the counts provably agree, so the driver hash-check
  cross-validates the oriented implementation against the textbook one.
- ``pagerank`` unrolls a FIXED number of power iterations as one declarative
  plan; the edge frame carries each edge's rank share (degree joined in
  once) and is cached, so each iteration is one join with the rank frame
  and one shuffle (groupBy dst). At real scale you checkpoint
  the rank frame every few iterations to truncate lineage; with a fixed
  small iteration count the lineage is bounded and Catalyst handles it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.checkpoints import release
from binance_etl_clickhouse_spark.operators.parallel import compact_persist

DAMPING = 0.85


#: per-order pair fan-out guard: carts with more than this many distinct
#: parts route through the chunked pair generator below, so one mega-order
#: can never put a quadratic array in a single row/task (guide §2.5 skew).
#: 256² = 65k pair structs per generated row — bounded task memory — while
#: TPC-H carts (<= 7) and real carts never leave the inline path.
CART_CAP = 256


def _inline_pairs(ps):
    """Ordered (src < dst) pair structs from one sorted item array."""
    return F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.size(ps) - i - 1),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )


def copurchase_edges(lineitem: DataFrame, cart_cap: int = CART_CAP) -> DataFrame:
    """Undirected co-purchase edges ``(src < dst, w = #shared orders)``.

    Pair generation happens INSIDE each order's sorted part array (a
    projection over the per-order groupBy output) instead of a
    (orderkey)-keyed self-join of the item list: one shuffle on orderkey
    plus one on the pair key, where the self-join form shuffled the item
    list twice and the pair stream once (guide §2.4 — remove shuffles
    outright).

    The orderkey exchange is an EXPLICIT repartition at cluster
    parallelism, which the groupBy reuses (same key — no extra shuffle,
    guide §2.4): the pair fan-out inflates rows ~cart_size/2 x AFTER the
    exchange, which AQE's byte-based coalescing cannot see — at bench
    scale it folded the whole collect_set + pair-generation stage onto
    ONE task (map output ~10 MB < the 64 MB advisory size), serializing
    the most compute-heavy stage of every graph query. MEASURED (r12,
    sf0.1, interleaved best-of-3): 1.61 s -> 1.01 s warm, 5.4 s -> 2.4 s
    cold, identical rows; pinning the (src, dst) aggregation exchange too
    was slower (1.18 s) — the merge there is cheap, the extra exchange
    is not.

    ``cart_cap`` guards the power-law tail (guide §2.5): an order with
    more than ``cart_cap`` distinct parts would otherwise materialize a
    O(cart²) pair array inside one row (a 10k-item cart is a ~50M-struct
    array in a single task). Oversized carts instead split their sorted
    item array into ``cart_cap``-sized chunks and emit one row per chunk
    PAIR (within-chunk ordered pairs, cross-chunk full products — the
    array is sorted, so chunk i's items all precede chunk j's and every
    pair appears exactly once, already (src < dst)-canonical), spread
    round-robin across the cluster before expansion so no task holds more
    than cart_cap² pair structs. The inline path is unchanged for every
    real cart; equivalence is property-tested with a 10k-item order.
    """
    n_parts = lineitem.sparkSession.sparkContext.defaultParallelism
    per_order = (
        lineitem.repartition(n_parts, "l_orderkey")
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    small = per_order.filter(F.size("ps") <= cart_cap).select(
        F.explode(_inline_pairs(F.col("ps"))).alias("pr")
    )
    # chunked path for mega-carts: C(n_chunks+1, 2) small rows per order,
    # each carrying two <= cart_cap slices; repartition() spreads them
    # before the quadratic expansion so the biggest task is cart_cap²
    n_chunks = F.ceil(F.size("ps") / F.lit(float(cart_cap))).cast("int")
    chunk_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.transform(
                F.sequence(i, n_chunks - F.lit(1)),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    big = (
        per_order.filter(F.size("ps") > cart_cap)
        .select(F.col("ps"), F.explode(chunk_pairs).alias("cp"))
        .select(
            (F.col("cp.i") == F.col("cp.j")).alias("same"),
            F.slice("ps", F.col("cp.i") * cart_cap + 1, cart_cap).alias("ai"),
            F.slice("ps", F.col("cp.j") * cart_cap + 1, cart_cap).alias("aj"),
        )
        .repartition(n_parts)
        .select(
            F.explode(
                F.when(F.col("same"), _inline_pairs(F.col("ai"))).otherwise(
                    F.flatten(
                        F.transform(
                            "ai",
                            lambda x: F.transform(
                                "aj",
                                lambda y: F.struct(x.alias("src"), y.alias("dst")),
                            ),
                        )
                    )
                )
            ).alias("pr")
        )
    )
    return (
        small.unionAll(big)
        .groupBy(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .agg(F.count("*").cast("long").alias("w"))
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Both directions of the edge list: one row per (u, v) incidence."""
    return edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), "w"
    ).unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v"), "w"))


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-vertex degree and weighted degree of the undirected graph."""
    return (
        undirected(edges)
        .groupBy(F.col("u").alias("part_key"))
        .agg(
            F.count("*").cast("long").alias("degree"),
            F.sum("w").cast("long").alias("weighted_degree"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangle count via degree-ordered edge orientation.

    Orientation: direct each undirected edge from the endpoint with the
    smaller ``(degree, id)`` rank to the larger. Every triangle then has
    exactly one vertex with two out-edges (its lowest-ranked corner), so
    counting (wedge, closing-edge) joins counts each triangle once.
    """
    # the edge list feeds the degree table, both wedge arms and the closing
    # join — persist it so the per-order pair build runs once, not four times
    edges = compact_persist(edges)
    deg = (
        undirected(edges)
        .groupBy("u")
        .agg(F.count("*").alias("d"))
        .select("u", "d")
    )
    # Degree table is |V|-sized (small relative to edges) -> broadcast both
    # lookups; the orientation itself is a projection, no extra shuffle.
    lo_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    e = (
        edges.join(F.broadcast(deg.withColumnRenamed("u", "src").withColumnRenamed("d", "ds")), "src")
        .join(F.broadcast(deg.withColumnRenamed("u", "dst").withColumnRenamed("d", "dd")), "dst")
        .select(
            F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
            F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
            # degree rank of the head vertex, for ordering the wedge arms
            F.when(lo_first, F.col("dd")).otherwise(F.col("ds")).alias("hid"),
        )
    )
    # Each triangle {r1<r2<r3} is counted exactly once, at its lowest edge
    # (r1->r2), as a common OUT-neighbor of both endpoints. Intersecting
    # per-vertex out-neighbor arrays does the wedge+closing work inside a
    # projection — same O(sum d_out^2) arithmetic, but no wedge-sized
    # shuffle ever materializes. The edge stream itself is recovered by
    # EXPLODING the adjacency frame (each oriented edge appears exactly
    # once in its head vertex's out-list), so the old 3-way
    # (e ⋈ adj ⋈ adj) collapses to adj-explode ⋈ adj — one join and one
    # pass over e instead of two (guide §2.4); the oriented edge frame is
    # consumed once, so it no longer needs its own persist.
    adj = compact_persist(e.groupBy("lo").agg(F.collect_list("hi").alias("nbrs")))
    a_hi = adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("n_hi"))
    per_edge = (
        adj.select(F.col("nbrs").alias("n_lo"), F.explode("nbrs").alias("hi"))
        .join(a_hi, "hi")  # inner: an edge whose head has no out-edges closes nothing
        .select(F.size(F.array_intersect("n_lo", "n_hi")).alias("t"))
    )
    return per_edge.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_triangles"))


def _share_edges(edges: DataFrame, weighted: bool) -> tuple[DataFrame, int]:
    """PageRank's persisted edge frame ``(u, v, share)`` and |V|.

    ``share`` is the fraction of u's rank that flows to v: ``w / d(u)``
    over the weighted degree, or ``1 / d(u)`` over the degree. The degree
    is broadcast-joined onto the edges ONCE, here, so a power iteration is
    one join against the rank frame plus one aggregate — no degree
    broadcast per iteration. The symmetrized edges are persisted only
    while the share frame is built, so the (possibly expensive) edge plan
    runs once.
    """
    und = compact_persist(undirected(edges))
    deg = und.groupBy("u").agg(
        (F.sum("w") if weighted else F.count("*")).cast("double").alias("d")
    )
    share = (F.col("w") if weighted else F.lit(1.0)) / F.col("d")
    e = compact_persist(
        und.join(F.broadcast(deg), "u").select("u", "v", share.alias("share"))
    )
    # each vertex's shares sum to 1, so their total is |V| — and this job
    # materializes the share frame, after which `und` has no reader
    n = round(e.agg(F.sum("share")).first()[0])
    und.unpersist()
    return e, n


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = DAMPING,
    weighted: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank on the undirected co-purchase graph.

    Every vertex has degree >= 1 by construction (it appears on an edge), so
    there is no dangling mass and the per-iteration update is exactly
    ``pr' = (1-d)/N + d * sum_in pr * share`` with ``share = 1/deg`` — or
    ``w / weighted_degree`` with ``weighted=True``, so flow is proportional
    to edge weight. Returns (part_key, pagerank) rounded to 6 dp for the
    cross-engine hash.

    Round shape: the degree is folded into the persisted edge frame once
    (:func:`_share_edges`). The first iteration starts from the uniform
    1/N and needs no join; each later one is one join of the edge frame
    with the |V|-row rank frame (AQE broadcasts the rank frame) plus one
    groupBy(v) shuffle.
    """
    if iters < 1:
        raise ValueError("pagerank needs iters >= 1")
    # MEASURED (r11): a pre-partitioned+sorted edge layout that lets every
    # iteration's sort-merge join stream the big side was +26% WALL
    # locally — the broadcast rank frame already keeps the edge side
    # unshuffled, and the upfront exchange+sort is pure cost at 3
    # iterations. On a cluster where the rank frame outgrows broadcast,
    # that layout (hash-clustered and sorted by source) is the right
    # shape — revisit when iters ~ 10+ or |V| rows exceed the broadcast cap.
    e, n = _share_edges(edges, weighted)  # n = |V|, the only driver-side value
    pr = None
    for _ in range(iters):
        src, rank = (e, F.lit(1.0 / n)) if pr is None else (e.join(pr, "u"), F.col("pr"))
        pr = src.groupBy(F.col("v").alias("u")).agg(
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.sum(rank * F.col("share"))
            ).alias("pr")
        )
    return pr.select(F.col("u").alias("part_key"), F.round("pr", 6).alias("pagerank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = DAMPING,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the ``seeds`` vertex
    set (one column ``u``) instead of the uniform vector — the
    recommendation/expansion primitive ("parts related to THESE parts").

    Same edge frame as :func:`pagerank` (degree folded into ``share``
    once); each iteration is one join + one shuffle plus the broadcast seed
    frame. Vertices unreachable from the seeds converge to 0 and are kept
    (their score is an answer too).
    """
    e, _ = _share_edges(edges, weighted=False)
    verts = e.select("u").distinct()
    seed_flag = seeds.select("u").distinct().withColumn("is_seed", F.lit(1.0))
    n_seeds = seed_flag.count()
    base = F.coalesce(F.col("is_seed"), F.lit(0.0)) / n_seeds
    pr = verts.join(F.broadcast(seed_flag), "u", "left").select(
        "u", base.alias("pr")
    )
    for _ in range(iters):
        flowed = (
            e.join(pr, "u")
            .groupBy(F.col("v").alias("u"))
            .agg((F.lit(damping) * F.sum(F.col("pr") * F.col("share"))).alias("flow"))
        )
        pr = (
            verts.join(flowed, "u", "left")
            .join(F.broadcast(seed_flag), "u", "left")
            .select(
                "u",
                (
                    F.coalesce(F.col("flow"), F.lit(0.0))
                    + F.lit(1.0 - damping) * base
                ).alias("pr"),
            )
        )
    return pr.select(F.col("u").alias("part_key"), F.round("pr", 8).alias("ppr"))


def connected_components(
    edges: DataFrame, iters: int = 4, reliable: bool | None = None
) -> DataFrame:
    """Fixed-iteration min-label propagation: after k rounds every vertex
    carries the smallest vertex id within k hops — the k-bounded connected
    component label (exact components once k >= graph diameter).

    Scale shape: one shuffle per round (neighbor-min groupBy); the label
    frame is |V| rows. A FIXED iteration count keeps the result
    deterministic whether or not propagation has converged, which is what
    makes a cross-engine oracle possible (the DuckDB twin unrolls the same
    k rounds). For exact components regardless of diameter use
    :func:`connected_components_converged` (fixpoint + loud failure) or
    :func:`connected_components_lsss` (large-star/small-star contraction,
    the real-scale default — O(log^2 n) rounds on any diameter).

    ``reliable`` mirrors the converged/LSSS switch (r11 ADVICE item 3):
    ``None`` auto-detects from ``sc.getCheckpointDir()``; ``False`` keeps
    localCheckpoint even when a checkpoint dir was set for some other
    operator, so this loop does not silently pay a durable write per round.
    """
    rel = _resolve_reliable(edges, reliable)
    und = compact_persist(undirected(edges).select("u", "v"))
    labels = und.select("u").distinct().withColumn("lbl", F.col("u"))
    for _ in range(iters):
        # each round references `labels` TWICE (neighbor-min + rejoin), so
        # the LOGICAL plan doubles per round — 2^iters copies of round 0.
        # persist() alone reuses the blocks at execution but leaves the
        # exponential tree for the analyzer/optimizer to chew through
        # every round (the 4-round plan printed at 29k lines and driver
        # planning dominated the wall) — truncate the lineage instead,
        # exactly like the converged/LSSS variants (guide §3.3/§7.3).
        labels = _truncate_lineage(labels, rel)
        nb = (
            und.join(labels.withColumnRenamed("u", "v").withColumnRenamed("lbl", "nlbl"), "v")
            .groupBy("u")
            .agg(F.min("nlbl").alias("nlbl"))
        )
        # every vertex has degree >= 1 (it appears on an edge), so the
        # inner join covers the whole label frame
        labels = labels.join(nb, "u").select(
            "u", F.least("lbl", "nlbl").alias("lbl")
        )
    return labels.select(
        F.col("u").alias("part_key"), F.col("lbl").cast("long").alias("component")
    )


def _resolve_reliable(df: DataFrame, reliable: bool | None) -> bool:
    """Resolve the checkpoint mode for an iterative loop.

    ``None`` auto-detects: reliable iff ``sc.setCheckpointDir`` was called.
    ``True`` requires a checkpoint dir (loud failure if unset — silently
    falling back to localCheckpoint would fake the fault-tolerance the
    caller asked for).
    """
    ckpt_dir = df.sparkSession.sparkContext.getCheckpointDir()
    if reliable is None:
        return ckpt_dir is not None
    if reliable and ckpt_dir is None:
        raise RuntimeError(
            "reliable=True requires sc.setCheckpointDir(...) — localCheckpoint "
            "blocks live on executors and do not survive executor loss"
        )
    return reliable


def _truncate_lineage(df: DataFrame, reliable: bool) -> DataFrame:
    """Cut plan lineage between rounds of an iterative loop.

    ``localCheckpoint`` truncates lineage but stores the blocks on
    EXECUTORS — losing one mid-loop kills the query (lineage is gone with
    the blocks). ``checkpoint()`` writes to the reliable checkpoint dir
    and survives executor loss, at the cost of a round-trip to storage per
    round — the right trade for long data-dependent loops on a real
    cluster, where some executor loss over hundreds of rounds is expected.

    Storage hygiene: Spark does NOT delete reliable checkpoint files by
    default — superseded rounds accrete until application exit unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` lets the
    ContextCleaner reclaim them as the per-round frames are
    garbage-collected. :func:`session.get_spark` sets it; long-lived
    sessions built elsewhere must too.

    Local mode is LAZY: the blocks are written by the first action on the
    returned frame, so a loop's per-round count both materializes the
    round and returns its answer in one job. Reliable mode writes eagerly
    — a later read must find the durable copy, not race the job that
    produces it. Either way the frame's own blocks are freed with
    :func:`checkpoints.release` once nothing reads it any more.
    """
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=False)


def connected_components_converged(
    edges: DataFrame,
    max_rounds: int = 50,
    reliable: bool | None = None,
    round_counter: list | None = None,
) -> DataFrame:
    """Min-label propagation run to the FIXPOINT: iterate until no label
    changes, failing loudly past ``max_rounds`` — never returning a
    part-propagated labeling (a component with diameter > the cap would
    silently split, which downstream consumers like entity resolution and
    leakage-safe splitting cannot detect). Same loud-failure contract as
    ``neardup_clusters`` (operators/neardup.py).

    Scale shape: one neighbor-min shuffle per round, one count per round
    that is also its changed-check (loop in :func:`_min_label_fixpoint`).
    Each round's label frame is CHECKPOINTED, not merely persisted: a
    diameter-12 graph produced a 2 GB plan string before this.

    ``reliable`` picks the checkpoint mode: ``False`` = localCheckpoint
    (executor-memory blocks; fine on one JVM, but an executor loss
    mid-loop kills the query on a cluster), ``True`` = ``.checkpoint()``
    to the reliable checkpoint dir (requires ``sc.setCheckpointDir``;
    frames survive executor loss), ``None`` (default) = auto: reliable
    iff a checkpoint dir is set. Rounds needed = graph diameter; for the
    O(log^2 n)-round guarantee on high-diameter graphs use
    :func:`connected_components_lsss`. Pass a list as ``round_counter`` to
    receive the round count actually used (scale-rehearsal telemetry).
    """
    rel = _resolve_reliable(edges, reliable)
    und = undirected(edges).select("u", "v").persist()
    try:
        labels = _min_label_fixpoint(
            und, max_rounds, rel, "connected_components_converged", round_counter
        )
        return labels.select(
            F.col("u").alias("part_key"), F.col("lbl").cast("long").alias("component")
        )
    finally:
        und.unpersist()


def _min_label_fixpoint(
    sym_edges: DataFrame,
    max_rounds: int,
    rel: bool,
    who: str,
    round_counter: list | None = None,
) -> DataFrame:
    """Min-label propagation over a symmetric ``(u, v)`` edge frame to the
    fixpoint -> ``(u, lbl)``, ``lbl`` keeping the id type; ``who`` leads
    the error raised past ``max_rounds``. Shared by
    :func:`connected_components_converged` and ``neardup_clusters``'
    distributed regime (operators/neardup).

    Each round's frame carries a ``chg`` flag (the label fell this round),
    so the count that materializes the round is also its changed-check: no
    join back against the previous labels and no Limit (see the probe
    comment in :func:`connected_components_lsss`). The label frame is
    lineage-truncated every round: a round reads the previous labels twice
    (neighbor-min, rejoin), so without truncation the logical plan grows
    2^rounds. The returned frame is the last round's, already materialized.
    """
    labels = _truncate_lineage(
        sym_edges.select("u").distinct().withColumn("lbl", F.col("u")), rel
    )
    try:
        for rnd in range(max_rounds):
            nb = (
                sym_edges.join(
                    labels.select(F.col("u").alias("v"), F.col("lbl").alias("nlbl")),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("nlbl").alias("nlbl"))
            )
            new_labels = _truncate_lineage(
                labels.select("u", "lbl").join(nb, "u").select(
                    "u",
                    F.least("lbl", "nlbl").alias("lbl"),
                    (F.col("nlbl") < F.col("lbl")).alias("chg"),
                ),
                rel,
            )
            changed = new_labels.filter("chg").count()
            # the count materialized the new round, the old label frame's
            # last reader — free its blocks now (see checkpoints.release)
            release(labels)
            labels = new_labels
            if changed == 0:
                if round_counter is not None:
                    round_counter.append(rnd + 1)
                return labels.select("u", "lbl")
        raise RuntimeError(
            f"{who}: min-label propagation did not reach the fixpoint within "
            f"{max_rounds} rounds (no fixpoint while a component's diameter "
            "exceeds the cap); raise max_rounds or use connected_components_lsss"
        )
    except BaseException:
        release(labels)
        raise


def connected_components_lsss(
    edges: DataFrame,
    max_rounds: int = 25,
    reliable: bool | None = None,
    round_counter: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the real-scale default: converges in O(log^2 n) rounds
    on ANY diameter (in practice a handful), where plain label propagation
    needs diameter rounds.

    Each round rewrites the canonical ``(big, small)`` edge set over a
    parent forest, one ``min(v) OVER (PARTITION BY u)`` window per star
    step — one exchange plus a sort, and no join back on ``u``:

    - large-star: over the symmetrized edges, every vertex connects its
      LARGER neighbors to m(u) = min(N(u) ∪ {u});
    - small-star: over the large-star edges (big -> small), every vertex
      connects itself and its smaller neighbors to their minimum — both
      edges of a row leave through one ``explode(array(struct...))``
      ahead of the round's single ``distinct``.

    A round is thus three shuffles (two windows, the distinct) and the
    count over its checkpoint. The window buffers a whole partition, so a
    hub vertex's neighbourhood lands in ONE task — it spills rather than
    fails, but that task is the round's straggler on a power-law graph.

    The edge frame shrinks toward the star graph parent->root; fixpoint is
    reached when a round changes nothing (exact and hash-agnostic: unequal
    edge counts prove change, equal counts fall through to an edge-set
    intersection count). Fails loudly past ``max_rounds`` like
    :func:`connected_components_converged`, and takes the same
    ``reliable`` checkpoint-mode switch (None = auto-detect from
    ``sc.getCheckpointDir()``) and ``round_counter`` telemetry list.

    Returns ``(part_key, component)`` where component = min vertex id of
    the part's component.
    """
    rel = _resolve_reliable(edges, reliable)
    # Rounds are lineage-truncated, not merely persisted: each round
    # references the previous edge frame several times (symmetrize, count,
    # diff), so the plan grows exponentially in rounds otherwise (see
    # connected_components_converged).
    #
    # Seed WITHOUT the symmetrized frame (r12, guide §2.4): u∪v over the
    # RAW (src, dst) edges is the vertex set, and greatest/least+distinct
    # canonicalizes direction-insensitively — at half the rows of the old
    # symmetrized seed (measured 4.0 s of cc_large_star_small_star's 7.7 s
    # at sf0.1).
    e0 = _truncate_lineage(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")), rel
    )
    # vertex coverage matches the other two component variants: nodes come
    # from the PRE-self-loop-filter edge set, so a vertex whose only
    # incident edges are self-loops still labels itself (self-loops are
    # then dropped from the contraction — they carry no connectivity).
    all_nodes = compact_persist(
        e0.select("u").union(e0.select(F.col("v").alias("u"))).distinct()
    )
    cur = _truncate_lineage(
        e0.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
        rel,
    )
    by_u = Window.partitionBy("u")
    converged = False
    # local mode: the checkpoints are lazy, so each count materializes its
    # frame's blocks and returns the count in ONE job; the previous
    # round's count is carried, so each round counts only nxt
    cur_n = cur.count()
    try:
        for rnd in range(max_rounds):
            # ---- large-star: emitted (v, m) has v > u >= m, so the output
            # is already (big, small)-canonical. NOT distinct'd: duplicate
            # (v, m) rows only widen the small-star window, and the round's
            # final distinct collapses them.
            sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
            large = (
                sym.select("u", "v", F.least(F.min("v").over(by_u), "u").alias("m"))
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # ---- small-star: m = min of u's smaller neighbours; (v, m) and
            # (u, m) are both (big, small)-canonical since u > v >= m
            star = large.select("u", "v", F.min("v").over(by_u).alias("m")).select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("e")
            )
            nxt = _truncate_lineage(
                star.select("e.u", "e.v").filter(F.col("u") != F.col("v")).distinct(),
                rel,
            )
            # convergence check, cheapest-first and EXACT: unequal counts
            # prove non-convergence; equal counts fall through to the
            # intersection count (both frames are distinct edge sets, so
            # |nxt ∩ cur| == |nxt| == |cur| iff they are equal). No Limit:
            # Spark names a codegen'd limit's counter _limit_counter_<global
            # id>, so a .limit(1) probe compiles fresh classes on EVERY
            # call, which the codegen cache can never hold.
            nxt_n = nxt.count()
            if nxt_n == cur_n:
                converged = nxt.join(cur, ["u", "v"]).count() == nxt_n
            # the superseded round's blocks are dead once nxt's count
            # materialized its checkpoint — free them now instead of
            # waiting for driver GC (bounds residency to two rounds)
            release(cur)
            cur, cur_n = nxt, nxt_n
            if converged:
                if round_counter is not None:
                    round_counter.append(rnd + 1)
                break
        if not converged:
            raise RuntimeError(
                f"connected_components_lsss: star contraction did not converge "
                f"within {max_rounds} rounds"
            )
        # fixpoint edge set is the star forest child->root; roots and
        # isolated-in-forest vertices label themselves
        return all_nodes.join(
            cur.groupBy("u").agg(F.min("v").alias("root")), "u", "left"
        ).select(
            F.col("u").alias("part_key"),
            F.coalesce(F.col("root"), F.col("u")).cast("long").alias("component"),
        )
    finally:
        all_nodes.unpersist()


def hits_bipartite(
    edges: DataFrame, iters: int = 2, reliable: bool | None = None
) -> DataFrame:
    """HITS over a bipartite hub->authority edge list ``(hub, auth)``.

    Hubs start at 1.0; each round pushes hub mass to authorities, L2-
    normalizes, pushes authority mass back to hubs, L2-normalizes. Returns
    ``(side, node_id, score)`` with both final vectors stacked ('hub' /
    'auth' rows) so one frame carries the whole result.

    Scale shape: two shuffles per round (groupBy auth, groupBy hub) plus a
    1-row L2-norm anchor broadcast after each push — the same
    fixed-iteration, broadcast-scalar envelope as :func:`pagerank`.
    ``reliable`` as in :func:`connected_components`.
    """
    rel = _resolve_reliable(edges, reliable)
    e = compact_persist(edges.select("hub", "auth"))
    h = e.select("hub").distinct().withColumn("s", F.lit(1.0))
    a = None
    for _ in range(iters):
        # every push is referenced twice (L2-norm agg + normalize join) —
        # truncate the LINEAGE per half-round, not just the execution:
        # persist() reused blocks but left a 2^(2*iters)-copy logical tree
        # for the analyzer (the 2-iteration plan printed at 33k lines and
        # driver planning dominated the wall; guide §3.3/§7.3)
        a = _truncate_lineage(
            e.join(h, "hub").groupBy("auth").agg(F.sum("s").alias("s")), rel
        )
        na = a.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"))
        a = a.crossJoin(F.broadcast(na)).select(
            "auth", (F.col("s") / F.col("nrm")).alias("s")
        )
        h = _truncate_lineage(
            e.join(a, "auth").groupBy("hub").agg(F.sum("s").alias("s")), rel
        )
        nh = h.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"))
        h = h.crossJoin(F.broadcast(nh)).select(
            "hub", (F.col("s") / F.col("nrm")).alias("s")
        )
    return h.select(
        F.lit("hub").alias("side"),
        F.col("hub").cast("long").alias("node_id"),
        F.round("s", 6).alias("score"),
    ).unionAll(
        a.select(
            F.lit("auth").alias("side"),
            F.col("auth").cast("long").alias("node_id"),
            F.round("s", 6).alias("score"),
        )
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    reliable: bool | None = None,
) -> DataFrame:
    """Hop distance (<= ``max_hops``) from a seed vertex set ``(u)``:
    k rounds of min-hop propagation — round i labels every vertex whose
    shortest seed distance is i. Unreached vertices are absent (their
    distance is unknown at k hops, not infinite).

    Same staged one-shuffle-per-round envelope as
    :func:`connected_components`; the frontier frame is monotone growing
    and bounded by |V|. ``reliable`` as in :func:`connected_components`.
    """
    rel = _resolve_reliable(edges, reliable)
    und = compact_persist(undirected(edges).select("u", "v"))
    dist = seeds.select("u").distinct().withColumn("hop", F.lit(0))
    for _ in range(max_hops):
        # per-round lineage truncation, not persist: the frontier is
        # referenced twice per round and the plan doubles otherwise (see
        # connected_components)
        dist = _truncate_lineage(dist, rel)
        nb = (
            und.join(dist.withColumnRenamed("u", "v").withColumnRenamed("hop", "nhop"), "v")
            .groupBy("u")
            .agg((F.min("nhop") + 1).alias("nhop"))
        )
        dist = (
            dist.join(nb, "u", "full")
            .select("u", F.least("hop", "nhop").alias("hop"))
        )
    return dist.select(
        F.col("u").alias("part_key"), F.col("hop").cast("long").alias("hop")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient: Pearson correlation of endpoint
    degrees over every directed edge incidence (Newman 2002). One |V|-row
    degree aggregate, two broadcast joins, one moment reduction — no
    per-vertex state beyond the degree table."""
    und = undirected(edges).select("u", "v")
    deg = und.groupBy("u").agg(F.count("*").cast("double").alias("d"))
    pairs = und.join(
        F.broadcast(deg), "u"
    ).join(
        F.broadcast(deg.withColumnRenamed("u", "v").withColumnRenamed("d", "dv")),
        "v",
    ).select(F.col("d").alias("x"), F.col("dv").alias("y"))
    m = pairs.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    den = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_incidences"),
        F.round(num / F.when(den != 0, den), 6).alias("assortativity"),
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient WITHOUT a wedge-sized
    shuffle: reuse the triangle intersection — every element w of
    N+(lo) ∩ N+(hi) closes triangle {lo, hi, w}, so exploding the
    intersection and crediting all THREE corners yields exact per-vertex
    triangle counts in 3·#triangles rows (output-bounded, like the
    global count). Coefficient = t_v / C(d_v, 2); degree-1 vertices get 0.
    """
    edges = compact_persist(edges)
    deg = (
        undirected(edges).groupBy("u").agg(F.count("*").cast("long").alias("d"))
    )
    lo_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    e = (
        edges.join(F.broadcast(deg.withColumnRenamed("u", "src").withColumnRenamed("d", "ds")), "src")
        .join(F.broadcast(deg.withColumnRenamed("u", "dst").withColumnRenamed("d", "dd")), "dst")
        .select(
            F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
            F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        )
    )
    e = compact_persist(e)
    adj = e.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    tri_corners = (
        e.join(adj.select(F.col("lo"), F.col("nbrs").alias("n_lo")), "lo")
        .join(adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("n_hi")), "hi")
        .select(
            "lo", "hi", F.explode(F.array_intersect("n_lo", "n_hi")).alias("w")
        )
    )
    per_vertex = (
        tri_corners.select(F.col("lo").alias("u"))
        .unionAll(tri_corners.select(F.col("hi").alias("u")))
        .unionAll(tri_corners.select(F.col("w").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("t"))
    )
    return (
        deg.join(per_vertex, "u", "left")
        .select(
            F.col("u").alias("part_key"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    F.coalesce("t", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1) / 2.0),
                ).otherwise(0.0),
                6,
            ).alias("clustering_coeff"),
        )
    )


def kcore_vertices(edges: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """Bounded-round k-core peeling: each round removes vertices whose
    degree within the SURVIVING subgraph is < k; after enough rounds the
    fixpoint is the exact k-core (fixed rounds keep the result
    deterministic and oracle-unrollable, as with
    :func:`connected_components`). Returns survivors with their final
    within-core degree.

    Scale shape: one degree aggregation per round over the alive-filtered
    edge frame; the alive set is |V| rows and referenced by both endpoints
    each round, so it is STAGED (see the 2^rounds hazard note there).
    """
    und = compact_persist(undirected(edges).select("u", "v"))
    alive = und.select("u").distinct()
    deg = None
    for _ in range(rounds):
        alive = compact_persist(alive)
        e = und.join(alive, "u").join(
            alive.withColumnRenamed("u", "v"), "v"
        )
        deg = e.groupBy("u").agg(F.count("*").cast("long").alias("d"))
        alive = deg.filter(F.col("d") >= k).select("u")
    return deg.filter(F.col("d") >= k).select(
        F.col("u").alias("part_key"), F.col("d").alias("core_degree")
    )


def link_prediction_scores(edges: DataFrame) -> DataFrame:
    """Common-neighbors / Jaccard / Adamic-Adar scores for every existing
    edge (the self-supervised calibration set for link prediction — score
    candidate non-edges with the same formulas at serving time).

    Reuses the adjacency-array intersection: |N(u) ∩ N(v)| from one
    array_intersect, the union size by inclusion-exclusion from the two
    degrees, and Adamic-Adar by exploding the (3·#triangles-row bounded)
    intersection and joining each common neighbor's degree — never a
    wedge-sized shuffle.
    """
    und = compact_persist(undirected(edges).select("u", "v"))
    adj = und.groupBy("u").agg(
        F.collect_list("v").alias("nbrs"), F.count("*").cast("long").alias("d")
    )
    a_u = adj.select(
        F.col("u").alias("src"), F.col("nbrs").alias("n_u"), F.col("d").alias("du")
    )
    a_v = adj.select(
        F.col("u").alias("dst"), F.col("nbrs").alias("n_v"), F.col("d").alias("dv")
    )
    base = (
        edges.select("src", "dst")
        .join(a_u, "src")
        .join(a_v, "dst")
        .select(
            "src",
            "dst",
            "du",
            "dv",
            F.array_intersect("n_u", "n_v").alias("common"),
        )
    )
    base = compact_persist(
        base.select(
            "src", "dst", "du", "dv", "common", F.size("common").alias("cn")
        )
    )
    deg = adj.select(F.col("u").alias("w"), F.col("d").alias("dw"))
    aa = (
        base.select("src", "dst", F.explode("common").alias("w"))
        .join(F.broadcast(deg), "w")
        .groupBy("src", "dst")
        .agg(F.sum(1.0 / F.log("dw")).alias("aa"))
    )
    return (
        base.join(aa, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.round(
                F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(F.coalesce("aa", F.lit(0.0)), 6).alias("adamic_adar"),
        )
    )
