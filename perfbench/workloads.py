"""The two workloads. Each runs through the package's public functions,
times its operations in a closed loop (one client, each operation run to
completion before the next), checks its outputs, and with tracing on
records spans and the standalone per-layer values.

- ``ingest``: backfill from an empty warehouse (the set-up), then hourly
  incremental cycles, then one maintenance pass. The operation is a cycle.
- ``analytics``: ClickHouse-dialect queries and zone-map point lookups over
  an uncompacted warehouse, then connected components, PageRank and
  MinHash-LSH on planted inputs. The operation is a round: every query
  kind on both markets, then every graph operation, in a fixed order.

Each workload times its set-up once, warms up untimed, then runs its loop.
Every timed call records its wall time and the CPU time the process tree
spent on it; an operation's CPU time is the sum over its calls.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.trace import Tracer, tree_cpu_seconds

# warehouse shape: 2 spot + 4 perp symbols of 1m bars
N_SPOT, N_PERP = 4, 4
BACKFILL_DAYS = 3
FETCH_PARTITIONS = 4
#: ingest: untimed warm-up cycles, then timed cycles per run, at least
WARMUP_CYCLES = 2
MIN_CYCLES = 3
#: maintenance compacts a month once it holds this many files
MAINTAIN_MIN_FILES = 4
#: analytics: overlapping revision batches appended to the warehouse
REVISIONS = 2
REVISION_HOURS = 8
#: analytics: hours a range query covers, rows per symbol of LIMIT n BY
QUERY_HOURS = 4
LIMIT_BY_N = 3
#: analytics: timed rounds per run, at least
MIN_ROUNDS = 1
# analytics: planted graph and corpus
GRAPH_COMPONENTS, GRAPH_SIZE = 400, 10
DEDUP_GROUPS, DEDUP_GROUP_SIZE, DEDUP_NOISE = 150, 4, 300
JACCARD_THRESHOLD = 0.5


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """One progress line on stderr, stamped with the seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr)


@dataclass
class Run:
    """State shared by a workload run: session, tracer, counters, results."""

    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    #: CPU time of every completed operation (a cycle or a round)
    op_cpu_s: list[float] = field(default_factory=list)
    #: whether this is a traced run (set once, from the tracer)
    traced: bool = field(init=False)
    #: standalone per-layer values (traced runs)
    layer: dict[str, float] = field(default_factory=dict)
    #: operation kind -> (untraced times, traced times); a traced run
    #: alternates the two so the tracing overhead can be measured
    samples: dict[str, tuple[list[float], list[float]]] = field(default_factory=dict)

    #: the benchmark's process, root of the tree whose CPU time is measured
    pid: int = field(init=False, default_factory=os.getpid)

    def __post_init__(self) -> None:
        self.traced = self.tracer.enabled

    @contextlib.contextmanager
    def tracing(self, on: bool):
        """Spans on or off for the operations inside; a traced run
        alternates traced and untraced operations to measure the overhead."""
        self.tracer.enabled = on
        try:
            yield
        finally:
            self.tracer.enabled = self.traced

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failure and is
        reported on stderr. Returns ``(ok, result)``."""
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
            self.failed += 1
            log(f"{what} failed:")
            traceback.print_exc()
            return False, None

    def check(self, what: str, failures: list[str]) -> None:
        """Count one correctness check; failures go to stderr."""
        self.attempted += 1
        if failures:
            self.failed += 1
            for f in failures:
                log(f"check {what} failed: {f}")

    def set_up(self, what: str, fn, *args):
        """Run the set-up once and time it as ``setup_s``. Returns its
        result, or ``None`` if it failed."""
        t0 = time.perf_counter()
        ok, result = self.attempt(what, fn, *args)
        self.setup_s = time.perf_counter() - t0
        log(f"set-up {self.setup_s:.3f} s")
        return result if ok else None

    def timed(self, what: str, fn, *args) -> tuple[float, float] | None:
        """Wall and CPU time of one call of the closed loop; ``None`` if it
        failed."""
        c0, t0 = tree_cpu_seconds(self.pid), time.perf_counter()
        ok, _ = self.attempt(what, fn, *args)
        took = time.perf_counter() - t0, tree_cpu_seconds(self.pid) - c0
        return took if ok else None

    def record(self, kind: str, took: tuple[float, float], traced: bool) -> None:
        wall, cpu = took
        log(f"{kind} {wall:.3f} s, cpu {cpu:.3f} s{' traced' if traced else ''}")
        self.samples.setdefault(kind, ([], []))[traced].append(wall)

    def loop_done(self, t_start: float, n: int, min_n: int) -> bool:
        return n >= min_n and time.perf_counter() - t_start >= self.seconds

    def persistent_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())


# ---------------------------------------------------------------- ingest


def _pipeline_config():
    from binance_etl_clickhouse_spark.pipeline import PipelineConfig

    return PipelineConfig(
        intervals=[gen.INTERVAL],
        start_ms=gen.ORIGIN_MS,
        end_ms=gen.ORIGIN_MS + BACKFILL_DAYS * gen.DAY_MS - gen.MINUTE_MS,
        fetch_partitions=FETCH_PARTITIONS,
        n_spot_symbols=N_SPOT,
        n_perp_symbols=N_PERP,
    )


def _instrument(p, tracer: Tracer) -> None:
    """Spans around the pipeline's stages: instance attributes shadow the
    methods, so ``update_all``'s own calls to its stages are traced too."""
    for stage in (
        "update_all", "update_symbols", "update_klines", "update_klines_incremental",
        "update_funding_rates", "update_margin_rates", "maintain",
    ):
        setattr(p, stage, tracer.wrap(f"pipeline.{stage}", getattr(p, stage)))
    p.klines_daily.refresh = tracer.wrap("storage.rollup.refresh", p.klines_daily.refresh)


def _model_fetch(model: gen.KlineModel, end_ms: int) -> None:
    """Advance the expected state by one fetch of each market, and refuse
    a fetch whose page calls could make a fetch task's token bucket wait:
    the benchmark measures the program, not the simulated API budget."""
    for market in (gen.SPOT, gen.PERP):
        calls = model.fetch(market, end_ms)
        burst = gen.bucket_burst_calls(market, FETCH_PARTITIONS)
        if calls > burst:
            raise ValueError(
                f"{market} fetch makes {calls} page calls; a fetch task's "
                f"token bucket bursts only {burst}"
            )


def _storage_stats(run: Run, table) -> None:
    """Files, bytes per stored row and versions per key of a serving table."""
    from binance_etl_clickhouse_spark.storage import zonemap

    files = zonemap.data_files(table.path)
    size = sum(os.path.getsize(os.path.join(table.path, f)) for f in files)
    raw = table.read_raw(run.spark).count()
    live = table.read(run.spark).count()
    run.layer["storage.table.files"] = len(files)
    run.layer["storage.table.bytes_per_row"] = size / raw
    run.layer["storage.table.versions_per_key"] = raw / live


def _snapshot(spark, p) -> dict:
    from pyspark.sql import functions as F

    rows = p.klines.read(spark).select(
        "symbol", "type", F.unix_millis("timestamp").alias("ts"), "close", "volume"
    ).collect()
    return {(r.symbol, r.type, r.ts): (r.close, r.volume) for r in rows}


def _daily(spark, p) -> dict:
    from pyspark.sql import functions as F

    rows = p.klines_daily.read(spark).select(
        "symbol", "type", F.unix_millis("bucket").alias("day"),
        "open", "high", "low", "close", "volume", "n_bars",
    ).collect()
    return {
        (r.symbol, r.type, r.day): {
            "open": r.open, "high": r.high, "low": r.low, "close": r.close,
            "volume": r.volume, "n_bars": r.n_bars,
        }
        for r in rows
    }


def ingest(run: Run) -> None:
    from binance_etl_clickhouse_spark.pipeline import Pipeline

    spark = run.spark
    cfg = _pipeline_config()
    counters = None
    if run.traced:
        counters = tuple(spark.sparkContext.accumulator(0) for _ in range(3))
    model = gen.KlineModel(gen.KlineSource(run.seed), N_SPOT, N_PERP)
    _model_fetch(model, cfg.end_ms)
    p = Pipeline(spark, os.path.join(run.work_dir, "wh"), cfg,
                 page_fn=gen.KlineSource(run.seed, counters))
    _instrument(p, run.tracer)

    # set-up: an empty warehouse backfilled through update_all
    if run.set_up("backfill", p.update_all) is None:
        return

    def cycle():
        p.update_klines_incremental(gen.SPOT, gen.INTERVAL)
        p.update_klines_incremental(gen.PERP, gen.INTERVAL)
        p.update_funding_rates()
        p.update_margin_rates()
        p.klines_daily.refresh(spark)

    def next_hour():
        # new bars become available: one more hour at the source
        cfg.end_ms += gen.HOUR_MS
        _model_fetch(model, cfg.end_ms)

    # warm-up: the first cycles run the incremental fetch path cold
    with run.tracing(False):
        for _ in range(WARMUP_CYCLES):
            next_hour()
            if not run.attempt("warm-up cycle", cycle)[0]:
                return
    log("warm-up done")

    t_loop = time.perf_counter()
    # a traced run alternates untraced, traced, untraced cycles
    while not run.loop_done(t_loop, len(run.op_cpu_s), MIN_CYCLES + run.traced):
        next_hour()
        traced = run.traced and len(run.op_cpu_s) % 2 == 1
        with run.tracing(traced):
            took = run.timed("cycle", cycle)
        if took is None:
            break
        run.record("cycle", took, traced)
        run.op_cpu_s.append(took[1])

    if run.traced:
        _storage_stats(run, p.klines)
    run.attempt("maintain", p.maintain, MAINTAIN_MIN_FILES)
    log("maintain done")
    run.check("ingest.snapshot", checks.check_snapshot(_snapshot(spark, p), model.rows))
    run.check("ingest.rollup", checks.check_daily(_daily(spark, p), model.daily()))
    if run.traced:
        pages, rows, micros = counters
        run.layer["sources.pages"] = pages.value
        run.layer["sources.rows"] = rows.value
        run.layer["sources.page_fn_s"] = micros.value / 1e6


# ---------------------------------------------------------------- analytics

#: query templates: name -> (ClickHouse-dialect text, plain Spark SQL twin).
#: Every template selects all of its ORDER BY columns.
TEMPLATES = {
    "latest_bar": (
        "SELECT symbol, argMax(close, timestamp) AS last_close, max(timestamp) AS last_ts "
        "FROM bn_klines FINAL WHERE symbol = '{sym}' AND type = '{typ}' GROUP BY symbol",
        "SELECT symbol, max_by(close, timestamp) AS last_close, max(timestamp) AS last_ts "
        "FROM bn_klines WHERE symbol = '{sym}' AND type = '{typ}' GROUP BY symbol",
    ),
    "hourly_ohlcv": (
        "SELECT symbol, toStartOfHour(timestamp) AS h, argMin(open, timestamp) AS o, "
        "max(high) AS hi, min(low) AS lo, argMax(close, timestamp) AS c, sum(volume) AS v "
        "FROM bn_klines FINAL WHERE symbol = '{sym}' AND type = '{typ}' "
        "AND timestamp >= toDateTime('{t0}') AND timestamp < toDateTime('{t1}') "
        "GROUP BY symbol, h ORDER BY symbol, h",
        "SELECT symbol, date_trunc('HOUR', timestamp) AS h, min_by(open, timestamp) AS o, "
        "max(high) AS hi, min(low) AS lo, max_by(close, timestamp) AS c, sum(volume) AS v "
        "FROM bn_klines WHERE symbol = '{sym}' AND type = '{typ}' "
        "AND timestamp >= TIMESTAMP '{t0}' AND timestamp < TIMESTAMP '{t1}' "
        "GROUP BY symbol, h ORDER BY symbol, h",
    ),
    "monthly_quantiles": (
        "SELECT symbol, toYYYYMM(timestamp) AS m, quantiles(0.5, 0.9)(close) AS q "
        "FROM bn_klines FINAL WHERE type = '{typ}' GROUP BY symbol, m ORDER BY symbol, m",
        "SELECT symbol, year(timestamp) * 100 + month(timestamp) AS m, "
        "percentile_approx(close, array(0.5, 0.9)) AS q "
        "FROM bn_klines WHERE type = '{typ}' GROUP BY symbol, m ORDER BY symbol, m",
    ),
    "limit_by": (
        "SELECT symbol, volume, timestamp FROM bn_klines FINAL WHERE type = '{typ}' "
        "ORDER BY symbol, volume DESC, timestamp LIMIT {n} BY symbol",
        "SELECT symbol, volume, timestamp FROM (SELECT symbol, volume, timestamp, "
        "row_number() OVER (PARTITION BY symbol ORDER BY volume DESC, timestamp) AS rn "
        "FROM bn_klines WHERE type = '{typ}') WHERE rn <= {n} "
        "ORDER BY symbol, volume DESC, timestamp",
    ),
    "asof_funding": (
        "SELECT k.symbol, k.timestamp, k.close, f.fundingRate "
        "FROM bn_klines AS k ASOF JOIN bn_funding_rates AS f "
        "ON k.symbol = f.symbol AND k.timestamp >= f.fundingTime "
        "WHERE k.type = 'PERPETUAL' AND k.symbol = '{sym}' "
        "AND k.timestamp >= toDateTime('{t0}') AND k.timestamp < toDateTime('{t1}') "
        "ORDER BY k.symbol, k.timestamp",
        "SELECT k.symbol, k.timestamp, k.close, max_by(f.fundingRate, f.fundingTime) AS fundingRate "
        "FROM bn_klines AS k JOIN bn_funding_rates AS f "
        "ON k.symbol = f.symbol AND k.timestamp >= f.fundingTime "
        "WHERE k.type = 'PERPETUAL' AND k.symbol = '{sym}' "
        "AND k.timestamp >= TIMESTAMP '{t0}' AND k.timestamp < TIMESTAMP '{t1}' "
        "GROUP BY k.symbol, k.timestamp, k.close ORDER BY k.symbol, k.timestamp",
    ),
    "rollup_daily": (
        "SELECT symbol, toDate(bucket) AS day, open, high, low, close, volume, n_bars "
        "FROM bn_klines_daily WHERE type = '{typ}' ORDER BY symbol, day",
        "SELECT symbol, to_date(date_trunc('DAY', timestamp)) AS day, "
        "min_by(open, timestamp) AS open, max(high) AS high, min(low) AS low, "
        "max_by(close, timestamp) AS close, sum(volume) AS volume, count(1) AS n_bars "
        "FROM bn_klines WHERE type = '{typ}' GROUP BY symbol, day ORDER BY symbol, day",
    ),
}
#: the zone-map point lookup issued between the SQL templates
POINT_LOOKUP = "point_lookup"
KINDS = (*TEMPLATES, POINT_LOOKUP)
MARKETS = (gen.SPOT, gen.PERP)


def _ts(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def query_params(rng: random.Random, typ: str) -> dict:
    """One seeded parameter set for market ``typ``, valid for every template.
    The seed picks symbols and windows only, which cost the same, so the
    work of a round does not depend on the seed."""
    syms = gen.spot_symbols(N_SPOT) if typ == gen.SPOT else gen.perp_symbols(N_PERP)
    start = gen.ORIGIN_MS + rng.randrange(BACKFILL_DAYS * 24 - QUERY_HOURS) * gen.HOUR_MS
    return {
        "typ": typ,
        "sym": rng.choice(syms),
        "perp_sym": rng.choice(gen.perp_symbols(N_PERP)),
        "t0": start,
        "t1": start + QUERY_HOURS * gen.HOUR_MS,
        "n": LIMIT_BY_N,
    }


def template_sql(kind: str, params: dict, twin: bool = False) -> str:
    text = TEMPLATES[kind][1 if twin else 0]
    sym = params["perp_sym"] if kind == "asof_funding" else params["sym"]
    return text.format(
        typ=params["typ"], sym=sym, n=params["n"],
        t0=_ts(params["t0"]), t1=_ts(params["t1"]),
    )


def _point_predicates(params: dict) -> dict:
    return {
        "symbol": ("eq", params["sym"]),
        "timestamp": ("between", _utc(params["t0"]), _utc(params["t1"])),
    }


def _point_twin(params: dict) -> str:
    return (
        f"SELECT * FROM bn_klines WHERE symbol = '{params['sym']}' "
        f"AND timestamp BETWEEN TIMESTAMP '{_ts(params['t0'])}' "
        f"AND TIMESTAMP '{_ts(params['t1'])}'"
    )


def _utc(ms: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).replace(tzinfo=None)


def _clean_row(symbol: str, market: str, raw: list) -> tuple:
    """A raw kline as a serving ``KLINES`` row (the cleaning the pipeline
    applies: ms -> timestamps, strings -> doubles)."""
    f = [float(x) for x in raw[1:6]]
    return (
        symbol, "binance", market, gen.INTERVAL, _utc(raw[0]), _utc(raw[6]),
        *f, float(raw[7]), int(raw[8]), float(raw[9]), float(raw[10]),
    )


def _append_revisions(run: Run, p) -> None:
    """``REVISIONS`` overlapping batches of revised bars, appended through
    ``ServingTable.append`` and left uncompacted."""
    from pyspark.sql import functions as F

    rng = random.Random(run.seed)
    for r in range(REVISIONS):
        start = gen.ORIGIN_MS + rng.randrange(BACKFILL_DAYS * 24 - REVISION_HOURS) * gen.HOUR_MS
        lo, hi = _ts(start), _ts(start + REVISION_HOURS * gen.HOUR_MS)
        batch = (
            p.klines.read(run.spark)
            .filter(F.col("timestamp").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")))
            .withColumn("close", F.col("close") + 0.01 * (r + 1))
            .withColumn("volume", F.col("volume") + float(r + 1))
            .drop("ingest_seq", "month")
        )
        p.klines.append(batch, p.klines.max_ingest_seq(run.spark) + 1)


def _kline_rows(run: Run) -> list[tuple]:
    """The generated klines a backfill would serve, as ``KLINES`` rows."""
    model = gen.KlineModel(gen.KlineSource(run.seed), N_SPOT, N_PERP)
    _model_fetch(model, _pipeline_config().end_ms)
    return [_clean_row(sym, market, raw) for (sym, market, _), raw in model.rows.items()]


def _warehouse(run: Run, rows: list[tuple]):
    """The served warehouse: ``rows`` appended through the serving table,
    funding rates through their pipeline stage, overlapping revision
    batches left uncompacted (so every ``FINAL`` read pays keep-last), the
    daily rollup refreshed, a zone map, and the views registered."""
    from binance_etl_clickhouse_spark import schemas
    from binance_etl_clickhouse_spark.engine import AnalyticsEngine
    from binance_etl_clickhouse_spark.pipeline import Pipeline

    spark = run.spark
    p = Pipeline(spark, os.path.join(run.work_dir, "wh"), _pipeline_config())
    p.klines.append(spark.createDataFrame(rows, schemas.KLINES), 1)
    p.update_funding_rates()
    _append_revisions(run, p)
    p.klines_daily.refresh(spark)
    p.klines.build_zonemap()
    eng = AnalyticsEngine(spark, verbose=False)
    eng.register_clickhouse_compat()
    eng.register_pipeline_tables(p)
    p.klines_daily.read(spark).createOrReplaceTempView("bn_klines_daily")
    return p, eng


def _planted(run: Run) -> dict:
    """Planted graph and corpus, with what they must yield."""
    edges, labels = gen.planted_graph(run.seed, GRAPH_COMPONENTS, GRAPH_SIZE)
    docs, planted = gen.planted_corpus(run.seed, DEDUP_GROUPS, DEDUP_GROUP_SIZE, DEDUP_NOISE)
    return {
        "edge_list": edges, "labels": labels, "doc_rows": docs,
        "texts": dict(docs), "planted": planted,
    }


def _graph_inputs(run: Run, planted: dict) -> dict:
    """``planted`` with its graph and corpus loaded as cached DataFrames."""
    from pyspark.sql import functions as F

    edf = (
        run.spark.createDataFrame(planted["edge_list"], "src long, dst long")
        .withColumn("w", F.lit(1.0))
        .cache()
    )
    ddf = run.spark.createDataFrame(planted["doc_rows"], "doc_id long, text string").cache()
    edf.count()
    ddf.count()
    return {**planted, "edges": edf, "docs": ddf}


def _components(run: Run, inp: dict, out: dict) -> None:
    from binance_etl_clickhouse_spark.operators.graph import connected_components_lsss

    rounds: list[int] = []
    with run.tracer.span("operators.graph.connected_components_lsss"):
        out["components"] = connected_components_lsss(inp["edges"], round_counter=rounds).collect()
    out["lsss_rounds"] = rounds[0]


def _pagerank(run: Run, inp: dict, out: dict) -> None:
    from binance_etl_clickhouse_spark.operators.graph import pagerank

    with run.tracer.span("operators.graph.pagerank"):
        out["pagerank"] = pagerank(inp["edges"]).collect()


def _neardup(run: Run, inp: dict, out: dict) -> None:
    from pyspark.sql import Observation

    from binance_etl_clickhouse_spark.operators.neardup import minhash_lsh_pairs

    overflow = Observation("perfbench_overflow")
    with run.tracer.span("operators.neardup.minhash_lsh_pairs"):
        out["neardup"] = minhash_lsh_pairs(
            inp["docs"], threshold=JACCARD_THRESHOLD, overflow=overflow
        ).collect()
    out["overflow_rows"] = overflow.get["overflow_rows"]


#: the graph and near-duplicate operations, each collected to the driver
GRAPH_OPS = {"components": _components, "pagerank": _pagerank, "neardup": _neardup}


def _check_graph(run: Run, inp: dict, out: dict, reference: dict) -> None:
    texts = inp["texts"]
    run.check("components", checks.check_components(
        {r.part_key: r.component for r in out["components"]}, inp["labels"]))
    run.check("pagerank", checks.check_pagerank(
        {r.part_key: r.pagerank for r in out["pagerank"]}, reference))
    run.check("neardup", checks.check_pairs(
        {(r.d1, r.d2): r.jaccard for r in out["neardup"]},
        inp["planted"],
        lambda a, b: gen.jaccard(texts[a], texts[b]),
        JACCARD_THRESHOLD,
    ))


def analytics(run: Run) -> None:
    from binance_etl_clickhouse_spark.dialect import translate_clickhouse_sql
    from binance_etl_clickhouse_spark.storage import zonemap

    spark = run.spark
    tracer = run.tracer

    bars, planted = _kline_rows(run), _planted(run)
    log("inputs generated")

    def set_up():
        p, eng = _warehouse(run, bars)
        return p, eng, _graph_inputs(run, planted)

    state = run.set_up("set-up", set_up)
    if state is None:
        return
    p, eng, inp = state
    reference = gen.pagerank_reference(inp["edge_list"])
    if run.traced:
        _storage_stats(run, p.klines)

    def sql_query(query: str):
        with tracer.span("engine.sql"):
            df = eng.sql(query, dialect="clickhouse")
        with tracer.span("engine.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("engine.execute"):
            return df.collect()

    def point_lookup(params: dict):
        with tracer.span("storage.table.read_pruned"):
            return p.klines.read_pruned(spark, _point_predicates(params)).collect()

    def query(kind: str, params: dict):
        if kind == POINT_LOOKUP:
            return point_lookup(params)
        return sql_query(template_sql(kind, params))

    # warm-up: every query kind on both markets, each kind checked on one
    # of them against its plain-SQL twin, then one pass of the graph
    # operations
    rng = random.Random(run.seed)
    with run.tracing(False):
        for i, kind in enumerate(KINDS):
            run.attempt(kind, query, kind, query_params(rng, MARKETS[1 - i % 2]))
            params = query_params(rng, MARKETS[i % 2])
            ok, rows = run.attempt(kind, query, kind, params)
            if not ok:
                continue
            if kind == POINT_LOOKUP:
                def key(r):
                    return (r.type, r.timestamp)
                twin = spark.sql(_point_twin(params)).collect()
                run.check(kind, checks.check_rows(sorted(rows, key=key), sorted(twin, key=key)))
            else:
                twin = spark.sql(template_sql(kind, params, twin=True)).collect()
                run.check(kind, checks.check_rows(rows, twin))
        out: dict = {}
        if all(run.attempt(name, fn, run, inp, out)[0] for name, fn in GRAPH_OPS.items()):
            _check_graph(run, inp, out, reference)

    log("warm-up done")
    translate_s: list[float] = []
    kept_frac: list[float] = []
    rdds: list[int] = []
    n_files = len(zonemap.data_files(p.klines.path))
    zm = zonemap.read_zonemap(p.klines.path)
    outs: list[dict] = []
    t_loop = time.perf_counter()
    rounds = 0
    while not run.loop_done(t_loop, rounds, MIN_ROUNDS + run.traced):
        # a round runs every query kind once per market and then every
        # graph operation, in a fixed order; a traced run traces every
        # other operation, so each kind is timed both ways
        plan = [(kind, query_params(rng, typ)) for typ in MARKETS for kind in KINDS]
        round_cpu: list[float] = []
        for j, (kind, params) in enumerate(plan):
            traced = run.traced and (rounds + j) % 2 == 1
            if traced and kind == POINT_LOOKUP:
                kept = zonemap.prune_files(zm, p.klines.path, _point_predicates(params))
                kept_frac.append(len(kept) / n_files)
            elif traced:
                t_tr = time.perf_counter()
                translate_clickhouse_sql(template_sql(kind, params))
                translate_s.append(time.perf_counter() - t_tr)
            with run.tracing(traced):
                took = run.timed(kind, query, kind, params)
            if took is not None:
                run.record(kind, took, traced)
                round_cpu.append(took[1])
        out = {}
        graph_ok = True
        for j, (name, fn) in enumerate(GRAPH_OPS.items(), start=len(plan)):
            traced = run.traced and (rounds + j) % 2 == 1
            with run.tracing(traced):
                took = run.timed(name, fn, run, inp, out)
            if took is None:
                graph_ok = False
                continue
            run.record(name, took, traced)
            round_cpu.append(took[1])
            if traced:
                rdds.append(run.persistent_rdds())
        if graph_ok:
            outs.append(out)
        if len(round_cpu) == len(plan) + len(GRAPH_OPS):
            run.op_cpu_s.append(sum(round_cpu))
        rounds += 1

    for out in outs:
        _check_graph(run, inp, out, reference)
    log("checks done")
    if run.traced and outs:
        run.layer["operators.graph.lsss_rounds"] = outs[-1]["lsss_rounds"]
        run.layer["operators.neardup.pairs"] = len(outs[-1]["neardup"])
        run.layer["operators.neardup.overflow_rows"] = outs[-1]["overflow_rows"]
    if run.traced:
        untraced = {k: run.samples[k][0] for k in KINDS}
        sql_s = [t for k in TEMPLATES for t in untraced[k]]
        run.layer["dialect.translate_ms"] = statistics.fmean(translate_s) * 1000
        run.layer["dialect.translate_share"] = (
            statistics.fmean(translate_s) / statistics.fmean(sql_s)
        )
        for kind in TEMPLATES:
            run.layer[f"serve_sql.{kind}.p50_ms"] = statistics.median(untraced[kind]) * 1000
        run.layer["serve_sql.query_p90_ms"] = (
            statistics.quantiles([t for k in KINDS for t in untraced[k]], n=10)[-1] * 1000
        )
        run.layer["storage.zonemap.files_kept_frac"] = statistics.fmean(kept_frac)
        run.layer["checkpoints.persistent_rdds_after"] = max(rdds)


WORKLOADS = {"ingest": ingest, "analytics": analytics}
