"""Paginated historical fetch as a distributed Spark source.

The reference fans out a ThreadPool over symbols, each thread running a
watermark-pagination loop against the Binance REST API
(crypto_data_pipeline_clickhouse.py:249-302, :412-423). Here the same loop
runs inside ``mapInPandas`` partitions: the symbol dimension is repartitioned
across the cluster, each task paginates its symbols with a partition-local
token bucket (global budget divided), retry-with-backoff, and the
``least(end, delivery_date)`` bound — yielding Arrow batches of raw kline
pages. Spark's task scheduler replaces the thread pool; a failed task is
retried by Spark (``spark.task.maxFailures``) on top of in-loop retries.

Two fetch backends share the pagination loop via the ``page_fn`` seam:

- :func:`synthetic_page_fn` — deterministic offline pages (tests/bench);
- :func:`binance_rest_page_fn` — real REST GET via stdlib urllib, with the
  reference's retry/backoff/ban handling (C3/C4). Untestable offline; kept
  import-light and clearly gated.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.sources.ratelimit import TokenBucket

#: raw page row: 12 kline fields (strings + ms longs) as the API returns them
RAW_PAGE_COLUMNS = [
    "timestamp",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "close_time",
    "quote_volume",
    "trades_count",
    "taker_buy_volume",
    "taker_buy_quote_volume",
    "ignore",
]

RAW_FETCH_SCHEMA = (
    "symbol string, src_order long, timestamp long, open string, high string, "
    "low string, close string, volume string, close_time long, "
    "quote_volume string, trades_count long, taker_buy_volume string, "
    "taker_buy_quote_volume string, ignore string, fetch_error string"
)

# page_fn(symbol, start_ms, end_ms, limit) -> list of 12-element kline rows
PageFn = Callable[[str, int, int, int], list[list]]

# per-source predicate: does this exception mean "benign end-of-data"?
BenignFn = Callable[[Exception], bool]


def binance_error_code(e: Exception) -> int | None:
    """Structurally extract the Binance API error code from an exception.

    Prefers the parsed ``binance_code`` attribute that
    :func:`binance_rest_page_fn` attaches from the JSON error body; falls
    back to locating a ``"code": N`` JSON field in the exception text.
    Never matches a bare number in free-form message text, so an unrelated
    error whose *message* happens to mention ``-1102`` is not misread.
    """
    code = getattr(e, "binance_code", None)
    if code is not None:
        try:
            return int(code)
        except (TypeError, ValueError):
            return None
    import re

    m = re.search(r'"code"\s*:\s*(-?\d+)', str(e))
    return int(m.group(1)) if m else None


def margin_rate_benign_error(e: Exception) -> bool:
    """Margin-interest-rate scope ONLY (reference additional_data.py:164-165):
    the endpoint answers -1102 for assets it doesn't carry — benign
    end-of-data, not a failure. Every other source treats -1102 as the
    generic 'mandatory parameter empty/malformed' client error it is."""
    return binance_error_code(e) == -1102


class MaxPerKey(AccumulatorParam):
    """Accumulator of ``{key: max value}`` dicts (merged by per-key max)."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, acc: dict, other: dict) -> dict:
        for k, v in other.items():
            if k not in acc or v > acc[k]:
                acc[k] = v
        return acc


@dataclass
class FetchConfig:
    interval: str = "1h"
    page_limit: int = 1000  # 1000 spot / 499 perp (reference :272)
    weight_per_call: int = 2
    budget_calls: int = 2750  # per period across the whole job (reference :48-52)
    budget_period_s: float = 60.0
    max_retries: int = 3  # reference @retry(stop_after_attempt(3))
    backoff_base_s: float = 0.5
    # per-source benign-error predicate: exception -> True means "treat as
    # empty page / end-of-data" (no retries, no sentinel). None (default)
    # = every error is a real failure. The margin-rate source passes
    # margin_rate_benign_error; nothing else maps errors to empty.
    benign_empty: BenignFn | None = None


def paginate_symbol(
    symbol: str,
    start_ms: int,
    end_ms: int,
    page_fn: PageFn,
    cfg: FetchConfig,
    bucket: TokenBucket | None = None,
) -> Iterator[pd.DataFrame]:
    """Watermark-pagination loop for one symbol (reference :275-289).

    Fetch a page, advance ``current = last_ts + 1``, stop when past end or
    the page comes back short/empty. Each yielded page carries ``src_order``
    (its position in arrival order) so downstream keep-last dedup preserves
    the last-page-wins semantic for overlaps.
    """
    current = start_ms
    page_i = 0
    while current <= end_ms:
        if bucket is not None:
            bucket.acquire(cfg.weight_per_call)
        rows = _with_retry(page_fn, symbol, current, end_ms, cfg)
        if not rows:
            break
        pdf = pd.DataFrame(rows, columns=RAW_PAGE_COLUMNS)
        pdf.insert(0, "src_order", page_i)
        pdf.insert(0, "symbol", symbol)
        pdf["fetch_error"] = None
        yield pdf
        last_ts = int(pdf["timestamp"].iloc[-1])
        if last_ts + 1 <= current:  # no forward progress -> stop
            break
        current = last_ts + 1
        page_i += 1
        if len(rows) < cfg.page_limit:
            break


def _with_retry(page_fn: PageFn, symbol: str, start: int, end: int, cfg: FetchConfig):
    """Exponential-backoff retry ≙ @retry(stop_after_attempt(3),
    wait_exponential) (reference :110 etc., SURVEY.md C3)."""
    err: Exception | None = None
    for attempt in range(cfg.max_retries):
        try:
            return page_fn(symbol, start, end, cfg.page_limit)
        except Exception as e:  # noqa: BLE001 — source-edge tolerance
            if cfg.benign_empty is not None and cfg.benign_empty(e):
                # source-scoped benign error (e.g. margin-rate -1102
                # unsupported asset, reference additional_data.py:164-165)
                # — BENIGN empty result, not a failure: no retries,
                # no sentinel; the pagination loop sees end-of-data
                return []
            err = e
            if attempt + 1 < cfg.max_retries:  # no dead sleep after the last try
                time.sleep(cfg.backoff_base_s * (2**attempt))
    raise RuntimeError(f"fetch failed for {symbol} after {cfg.max_retries} tries") from err


def fetch_historical_klines(
    symbols: DataFrame,
    page_fn: PageFn,
    start_ms: int,
    end_ms: int,
    cfg: FetchConfig,
    n_partitions: int = 8,
    last_bar: Accumulator | None = None,
) -> DataFrame:
    """Distributed S4: symbol dimension -> raw kline pages.

    ``symbols`` needs a ``symbol`` column. Optional per-row columns refine
    each row's range:

    - ``delivery_date_ms`` caps the end (≙ min(end, delivery_date), :268-270);
    - ``start_ms`` overrides the global start — the incremental-resume hook
      (T1: resume at watermark+1) and the hot-symbol range-sharding hook
      (one symbol split into several rows, each a sub-range, so no single
      task owns a huge symbol).

    The global call budget is divided across ``n_partitions``
    partition-local token buckets (C2).

    ``last_bar``, a :class:`MaxPerKey` accumulator, receives
    ``{symbol: newest bar ms}`` for every page the fetch emits (failed
    symbols' sentinel rows feed nothing), so once the job that consumes the
    pages succeeds it holds the last bar written per symbol.
    """
    cols = ["symbol"]
    for opt in ("delivery_date_ms", "start_ms"):
        if opt in symbols.columns:
            cols.append(opt)
    sym = symbols.select(*cols).repartition(n_partitions, "symbol")
    per_part_calls = max(1, cfg.budget_calls // max(1, n_partitions))

    def _opt_int(row, name):
        v = getattr(row, name, None)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return int(v)

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = TokenBucket(per_part_calls, cfg.budget_period_s)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                dd = _opt_int(row, "delivery_date_ms")
                sym_end = min(end_ms, dd) if dd is not None else end_ms  # F9
                row_start = _opt_int(row, "start_ms")
                sym_start = row_start if row_start is not None else start_ms
                try:
                    for page in paginate_symbol(
                        row.symbol, sym_start, sym_end, page_fn, cfg, bucket
                    ):
                        yield page
                        if last_bar is not None:
                            newest = int(page["timestamp"].astype("int64").max())
                            last_bar.add({row.symbol: newest})
                except Exception as e:  # noqa: BLE001 — per-symbol tolerance
                    # failed-symbol semantics (reference :349, :408-410):
                    # one symbol's failure must not kill the batch; emit a
                    # sentinel row so the driver side can report + retry it
                    sentinel = {c: [None] for c in RAW_PAGE_COLUMNS}
                    sentinel["symbol"] = [row.symbol]
                    sentinel["src_order"] = [-1]
                    sentinel["fetch_error"] = [f"{type(e).__name__}: {e}"[:500]]
                    yield pd.DataFrame(sentinel)

    return sym.mapInPandas(fetch_partition, schema=RAW_FETCH_SCHEMA)


def shard_symbol_ranges(
    symbols: DataFrame, start_ms: int, end_ms: int, max_range_ms: int
) -> DataFrame:
    """Hot-symbol mitigation: split each symbol's [start, end] into
    sub-ranges of at most ``max_range_ms`` so the fetch fan-out is bounded
    per task. Output: (symbol, start_ms, delivery_date_ms) rows ready for
    :func:`fetch_historical_klines`."""
    # ceil over the INCLUSIVE span: the fetch loop includes a bar at exactly
    # end_ms (`while current <= end_ms`), so an exclusive-span ceil would
    # silently drop that boundary bar whenever the range divides evenly
    n_shards = F.lit(int(max(1, -(-(end_ms - start_ms + 1) // max_range_ms))))
    shard = F.explode(F.sequence(F.lit(0), n_shards - 1)).alias("shard_i")
    out = symbols.select("symbol", shard)
    shard_start = F.lit(start_ms) + F.col("shard_i") * F.lit(max_range_ms)
    shard_end = F.least(shard_start + F.lit(max_range_ms - 1), F.lit(end_ms))
    return out.select(
        "symbol",
        shard_start.cast("long").alias("start_ms"),
        shard_end.cast("long").alias("delivery_date_ms"),
    )


# ---------------------------------------------------------------------------
# Offline backend: deterministic pages, same value model as
# sources.synthetic (arithmetic on bar index, no RNG).
# ---------------------------------------------------------------------------


def synthetic_page_fn(
    interval_ms: int = 3_600_000, origin_ms: int = 1704067200000
) -> PageFn:
    def page(symbol: str, start_ms: int, end_ms: int, limit: int) -> list[list]:
        sym_i = int(symbol[3:6]) if symbol[3:6].isdigit() else 0
        first_bar = max(0, (start_ms - origin_ms + interval_ms - 1) // interval_ms)
        rows: list[list] = []
        for k in range(limit):
            bar_i = first_bar + k
            ts = origin_ms + bar_i * interval_ms
            if ts > end_ms:
                break
            px = 100.0 + sym_i * 10.0 + math.sin(bar_i / 20.0) * 5.0
            vol = 1000.0 + (bar_i % 100) * 7.0
            rows.append(
                [
                    ts,
                    f"{px:.8f}",
                    f"{px * 1.01:.8f}",
                    f"{px * 0.99:.8f}",
                    f"{px * 1.005:.8f}",
                    f"{vol:.8f}",
                    ts + interval_ms - 1,
                    f"{vol * px:.8f}",
                    bar_i % 500 + 1,
                    f"{vol * 0.4:.8f}",
                    f"{vol * px * 0.4:.8f}",
                    "0",
                ]
            )
        return rows

    return page


# ---------------------------------------------------------------------------
# Online backend: Binance REST klines endpoint (public market-data API).
# Uses only stdlib urllib; retry/backoff handled by the shared loop, HTTP
# 418/429 ban handling mirrored from reference :86-108 (C4). Exercised
# offline against a recorded-response HTTP fixture (tests/test_rest_fixture.py).
# ---------------------------------------------------------------------------


def binance_rest_page_fn(
    market: str = "spot",
    interval: str = "1h",
    base_url: str | None = None,
    proxies: list[str] | None = None,
) -> PageFn:
    """``proxies``: optional proxy-pool URLs; one is chosen per process
    (≙ the reference's random rotation at fetcher init, C5 — here keyed on
    pid so each executor worker pins a different pool member)."""
    import json
    import os
    import re
    import urllib.request

    url = base_url or (
        "https://api.binance.com/api/v3/klines"
        if market == "spot"
        else "https://fapi.binance.com/fapi/v1/klines"
    )
    # Opener construction must happen on the EXECUTOR, not here: this
    # factory runs on the driver before the closure is pickled into
    # mapInPandas, so a pid-keyed choice taken now would pin every worker
    # to the one driver-chosen proxy (and ship a pre-built OpenerDirector
    # through pickle). The per-process cache below makes each executor
    # worker pick its own pool member on first use.
    _openers: dict[int, object] = {}

    def _opener():
        pid = os.getpid()
        op = _openers.get(pid)
        if op is None:
            if proxies:
                chosen = proxies[pid % len(proxies)]
                op = urllib.request.build_opener(
                    urllib.request.ProxyHandler({"http": chosen, "https": chosen})
                )
            else:
                op = urllib.request.build_opener()
            _openers[pid] = op
        return op

    def page(symbol: str, start_ms: int, end_ms: int, limit: int) -> list[list]:
        q = (
            f"{url}?symbol={symbol}&interval={interval}"
            f"&startTime={start_ms}&endTime={end_ms}&limit={limit}"
        )
        try:
            with _opener().open(q, timeout=30) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            body = e.read().decode("utf-8", "replace")
            if e.code in (418, 429):
                # ban/backoff: parse "banned until <ms>" and sleep it off
                m = re.search(r"banned until (\d+)", body)
                wait_s = (
                    max(0.0, int(m.group(1)) / 1000.0 - time.time()) if m else 60.0
                )
                time.sleep(min(wait_s, 300.0))
            else:
                # surface the Binance error body in the message for humans
                # AND attach the parsed code structurally so benign-error
                # predicates never have to substring-match free text
                e.msg = f"{e.msg or ''} {body[:200]}".strip()
                try:
                    e.binance_code = json.loads(body).get("code")
                except (ValueError, AttributeError):
                    pass
            raise

    return page
