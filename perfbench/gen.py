"""Seeded input generators and the expected values derived from them.

Everything here is plain Python so that the expected results never go
through the code under test:

- :class:`KlineSource` is the ``page_fn`` handed to ``Pipeline(page_fn=...)``.
  It is picklable and importable by Spark's Python workers. Each page
  re-sends the last ``OVERLAP`` bars before the requested start with
  revised values, so keep-last dedup always has winners to pick.
- :class:`KlineModel` replays the fetch protocol over the same source and
  keeps the last value per key, which is what the warehouse must serve.
- :func:`planted_graph` and :func:`planted_corpus` plant the components and
  near-duplicate groups that the graph and dedup operators must recover.
"""

from __future__ import annotations

import math
import random
import time

ORIGIN_MS = 1704067200000  # 2024-01-01 00:00 UTC
MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
#: the synthetic perp dimension delivers every 5th symbol on 2024-02-15;
#: generated ranges stay before it so no fetch range is capped
HORIZON_MS = 1707955200000

SPOT = "SPOT"
PERP = "PERPETUAL"
INTERVAL = "1m"
#: (page_limit, budget_calls) the pipeline passes to the fetcher per market
FETCH_LIMITS = {SPOT: (1000, 2750), PERP: (499, 1150)}
WEIGHT_PER_CALL = 2
#: bars before the requested start that every page re-sends, revised
OVERLAP = 5
#: PageRank iterations and damping of ``operators.graph.pagerank``'s defaults
PAGERANK_ITERS, DAMPING = 3, 0.85
#: tokens per shingle (``minhash_lsh_pairs``' default ``k``) and per document
SHINGLE_K = 3
DOC_LENGTH = 60

_MASK = (1 << 64) - 1


def _mix(*parts: int) -> int:
    """splitmix64 over the parts: a deterministic 64-bit hash."""
    x = 0x9E3779B97F4A7C15
    for p in parts:
        x = (x ^ (p & _MASK)) & _MASK
        x = (x + 0x9E3779B97F4A7C15) & _MASK
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
        x ^= x >> 31
    return x


def _unit(*parts: int) -> float:
    return _mix(*parts) / 2.0**64


def spot_symbols(n: int) -> list[str]:
    """Spot symbols the pipeline fetches out of ``synthetic_spot_symbols(n)``:
    quote assets cycle USDT, USDC, BTC, ETH and the default quote filter keeps
    the first two."""
    return [f"SYM{i:03d}USDT" for i in range(n) if i % 4 < 2]


def perp_symbols(n: int) -> list[str]:
    return [f"SYM{i:03d}USDT" for i in range(n)]


class KlineSource:
    """Seeded 1m kline pages with the ``page_fn(symbol, start, end, limit)``
    signature of ``sources.fetcher``.

    ``counters`` is an optional ``(pages, rows, micros)`` triple of Spark
    accumulators; the traced run passes it to count what the source served.
    """

    def __init__(self, seed: int, counters=None):
        self.seed = seed
        self.counters = counters

    def __call__(self, symbol: str, start_ms: int, end_ms: int, limit: int) -> list[list]:
        if self.counters is None:
            return self.page(symbol, start_ms, end_ms, limit)
        t0 = time.perf_counter()
        rows = self.page(symbol, start_ms, end_ms, limit)
        pages, nrows, micros = self.counters
        pages.add(1)
        nrows.add(len(rows))
        micros.add(int((time.perf_counter() - t0) * 1e6))
        return rows

    def page(self, symbol: str, start_ms: int, end_ms: int, limit: int) -> list[list]:
        req = max(0, -(-(start_ms - ORIGIN_MS) // MINUTE_MS))
        first = max(0, req - OVERLAP)
        out = []
        for bar in range(first, first + limit):
            ts = ORIGIN_MS + bar * MINUTE_MS
            if ts > end_ms:
                break
            out.append(self.bar(symbol, bar, req))
        return out

    def bar(self, symbol: str, bar: int, rev: int) -> list:
        """One raw 12-field kline; ``rev`` (the page's requested start bar)
        revises the values, so a bar re-sent by a later page differs."""
        sym_i = int(symbol[3:6])
        u1 = _unit(self.seed, sym_i, bar, 1)
        u2 = _unit(self.seed, sym_i, bar, 2)
        px = 100.0 + 10.0 * sym_i + 5.0 * math.sin(bar / 30.0 + self.seed) + u1
        px += 0.001 * (rev % 997)
        vol = 1000.0 + 500.0 * u2 + rev % 7
        ts = ORIGIN_MS + bar * MINUTE_MS
        return [
            ts,
            f"{px:.8f}",
            f"{px * 1.01:.8f}",
            f"{px * 0.99:.8f}",
            f"{px * 1.005:.8f}",
            f"{vol:.8f}",
            ts + MINUTE_MS - 1,
            f"{vol * px:.8f}",
            1 + _mix(self.seed, sym_i, bar, 3) % 500,
            f"{vol * 0.4:.8f}",
            f"{vol * px * 0.4:.8f}",
            "0",
        ]


def paginate(source: KlineSource, symbol: str, start_ms: int, end_ms: int, limit: int):
    """The watermark pagination protocol of ``sources.fetcher`` replayed over
    ``source``: yields the pages in arrival order (one call per yield, plus
    a final empty call when the range ends exactly on a page boundary)."""
    current = start_ms
    while current <= end_ms:
        rows = source.page(symbol, current, end_ms, limit)
        yield rows
        if not rows:
            return
        last_ts = rows[-1][0]
        if last_ts + 1 <= current:
            return
        current = last_ts + 1
        if len(rows) < limit:
            return


class KlineModel:
    """Expected serving state: the last value fetched for every
    (symbol, type, timestamp) key, over backfill then incremental fetches."""

    def __init__(self, source: KlineSource, n_spot: int, n_perp: int):
        self.source = source
        self.symbols = {SPOT: spot_symbols(n_spot), PERP: perp_symbols(n_perp)}
        self.rows: dict[tuple[str, str, int], list] = {}
        self.watermark: dict[tuple[str, str], int] = {}

    def fetch(self, market: str, end_ms: int) -> int:
        """One fetch of ``market`` up to ``end_ms`` (backfill from the origin
        for symbols without data, else from the watermark + 1 ms). Returns
        the number of page calls the fetch makes."""
        if end_ms >= HORIZON_MS:
            raise ValueError("generated range must end before the perp delivery date")
        limit = FETCH_LIMITS[market][0]
        calls = 0
        for sym in self.symbols[market]:
            wm = self.watermark.get((sym, market))
            start = ORIGIN_MS if wm is None else wm + 1
            for rows in paginate(self.source, sym, start, end_ms, limit):
                calls += 1
                for r in rows:
                    self.rows[(sym, market, r[0])] = r
                if rows:
                    self.watermark[(sym, market)] = max(
                        self.watermark.get((sym, market), -1), rows[-1][0]
                    )
        return calls

    def daily(self) -> dict[tuple[str, str, int], dict]:
        """Expected ``bn_klines_daily`` rows keyed (symbol, type, day_ms)."""
        out: dict[tuple[str, str, int], dict] = {}
        for (sym, market, ts) in sorted(self.rows):
            r = self.rows[(sym, market, ts)]
            key = (sym, market, ts - ts % DAY_MS)
            d = out.get(key)
            o, h, lo, c, v = (float(x) for x in r[1:6])
            if d is None:
                out[key] = {"open": o, "high": h, "low": lo, "close": c,
                            "volume": v, "n_bars": 1}
            else:
                d["high"] = max(d["high"], h)
                d["low"] = min(d["low"], lo)
                d["close"] = c
                d["volume"] += v
                d["n_bars"] += 1
        return out


def bucket_burst_calls(market: str, fetch_partitions: int) -> int:
    """Page calls one fetch task can make before its token bucket waits: the
    burst is ``budget_calls // fetch_partitions`` tokens at
    ``WEIGHT_PER_CALL`` tokens a call."""
    budget = FETCH_LIMITS[market][1]
    return max(1, budget // max(1, fetch_partitions)) // WEIGHT_PER_CALL


def planted_graph(seed: int, n_components: int, size: int):
    """Edges ``(src, dst)`` of ``n_components`` planted components of
    ``size`` vertices each, with diameter at most 4: a hub, spokes on the
    hub, leaves on random spokes, and a few extra chords. Vertex ids are a
    seeded permutation so a component's minimum id is not positional.

    Returns ``(edges, labels)`` where ``labels[v]`` is the minimum vertex id
    of ``v``'s component."""
    rng = random.Random(seed)
    ids = list(range(n_components * size))
    rng.shuffle(ids)
    edges: set[tuple[int, int]] = set()
    labels: dict[int, int] = {}
    n_spokes = max(1, size // 4)
    for c in range(n_components):
        members = ids[c * size:(c + 1) * size]
        lo = min(members)
        for v in members:
            labels[v] = lo
        hub, spokes, leaves = members[0], members[1:1 + n_spokes], members[1 + n_spokes:]
        pairs = [(hub, s) for s in spokes] + [(v, rng.choice(spokes)) for v in leaves]
        for _ in range(size // 4):
            a, b = rng.sample(members, 2)
            pairs.append((a, b))
        for a, b in pairs:
            if a != b and (b, a) not in edges:
                edges.add((a, b) if rng.random() < 0.5 else (b, a))
    return sorted(edges), labels


def pagerank_reference(edges: list[tuple[int, int]]):
    """Plain-Python twin of ``operators.graph.pagerank`` on an undirected,
    unweighted edge list (unrounded)."""
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    n = len(nbrs)
    pr = {v: 1.0 / n for v in nbrs}
    for _ in range(PAGERANK_ITERS):
        nxt = {v: 0.0 for v in nbrs}
        for u, vs in nbrs.items():
            share = pr[u] / len(vs)
            for v in vs:
                nxt[v] += share
        pr = {v: (1.0 - DAMPING) / n + DAMPING * s for v, s in nxt.items()}
    return pr


def shingle_set(text: str) -> set[str]:
    """The ``SHINGLE_K``-token shingles ``operators.texthash.shingles`` builds."""
    w = text.split(" ")
    return {" ".join(w[i:i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def planted_corpus(seed: int, n_groups: int, group_size: int, n_noise: int):
    """Documents ``(doc_id, text)`` of ``DOC_LENGTH`` tokens: ``n_groups``
    groups of ``group_size`` near-duplicates (each member is the group's
    base text with one token replaced) plus ``n_noise`` unrelated documents.

    Returns ``(docs, planted)`` where ``planted`` is the set of
    ``(d1, d2)`` pairs, ``d1 < d2``, of documents in the same group."""
    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(5000)]
    n_docs = n_groups * group_size + n_noise
    ids = rng.sample(range(10 * n_docs), n_docs)
    docs: list[tuple[int, str]] = []
    planted: set[tuple[int, int]] = set()
    pos = 0
    for _ in range(n_groups):
        base = [rng.choice(vocab) for _ in range(DOC_LENGTH)]
        members = ids[pos:pos + group_size]
        pos += group_size
        for d in members:
            words = list(base)
            words[rng.randrange(DOC_LENGTH)] = rng.choice(vocab)
            docs.append((d, " ".join(words)))
        planted.update((a, b) for a in members for b in members if a < b)
    for d in ids[pos:]:
        docs.append((d, " ".join(rng.choice(vocab) for _ in range(DOC_LENGTH))))
    return docs, planted
