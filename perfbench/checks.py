"""Correctness checks. Each takes plain Python values (rows already
collected from Spark, expected values from ``gen``) and returns a list of
failure messages; an empty list means the check passed."""

from __future__ import annotations

import math

#: relative tolerance for floating-point sums whose order Spark chooses
SUM_RTOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=SUM_RTOL, abs_tol=SUM_RTOL)


def check_snapshot(actual: dict, expected: dict) -> list[str]:
    """``actual`` maps (symbol, type, ts_ms) to (close, volume) read from the
    serving snapshot; ``expected`` maps the same keys to raw kline rows.
    Row count and every keep-last winner must match exactly."""
    fails = []
    if len(actual) != len(expected):
        fails.append(f"snapshot has {len(actual)} rows, expected {len(expected)}")
    wrong = [
        k for k, r in expected.items()
        if actual.get(k) != (float(r[4]), float(r[5]))
    ]
    if wrong:
        fails.append(f"{len(wrong)} keys lack the keep-last winner, e.g. {min(wrong)}")
    return fails


def check_daily(actual: dict, expected: dict) -> list[str]:
    """Daily rollup rows keyed (symbol, type, day_ms): OHLC and bar counts
    exact, volume sums within ``SUM_RTOL``."""
    fails = []
    if set(actual) != set(expected):
        fails.append(f"rollup has {len(actual)} day buckets, expected {len(expected)}")
    for k in sorted(set(actual) & set(expected)):
        a, e = actual[k], expected[k]
        exact = ("open", "high", "low", "close", "n_bars")
        if any(a[f] != e[f] for f in exact) or not _close(a["volume"], e["volume"]):
            fails.append(f"rollup bucket {k} is {a}, expected {e}")
            break
    return fails


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return _close(a, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check_rows(actual: list[tuple], expected: list[tuple]) -> list[str]:
    """Query results against their twin's, in order and value by value
    (floats within ``SUM_RTOL``, since the two plans may sum in another
    order)."""
    if not actual:
        return ["query returned no rows"]
    if len(actual) != len(expected):
        return [f"{len(actual)} rows, twin returned {len(expected)}"]
    for i, (a, e) in enumerate(zip(actual, expected)):
        if not _same(tuple(a), tuple(e)):
            return [f"row {i} is {tuple(a)}, twin has {tuple(e)}"]
    return []


def check_components(actual: dict[int, int], labels: dict[int, int]) -> list[str]:
    """``actual`` maps vertex -> component label; every planted component
    must come back whole, labelled by its minimum vertex."""
    fails = []
    n_actual, n_planted = len(set(actual.values())), len(set(labels.values()))
    if n_actual != n_planted:
        fails.append(f"{n_actual} components, {n_planted} planted")
    if actual != labels:
        bad = sum(1 for v, c in labels.items() if actual.get(v) != c)
        fails.append(f"{bad} vertices carry the wrong component label")
    return fails


def check_pagerank(actual: dict[int, float], reference: dict[int, float]) -> list[str]:
    """Ranks are rounded to 6 decimals by the operator: each must be within
    that rounding of the reference, and the mass must be 1 within 1e-6 plus
    the accumulated rounding."""
    fails = []
    if set(actual) != set(reference):
        fails.append(f"ranks for {len(actual)} vertices, expected {len(reference)}")
        return fails
    off = [v for v, r in reference.items() if abs(actual[v] - r) > 5e-7 + 1e-9]
    if off:
        fails.append(f"{len(off)} ranks differ from the reference, e.g. vertex {off[0]}")
    mass = math.fsum(actual.values())
    if abs(mass - 1.0) > 1e-6 + 5e-7 * len(actual):
        fails.append(f"rank mass {mass!r} is not 1")
    return fails


def check_pairs(
    actual: dict[tuple[int, int], float],
    planted: set[tuple[int, int]],
    true_jaccard,
    threshold: float,
) -> list[str]:
    """``actual`` maps (d1, d2) -> reported Jaccard. Every planted pair must
    be found; every reported pair must truly reach ``threshold`` and carry
    its exact Jaccard (6 decimals). ``true_jaccard(d1, d2)`` recomputes it."""
    fails = []
    missing = planted - set(actual)
    if missing:
        fails.append(f"{len(missing)} planted pairs not found, e.g. {min(missing)}")
    for pair, reported in sorted(actual.items()):
        j = true_jaccard(*pair)
        if j < threshold or abs(j - reported) > 1e-6:
            fails.append(f"pair {pair} reported {reported}, true Jaccard {j:.6f}")
            break
    return fails
