"""File-level zone map — the ClickHouse sparse-primary-index analogue.

The reference's backing store answers point/range lookups on the table's
``ORDER BY (symbol, interval, ts)`` key without scanning every granule: a
sparse in-RAM index of per-granule key bounds prunes granules before any IO
(SURVEY.md §4, reference schema ``ORDER BY`` at utils_clickhouse usage).
This module is the same idea at parquet-file granularity: because
:class:`~binance_etl_clickhouse_spark.storage.table.ServingTable` writes each
file key-sorted, every file spans a narrow key interval, and a sidecar of
per-file ``[min, max]`` bounds lets the DRIVER drop non-matching files
before Spark schedules a single task.

Why this matters at 100 TB even though parquet footers already carry the
same stats: footer-based row-group skipping still LISTs every file,
schedules a task per split, and reads every footer — O(files) round-trips
per query. The zone map is one small JSON read; a point lookup on a
million-file table schedules tasks only for the handful of files whose key
interval matches. Reads stay correct without the sidecar (it is a pure
pruning hint): the caller re-applies the predicate as a normal Spark
filter, and a stale/missing map falls back to the full scan.

Bounds come from the parquet footers themselves (pyarrow), so they are
exactly the truth Spark's own reader would use; string stats written
truncated by parquet-mr remain valid conservative bounds (truncate keeps a
lower lower-bound, truncate+increment keeps an upper upper-bound).
"""

from __future__ import annotations

import os
from datetime import date, datetime, timezone
from typing import Any

from binance_etl_clickhouse_spark.storage.commit import read_json, write_json

ZONEMAP_SIDECAR = "_zonemap.json"  # leading "_" -> invisible to Spark's reader


def _encode(v: Any) -> Any:
    """JSON-encode a stat bound; timestamps/dates become epoch micros/days
    so comparisons stay total after a round-trip."""
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, date):
        return (v - date(1970, 1, 1)).days
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def encode_bound(v: Any) -> Any:
    """Public twin of the stat encoder for query-side values."""
    return _encode(v)


def _file_bounds(path: str, columns: list[str]) -> dict[str, list[Any]] | None:
    """Merge row-group footer stats into one [min, max] per column for a
    single parquet file. Returns None when any requested column lacks
    stats (the file then never prunes — conservative)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, list[Any]] = {}
    for col in columns:
        idx = names.get(col)
        if idx is None:
            return None
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = _encode(st.min), _encode(st.max)
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if lo is None:
            return None
        out[col] = [lo, hi]
    return out


def data_files(table_path: str) -> list[str]:
    """All parquet data files under the table dir, relative paths, sorted."""
    found: list[str] = []
    for root, _dirs, files in os.walk(table_path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                found.append(os.path.relpath(os.path.join(root, f), table_path))
    return sorted(found)


def build_zonemap(table_path: str, columns: list[str]) -> dict:
    """Footer-scan every data file once and write the sidecar.

    O(files) footer reads — the same cost as ONE unpruned query's planning —
    after which every pruned read is O(1) metadata. ``append()`` maintains
    it incrementally (only new files are footer-scanned), so the full build
    runs once per table (or after an out-of-band rewrite).
    """
    files = {}
    for rel in data_files(table_path):
        files[rel] = _file_bounds(os.path.join(table_path, rel), columns)
    zm = {"columns": columns, "files": files}
    write_zonemap(table_path, zm)
    return zm


def write_zonemap(table_path: str, zm: dict) -> None:
    write_json(os.path.join(table_path, ZONEMAP_SIDECAR), zm)


def read_zonemap(table_path: str) -> dict | None:
    zm = read_json(os.path.join(table_path, ZONEMAP_SIDECAR))
    if zm is None or not isinstance(zm.get("files"), dict) or "columns" not in zm:
        return None
    return zm


def extend_zonemap(table_path: str, new_files: list[str]) -> dict | None:
    """Incrementally fold freshly-written files into an existing sidecar
    (the append path). No-op when no sidecar exists."""
    zm = read_zonemap(table_path)
    if zm is None:
        return None
    for rel in new_files:
        zm["files"][rel] = _file_bounds(
            os.path.join(table_path, rel), zm["columns"]
        )
    write_zonemap(table_path, zm)
    return zm


def prune_files(
    zm: dict, table_path: str, predicates: dict[str, tuple]
) -> list[str] | None:
    """Files whose bounds intersect every predicate, as absolute paths.

    ``predicates``: ``{col: ("eq", v)}`` or ``{col: ("between", lo, hi)}``
    (bounds inclusive; ``None`` means unbounded on that side). Returns
    ``None`` — meaning "fall back to the full scan" — when the sidecar is
    stale: any data file on disk missing from the map keeps correctness
    ahead of pruning.
    """
    known = zm["files"]
    on_disk = data_files(table_path)
    if any(rel not in known for rel in on_disk):
        return None
    keep: list[str] = []
    for rel in on_disk:
        bounds = known[rel]
        if bounds is None:  # stats unavailable -> never prune this file
            keep.append(rel)
            continue
        ok = True
        for col, pred in predicates.items():
            b = bounds.get(col)
            if b is None:
                continue
            lo, hi = b
            try:
                if pred[0] == "eq":
                    v = _encode(pred[1])
                    ok = lo <= v <= hi
                elif pred[0] == "between":
                    plo = _encode(pred[1]) if pred[1] is not None else None
                    phi = _encode(pred[2]) if pred[2] is not None else None
                    ok = (phi is None or lo <= phi) and (plo is None or plo <= hi)
                else:
                    raise ValueError(f"unknown predicate op: {pred[0]!r}")
            except TypeError:
                # incomparable bound/value types (e.g. a string literal vs an
                # epoch-encoded timestamp) -> never prune on this predicate
                ok = True
            if not ok:
                break
        if ok:
            keep.append(rel)
    return [os.path.join(table_path, rel) for rel in keep]
