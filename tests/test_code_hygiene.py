"""Static source audits for the two Python-boundary disciplines that decide
whether an operator survives 100 TB:

1. **No row-at-a-time Python UDFs.** Every Python-side computation must be
   Arrow-batched (mapInPandas / applyInPandas / transformWithState) or a
   JVM expression. The one exception is the SQL-callable UDTF in
   ``functions/udtfs.py``, which exists to pin the UDTF surface and is
   documented as the non-production twin of the JVM ``doc_spans`` path.

2. **Driver-side ``collect()`` only on provably tiny frames.** Each use is
   whitelisted per file with the reason; a new collect() anywhere else
   fails this test until audited.

Pure-source tests (no Spark session) — they run in milliseconds and catch
regressions at the cheapest possible point.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "binance_etl_clickhouse_spark"

#: file (relative to the package) -> why its collect() is bounded
COLLECT_WHITELIST = {
    "operators/bpe.py": "1-row argmax per merge iteration (pair argmax)",
    "operators/ivf.py": "k x dim centroid rows (codebook fit)",
    "operators/pca.py": "d + d^2 moment scalars (covariance fit)",
    "operators/corpus.py": "n_buckets-double gradient vector per GD step (logreg fit)",
    "operators/neardup.py": (
        "pair-graph edge list for the union-find closure, bounded by the "
        "counted driver_max_edges cap (~3 MB); past the cap the distributed "
        "loop runs instead"
    ),
    "operators/sketches.py": "kilobyte-scale sketch states (CMS merge)",
    "operators/unigram.py": "vocab-sized piece-count tables per EM step (pieces, not rows)",
    "pipeline.py": (
        "symbol-dimension rows (symbols, not bars), the failed-symbol report "
        "list, and the resume-watermark rows of the all-markets max(timestamp) "
        "scan (at most symbols x markets x intervals)"
    ),
    "dialect_ddl.py": (
        "limit(1) enum-gate offender probe — at most ONE row, and only on "
        "INSERT blocks into tables that declare Enum columns"
    ),
    "queries/llm.py": "fitted centroid literals for the oracle SQL twin",
    "queries/corpus.py": "|HYBRID_QUERY_IDS|=3 query vectors for the dense probe",
    "queries/extended.py": (
        "SHOW CREATE statement text (one metadata row) for the round-trip "
        "re-provisioning query"
    ),
    "storage/table.py": "per-MONTH counts / kept-month set for delete_where/update_where pruning (months, not rows)",
    "storage/tokenbloom.py": "m/64 bloom longs per FILE (files, not rows)",
}


def _py_files():
    return sorted(p for p in PKG.rglob("*.py"))


def _code_lines(path: Path):
    """(lineno, line) with comments and docstring-ish string lines kept —
    the patterns below are specific enough that comments rarely collide,
    and a false positive just prompts an audit, which is the point."""
    for i, line in enumerate(path.read_text().splitlines(), 1):
        stripped = line.strip()
        if stripped.startswith("#"):
            continue
        yield i, line


def test_no_row_at_a_time_python_udfs():
    pattern = re.compile(r"F\.udf\(|@udf\b|udf\(lambda|spark\.udf\.register")
    offenders = []
    for path in _py_files():
        if path.name == "udtfs.py":  # the documented UDTF-surface exception
            continue
        for lineno, line in _code_lines(path):
            if pattern.search(line):
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "row-at-a-time UDFs found:\n" + "\n".join(offenders)


def test_collect_only_on_audited_tiny_frames():
    offenders = []
    seen = set()
    for path in _py_files():
        rel = str(path.relative_to(PKG))
        for lineno, line in _code_lines(path):
            if ".collect()" in line:
                seen.add(rel)
                if rel not in COLLECT_WHITELIST:
                    offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, (
        "un-audited driver-side collect() — add to COLLECT_WHITELIST with the "
        "boundedness argument:\n" + "\n".join(offenders)
    )
    stale = set(COLLECT_WHITELIST) - seen
    assert not stale, f"whitelist entries no longer needed (remove): {stale}"


def test_no_rdd_usage_outside_partition_guard():
    """RDD API is allowed only for getNumPartitions in the parallelism
    guard and the localCheckpoint block release (checkpoints.py reaches
    the internal RDD to unpersist it — storage management, not RDD-based
    computation) — everything else must stay DataFrame-declarative."""
    offenders = []
    for path in _py_files():
        if path.name == "checkpoints.py":  # documented release exception
            continue
        for lineno, line in _code_lines(path):
            if ".rdd" in line and "getNumPartitions" not in line:
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "RDD usage found:\n" + "\n".join(offenders)


def test_sql_text_is_lexed_only_in_sqltext():
    """One lexical contract for SQL text: quotes, escapes, comments and
    bracket depth are read by ``sqltext`` alone. Anywhere else, testing a
    character against the quote set or carrying a private quote skipper
    means a second scanner that can drift from the first (two did: one
    ignored backslash escapes, one never saw comments)."""
    pattern = re.compile(r"""\bin _QUOTES\b|in "'\\"`"|_skip_string""")
    offenders = []
    for path in _py_files():
        if path.name == "sqltext.py":
            continue
        for lineno, line in _code_lines(path):
            if pattern.search(line):
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "SQL scanning outside sqltext:\n" + "\n".join(offenders)


def test_storage_renames_only_in_commit():
    """One crash-safe commit protocol: ``storage/commit.py`` alone renames
    and spells the swap and tmp suffixes. A private tmp + rename elsewhere
    is a second copy of the protocol with its own recovery rules (two
    copies already left the previous index parked after a completed swap)."""
    pattern = re.compile(r"""os\.(replace|rename)\(|\.(tmp|bak|old)["']""")
    offenders = []
    for path in _py_files():
        if path.relative_to(PKG).as_posix() == "storage/commit.py":
            continue
        for lineno, line in _code_lines(path):
            if pattern.search(line):
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "rename or swap suffix outside storage/commit.py:\n" + "\n".join(
        offenders
    )


def test_overwrite_mode_is_passed_per_write():
    """Dynamic partition overwrite is a per-write option. Set on the
    session conf it outlives the write (a save/restore skips the restore
    when the conf was never set), and every later ``partitionBy``
    overwrite in the session then keeps partitions it should replace."""
    offenders = []
    for path in _py_files():
        for lineno, line in _code_lines(path):
            if "sources.partitionOverwriteMode" in line:
                offenders.append(f"{path.relative_to(PKG)}:{lineno}: {line.strip()}")
    assert not offenders, "session-level overwrite mode:\n" + "\n".join(offenders)


def test_default_driver_memory_fits_the_machine(monkeypatch):
    from binance_etl_clickhouse_spark.session import default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert int(mem[:-1]) <= min(16 * 1024, ram_mb // 2)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
