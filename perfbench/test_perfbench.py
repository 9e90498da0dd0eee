"""Tests of the benchmark itself: generators, correctness checks, span
folding and metric names. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle
import re
import subprocess
import sys
import time
from collections import deque

import pytest

from perfbench import checks, gen, run, workloads
from perfbench.trace import Span, fold, tree_cpu_seconds

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# ---------------------------------------------------------------- generators


def _backfilled(seed: int = 7) -> gen.KlineModel:
    model = gen.KlineModel(gen.KlineSource(seed), workloads.N_SPOT, workloads.N_PERP)
    for market in (gen.SPOT, gen.PERP):
        model.fetch(market, workloads._pipeline_config().end_ms)
    return model


def test_backfill_row_count_and_symbols():
    model = _backfilled()
    bars = workloads.BACKFILL_DAYS * 24 * 60
    n_symbols = len(gen.spot_symbols(workloads.N_SPOT)) + len(gen.perp_symbols(workloads.N_PERP))
    assert gen.spot_symbols(4) == ["SYM000USDT", "SYM001USDT"]
    assert len(model.rows) == n_symbols * bars


def test_overlapping_pages_carry_revised_values():
    src = gen.KlineSource(3)
    first = src.page("SYM001USDT", gen.ORIGIN_MS, gen.ORIGIN_MS + gen.DAY_MS, 100)
    nxt = src.page("SYM001USDT", first[-1][0] + 1, gen.ORIGIN_MS + gen.DAY_MS, 100)
    resent = {r[0]: r for r in nxt[: gen.OVERLAP]}
    assert len(resent) == gen.OVERLAP
    for r in first[-gen.OVERLAP:]:
        assert resent[r[0]][4] != r[4]  # same bar, revised close


def test_model_keeps_the_last_fetched_value():
    model = _backfilled()
    end = workloads._pipeline_config().end_ms + gen.HOUR_MS
    before = dict(model.rows)
    model.fetch(gen.PERP, end)
    new = [k for k in model.rows if k not in before]
    revised = [k for k in before if model.rows[k] != before[k]]
    assert len(new) == len(gen.perp_symbols(workloads.N_PERP)) * 60
    assert len(revised) == len(gen.perp_symbols(workloads.N_PERP)) * gen.OVERLAP


def test_model_replays_the_fetcher_pagination():
    from binance_etl_clickhouse_spark.sources.fetcher import FetchConfig, paginate_symbol

    src = gen.KlineSource(5)
    end = gen.ORIGIN_MS + gen.DAY_MS - gen.MINUTE_MS
    for limit in (499, 1000, 1440):
        pages = list(paginate_symbol("SYM002USDT", gen.ORIGIN_MS, end, src, FetchConfig(page_limit=limit)))
        replay = [p for p in gen.paginate(src, "SYM002USDT", gen.ORIGIN_MS, end, limit) if p]
        assert [len(p) for p in pages] == [len(p) for p in replay]
        assert [list(p["close"]) for p in pages] == [[r[4] for r in p] for p in replay]


def test_fetches_stay_within_the_token_bucket_burst():
    model = gen.KlineModel(gen.KlineSource(1), workloads.N_SPOT, workloads.N_PERP)
    end = workloads._pipeline_config().end_ms
    for _ in range(5):
        for market in (gen.SPOT, gen.PERP):
            assert model.fetch(market, end) <= gen.bucket_burst_calls(market, workloads.FETCH_PARTITIONS)
        end += gen.HOUR_MS


def test_source_is_picklable_and_seeded():
    src = pickle.loads(pickle.dumps(gen.KlineSource(9)))
    page = src.page("SYM003USDT", gen.ORIGIN_MS, gen.ORIGIN_MS + gen.HOUR_MS, 10)
    assert page == gen.KlineSource(9).page("SYM003USDT", gen.ORIGIN_MS, gen.ORIGIN_MS + gen.HOUR_MS, 10)
    assert page != gen.KlineSource(10).page("SYM003USDT", gen.ORIGIN_MS, gen.ORIGIN_MS + gen.HOUR_MS, 10)


def test_daily_rollup_expectation():
    model = _backfilled()
    daily = model.daily()
    assert len(daily) == 6 * workloads.BACKFILL_DAYS
    assert sum(d["n_bars"] for d in daily.values()) == len(model.rows)


def _distances(adj: dict, v: int) -> dict[int, int]:
    seen, todo = {v: 0}, deque([v])
    while todo:
        u = todo.popleft()
        for w in adj[u]:
            if w not in seen:
                seen[w] = seen[u] + 1
                todo.append(w)
    return seen


def test_planted_graph_components_and_diameter():
    edges, labels = gen.planted_graph(4, 30, workloads.GRAPH_SIZE)
    assert len(set(labels.values())) == 30
    assert len(labels) == 30 * workloads.GRAPH_SIZE
    adj: dict[int, set] = {}
    for a, b in edges:
        assert a != b and labels[a] == labels[b]
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert set(adj) == set(labels)
    for v in adj:
        dist = _distances(adj, v)
        assert set(dist) == {u for u, c in labels.items() if c == labels[v]}
        assert max(dist.values()) <= 4
    assert all(min(u for u, c in labels.items() if c == comp) == comp for comp in labels.values())


def test_pagerank_reference_mass():
    edges, _ = gen.planted_graph(2, 10, 8)
    pr = gen.pagerank_reference(edges)
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-12)


def test_planted_corpus_counts_and_similarity():
    docs, planted = gen.planted_corpus(6, 20, 4, 30)
    texts = dict(docs)
    assert len(docs) == len(texts) == 20 * 4 + 30
    assert len(planted) == 20 * 6
    assert all(gen.jaccard(texts[a], texts[b]) >= workloads.JACCARD_THRESHOLD for a, b in planted)
    noise = [d for d in texts if not any(d in p for p in planted)]
    assert len(noise) == 30
    assert gen.jaccard(texts[noise[0]], texts[noise[1]]) < workloads.JACCARD_THRESHOLD


# ---------------------------------------------------------------- checks reject wrong answers


def _served(model: gen.KlineModel) -> dict:
    return {k: (float(r[4]), float(r[5])) for k, r in model.rows.items()}


def test_snapshot_check():
    model = _backfilled()
    good = _served(model)
    assert checks.check_snapshot(good, model.rows) == []
    missing = dict(good)
    missing.pop(next(iter(missing)))
    assert checks.check_snapshot(missing, model.rows)
    key = next(iter(good))
    stale = dict(good)
    stale[key] = (good[key][0] - 0.001, good[key][1])  # an older page's value
    assert checks.check_snapshot(stale, model.rows)


def test_daily_check():
    daily = _backfilled().daily()
    assert checks.check_daily(daily, daily) == []
    key = next(iter(daily))
    wrong = {k: dict(v) for k, v in daily.items()}
    wrong[key]["volume"] += 1.0
    assert checks.check_daily(wrong, daily)
    assert checks.check_daily({k: v for k, v in daily.items() if k != key}, daily)


def test_rows_check():
    rows = [("a", 1.0, [0.5, 0.9]), ("b", 2.0, [1.5, 1.9])]
    assert checks.check_rows(rows, [("a", 1.0 + 1e-12, [0.5, 0.9]), ("b", 2.0, [1.5, 1.9])]) == []
    assert checks.check_rows(rows, [("a", 1.0, [0.5, 0.9]), ("b", 2.1, [1.5, 1.9])])
    assert checks.check_rows(rows[:1], rows)
    assert checks.check_rows(rows[::-1], rows)
    assert checks.check_rows([], [])


def test_components_check():
    _, labels = gen.planted_graph(1, 5, 6)
    assert checks.check_components(dict(labels), labels) == []
    comps = sorted(set(labels.values()))
    merged = {v: comps[0] if c == comps[1] else c for v, c in labels.items()}
    assert checks.check_components(merged, labels)
    relabelled = dict(labels)
    v = next(v for v, c in labels.items() if v != c)
    relabelled[v] = v
    assert checks.check_components(relabelled, labels)


def test_pagerank_check():
    edges, _ = gen.planted_graph(3, 5, 6)
    ref = gen.pagerank_reference(edges)
    rounded = {v: round(r, 6) for v, r in ref.items()}
    assert checks.check_pagerank(rounded, ref) == []
    v = next(iter(rounded))
    assert checks.check_pagerank({**rounded, v: rounded[v] + 1e-5}, ref)
    assert checks.check_pagerank({u: 2 * r for u, r in rounded.items()}, {u: 2 * r for u, r in ref.items()})
    assert checks.check_pagerank({u: r for u, r in rounded.items() if u != v}, ref)


def test_pairs_check():
    docs, planted = gen.planted_corpus(2, 5, 3, 5)
    texts = dict(docs)

    def true_j(a, b):
        return gen.jaccard(texts[a], texts[b])

    found = {p: round(true_j(*p), 6) for p in planted}
    assert checks.check_pairs(found, planted, true_j, 0.5) == []
    some = next(iter(planted))
    assert checks.check_pairs({p: j for p, j in found.items() if p != some}, planted, true_j, 0.5)
    assert checks.check_pairs({**found, some: found[some] - 0.01}, planted, true_j, 0.5)
    noise = sorted(set(texts) - {d for p in planted for d in p})[:2]
    low = (min(noise), max(noise))
    assert checks.check_pairs({**found, low: round(true_j(*low), 6)}, planted, true_j, 0.5)


# ---------------------------------------------------------------- span folding


def test_fold_charges_jobs_and_gaps_to_spans():
    parent = Span("pipeline.update_all", "p", None, 100.0, 110.0, 10.0, ["c"])
    child = Span("pipeline.update_klines", "c", "p", 101.0, 105.0, 4.0)
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "p"}},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "c"}},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "c"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "c"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {"spark.jobGroup.id": "p"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 102000, "Finish Time": 104000},
         "Task Metrics": {"Executor Run Time": 1500, "Memory Bytes Spilled": 10,
                          "Disk Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 103000, "Finish Time": 104500},
         "Task Metrics": {"Executor Run Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 106000, "Finish Time": 107000},
         "Task Metrics": {"Executor Run Time": 900}},
    ]
    out = fold({"p": parent, "c": child}, events)
    c, p = out["pipeline.update_klines"], out["pipeline.update_all"]
    assert (c["jobs"], c["tasks"], c["shuffle_write_bytes"], c["spill_bytes"]) == (2, 2, 100, 15)
    assert c["executor_run_s"] == pytest.approx(2.5)
    assert c["driver_gap_s"] == pytest.approx(4.0 - 2.5)
    assert (p["jobs"], p["tasks"]) == (3, 3)
    assert p["driver_gap_s"] == pytest.approx(10.0 - 3.5)
    assert p["self_s"] == pytest.approx(6.0)


def test_cpu_clock_counts_descendants_not_idle_time():
    # a child that spins for 0.5 s of CPU time, then sleeps until killed
    busy = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "print('done', flush=True)\n"
        "time.sleep(60)\n"
    )
    c0 = tree_cpu_seconds(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", busy], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        time.sleep(0.3)
        spent = tree_cpu_seconds(os.getpid()) - c0
    finally:
        child.kill()
        child.wait()
    assert 0.45 <= spent < 1.5


# ---------------------------------------------------------------- metric names


def _benchmark() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_metric_names_and_units():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.fullmatch(name), name
    for unit in [*run.END_TO_END.values(), *run.per_layer_units().values()]:
        assert UNIT_RE.fullmatch(unit), unit
    assert len(run.per_layer_units()) <= 128


def test_benchmark_json_matches_the_driver():
    spec = _benchmark()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    for w in spec["workloads"]:
        assert NAME_RE.fullmatch(w["name"]) and len(w["why"]) <= 200
