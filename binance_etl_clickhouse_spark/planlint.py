"""Physical-plan linter — the scale-hazard audits as a user-facing API.

The test suite pins plan shapes for every REGISTERED query
(tests/test_plans.py); users writing their own queries against the engine
get the same checks here: ``lint_plan(df)`` returns human-readable
warnings for the physical-plan shapes that are fine at test scale and
fatal at 100 TB. Empty list = no known hazard.

Rules (each with the scale failure it predicts):

- ``nested-loop-join``: BroadcastNestedLoopJoin / CartesianProduct —
  O(n*m) pair formation; only survivable when one side is provably tiny.
- ``python-row-udf``: BatchEvalPython — row-at-a-time Python evaluation
  (plain ``F.udf``); 10-100x slower than Arrow-batched pandas UDFs
  (ArrowEvalPython) and built-in expressions.
- ``global-window``: a window function with an ORDER BY but no PARTITION
  BY — Spark moves every row through ONE task's sort (the WindowExec
  "serious performance degradation" warning); unbounded by cluster size.
- ``single-partition-funnel``: Exchange SinglePartition in a plan with no
  map-side partial aggregation and no driver-bound limit — the whole
  dataset funnels into one task.

This is a heuristic linter over the executed-plan string, not a verifier:
it can miss hazards and can flag benign cases (a deliberate global rank
over an already-tiny aggregate is still flagged); pair it with
``.explain("formatted")`` when a warning needs judgment. The registered
queries are audited with the same rules plus an explicit whitelist of
audited-benign cases in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _has_global_window(plan: str) -> bool:
    """A ``Window`` node prints ``[funcs], [partitionSpec], [orderSpec]``;
    with no PARTITION BY the partition group is omitted, leaving two
    groups. An order spec always carries ASC/DESC, which distinguishes the
    two-group global-ordered form from a partition-only (unordered) window
    that also prints two groups."""
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ").strip()
        if not s.startswith("Window ["):
            continue
        if s.count("], [") == 1:
            second = s.rsplit("], [", 1)[-1]
            if " ASC" in second or " DESC" in second:
                return True
    return False


def lint_plan(df: DataFrame) -> list[str]:
    """Return scale-hazard warnings for a DataFrame's physical plan."""
    return lint_plan_string(df._jdf.queryExecution().executedPlan().toString())


def lint_plan_string(plan: str) -> list[str]:
    """:func:`lint_plan` over an already-rendered executed-plan string."""
    warnings: list[str] = []

    if "CartesianProduct" in plan:
        warnings.append(
            "nested-loop-join: CartesianProduct — O(n*m) pair formation; "
            "rewrite as an equi-join (bucket/bin the join condition) or "
            "broadcast a provably-tiny side"
        )
    if "BroadcastNestedLoopJoin" in plan:
        warnings.append(
            "nested-loop-join: BroadcastNestedLoopJoin — non-equi join; "
            "safe only when the broadcast side is bounded (a scalar "
            "subquery or a query-sized frame), fatal when it scales with "
            "the data"
        )
    if "BatchEvalPython" in plan:
        warnings.append(
            "python-row-udf: BatchEvalPython — row-at-a-time Python UDF in "
            "the hot path; use built-in expressions or an Arrow-batched "
            "pandas UDF (ArrowEvalPython) instead"
        )
    if _has_global_window(plan):
        warnings.append(
            "global-window: window function with ORDER BY but no PARTITION "
            "BY — all rows sort through one task; partition the window or "
            "pre-aggregate first"
        )
    if (
        "Exchange SinglePartition" in plan
        and "partial_" not in plan
        and "TakeOrderedAndProject" not in plan
        and "CollectLimit" not in plan
        and not _has_global_window(plan)  # already reported above
    ):
        warnings.append(
            "single-partition-funnel: the whole dataset funnels through one "
            "task with no partial aggregation and no limit; check for a "
            "missing map-side combine"
        )
    return warnings
