"""Plan diagnostics: capture and sanity-check the physical plans of the
engine's operators (the shapes tests/test_plans.py pins).

No custom Catalyst rules exist or are needed (SURVEY.md §4): every operator
is an explicit DataFrame program whose desired physical properties —
broadcast joins for small sides, pruned scans, shuffle-free map paths,
WindowGroupLimit top-k — fall out of Catalyst given the right plan shape.
This module makes those properties inspectable at runtime.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plan_summary(df: DataFrame) -> dict:
    """Counts of the plan features the scale design cares about.

    Counts NODE HEADERS (`(n) NodeName`) so each physical node is counted
    once — formatted explain prints every node name twice (tree + detail)."""
    plan = plan_string(df)

    def nodes(*names: str) -> int:
        pat = r"^\(\d+\) (?:" + "|".join(names) + r")\b"
        return len(re.findall(pat, plan, re.M))

    return {
        "exchanges": nodes("Exchange"),
        "broadcast_joins": nodes("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        "sort_merge_joins": nodes("SortMergeJoin"),
        "python_stages": nodes(
            "MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas"
        ),
        "window_group_limits": nodes("WindowGroupLimit"),
        "scans": nodes("Scan"),
    }


def assert_plan(df: DataFrame, **expectations) -> None:
    """assert_plan(df, exchanges=0, broadcast_joins=1, ...) — raises
    AssertionError naming the offending feature."""
    got = plan_summary(df)
    for key, want in expectations.items():
        if got.get(key) != want:
            raise AssertionError(f"plan {key}={got.get(key)}, expected {want}\n{plan_string(df)}")
