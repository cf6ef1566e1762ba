"""Physical-plan inspection utilities.

Towhee exposes per-node queue/process profiling
(towhee/runtime/time_profiler.py, data_queue keep_data tracing); the Spark
engine's equivalent observability is the Catalyst physical plan. These
helpers turn `.explain()` text into assertions the test-suite enforces so
plan regressions (a lost pushdown, an extra shuffle) fail CI instead of
silently costing 10x at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


# every operator that runs Python workers, as Spark 4.1 prints it
# (org.apache.spark.sql.execution.python.*Exec minus "Exec")
_PYTHON_OPS = (
    "ArrowEvalPython", "ArrowEvalPythonUDTF", "BatchEvalPython", "BatchEvalPythonUDTF",
    "ArrowAggregatePython", "ArrowWindowPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "FlatMapGroupsInPandasWithState",
)
_PYTHON_OP_RE = re.compile(r"\b(?:%s)\b" % "|".join(_PYTHON_OPS))


def _plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def python_stages(plan: str) -> int:
    """Number of Python-worker operators named in a physical-plan string."""
    return len(_PYTHON_OP_RE.findall(plan))


def plan_stats(df: DataFrame) -> dict[str, int]:
    """Counts of the plan features that matter at scale."""
    plan = _plan_text(df)
    return {
        "exchanges": len(re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan)),
        "sorts": len(re.findall(r"^\s*[+:]?-?\s*\*?\(?\d*\)?\s*Sort\s", plan, re.M)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "python_evals": python_stages(plan),
        # the simple plan string marks codegen stages as "*(n)"; the word
        # "WholeStageCodegen" only appears in the formatted/tree renderings
        "codegen_spans": len({m for m in re.findall(r"\*\((\d+)\)", plan)}),
        "scans": len(re.findall(r"FileScan|BatchScan", plan)),
    }


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert the parquet scan carries PushedFilters containing every
    fragment (predicate actually reached the reader)."""
    plan = _plan_text(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed = m.group(1) if m else ""
    for frag in fragments:
        if frag not in pushed:
            raise AssertionError(f"filter {frag!r} not pushed to scan; PushedFilters=[{pushed}]")


def assert_max_exchanges(df: DataFrame, n: int) -> None:
    got = plan_stats(df)["exchanges"]
    if got > n:
        raise AssertionError(f"plan has {got} shuffles, budget {n}:\n{_plan_text(df)[:2000]}")
