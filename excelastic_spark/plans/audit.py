"""Physical-plan audits: verify that the plans Catalyst produces are the
plans we want at 100 TB — filters pushed to the parquet scan, partition
pruning on the bucket directory, no row-at-a-time Python in whole-stage
codegen spans. Used by tests and available interactively:

    from excelastic_spark.plans.audit import explain_str, assert_pushed_filters

``count_jobs`` counts the Spark jobs and tasks a call launches, for job
and task budgets.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Every fragment must appear in the scan's PushedFilters list."""
    plan = explain_str(df)
    assert "PushedFilters" in plan, plan
    for frag in fragments:
        assert frag in plan, f"{frag!r} not pushed:\n{plan}"


def assert_partition_pruned(df: DataFrame, col: str) -> None:
    """The scan must carry a PartitionFilters entry on ``col`` (bucket
    pruning on term lookups)."""
    plan = explain_str(df)
    assert "PartitionFilters" in plan, plan
    seg = plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert col in seg, f"no partition filter on {col}:\n{plan}"


def assert_no_python_row_udf(df: DataFrame) -> None:
    """BatchEvalPython = row-at-a-time Python UDF (the slow path); our
    plans may contain ArrowEval / mapInPandas nodes only."""
    plan = explain_str(df, "extended")
    assert "BatchEvalPython" not in plan, plan


def count_jobs(
    spark: SparkSession, fn: Callable[[], T]
) -> tuple[T, int, int]:
    """(``fn()``, the number of Spark jobs it launched, the number of tasks
    those jobs completed). ``fn`` runs under a job group of its own, read
    back from the status tracker once the listener bus has delivered every
    event; the tasks are the completed tasks of the group's stages (a stage
    skipped for a reused shuffle completes none). Jobs launched from a
    thread ``fn`` starts are counted only if that thread inherits the
    caller's local properties (``pyspark.inheritable_thread_target``)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # type: ignore[union-attr]
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {
        s for j in jobs for s in getattr(tracker.getJobInfo(j), "stageIds", [])
    }
    tasks = sum(
        getattr(tracker.getStageInfo(s), "numCompletedTasks", 0) for s in stages
    )
    return result, len(jobs), tasks
