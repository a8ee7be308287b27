"""Driver-side plan inspection helpers (no jobs, no data)."""

from __future__ import annotations

from pyspark.sql import DataFrame

# optimized-plan nodes that run a Python kernel
_PYTHON_EVAL_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def plan_is_bare_scan(df: DataFrame) -> bool:
    """True when re-scanning ``df`` is cheap: its optimized plan is a
    bare materialized source (checkpoint RDD / file relation / local
    rows), possibly under projections/filters — nothing expensive to
    re-execute. A Python (pandas/Arrow) kernel over such a source is
    NOT cheap, however short the plan. Used to decide whether a
    multi-consumer input is worth pinning with a localCheckpoint (an
    already-materialized input must NOT be pinned again — that would
    double-store it)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = [ln.strip() for ln in plan.splitlines() if ln.strip()]
    cheap_leaf = ("LogicalRDD" in plan) or ("Relation" in plan)
    python_eval = any(node in plan for node in _PYTHON_EVAL_NODES)
    return cheap_leaf and not python_eval and len(lines) <= 3
