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


def coalesce_kernel_input(df: DataFrame) -> DataFrame:
    """Narrow-``coalesce`` the input of a map-only Arrow kernel to
    ``max(defaultParallelism, ceil(sizeInBytes / maxPartitionBytes))``
    partitions, sized from the optimized plan's statistics (no job).

    Every Python task pays a fixed worker round-trip, and a union of
    small file scans (one per tree level) splits into several
    partitions per scan, so a small kernel input otherwise runs in
    several waves of near-empty tasks. Large inputs keep ~maxPartitionBytes
    splits; a narrow coalesce never raises the partition count."""
    spark = df.sparkSession
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n = max(spark.sparkContext.defaultParallelism, -(-size // split))
    # an unknown size estimates as Long.MaxValue: the coalesce is then a no-op
    return df.coalesce(min(n, 2**31 - 1))
