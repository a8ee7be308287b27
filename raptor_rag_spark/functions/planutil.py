"""Driver-side plan inspection helpers (no jobs, no data)."""

from __future__ import annotations

from pyspark.sql import DataFrame

# the driver-vs-distributed size bound of the tree's level step: a level
# whose child level has at most this many rows is built on the driver,
# past it in Spark. On 4 cores, over a 17,245-row child level the driver
# step takes 0.65-0.77 s and the Spark step 3.4-6.1 s; over 52,370 rows
# 2.0-2.3 s and 4.4-8.1 s. The driver step wins at the bound, so the
# crossover lies above it; the bound stays until a workload with a child
# level past it measures where
DRIVER_MAX_ROWS = 50_000


def fits_driver(rows: int) -> bool:
    """True when ``rows`` rows are small enough to process on the driver."""
    return rows <= DRIVER_MAX_ROWS


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


def plan_is_local(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is one LocalRelation (rows held
    in the plan, e.g. a local_df table): ``collect()`` then reads them on
    the driver without a job, where ``toPandas()`` runs one."""
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"


def plan_splits(df: DataFrame) -> int:
    """``ceil(sizeInBytes / maxPartitionBytes)``, at least 1: the number
    of ~maxPartitionBytes splits ``df`` fills, sized from the optimized
    plan's statistics (no job). An unknown size estimates as
    Long.MaxValue and returns the largest partition count."""
    spark = df.sparkSession
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return min(max(1, -(-size // split)), 2**31 - 1)


def coalesce_kernel_input(df: DataFrame) -> DataFrame:
    """Narrow-``coalesce`` the input of a map-only Arrow kernel to
    ``max(defaultParallelism, ceil(sizeInBytes / maxPartitionBytes))``
    partitions, sized from the optimized plan's statistics (no job).

    Every Python task pays a fixed worker round-trip, and a union of
    small file scans (one per tree level) splits into several
    partitions per scan, so a small kernel input otherwise runs in
    several waves of near-empty tasks. Large inputs keep ~maxPartitionBytes
    splits; a narrow coalesce never raises the partition count (with an
    unknown size it is a no-op)."""
    return df.coalesce(max(df.sparkSession.sparkContext.defaultParallelism, plan_splits(df)))
