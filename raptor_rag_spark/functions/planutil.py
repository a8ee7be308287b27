"""Driver-side plan inspection helpers (no jobs, no data), and the size
bounds by which the engine picks every driver-or-distributed path.

Each bound is read at call time, so setting one module attribute forces
its path everywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame

# rows held on the driver: the child level of the tree's level step, and
# the query matrix the kNN scorers broadcast. Past it the level is built
# in Spark and queries are scored by a distributed join. On 4 cores, over
# a 17,245-row child level the driver step takes 0.65-0.77 s and the
# Spark step 3.4-6.1 s; over 52,370 rows 2.0-2.3 s and 4.4-8.1 s. The
# driver step wins at the bound, so the crossover lies above it; the
# bound stays until a workload past it measures where
DRIVER_MAX_ROWS = 50_000


def fits_driver(rows: int) -> bool:
    """True when ``rows`` rows are small enough to process on the driver."""
    return rows <= DRIVER_MAX_ROWS


def rows_fit_driver(df: DataFrame) -> bool:
    """``fits_driver`` over the rows of ``df``: the optimized plan's
    rowCount statistic when it has one (a local table, a range, or a
    checkpoint of either; no job), else one ``count()``."""
    stat = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    return fits_driver(int(str(stat.get())) if stat.isDefined() else df.count())


# finest tile resolution whose populated cell keys are held on the
# driver (a sorted key array for probes, an occupancy map for adaptive
# tiling); finer tilings keep them as a DataFrame. The key count grows
# ~4x per resolution: 4^13 ~ 6.7e7 possible keys at 12
DRIVER_MAX_RESOLUTION = 12


def cells_fit_driver(max_resolution: int) -> bool:
    """True when the cell keys of a tiling up to ``max_resolution`` are
    held on the driver."""
    return max_resolution <= DRIVER_MAX_RESOLUTION


# cell universe (sum of 4^(r+1) over a ladder's sub-max resolutions)
# under which the tree's cap split collects its splittable cells to the
# driver; past it the cap split runs as a join. It stays apart from
# DRIVER_MAX_RESOLUTION: at either value one bound would flip the other
# path (TileAnnIndex's default max_resolution=9 spans 1.4M keys)
DRIVER_MAX_SPLIT_UNIVERSE = 1 << 20


def split_universe_fits_driver(universe: int) -> bool:
    """True when a cap split over a ``universe``-cell ladder collects
    its splittable cells to the driver."""
    return universe <= DRIVER_MAX_SPLIT_UNIVERSE


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
