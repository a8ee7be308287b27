"""Spatial operators over the reduced embedding plane (north_rule):
cluster-boundary polygons, point-in-polygon join, raster<->vector
density grids.

The reduced space is [-1,1]^2 (tile.py). Polygons are closed rings
``array<struct<x:double,y:double>>``. PIP uses the even-odd ray-cast
rule (public algorithm); the hull kernel is Andrew's monotone chain.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ------------------------------------------------------------- hulls

_POLY_SCHEMA = (
    "cell_id string, resolution int, n_points long, "
    "boundary array<struct<x:double,y:double>>"
)


def _monotone_chain(pts: np.ndarray) -> np.ndarray:
    """Convex hull (ccw, closed not duplicated). Degenerate inputs
    (1-2 points, collinear) return what they can."""
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def cluster_polygons(
    tiled: DataFrame, resolution_col: str = "resolution", cell_col: str = "cell_id"
) -> DataFrame:
    """Per-cell convex hull of member points -> cluster_polygons table.

    Group sizes are bounded by the tree build's token cap (C4 recast),
    so the pandas groups stay small; the groupBy key is (resolution,
    cell) — exactly the tiles partitioning, no extra shuffle when the
    input is already hash-partitioned on it.
    """

    def hull(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[["x", "y"]].to_numpy(dtype=float)
        h = _monotone_chain(pts)
        return pd.DataFrame(
            {
                "cell_id": [key[1]],
                "resolution": [int(key[0])],
                "n_points": [len(pdf)],
                "boundary": [[{"x": float(px), "y": float(py)} for px, py in h]],
            }
        )

    return tiled.groupBy(resolution_col, cell_col).applyInPandas(hull, _POLY_SCHEMA)


# ------------------------------------------------------------- PIP


def point_in_polygon_expr(x: Column, y: Column, polygon: list[tuple[float, float]]) -> Column:
    """Even-odd ray cast against a FIXED literal polygon, unrolled to a
    pure JVM boolean expression (also expressible 1:1 in DuckDB SQL —
    the oracle for the PIP operator)."""
    inside = F.lit(False)
    n = len(polygon)
    for i in range(n):
        ax, ay = polygon[i]
        bx, by = polygon[(i + 1) % n]
        if ay == by:
            continue  # horizontal edge can't be crossed by a horizontal ray test
        cross = ((F.lit(ay) > y) != (F.lit(by) > y)) & (
            x < (F.lit(bx) - F.lit(ax)) * (y - F.lit(ay)) / (F.lit(by) - F.lit(ay)) + F.lit(ax)
        )
        inside = F.when(cross, ~inside).otherwise(inside)
    return inside


_PIP_SCHEMA = "point_id long, cell_id string, inside boolean"


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "point_id",
) -> DataFrame:
    """General PIP join: points(point_id, x, y, cell_id) x
    polygons(cell_id, boundary) -> inside flag. Candidate pruning is
    the cell equi-join (the polygon IS a cell's hull, so only points
    in/near that cell test against it — the range-join analog);
    the exact test is an Arrow-batched ray-cast kernel.
    """
    joined = points.join(polygons.select("cell_id", "boundary"), "cell_id")

    def raycast(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = []
            for px, py, boundary in zip(pdf["x"], pdf["y"], pdf["boundary"]):
                n = len(boundary)
                inside = False
                if n >= 3:
                    for i in range(n):
                        a = boundary[i]
                        b = boundary[(i + 1) % n]
                        ay, by = a["y"], b["y"]
                        if ay == by:
                            continue
                        if (ay > py) != (by > py) and px < (b["x"] - a["x"]) * (py - ay) / (by - ay) + a["x"]:
                            inside = not inside
                res.append(inside)
            yield pd.DataFrame(
                {
                    "point_id": pdf[point_id],
                    "cell_id": pdf["cell_id"],
                    "inside": res,
                }
            )

    return joined.mapInPandas(raycast, _PIP_SCHEMA)


# --------------------------------------------------- raster <-> vector


def rasterize(
    points: DataFrame, delta: float, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Density raster: groupBy floor(coord/delta) counts — one shuffle,
    map-side partial agg."""
    gx = F.floor(F.col(x_col) / F.lit(delta)).cast("int")
    gy = F.floor(F.col(y_col) / F.lit(delta)).cast("int")
    return (
        points.groupBy(gx.alias("gx"), gy.alias("gy"))
        .agg(F.count("*").alias("n"))
    )


def vectorize(raster: DataFrame, delta: float) -> DataFrame:
    """Raster cells back to vector polygons (rect rings) + centroid —
    pure JVM struct building."""
    x0 = F.col("gx") * F.lit(delta)
    y0 = F.col("gy") * F.lit(delta)
    x1 = x0 + F.lit(delta)
    y1 = y0 + F.lit(delta)

    def pt(xx, yy):
        return F.struct(xx.cast("double").alias("x"), yy.cast("double").alias("y"))

    return raster.select(
        "gx",
        "gy",
        "n",
        F.array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1)).alias("boundary"),
        ((x0 + x1) / 2).alias("cx"),
        ((y0 + y1) / 2).alias("cy"),
    )


def raster_roundtrip_check(points: DataFrame, delta: float) -> DataFrame:
    """vectorize(rasterize(points)) then re-rasterize the centroids
    weighted by n — counts must be identical (golden round-trip)."""
    r1 = rasterize(points, delta)
    v = vectorize(r1, delta)
    r2 = (
        v.groupBy(
            F.floor(F.col("cx") / F.lit(delta)).cast("int").alias("gx"),
            F.floor(F.col("cy") / F.lit(delta)).cast("int").alias("gy"),
        )
        .agg(F.sum("n").alias("n"))
    )
    return r1.alias("a").join(r2.alias("b"), ["gx", "gy"], "full").select(
        "gx", "gy", F.col("a.n").alias("n_before"), F.col("b.n").alias("n_after")
    )


# -------------------------------------------------------- range join


def range_join(
    left_xy: DataFrame,
    right_xy: DataFrame,
    radius: float,
    left_id: str = "query_id",
    right_id: str = "node_id",
    max_resolution: int = 12,
) -> DataFrame:
    """All (left, right) pairs within euclidean ``radius`` in the
    reduced plane — the classic spatial range/distance join, as a
    cell-bucketed equi-join instead of an O(|L|*|R|) theta join.

    Resolution is the FINEST grid whose cell width >= radius, so a
    disk of that radius around any point is covered by the point's
    3x3 cell neighborhood: the left side explodes its ring-1 cells
    (<=9 keys/row, pure JVM), the right side keys on its home cell,
    one long equi-join, exact distance filter after. At 100 TB both
    sides shuffle once on a long key; AQE's skew split applies to hot
    cells, and a broadcast kicks in when one side is small.
    """
    import math

    from raptor_rag_spark.operators.tile import grid_index, morton_key, neighbor_keys

    if not (0 < radius <= 2.0):
        raise ValueError("radius must be in (0, 2] (reduced plane is [-1,1]^2)")
    # cell width at res r is 2 / 2^(r+1); want the finest r with width >= radius
    r = min(max(int(math.floor(math.log2(2.0 / radius))) - 1, 0), max_resolution)

    lt = (
        left_xy.select(left_id, "x", "y")
        .withColumn("ix", grid_index(F.col("x"), r))
        .withColumn("iy", grid_index(F.col("y"), r))
        .select(
            left_id,
            F.col("x").alias("_lx"),
            F.col("y").alias("_ly"),
            F.explode(neighbor_keys(r, 1)).alias("cell_key"),
        )
    )
    rt = right_xy.select(
        right_id,
        F.col("x").alias("_rx"),
        F.col("y").alias("_ry"),
        morton_key(grid_index(F.col("x"), r), grid_index(F.col("y"), r), r).alias(
            "cell_key"
        ),
    )
    d2 = (F.col("_lx") - F.col("_rx")) ** 2 + (F.col("_ly") - F.col("_ry")) ** 2
    # no dedup shuffle needed: the right side has ONE home cell and the
    # left ring's 9 keys are distinct, so a pair joins at most once
    return (
        lt.join(rt, "cell_key")
        .filter(d2 <= F.lit(float(radius) ** 2))
        .select(left_id, right_id, F.sqrt(d2).alias("dist_xy"))
    )


# ----------------------------------------- covering-accelerated PIP


def polygon_cell_cover(
    polygon: list[tuple[float, float]], resolution: int
) -> tuple[set[int], set[int]]:
    """Classify every grid cell at ``resolution`` against a fixed
    polygon: returns (full_keys, boundary_keys) as morton cell keys.
    A cell crossed by any edge is 'boundary'; an uncrossed cell is
    'full' iff its center is inside. Driver-side numpy — the polygon is
    a literal and the grid at res r is 4^(r+1) cells, tiny vs the data;
    the classification broadcasts to the point scan.
    """
    import numpy as np

    n = 1 << (resolution + 1)
    width = 2.0 / n
    poly = np.asarray(polygon, dtype=np.float64)
    edges = list(zip(poly, np.roll(poly, -1, axis=0)))

    def seg_rect_crosses(a, b, x0, y0, x1, y1) -> bool:
        # trivial accept: an endpoint inside the rect
        if (x0 <= a[0] <= x1 and y0 <= a[1] <= y1) or (
            x0 <= b[0] <= x1 and y0 <= b[1] <= y1
        ):
            return True
        # segment vs each rect edge: orientation straddle test
        rect = [
            ((x0, y0), (x1, y0)),
            ((x1, y0), (x1, y1)),
            ((x1, y1), (x0, y1)),
            ((x0, y1), (x0, y0)),
        ]

        def orient(p, q, r):
            return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

        # <= 0: orientation 0 (an edge touching a cell corner or
        # collinear with a cell border) classifies the cell as boundary,
        # so grid-aligned polygon vertices get the exact per-point ray
        # cast instead of the center-point shortcut. Conservative: a
        # collinear-but-disjoint segment only adds a cell to the
        # boundary band (extra exact tests), never misclassifies.
        for c, d in rect:
            if (
                orient(a, b, c) * orient(a, b, d) <= 0
                and orient(c, d, a) * orient(c, d, b) <= 0
            ):
                return True
        return False

    def point_inside(px, py) -> bool:
        inside = False
        m = len(poly)
        for i in range(m):
            ax, ay = poly[i]
            bx, by = poly[(i + 1) % m]
            if ay == by:
                continue
            if ((ay > py) != (by > py)) and px < (bx - ax) * (py - ay) / (by - ay) + ax:
                inside = not inside
        return inside

    from raptor_rag_spark.operators.tile import np_morton_keys

    kind = np.zeros((n, n), dtype=np.int8)  # per (ix, iy): 1 boundary, 2 full
    for ix in range(n):
        x0 = -1.0 + ix * width
        for iy in range(n):
            y0 = -1.0 + iy * width
            x1, y1 = x0 + width, y0 + width
            if any(seg_rect_crosses(a, b, x0, y0, x1, y1) for a, b in edges):
                kind[ix, iy] = 1
            elif point_inside(x0 + width / 2, y0 + width / 2):
                kind[ix, iy] = 2
    ix, iy = np.indices((n, n))
    keys = np_morton_keys(ix.ravel(), iy.ravel(), resolution)
    return set(keys[kind.ravel() == 2].tolist()), set(keys[kind.ravel() == 1].tolist())


def point_in_polygon_tiled(
    df_xy: DataFrame,
    polygon: list[tuple[float, float]],
    resolution: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """PIP with a cell-covering prefilter: points in fully-inside cells
    are inside WITHOUT evaluating the n-edge ray cast; points in
    uncovered cells are outside without it; only boundary-cell points
    run the exact test. For an m-edge polygon the per-point work drops
    from O(m) to O(1) off the boundary band — the standard covering
    acceleration (H3/S2 polyfill analog). Output is identical to the
    plain expression (same oracle SQL)."""
    from raptor_rag_spark.operators.tile import cell_key_col

    full, boundary = polygon_cell_cover(polygon, resolution)
    spark = df_xy.sparkSession
    from raptor_rag_spark.functions.localtab import local_df

    cover = local_df(
        spark,
        [(k, True) for k in sorted(full)] + [(k, False) for k in sorted(boundary)],
        "cell_key long, is_full boolean",
    )
    pts = df_xy.withColumn("cell_key", cell_key_col(F.col("x"), F.col("y"), resolution))
    # broadcast hash probe per point (O(1)); the exact m-edge ray cast
    # runs ONLY on boundary-band rows, uncovered cells short to false
    joined = pts.join(F.broadcast(cover), "cell_key", "left")
    inside = (
        F.when(F.col("is_full"), F.lit(True))
        .when(
            F.col("is_full") == F.lit(False),
            point_in_polygon_expr(F.col("x"), F.col("y"), polygon),
        )
        .otherwise(F.lit(False))
    )
    return joined.select(F.col(id_col), inside.alias("inside"))
