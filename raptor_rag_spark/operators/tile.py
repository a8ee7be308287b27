"""Hierarchical tiling of embedding space (H3/S2-style quadtree).

Recasts the reference's UMAP->GMM clustering
(/root/reference/raptor/cluster_utils.py:23-123) as a deterministic
pipeline: a seeded orthonormal 2-D projection of the unit-norm
embedding (replaces UMAP, which the reference runs UNSEEDED — its
builds are not reproducible, cluster_utils.py:31-42 — so determinism
here is by design, see SURVEY.md §2.9), then per-resolution quadkey
cells (replace GMM clusters; the parent/child subdivision replaces the
reference's global/local two-phase clustering, cluster_utils.py:69-123).

Cell scheme: resolution r quantizes [-1,1]^2 into 2^(r+1) x 2^(r+1)
bins; cell_id is the (r+1)-digit base-4 quadkey (y-bit, x-bit
interleave) => a child cell id is prefixed by its parent cell id.
|x|,|y| <= 1 is guaranteed: projection rows are unit-norm and
embeddings are unit-norm (Cauchy-Schwarz).

GMM soft multi-membership (prob > 0.1 joins several clusters,
cluster_utils.py:60-66,:139) is recast as border-band multi-assignment:
a point within ``soft_eps`` * cell_width of a cell border is also
assigned to the adjacent cell(s), emitted via explode with
``is_soft = true``.

Everything after the 2-projection-dot-products is pure JVM Spark
expressions (bit ops + concat) — no Python in the quantization path.
The projection itself is a vectorized numpy matmul inside a pandas
UDF (the right shape for 1024-dim vectors at 10^12 rows: one BLAS
matmul per Arrow batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raptor_rag_spark.config import DEFAULT_CONFIG
from raptor_rag_spark.functions.planutil import cells_fit_driver


def projection_matrix(dim: int, seed: int = DEFAULT_CONFIG.seed) -> np.ndarray:
    """(2, dim) orthonormal rows, deterministic from seed."""
    rng = np.random.RandomState(seed)
    m = rng.randn(2, dim)
    # Gram-Schmidt
    m[0] /= np.linalg.norm(m[0])
    m[1] -= m[0] * np.dot(m[0], m[1])
    m[1] /= np.linalg.norm(m[1])
    return m


def projection_literals(dim: int, seed: int = DEFAULT_CONFIG.seed) -> tuple[list[float], list[float]]:
    """The projection rows as plain doubles — for DuckDB oracle SQL."""
    m = projection_matrix(dim, seed)
    return [float(v) for v in m[0]], [float(v) for v in m[1]]


_XY_SCHEMA = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)


def make_reduce_udf(dim: int, seed: int = DEFAULT_CONFIG.seed):
    proj = projection_matrix(dim, seed)  # captured; small, ships in closure

    @F.pandas_udf(_XY_SCHEMA)
    def reduce_xy(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in batches:
            mat = np.array(list(series), dtype=np.float64)
            if mat.size == 0:
                yield pd.DataFrame({"x": [], "y": []})
                continue
            xy = mat @ proj.T  # (n, 2) double matmul
            yield pd.DataFrame({"x": xy[:, 0], "y": xy[:, 1]})

    return reduce_xy


def reduce_2d(
    df: DataFrame,
    emb_col: str = "embedding",
    dim: int | None = None,
    seed: int = DEFAULT_CONFIG.seed,
) -> DataFrame:
    """Adds double columns x, y = projection of the embedding."""
    if dim is None:
        dim = len(df.select(emb_col).first()[0])
    xy = make_reduce_udf(dim, seed)(F.col(emb_col))
    return df.withColumn("_xy", xy).withColumn("x", F.col("_xy.x")).withColumn(
        "y", F.col("_xy.y")
    ).drop("_xy")


def grid_index(coord: Column, resolution: int) -> Column:
    """Quantize coord in [-1,1] to int bin at this resolution (clamped)."""
    n = 1 << (resolution + 1)
    raw = F.floor((coord + F.lit(1.0)) / F.lit(2.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("int")


def quadkey(ix: Column, iy: Column, resolution: int) -> Column:
    """(r+1)-digit base-4 quadkey from grid indices — pure JVM concat.

    digit_i = 2*bit(iy, r-i) + bit(ix, r-i) for i in 0..r; child cell
    ids are prefixed by parent ids across resolutions.
    """
    digits = []
    for i in range(resolution + 1):
        shift = resolution - i
        d = (F.shiftright(iy, shift) % 2) * 2 + (F.shiftright(ix, shift) % 2)
        digits.append(d.cast("string"))
    return F.concat(*digits)


def cell_id_col(x: Column, y: Column, resolution: int) -> Column:
    return quadkey(grid_index(x, resolution), grid_index(y, resolution), resolution)


def morton_key(ix: Column, iy: Column, resolution: int) -> Column:
    """Single LONG cell key: resolution<<32 | bit-interleave(ix, iy).

    Numerically equal to the quadkey string read as base-4 (plus the
    resolution tag), but pure integer arithmetic — no per-row string
    allocation, and long equi-join keys beat strings in the shuffle.
    Internal fast path; cell_id strings remain the parity surface.
    """
    m = F.lit(0).cast("long")
    for i in range(resolution + 1):
        m = (
            m
            + (F.shiftright(ix, i).cast("long") % 2) * F.lit(1 << (2 * i))
            + (F.shiftright(iy, i).cast("long") % 2) * F.lit(1 << (2 * i + 1))
        )
    return (F.lit(resolution).cast("long") * F.lit(1 << 32)) + m


def cell_key_col(x: Column, y: Column, resolution: int) -> Column:
    return morton_key(grid_index(x, resolution), grid_index(y, resolution), resolution)


# ------------------------------------------- numpy twin of the cell keys
# Arrow kernels encode cell keys here and nowhere else, so the key format
# cannot drift from grid_index + morton_key above (pytest-asserted equal).


def np_morton_keys(ix: np.ndarray, iy: np.ndarray, resolution: int) -> np.ndarray:
    """int64 grid indices -> morton_key's ``r<<32 | interleave(ix, iy)``."""
    m = np.zeros(len(ix), dtype=np.int64)
    for i in range(resolution + 1):
        m += ((ix >> i) & 1) << (2 * i)
        m += ((iy >> i) & 1) << (2 * i + 1)
    return (resolution << 32) + m


def np_cell_keys(
    x: np.ndarray, y: np.ndarray, resolution: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Coordinates -> (ix, iy, cell_key) at one resolution, clamped to
    the grid like grid_index."""
    n = 1 << (resolution + 1)
    ix = np.clip(((x + 1.0) / 2.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(((y + 1.0) / 2.0 * n).astype(np.int64), 0, n - 1)
    return ix, iy, np_morton_keys(ix, iy, resolution)


def np_quadkeys(keys: np.ndarray) -> np.ndarray:
    """Morton keys (each carrying its own resolution) -> cell_id_col's
    quadkey strings: the interleave read as r+1 base-4 digits."""
    keys = np.asarray(keys, dtype=np.int64)
    res, m = keys >> 32, keys & 0xFFFFFFFF
    out = np.empty(len(keys), dtype=object)
    for r in np.unique(res):
        sel = res == r
        shifts = 2 * np.arange(r, -1, -1, dtype=np.int64)
        digits = ((m[sel, None] >> shifts) & 3).astype(np.uint8) + ord("0")
        out[sel] = np.ascontiguousarray(digits).view(f"S{r + 1}")[:, 0].astype(str)
    return out


def sorted_keys(keys) -> np.ndarray:
    """A driver-side key set (or array) as the sorted unique int64
    array :func:`in_sorted` searches — built once per call, before it is
    broadcast."""
    if not isinstance(keys, np.ndarray):
        keys = np.fromiter(keys, dtype=np.int64, count=len(keys))
    return np.unique(keys)


def in_sorted(haystack: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Membership of ``keys`` in a sorted int64 array: one binary search
    per key. (np.isin would re-sort the haystack on every call, i.e. per
    Arrow batch.)"""
    if not len(haystack):
        return np.zeros(len(keys), dtype=bool)
    pos = np.minimum(np.searchsorted(haystack, keys), len(haystack) - 1)
    return haystack[pos] == keys


def pick_open_cells(
    x: np.ndarray, y: np.ndarray, base_resolution: int, max_resolution: int,
    closed: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Per point, the coarsest resolution in [base, max) whose cell key
    is not in the sorted ``closed`` array, else ``max_resolution``.
    Returns (resolution int32, cell_key int64). The cap-split rule of
    both the tree build (closed = splittable cells) and the adaptive
    quadtree (closed = cells over the occupancy cap)."""
    res = np.full(len(x), max_resolution, dtype=np.int32)
    key = np.zeros(len(x), dtype=np.int64)
    undecided = np.ones(len(x), dtype=bool)
    for r in range(base_resolution, max_resolution):
        k = np_cell_keys(x, y, r)[2]
        sel = undecided & ~in_sorted(closed, k)
        res[sel] = r
        key[sel] = k[sel]
        undecided &= ~sel
        if not undecided.any():
            return res, key
    key[undecided] = np_cell_keys(x[undecided], y[undecided], max_resolution)[2]
    return res, key


def ring_probe_keys(
    qid: np.ndarray, x: np.ndarray, y: np.ndarray, qres: np.ndarray,
    resolutions: list[int], ring: int, fine_ring_cap: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Ring-probe cell keys of queries whose local density level is
    ``qres``: per resolution r, every in-grid cell within Chebyshev
    distance ring_r of the query's cell, where ring_r is 1 for r coarser
    than qres, ``ring`` at qres and min(ring * 2^(r-qres),
    ``fine_ring_cap``) finer. Returns (query ids, cell keys), one entry
    per probe, unfiltered."""
    out_q, out_k = [], []
    for r in resolutions:
        n = 1 << (r + 1)
        ix, iy, _ = np_cell_keys(x, y, r)
        ring_r = np.where(
            qres > r, 1,
            np.where(qres == r, ring,
                     np.minimum(ring << np.clip(r - qres, 0, 62), fine_ring_cap)),
        )
        R = int(ring_r.max()) if len(qid) else 0
        for dx in range(-R, R + 1):
            for dy in range(-R, R + 1):
                nx, ny = ix + dx, iy + dy
                mask = (max(abs(dx), abs(dy)) <= ring_r) & (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
                if mask.any():
                    out_q.append(qid[mask])
                    out_k.append(np_morton_keys(nx[mask], ny[mask], r))
    if not out_q:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(out_q), np.concatenate(out_k)


def tile(df: DataFrame, resolution: int, x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Adds ix, iy, cell_id (home cell) at one resolution."""
    ix = grid_index(F.col(x_col), resolution)
    iy = grid_index(F.col(y_col), resolution)
    return (
        df.withColumn("ix", ix)
        .withColumn("iy", iy)
        .withColumn("resolution", F.lit(resolution))
        .withColumn("cell_id", quadkey(F.col("ix"), F.col("iy"), resolution))
    )


def tile_soft(
    df: DataFrame,
    resolution: int,
    soft_eps: float = DEFAULT_CONFIG.soft_eps,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Home cell + border-band neighbor cells (is_soft flag).

    Emits (dx, dy) offsets in {-1,0,1}^2 where the point sits within
    soft_eps of that border; pure JVM (explode over a literal array,
    filtered) — the explode amplification is bounded by 4x (corner).
    """
    n = 1 << (resolution + 1)
    d = df.withColumn("ix", grid_index(F.col(x_col), resolution)).withColumn(
        "iy", grid_index(F.col(y_col), resolution)
    )
    fx = (F.col(x_col) + 1.0) / 2.0 * n - F.col("ix")
    fy = (F.col(y_col) + 1.0) / 2.0 * n - F.col("iy")
    d = d.withColumn("_fx", fx).withColumn("_fy", fy)

    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    eps = F.lit(float(soft_eps))
    d = d.withColumn("_off", F.explode(offs))
    dx, dy = F.col("_off.dx"), F.col("_off.dy")
    keep_x = (
        (dx == 0)
        | ((dx == -1) & (F.col("_fx") < eps) & (F.col("ix") > 0))
        | ((dx == 1) & (F.col("_fx") > 1 - eps) & (F.col("ix") < n - 1))
    )
    keep_y = (
        (dy == 0)
        | ((dy == -1) & (F.col("_fy") < eps) & (F.col("iy") > 0))
        | ((dy == 1) & (F.col("_fy") > 1 - eps) & (F.col("iy") < n - 1))
    )
    d = d.filter(keep_x & keep_y)
    d = (
        d.withColumn("ix", F.col("ix") + dx)
        .withColumn("iy", F.col("iy") + dy)
        .withColumn("is_soft", (dx != 0) | (dy != 0))
        .drop("_off", "_fx", "_fy")
    )
    return d.withColumn("resolution", F.lit(resolution)).withColumn(
        "cell_id", quadkey(F.col("ix"), F.col("iy"), resolution)
    )


def tile_assignments(
    df: DataFrame,
    id_col: str,
    resolutions: list[int],
    soft_eps: float = DEFAULT_CONFIG.soft_eps,
) -> DataFrame:
    """Long-format (id, resolution, cell_id, is_soft) over a resolution
    ladder — the engine's parity surface ("tile assignments")."""
    parts = [
        tile_soft(df, r, soft_eps).select(
            F.col(id_col), "resolution", "cell_id", "is_soft"
        )
        for r in resolutions
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cell_occupancy_map(
    df: DataFrame, base_resolution: int, max_resolution: int
) -> dict[int, int]:
    """Occupancy per morton cell_key over a resolution ladder — one map
    (array of int keys per row, exploded) + one small shuffle of longs,
    collected. Distinct populated cells stay small for max_res<=12;
    beyond that switch to a join+window formulation."""
    resolutions = list(range(base_resolution, max_resolution + 1))
    keys_arr = F.array(
        *[cell_key_col(F.col("x"), F.col("y"), r) for r in resolutions]
    )
    counts = (
        df.select(F.explode(keys_arr).alias("cell_key"))
        .groupBy("cell_key")
        .agg(F.count("*").alias("_n"))
    )
    return {int(r["cell_key"]): int(r["_n"]) for r in counts.collect()}


def _over_cap(cmap: dict[int, int], cap: int) -> np.ndarray:
    """The occupancy map's over-cap cell keys, sorted: for every
    populated key, occupancy <= cap holds exactly when it is absent."""
    return sorted_keys([k for k, n in cmap.items() if n > cap])


def chosen_cells_from_occupancy(
    cmap: dict[int, int], base_resolution: int, max_resolution: int,
    max_occupancy: int,
) -> set[int]:
    """The set of cell_keys adaptive_tile_assignments actually assigns
    points to, derived PURELY from the occupancy map — no Spark job.
    A populated cell at r < max is chosen iff occ <= cap and every
    coarser ancestor's occ > cap (all of a cell's members share its
    ancestors, so the per-point pick rule lifts to cells exactly); at
    max resolution the occ test drops. Replaces a distinct() collect
    over the assignment output wherever the occupancy map is already
    driver-resident (e.g. the TileAnnIndex build)."""
    closed = _over_cap(cmap, max_occupancy)
    keys = sorted_keys(list(cmap))
    res, m = keys >> 32, keys & 0xFFFFFFFF
    chosen = (res >= max_resolution) | ~in_sorted(closed, keys)
    for rp in range(base_resolution, max_resolution):
        ancestor = (rp << 32) + (m >> (2 * np.maximum(res - rp, 0)))
        chosen &= (res <= rp) | in_sorted(closed, ancestor)
    return {int(k) for k in keys[chosen]}


def adaptive_tile_assignments_join(
    df: DataFrame,
    id_col: str,
    base_resolution: int = 3,
    max_occupancy: int = 256,
    max_resolution: int = DEFAULT_CONFIG.max_resolution,
) -> DataFrame:
    """Join-based twin of :func:`adaptive_tile_assignments` — NO driver
    collect of the occupancy map, so it scales past the broadcast bound
    (populated cells ~ N / occupancy; at 10^12 points that map cannot
    live on the driver). Pure DataFrame plan:

    explode the per-point resolution ladder (L <= 12 rows/point,
    map-side) -> count per cell_key (the key embeds the resolution)
    -> join counts back -> keep levels under the cap (or max_res)
    -> min_by(resolution) per point. Two shuffles of long keys plus
    one per-point agg — more shuffle than the broadcast path, which
    runs while the tiling fits the driver (planutil.cells_fit_driver).

    Identical output to the broadcast path (pytest-asserted).
    """
    resolutions = list(range(base_resolution, max_resolution + 1))
    pts = df.select(id_col, "x", "y")
    ladder = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("resolution"),
                cell_key_col(F.col("x"), F.col("y"), r).alias("cell_key"),
            )
            for r in resolutions
        ]
    )
    ex = pts.select(F.col(id_col), F.explode(ladder).alias("_c")).select(
        id_col, F.col("_c.resolution").alias("resolution"), F.col("_c.cell_key").alias("cell_key")
    )
    counts = ex.groupBy("cell_key").agg(F.count("*").alias("_occ"))
    eligible = (
        ex.join(counts, "cell_key")
        .filter((F.col("_occ") <= max_occupancy) | (F.col("resolution") == max_resolution))
    )
    picked = eligible.groupBy(id_col).agg(
        F.min("resolution").alias("resolution"),
        F.min_by("cell_key", "resolution").alias("cell_key"),
    )
    return picked.select(id_col, "resolution", "cell_key")


def adaptive_tile_assignments(
    df: DataFrame,
    id_col: str,
    base_resolution: int = 3,
    max_occupancy: int = 256,
    max_resolution: int = DEFAULT_CONFIG.max_resolution,
    occupancy_map: dict[int, int] | None = None,
) -> DataFrame:
    """Adaptive quadtree: every point lands in exactly ONE cell, at the
    coarsest resolution where its cell's occupancy <= max_occupancy
    (cells over the cap subdivide, S2-covering style). This is the
    C4 oversized-cluster recursion (cluster_utils.py:166-181) recast
    with a count cap, and the skew guard for the kNN candidate join:
    per-(query,ring) candidate volume is bounded by ~9 * max_occupancy
    per resolution level instead of whatever a hot cell holds
    (measured 59k candidates/query -> bounded, on the skewed synthetic
    corpus).

    Returns (id_col, resolution, cell_id) — one row per point.

    One-pass formulation (no driver loop): a point's resolution is the
    COARSEST r with count_r(cell_r(p)) <= max_occupancy, else max_res.
    This equals the recursive subdivide because all members of a child
    cell share one parent cell (quadkey prefix), so the child's "count
    among points whose parent overflowed" is just its full count
    whenever it matters. Cost: one union-of-resolutions map (no
    shuffle), one (res, cell) count (map-side combine), one join back,
    one per-point min-res window — vs 2 shuffles per level for the
    loop (measured 75s -> ~10s at 147k points x 7 levels).

    The occupancy map is collected to the driver while ``max_resolution``
    fits it (planutil.cells_fit_driver), or passed in as
    ``occupancy_map``; otherwise the join twin
    (adaptive_tile_assignments_join) runs.
    """
    if occupancy_map is None and not cells_fit_driver(max_resolution):
        return adaptive_tile_assignments_join(
            df, id_col, base_resolution, max_occupancy, max_resolution
        )
    pts = df.select(id_col, "x", "y")
    cmap = occupancy_map or cell_occupancy_map(pts, base_resolution, max_resolution)
    b_closed = df.sparkSession.sparkContext.broadcast(_over_cap(cmap, max_occupancy))

    # pass 2: vectorized per-point pick of the coarsest under-cap cell
    def pick(it):
        closed = b_closed.value
        for pdf in it:
            if not len(pdf):
                continue
            res, key = pick_open_cells(
                pdf["x"].to_numpy(dtype=np.float64),
                pdf["y"].to_numpy(dtype=np.float64),
                base_resolution, max_resolution, closed,
            )
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(dtype=np.int64), "resolution": res, "cell_key": key}
            )

    return pts.mapInPandas(pick, f"{id_col} long, resolution int, cell_key long")


def neighbor_cells(resolution: int, ring: int, ix_col: str = "ix", iy_col: str = "iy"):
    """Returns a Column: array of cell_ids within Chebyshev distance
    <= ring of (ix, iy), bounds-clamped — used for kNN ring expansion.
    Pure JVM: flatten/transform over sequence literals."""
    n = 1 << (resolution + 1)
    cells = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx = F.col(ix_col) + dx
            ny = F.col(iy_col) + dy
            ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
            cells.append(F.when(ok, quadkey(nx, ny, resolution)))
    return F.array_compact(F.array(*cells))


def neighbor_keys(resolution: int, ring: int, ix_col: str = "ix", iy_col: str = "iy"):
    """Morton-key variant of neighbor_cells (long keys, no strings)."""
    n = 1 << (resolution + 1)
    cells = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx = F.col(ix_col) + dx
            ny = F.col(iy_col) + dy
            ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
            cells.append(F.when(ok, morton_key(nx, ny, resolution)))
    return F.array_compact(F.array(*cells))
