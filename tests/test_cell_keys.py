"""The numpy cell-key kernel in operators/tile.py: the encoder against
the JVM expressions it mirrors, the sorted-array membership helper, the
cap-split pick and the occupancy-derived chosen cells."""

import numpy as np
from pyspark.sql import functions as F

from raptor_rag_spark.functions.localtab import local_df
from raptor_rag_spark.operators.tile import (
    cell_id_col,
    cell_key_col,
    chosen_cells_from_occupancy,
    grid_index,
    in_sorted,
    np_cell_keys,
    np_quadkeys,
    pick_open_cells,
    sorted_keys,
)

MAX_RES = 14

# finite coordinates: the square's edges, exact cell borders (dyadic
# fractions, down to the finest cell width at MAX_RES), interior
# non-dyadic values and out-of-range +-1.5 (clamped to the edge cells)
_COORDS = sorted(
    {-1.5, -1.0, 1.0, 1.5, 0.0, 1 / 3, -0.7, 0.999}
    | {s * 2.0 ** -e for s in (-1, 1) for e in (1, 2, 3, 7, 14)}
    | {-1.0 + 2.0 ** -MAX_RES, 1.0 - 2.0 ** -MAX_RES, 1.0 - 2.0 ** -(MAX_RES + 1)}
)


def test_np_cell_keys_match_jvm(spark):
    pts = local_df(
        spark, [(x, y) for x in _COORDS for y in _COORDS], "x double, y double"
    )
    cols = []
    for r in range(MAX_RES + 1):
        cols += [
            grid_index(F.col("x"), r).alias(f"ix{r}"),
            grid_index(F.col("y"), r).alias(f"iy{r}"),
            cell_key_col(F.col("x"), F.col("y"), r).alias(f"k{r}"),
        ]
    rows = pts.select("x", "y", *cols).collect()
    x = np.array([row["x"] for row in rows])
    y = np.array([row["y"] for row in rows])
    for r in range(MAX_RES + 1):
        ix, iy, key = np_cell_keys(x, y, r)
        assert ix.tolist() == [row[f"ix{r}"] for row in rows], r
        assert iy.tolist() == [row[f"iy{r}"] for row in rows], r
        assert key.tolist() == [row[f"k{r}"] for row in rows], r
        assert (key >> 32 == r).all()


def test_np_quadkeys_match_cell_id_col(spark):
    """The numpy quadkey strings equal cell_id_col's at every
    resolution, also for keys of mixed resolutions in one array."""
    pts = local_df(
        spark, [(x, y) for x in _COORDS for y in _COORDS], "x double, y double"
    )
    rows = pts.select(
        "x", "y",
        *[cell_id_col(F.col("x"), F.col("y"), r).alias(f"c{r}") for r in range(MAX_RES + 1)],
    ).collect()
    x = np.array([row["x"] for row in rows])
    y = np.array([row["y"] for row in rows])
    mixed_keys, mixed_want = [], []
    for r in range(MAX_RES + 1):
        keys = np_cell_keys(x, y, r)[2]
        want = [row[f"c{r}"] for row in rows]
        assert np_quadkeys(keys).tolist() == want, r
        mixed_keys.append(keys[r::MAX_RES + 1])
        mixed_want += want[r::MAX_RES + 1]
    assert np_quadkeys(np.concatenate(mixed_keys)).tolist() == mixed_want
    assert np_quadkeys(np.zeros(0, dtype=np.int64)).tolist() == []


def test_in_sorted_membership():
    hay = sorted_keys({7, -3, 1 << 40, 7})
    assert hay.tolist() == [-3, 7, 1 << 40]
    probe = np.array([-4, -3, 0, 7, 8, 1 << 40, (1 << 40) + 1], dtype=np.int64)
    assert in_sorted(hay, probe).tolist() == [False, True, False, True, False, True, False]
    assert in_sorted(sorted_keys(set()), probe).tolist() == [False] * len(probe)
    assert in_sorted(hay, np.zeros(0, dtype=np.int64)).tolist() == []


def test_pick_open_cells():
    x = np.array([-0.9, 0.9, 0.1])
    y = np.array([-0.9, 0.9, 0.1])

    def key(i, r):
        return int(np_cell_keys(x[i : i + 1], y[i : i + 1], r)[2][0])

    # point 0 is closed at 1 and 2, so it falls through to max; point 2
    # is closed at 1 only; point 1 is open at the base
    closed = sorted_keys({key(0, 1), key(0, 2), key(2, 1)})
    res, keys = pick_open_cells(x, y, 1, 3, closed)
    assert res.tolist() == [3, 1, 2]
    assert keys.tolist() == [key(0, 3), key(1, 1), key(2, 2)]

    res, keys = pick_open_cells(x, y, 1, 3, sorted_keys(set()))
    assert res.tolist() == [1, 1, 1]
    assert keys.tolist() == [key(i, 1) for i in range(3)]

    res, keys = pick_open_cells(x, y, 2, 2, closed)
    assert res.tolist() == [2, 2, 2]
    assert keys.tolist() == [key(i, 2) for i in range(3)]


def _chosen_cells_loop(cmap, base, max_r, cap):
    """Reference: a populated cell is chosen iff it is under the cap (or
    at max resolution) and every coarser ancestor is over the cap."""
    chosen = set()
    for key, n in cmap.items():
        r, m = key >> 32, key & 0xFFFFFFFF
        if r < max_r and n > cap:
            continue
        if all(
            cmap.get((rp << 32) + (m >> (2 * (r - rp))), 0) > cap
            for rp in range(base, r)
        ):
            chosen.add(key)
    return chosen


def test_chosen_cells_are_the_picked_cells():
    """The occupancy-derived chosen set equals the per-cell reference
    rule and the set of cells the pick assigns points to, with closed =
    cells over the cap."""
    rng = np.random.RandomState(3)
    x = np.concatenate([rng.uniform(-1, 1, 400), rng.normal(0.3, 0.01, 400)])
    y = np.concatenate([rng.uniform(-1, 1, 400), rng.normal(-0.2, 0.01, 400)])
    base, max_r, cap = 1, 7, 20
    cmap: dict[int, int] = {}
    for r in range(base, max_r + 1):
        for k in np_cell_keys(x, y, r)[2].tolist():
            cmap[k] = cmap.get(k, 0) + 1
    closed = sorted_keys([k for k, n in cmap.items() if n > cap])
    res, keys = pick_open_cells(x, y, base, max_r, closed)
    assert res.max() == max_r and res.min() == base
    chosen = chosen_cells_from_occupancy(cmap, base, max_r, cap)
    assert chosen == _chosen_cells_loop(cmap, base, max_r, cap) == set(keys.tolist())
