"""Brute-force NumPy references for the benchmark's correctness checks.

Each ``check_*`` returns the number of wrong result items (0 when the
engine's output matches), which the run sums into ``wrong_results``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from s2geometry_spark.kernels import cellid, predicates


def leaf_cells(xyz: np.ndarray) -> np.ndarray:
    """Biased int64 leaf cell ids, the engine's ``cell`` column."""
    return cellid.to_biased(cellid.from_xyz(xyz[:, 0], xyz[:, 1], xyz[:, 2]))


def tile_histogram(cells_biased: np.ndarray, level: int) -> dict[int, int]:
    parents = cellid.to_biased(cellid.parent(cellid.from_biased(cells_biased), level))
    keys, counts = np.unique(parents, return_counts=True)
    return dict(zip(keys.tolist(), counts.tolist()))


def _dict_mismatches(got: dict, want: dict) -> int:
    return sum(1 for k in got.keys() | want.keys() if got.get(k) != want.get(k))


def check_rollup(rollup: pd.DataFrame, cells: np.ndarray, levels) -> int:
    """tiling.tile_rollup rows (level, cell_lvl, cnt) vs a parent histogram."""
    wrong = 0
    for lvl in levels:
        part = rollup[rollup["level"] == lvl]
        got = dict(zip(part["cell_lvl"].tolist(), part["cnt"].tolist()))
        wrong += _dict_mismatches(got, tile_histogram(cells, lvl))
    return wrong


def check_tile_counts(tiles: pd.DataFrame, key: str, cells: np.ndarray, level: int) -> int:
    got = dict(zip(tiles[key].tolist(), tiles["cnt"].tolist()))
    return _dict_mismatches(got, tile_histogram(cells, level))


def pip_pairs(xyz: np.ndarray, regions: dict) -> set[tuple[int, str]]:
    """(pid, region id) for every point every region contains, with
    polygon_contains_points over all points (no candidate filtering)."""
    pairs = set()
    for rid, region in regions.items():
        loops = getattr(region, "loops", None) or [region]
        inside = predicates.polygon_contains_points(
            [lp.vertices for lp in loops], [lp.origin_inside for lp in loops], xyz
        )
        pairs.update((int(p), rid) for p in np.nonzero(inside)[0])
    return pairs


def region_ids(xyz: np.ndarray, region) -> np.ndarray:
    """Sorted ids of the points a Cap (chord² test in the engine's pinned
    association order) or a Loop (parity kernel) contains, over all
    points."""
    center = getattr(region, "center", None)
    if center is None:
        inside = predicates.polygon_contains_points(
            [region.vertices], [region.origin_inside], xyz
        )
    else:
        d = xyz - center[None, :]
        inside = (d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]) + d[:, 2] * d[:, 2] <= region.radius2
    return np.nonzero(inside)[0]


def check_ids(got: list[int], want: np.ndarray) -> int:
    """Missing, extra and duplicate ids."""
    got_set = set(got)
    return len(got_set ^ set(want.tolist())) + (len(got) - len(got_set))


def check_pairs(got: pd.DataFrame, want: set[tuple[int, str]]) -> int:
    got_set = set(zip(got["pid"].tolist(), got["poly_id"].tolist()))
    # duplicates in the output are wrong rows too
    return len(got_set ^ want) + (len(got) - len(got_set))


def knn_exhaustive(points: np.ndarray, query: np.ndarray, k: int):
    """(pids, chord2) of the k nearest points, ties broken by pid, with
    the engine's pinned ((dx²+dy²)+dz²) association order."""
    d = points - query[None, :]
    c2 = (d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]) + d[:, 2] * d[:, 2]
    order = np.lexsort((np.arange(points.shape[0]), c2))[:k]
    return order, c2[order]


def check_knn(got: pd.DataFrame, points: np.ndarray, queries: np.ndarray,
              sample: np.ndarray, k: int) -> int:
    """Every query has k ranked rows; sampled queries match the
    exhaustive top-k exactly."""
    wrong = 0
    counts = got.groupby("qid").size()
    wrong += int((counts != k).sum()) + (queries.shape[0] - len(counts))
    by_q = {q: g.sort_values("rank") for q, g in got[got["qid"].isin(sample)].groupby("qid")}
    for q in sample.tolist():
        pids, c2 = knn_exhaustive(points, queries[q], k)
        g = by_q.get(q)
        if (
            g is None
            or g["pid"].tolist() != pids.tolist()
            or not np.array_equal(g["dist_chord2"].to_numpy(), c2)
        ):
            wrong += 1
    return wrong
