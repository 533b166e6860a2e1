"""Raster -> vector boundary tracing."""

import numpy as np
import pytest

from s2geometry_spark.kernels import cellid, measures, raster
from s2geometry_spark.kernels.regions import Cap, Loop, Polygon
from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer


def _sample_near(c, n, spread, seed=0):
    rng = np.random.RandomState(seed)
    P = c[None, :] + spread * rng.randn(n, 3)
    return P / np.linalg.norm(P, axis=1)[:, None]


def _cap_cells(lat, lng, r, level):
    cap = Cap.from_latlng_degrees(lat, lng, r)
    cov = RegionCoverer(
        CovererOptions(max_cells=10000, min_level=level, max_level=level)
    ).get_covering(cap)
    return np.asarray(cov, np.uint64), cap


def test_vectorize_cap_raster_pointwise():
    cells, cap = _cap_cells(47.36, 8.55, 0.2, 6)
    loops = raster.vectorize_cells(cells)
    poly = Polygon([Loop(v) for v in loops])
    P = _sample_near(np.asarray(cap.center), 20000, 0.3)
    member = np.isin(cellid.parent(cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2]), 6), cells)
    assert (poly.contains_points(P) == member).all()


def test_vectorize_with_hole_and_island():
    """Annulus raster (hole) + a separate island cell."""
    cells, cap = _cap_cells(10.0, 20.0, 0.25, 6)
    inner, _ = _cap_cells(10.0, 20.0, 0.08, 6)
    annulus = np.setdiff1d(cells, inner)
    island, _ = _cap_cells(25.0, 45.0, 0.02, 6)
    rast = np.concatenate([annulus, island])
    loops = raster.vectorize_cells(rast)
    assert len(loops) >= 3  # outer shell, hole ring, island (per face)
    poly = Polygon([Loop(v) for v in loops])
    P = _sample_near(np.asarray(cap.center), 20000, 0.3, seed=3)
    member = np.isin(
        cellid.parent(cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2]), 6), rast
    )
    assert (poly.contains_points(P) == member).all()


def test_vectorize_seam_raster_loops_are_valid():
    """A raster on faces 0 and 2 whose border runs along their seam x = z:
    seam corners there meet as -0.0 from one face and +0.0 from the other,
    and the cells on both sides share seam edges.  Every traced loop must
    be a valid S2 loop (no repeated vertex, positive area), and the
    polygon must equal the raster pointwise."""
    cells, cap = _cap_cells(45.0, 0.0, 0.1, 6)
    assert set(cellid.face(cells).tolist()) == {0, 2}
    loops = raster.vectorize_cells(cells)
    for v in loops:
        # compare as numbers, so -0.0 and 0.0 are one vertex
        assert np.unique(v + 0.0, axis=0).shape[0] == v.shape[0]
        assert measures.loop_area(v) > 0
    poly = Polygon([Loop(v) for v in loops])
    P = _sample_near(np.asarray(cap.center), 20000, 0.3, seed=5)
    member = np.isin(cellid.parent(cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2]), 6), cells)
    assert (poly.contains_points(P) == member).all()


def test_vectorize_single_cell_is_its_quad():
    cells = cellid.parent(
        cellid.from_latlng_degrees(np.array([5.0]), np.array([5.0])), 8
    )
    loops = raster.vectorize_cells(cells)
    assert len(loops) == 1 and loops[0].shape[0] == 4
    # area equals the exact cell area (loop over the 4 exact corners)
    got = measures.loop_area(loops[0])
    assert 0 < got < 2 * np.pi


def test_mixed_levels_rejected():
    a = cellid.parent(
        cellid.from_latlng_degrees(np.array([5.0]), np.array([5.0])), 8
    )
    b = cellid.parent(a, 7)
    with pytest.raises(ValueError):
        raster.vectorize_cells(np.concatenate([a, b]))
