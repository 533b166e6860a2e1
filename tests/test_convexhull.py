"""Convex hull kernel: randomized cap-sample validation (reference
s2convex_hull_query_test style) + degenerate cases + the per-tile
distributed hull operator."""

import numpy as np
import pytest

from s2geometry_spark.kernels.convexhull import contains_all, convex_hull
from tests.conftest import load_entry


def cap_points(rng, lat, lng, r, n):
    import math

    la, ln = math.radians(lat), math.radians(lng)
    c = np.array([math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)])
    ref = np.array([0.0, 0.0, 1.0]) if abs(c[2]) < 0.9 else np.array([1.0, 0.0, 0.0])
    u = np.cross(c, ref)
    u /= np.linalg.norm(u)
    v = np.cross(c, u)
    t = 2 * np.pi * rng.random(n)
    rr = r * np.sqrt(rng.random(n))
    pts = np.cos(rr)[:, None] * c + np.sin(rr)[:, None] * (
        np.cos(t)[:, None] * u + np.sin(t)[:, None] * v
    )
    return pts / np.linalg.norm(pts, axis=1)[:, None]


def test_hull_contains_inputs_randomized():
    rng = np.random.default_rng(5)
    for _ in range(25):
        lat, lng = rng.uniform(-85, 85), rng.uniform(-180, 180)
        r, n = rng.uniform(0.05, 1.0), int(rng.integers(5, 300))
        p = cap_points(rng, lat, lng, r, n)
        h = convex_hull(p)
        assert contains_all(h, p)
        assert all(any((q == row).all() for row in p) for q in h)  # vertices ⊆ input
        assert len(h) <= len(np.unique(p, axis=0))


def test_hull_degenerate_sizes():
    rng = np.random.default_rng(6)
    p2 = cap_points(rng, 10, 10, 0.1, 2)
    assert len(convex_hull(p2)) == 2
    p1 = cap_points(rng, 10, 10, 0.1, 1)
    assert len(convex_hull(p1)) == 1


def test_hull_rejects_non_hemispheric():
    p = np.array([[1.0, 0, 0], [-1.0, 0, 0], [0, 1.0, 0], [0, -1.0, 0]])
    with pytest.raises(ValueError):
        convex_hull(p)


def test_hull_of_square_is_square():
    import math

    corners = []
    for dlat, dlng in [(-1, -1), (-1, 1), (1, 1), (1, -1)]:
        la, ln = math.radians(10 + dlat), math.radians(20 + dlng)
        corners.append(
            [math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)]
        )
    corners = np.array(corners)
    mid = corners.mean(axis=0)
    mid /= np.linalg.norm(mid)
    pts = np.vstack([corners, mid[None, :]])
    h = convex_hull(pts)
    assert len(h) == 4
    assert contains_all(h, pts)


def test_per_tile_hull_operator(spark):
    from s2geometry_spark.operators.tiling import per_tile_hulls
    e = load_entry()
    pts = e._order_points_xyz(spark, "/root/testdata/sf0.001")
    out = per_tile_hulls(pts, level=2).collect()
    assert out
    total = sum(r.n_points for r in out)
    assert total == pts.count()
    for r in out:
        assert 1 <= r.n_hull_vertices <= r.n_points
        assert r.hull_area >= 0.0