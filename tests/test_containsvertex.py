"""S2ContainsVertexQuery vs the reference's own cases
(s2contains_vertex_query_test.cc) plus the wedge-compatibility property
(AngleContainsVertex == WedgeContains of the vertex wedge)."""

import math

import numpy as np

from s2geometry_spark.kernels.containsvertex import ContainsVertexQuery
from s2geometry_spark.kernels.textformat import make_point
from s2geometry_spark.kernels.predicates import _ortho, ordered_ccw


def test_undetermined():
    q = ContainsVertexQuery(make_point("1:2"))
    q.add_edge(make_point("3:4"), 1)
    q.add_edge(make_point("3:4"), -1)
    assert q.contains_sign() == 0
    assert not q.duplicate_edges()


def test_contained_with_duplicates():
    q = ContainsVertexQuery(make_point("0:0"))
    q.add_edge(make_point("3:-3"), -1)
    q.add_edge(make_point("1:-5"), 1)
    q.add_edge(make_point("2:-4"), 1)
    q.add_edge(make_point("1:-5"), -1)
    assert q.contains_sign() == 1
    assert not q.duplicate_edges()
    # incoming and outgoing to 1:-5 cancel, one more isn't a duplicate
    q.add_edge(make_point("1:-5"), -1)
    assert not q.duplicate_edges()
    # 3:-3 seen once incoming; another incoming is a duplicate
    q.add_edge(make_point("3:-3"), -1)
    assert q.duplicate_edges()


def test_not_contained_with_duplicates():
    q = ContainsVertexQuery(make_point("1:1"))
    q.add_edge(make_point("1:-5"), 1)
    q.add_edge(make_point("2:-4"), -1)
    q.add_edge(make_point("3:-3"), 1)
    q.add_edge(make_point("1:-5"), -1)
    assert q.contains_sign() == -1
    assert not q.duplicate_edges()
    q.add_edge(make_point("1:-5"), -1)
    assert not q.duplicate_edges()
    q.add_edge(make_point("3:-3"), 1)
    assert q.duplicate_edges()


def _regular_points(center, radius_rad, n):
    c = np.asarray(center, float)
    c /= np.linalg.norm(c)
    ref = np.array([0.0, 0.0, 1.0]) if abs(c[2]) < 0.9 else np.array([1.0, 0.0, 0.0])
    u = np.cross(ref, c)
    u /= np.linalg.norm(u)
    v = np.cross(c, u)
    out = []
    for i in range(n):
        t = 2 * math.pi * i / n
        p = math.cos(radius_rad) * c + math.sin(radius_rad) * (
            math.cos(t) * u + math.sin(t) * v
        )
        out.append(p / np.linalg.norm(p))
    return out


def test_compatible_with_angle_contains_vertex():
    """For a loop chain (a, b, c): ContainsSign(b) > 0 iff the wedge at b
    contains RefDir(b) — S2::AngleContainsVertex
    (s2contains_vertex_query_test.cc CompatibleWithAngleContainsVertex;
    AngleContainsVertex(a,b,c) == !OrderedCCW(RefDir(b), c, a, b))."""
    pts = _regular_points(make_point("89:1"), math.radians(5), 10)
    n = len(pts)
    for i in range(n):
        a, b, c = pts[i], pts[(i + 1) % n], pts[(i + 2) % n]
        q = ContainsVertexQuery(b)
        q.add_edge(a, -1)
        q.add_edge(c, 1)
        angle_contains = not ordered_ccw(_ortho(b), c, a, b)
        assert (q.contains_sign() > 0) == angle_contains, i
