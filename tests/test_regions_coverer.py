"""M3 tests: loop containment truth fixtures (s2loop_test.cc:540-594),
cap/rect cell relations, RegionCoverer properties (s2region_coverer_test.cc)
and the CheckCovering verifier port (s2testing.cc:130-156)."""

import math

import numpy as np
import pytest

from s2geometry_spark.kernels import cellid, cellunion, predicates
from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer, _CellUnionRegion
from s2geometry_spark.kernels.regions import Cap, Cell, LatLngRect
from s2geometry_spark.kernels.textformat import make_loop, make_point, make_points

RNG = np.random.default_rng(7)


def random_point():
    v = RNG.standard_normal(3)
    return v / np.linalg.norm(v)


def check_covering(region, covering_ids: np.ndarray, check_tight: bool, cell_id=None):
    """S2Testing::CheckCovering port (s2testing.cc:130-156)."""
    if cell_id is None:
        for f in range(6):
            fid = int(cellid.from_face(np.array([f]))[0])
            check_covering(region, covering_ids, check_tight, fid)
        return
    arr = np.array([cell_id], dtype=np.uint64)
    cell = Cell(cell_id)
    if not region.may_intersect_cell(cell):
        if check_tight:
            assert not cellunion.intersects_cell(covering_ids, arr)[0]
    elif not cellunion.contains_cell(covering_ids, arr)[0]:
        assert not region.contains_cell(cell)
        assert not cellid.is_leaf(arr)[0]
        for ch in cellid.child(np.repeat(arr, 4), np.arange(4)):
            check_covering(region, covering_ids, check_tight, int(ch))


class TestLoopContainment:
    def test_hemisphere_truth_points(self):
        # literal truth points (s2loop_test.cc:540-567)
        north = make_loop("0:-180, 0:-90, 0:0, 0:90")
        south = make_loop("0:90, 0:0, 0:-90, 0:-180")
        west = make_loop("0:-180, -90:0, 0:0, 90:0")
        east = make_loop("90:0, 0:0, -90:0, 0:-180")
        np_pole = np.array([0.0, 0.0, 1.0])
        sp_pole = np.array([0.0, 0.0, -1.0])
        assert north.contains_point(np_pole)
        assert not north.contains_point(sp_pole)
        assert not south.contains_point(np_pole)
        assert south.contains_point(sp_pole)
        assert not west.contains_point(np.array([0.0, 1.0, 0.0]))
        assert west.contains_point(np.array([0.0, -1.0, 0.0]))
        assert east.contains_point(np.array([0.0, 1.0, 0.0]))
        assert not east.contains_point(np.array([0.0, -1.0, 0.0]))

    def test_candy_cane(self):
        candy = make_loop("-20:150, -20:-70, 0:70, 10:-150, 10:70, -10:-70")
        p = make_point("5:71")
        assert candy.contains_point(p)

    def test_vertex_rotation_invariance(self):
        # containment must not depend on the starting vertex (s2loop_test
        # checks all rotations)
        pts = make_points("0:-180, 0:-90, 0:0, 0:90")
        probe = np.array([random_point() for _ in range(500)])
        base = None
        for r in range(4):
            loop = predicates.loop_contains_points(
                np.roll(pts, r, axis=0),
                predicates.compute_origin_inside(np.roll(pts, r, axis=0)),
                probe,
            )
            if base is None:
                base = loop
            else:
                assert (loop == base).all()

    def test_cell_loop_closure(self):
        # every level-1 cell-center point is contained by exactly one of the
        # 24 level-1 cell "loops" (closure property, s2loop_test.cc:569-594,
        # relaxed to centers to avoid fully degenerate vertex cases here;
        # vertex cases exercise the symbolic-perturbation path separately)
        ids = []
        for f in range(6):
            fid = cellid.from_face(np.array([f]))
            for ch in cellid.child(np.repeat(fid, 4), np.arange(4)):
                ids.append(int(ch))
        loops = []
        for cid in ids:
            cell = Cell(cid)
            loops.append(predicates.ORIGIN * 0 + cell.vertices())
        centers = np.stack([Cell(cid).get_center() for cid in ids])
        counts = np.zeros(len(ids), dtype=int)
        for lv in loops:
            oi = predicates.compute_origin_inside(lv)
            counts += predicates.loop_contains_points(lv, oi, centers).astype(int)
        assert (counts == 1).all()

    def test_cell_vertex_closure_exact_degeneracies(self):
        # the hard variant: cell VERTICES shared by adjacent cells — relies
        # on symbolic perturbation for consistency; each vertex must be
        # claimed by exactly one adjacent cell loop (s2loop_test.cc:569-594)
        f0 = int(cellid.from_face(np.array([2]))[0])
        arr = np.array([f0], dtype=np.uint64)
        cells = [int(c) for c in cellid.child(np.repeat(arr, 4), np.arange(4))]
        # probe: the vertices of those cells
        probes = np.concatenate([Cell(c).vertices() for c in cells])
        counts = np.zeros(len(probes), dtype=int)
        for cid in cells:
            v = Cell(cid).vertices()
            oi = predicates.compute_origin_inside(v)
            counts += predicates.loop_contains_points(v, oi, probes).astype(int)
        # vertices interior to face 2 are shared by up to 4 of these cells ->
        # exactly 1 claims it; vertices on the face boundary are shared with
        # cells NOT in this set, so they may be claimed by 0 or 1
        assert (counts <= 1).all()
        center_vertex_rows = [
            i for i, p in enumerate(probes) if all(
                Cell(c).contains_point(p) for c in cells
            )
        ]
        for i in center_vertex_rows:
            assert counts[i] == 1

    def test_contains_matches_crossing_sign_regression(self):
        # s2loop_test.cc:600-650: loop from 4 child-cell centers of the
        # cell containing (1,1,1) at level 21; a point next to vertex 0,
        # toward the grandchild's center, is inside.  The reference uses
        # the grandchild's vertex 0, which differs from vertex 0 only by
        # rounding (on some hosts not at all); here it is vertex 0 with z
        # one ulp up, and its neighbour with z one ulp down is outside:
        # Contains agrees with the crossing parity on both sides.
        p = np.array([1.0, 1.0, 1.0])
        leaf = cellid.from_xyz(p[0:1], p[1:2], p[2:3])
        cell_id = cellid.parent(leaf, 21)
        children = cellid.child(np.repeat(cell_id, 4), np.arange(4))
        verts = np.stack(
            [Cell(int(c)).get_center() / np.linalg.norm(Cell(int(c)).get_center()) for c in children]
        )
        from s2geometry_spark.kernels.regions import Loop

        loop = Loop(verts)
        grandchild = Cell(
            int(cellid.child(cellid.child(cell_id, np.array([0])), np.array([2]))[0])
        )
        assert grandchild.get_center()[2] > verts[0][2]
        a0, b0 = verts[0].copy(), verts[0].copy()
        a0[2] = np.nextafter(a0[2], np.inf)
        b0[2] = np.nextafter(b0[2], -np.inf)
        assert tuple(a0) != tuple(verts[0])
        o = predicates.ORIGIN

        def signs(x):
            return [predicates.crossing_sign(x, o, verts[i], verts[(i + 1) % 4]) for i in range(4)]

        assert signs(a0) == [-1, 1, -1, -1]
        assert loop.contains_point(a0)
        assert signs(b0) == [1, 1, -1, -1]
        assert not loop.contains_point(b0)


class TestCapRegions:
    def test_cap_contains_cell(self):
        for _ in range(50):
            c = random_point()
            cap = Cap.from_center_angle(c, 0.3)
            leaf = cellid.from_xyz(c[0:1], c[1:2], c[2:3])
            small = Cell(int(cellid.parent(leaf, 10)[0]))
            assert cap.contains_cell(small)
            assert cap.may_intersect_cell(small)
            far = Cell(int(cellid.from_xyz(-c[0:1], -c[1:2], -c[2:3])[0]))
            assert not cap.may_intersect_cell(Cell(int(cellid.parent(np.array([far.id], dtype=np.uint64), 10)[0])))

    def test_cell_union_bound_covers_cap(self):
        for _ in range(30):
            c = random_point()
            r = float(RNG.uniform(0.001, 1.0))
            cap = Cap.from_center_angle(c, r)
            bound = np.array(cap.get_cell_union_bound(), dtype=np.uint64)
            bound = cellunion.normalize(bound)
            # sample points in the cap; all must be covered
            for _ in range(50):
                d = random_point()
                t = RNG.uniform(0, 1)
                p = c * (1 - t) + d * t
                p /= np.linalg.norm(p)
                if cap.contains_point(p):
                    leaf = cellid.from_xyz(p[0:1], p[1:2], p[2:3])
                    assert cellunion.contains_cell(bound, leaf)[0]


class TestCoverer:
    def test_single_cell_identity(self):
        # covering of one cell with max_cells=1 is that cell
        # (s2region_coverer_test.cc:72-88)
        for _ in range(200):
            p = random_point()
            lvl = int(RNG.integers(0, 31))
            cid = cellid.parent(cellid.from_xyz(p[0:1], p[1:2], p[2:3]), lvl)
            region = _CellUnionRegion(cid)
            cov = RegionCoverer(CovererOptions(max_cells=1)).get_covering(region)
            assert cov.size == 1 and int(cov[0]) == int(cid[0])

    def test_cap_covering_properties(self):
        for _ in range(25):
            c = random_point()
            r = float(np.exp(RNG.uniform(np.log(1e-4), np.log(1.0))))
            cap = Cap.from_center_angle(c, r)
            opts = CovererOptions(max_cells=8)
            coverer = RegionCoverer(opts)
            cov = coverer.get_covering(cap)
            assert 0 < cov.size <= max(8, 6)
            check_covering(cap, cov, check_tight=False)
            # determinism (s2region_coverer_test.cc:143-147)
            cov2 = RegionCoverer(CovererOptions(max_cells=8)).get_covering(cap)
            assert (cov == cov2).all()

    def test_covering_respects_levels(self):
        c = random_point()
        cap = Cap.from_center_angle(c, 0.01)
        opts = CovererOptions(max_cells=20, min_level=4, max_level=9, level_mod=2)
        cov = RegionCoverer(opts).get_covering(cap)
        lvls = cellid.level(cov)
        assert (lvls >= 4).all() and (lvls <= 9).all()
        assert (((lvls - 4) % 2) == 0).all()
        check_covering(cap, cov, check_tight=False)

    def test_interior_covering(self):
        c = np.array([1.0, 0.0, 0.0])
        cap = Cap.from_center_angle(c, 0.2)
        cov = RegionCoverer(CovererOptions(max_cells=12)).get_interior_covering(cap)
        # every interior cell must be contained by the region
        for v in cov.tolist():
            assert cap.contains_cell(Cell(int(v)))

    def test_loop_covering(self):
        loop = make_loop("-20:150, -20:-70, 0:70, 10:-150, 10:70, -10:-70")
        cov = RegionCoverer(CovererOptions(max_cells=12)).get_covering(loop)
        check_covering(loop, cov, check_tight=False)

    def test_rect_covering(self):
        rect = LatLngRect.from_degrees(40, -120, 45, -110)
        cov = RegionCoverer(CovererOptions(max_cells=8)).get_covering(rect)
        check_covering(rect, cov, check_tight=False)
        cov2 = RegionCoverer(CovererOptions(max_cells=8)).get_covering(rect)
        assert (cov == cov2).all()


class TestCellUnion:
    def test_normalize_collapses_siblings(self):
        p = random_point()
        leaf = cellid.from_xyz(p[0:1], p[1:2], p[2:3])
        parent = cellid.parent(leaf, 10)
        kids = cellid.child(np.repeat(parent, 4), np.arange(4))
        norm = cellunion.normalize(kids)
        assert norm.size == 1 and int(norm[0]) == int(parent[0])

    def test_set_ops_properties(self):
        def rand_union(n):
            pts = np.array([random_point() for _ in range(n)])
            ids = cellid.from_xyz(pts[:, 0], pts[:, 1], pts[:, 2])
            lvls = RNG.integers(2, 12, n)
            return cellunion.normalize(cellid.parent(ids, lvls))

        for _ in range(20):
            x = rand_union(8)
            y = rand_union(8)
            u = cellunion.union(x, y)
            i = cellunion.intersection(x, y)
            d = cellunion.difference(x, y)
            # X ∪ Y ⊇ X ; X ∩ Y ⊆ X ; (X∖Y) ∩ Y = ∅
            assert cellunion.contains_cell(u, x).all()
            if i.size:
                assert cellunion.contains_cell(x, i).all()
                assert cellunion.contains_cell(y, i).all()
            if d.size:
                assert not cellunion.intersects_cell(y, d).any()

    def test_expand_covers(self):
        p = random_point()
        ids = cellunion.normalize(
            cellid.parent(cellid.from_xyz(p[0:1], p[1:2], p[2:3]), 12)
        )
        expanded = cellunion.expand_level(ids, 12)
        assert cellunion.contains_cell(expanded, ids).all()
        # self + 8 neighbors at level 12 (normalize may merge siblings, so
        # compare covered leaf-cell area, which normalize preserves)
        assert cellunion.leaf_cells_covered(expanded) >= 9 * (1 << (2 * (30 - 12)))


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


def test_get_simple_covering_flood_fill():
    """GetSimpleCovering: fixed-level BFS covering must contain the cap's
    canonical covering region (every point of the region is covered)."""
    import numpy as np

    from s2geometry_spark.kernels import cellid
    from s2geometry_spark.kernels.coverer import get_simple_covering
    from s2geometry_spark.kernels.regions import Cap

    cap = Cap.from_latlng_degrees(47.36, 8.55, 0.05)
    level = 9
    cov = get_simple_covering(cap, cap.center, level)
    assert len(cov) > 0
    assert (cellid.level(cov) == level).all()
    # coverage: random points inside the cap land in a covering cell
    rng = np.random.default_rng(3)
    for _ in range(200):
        v = np.asarray(cap.center) + 0.03 * rng.normal(size=3)
        v = v / np.linalg.norm(v)
        if float(((v - np.asarray(cap.center)) ** 2).sum()) > cap.radius2:
            continue
        leaf = cellid.from_xyz(*(np.array([c]) for c in v))
        anc = cellid.parent(leaf, level)[0]
        assert anc in cov
