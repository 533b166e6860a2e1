"""M4/M5 tests: containment join and kNN join vs brute-force NumPy oracles
on deterministic synthetic points (FIXTURES.md §5 pattern)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import cellid, geotag, leafintervals, predicates
from s2geometry_spark.kernels.regions import Cap, Loop
from s2geometry_spark.operators.contains_join import (
    RegionIndex,
    cap_join,
    contains_join,
)
from s2geometry_spark.operators.knn import knn_join


def _xyz(n, key_mult=1, key_off=0):
    """(n, 3) deterministic unit points and their int64 keys."""
    keys = np.arange(1, n + 1, dtype=np.int64) * key_mult + key_off
    x0, y0, z0 = geotag.int_triplet_from_key(keys)
    return np.stack(geotag.xyz_from_triplet(x0, y0, z0), axis=1), keys


def _points_df(spark, n=4000, key_mult=1, key_off=0):
    xyz, keys = _xyz(n, key_mult, key_off)
    x, y, z = xyz.T
    cells = cellid.to_biased(cellid.from_xyz(x, y, z))
    import pandas as pd

    pdf = pd.DataFrame(
        {"pid": keys, "x": x, "y": y, "z": z, "cell": cells}
    )
    return spark.createDataFrame(pdf), xyz, keys


POLYS = {
    "zurich": Loop.make_regular(47.36, 8.55, 0.25, 16),
    "sydney": Loop.make_regular(-33.87, 151.20, 0.35, 24),
    "sf": Loop.make_regular(37.77, -122.42, 0.15, 12),
    "north": Loop.make_regular(90.0, 0.0, 0.5, 16),
}


class TestContainsJoin:
    def test_matches_brute_force(self, spark):
        df, pts, keys = _points_df(spark, 4000)
        index = RegionIndex(POLYS)
        got = contains_join(spark, df, index).toPandas()
        got_set = set(zip(got["pid"], got["poly_id"]))
        expect = set()
        for rid, loop in POLYS.items():
            inside = predicates.loop_contains_points(
                loop.vertices, loop.origin_inside, pts
            )
            for i in np.nonzero(inside)[0]:
                expect.add((keys[i], rid))
        assert got_set == expect
        assert len(expect) > 50  # sanity: fixtures actually exercise the join

    def test_semi_anti_variants(self, spark):
        df, pts, keys = _points_df(spark, 2000)
        index = RegionIndex(POLYS)
        pairs = contains_join(spark, df, index)
        inside_any = df.join(pairs, "pid", "left_semi")
        outside_all = df.join(pairs, "pid", "left_anti")
        n_in = inside_any.count()
        n_out = outside_all.count()
        assert n_in + n_out == 2000
        expect_in = set()
        for loop in POLYS.values():
            inside = predicates.loop_contains_points(
                loop.vertices, loop.origin_inside, pts
            )
            expect_in |= {int(keys[i]) for i in np.nonzero(inside)[0]}
        assert n_in == len(expect_in)

    def test_cap_join_matches_brute_force(self, spark):
        df, pts, keys = _points_df(spark, 4000)
        caps = {
            "c1": Cap.from_latlng_degrees(47.36, 8.55, 0.3),
            "c2": Cap.from_latlng_degrees(-33.87, 151.20, 0.5),
            "c3": Cap.from_latlng_degrees(0.0, 0.0, 0.2),
        }
        got = cap_join(spark, df, caps).toPandas()
        got_set = set(zip(got["pid"], got["poly_id"]))
        expect = set()
        for rid, cap in caps.items():
            inside = cap.contains_points(pts)
            for i in np.nonzero(inside)[0]:
                expect.add((keys[i], rid))
        assert got_set == expect
        assert len(expect) > 20


class TestKnnJoin:
    def test_matches_brute_force(self, spark):
        pdf_p, pts, pkeys = _points_df(spark, 3000)
        pdf_q, qts, qkeys = _points_df(spark, 120, key_mult=7, key_off=3)
        points = pdf_p.toDF("pid", "px", "py", "pz", "p_cell")
        queries = pdf_q.toDF("qid", "qx", "qy", "qz", "q_cell")
        k = 3
        got = knn_join(spark, points, queries, k, start_level=5, num_stages=2).toPandas()
        # brute force oracle
        d = ((qts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
        rows = []
        for i, qk in enumerate(qkeys):
            order = np.lexsort((pkeys, d[i]))[:k]
            for r, j in enumerate(order, start=1):
                rows.append((int(qk), r, int(pkeys[j])))
        expect = set(rows)
        got_set = set(zip(got["qid"], got["rank"], got["pid"]))
        assert got_set == expect

    def test_every_query_gets_k(self, spark):
        pdf_p, _, _ = _points_df(spark, 500)
        pdf_q, _, _ = _points_df(spark, 40, key_mult=11, key_off=5)
        points = pdf_p.toDF("pid", "px", "py", "pz", "p_cell")
        queries = pdf_q.toDF("qid", "qx", "qy", "qz", "q_cell")
        got = knn_join(spark, points, queries, 5, start_level=6, num_stages=2)
        counts = got.groupBy("qid").count().toPandas()
        assert len(counts) == 40
        assert (counts["count"] == 5).all()

    def test_duplicate_coordinates_tie_break_on_pid(self, spark):
        # every coordinate three times under scattered pids, so the k-th
        # rank cuts through a tie that only the pid can order
        pts, keys = _xyz(800)
        P = np.concatenate([pts, pts, pts])
        pids = np.concatenate([keys * 3 + 2, keys * 3, keys * 3 + 1])
        qts, qkeys = _xyz(60, key_mult=7, key_off=3)
        k = 5
        got = knn_join(
            spark, *_knn_frames(spark, P, pids, qts, qkeys), k, start_level=5
        ).toPandas()
        assert _rows(got) == _knn_reference(P, pids, qts, qkeys, k)

    def test_fine_start_level_certifies_later(self, spark, monkeypatch):
        pts, keys = _xyz(3000)
        qts, qkeys = _xyz(50, key_mult=7, key_off=3)
        levels = _record_scan_levels(monkeypatch)
        got = knn_join(
            spark, *_knn_frames(spark, pts, keys, qts, qkeys), 3,
            start_level=11, num_stages=4,
        ).toPandas()
        assert _rows(got) == _knn_reference(pts, keys, qts, qkeys, 3)
        assert len(levels) >= 2 and 0 not in levels

    def test_remainder_scans_every_point(self, spark, monkeypatch):
        pts, keys = _xyz(1500)
        qts, qkeys = _xyz(30, key_mult=7, key_off=3)
        levels = _record_scan_levels(monkeypatch)
        got = knn_join(
            spark, *_knn_frames(spark, pts, keys, qts, qkeys), 4,
            start_level=20, num_stages=1,
        ).toPandas()
        assert _rows(got) == _knn_reference(pts, keys, qts, qkeys, 4)
        assert levels == [20, 0]

    def test_block_with_fewer_than_k_points(self, spark):
        pts, keys = _xyz(2000)
        qts, qkeys = _xyz(40, key_mult=7, key_off=3)
        k, level = 4, 7
        # the fixture must hold a query whose 3x3 block has < k points
        qc = cellid.parent(cellid.from_xyz(qts[:, 0], qts[:, 1], qts[:, 2]), level)
        pc = cellid.parent(cellid.from_xyz(pts[:, 0], pts[:, 1], pts[:, 2]), level)
        idx, nbrs = cellid.append_all_neighbors(qc, level)
        in_block = np.zeros(len(qts), np.int64)
        for i in range(len(qts)):
            block = np.union1d(nbrs[idx == i], qc[i : i + 1])
            in_block[i] = np.isin(pc, block).sum()
        assert (in_block < k).any()
        got = knn_join(
            spark, *_knn_frames(spark, pts, keys, qts, qkeys), k,
            start_level=level, num_stages=2,
        ).toPandas()
        assert _rows(got) == _knn_reference(pts, keys, qts, qkeys, k)

    def test_empty_query_side(self, spark):
        pts, keys = _xyz(200)
        no_queries = (np.empty((0, 3)), np.empty(0, np.int64))
        got = knn_join(spark, *_knn_frames(spark, pts, keys, *no_queries), 3)
        assert got.schema.simpleString() == (
            "struct<qid:bigint,rank:int,pid:bigint,dist_chord2:double>"
        )
        assert len(got.toPandas()) == 0

    def test_leaves_no_persistent_rdds(self, spark):
        pts, keys = _xyz(1000)
        qts, qkeys = _xyz(20, key_mult=7, key_off=3)
        frames = _knn_frames(spark, pts, keys, qts, qkeys)
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        knn_join(spark, *frames, 3, start_level=8, num_stages=2).toPandas()
        assert jsc.getPersistentRDDs().size() == before

    def test_remainder_cap_raises(self, spark, monkeypatch):
        from s2geometry_spark.operators import knn

        pts, keys = _xyz(300)
        qts, qkeys = _xyz(5, key_mult=7, key_off=3)
        monkeypatch.setattr(knn, "MAX_BRUTE_FORCE_QUERIES", 0)
        with pytest.raises(ValueError, match="left uncertified"):
            knn_join(
                spark, *_knn_frames(spark, pts, keys, qts, qkeys), 3,
                start_level=20, num_stages=1,
            )

    # Each batch settles a query at the finest block level of the scan's
    # ladder (start, +3, +6, +9) that holds k of its rows nearer than its
    # bound; these fixtures mix queries that settle fine with ones that
    # only the start level serves.

    def test_dense_cluster_and_sparse_tail_from_a_coarse_level(self, spark):
        pts, pids, qts, qkeys = _cluster_and_tail()
        k = 5
        fine, coarse = _settles_at(pts, qts, k, 13)
        assert fine.any() and coarse.any()
        got = knn_join(
            spark, *_knn_frames(spark, pts, pids, qts, qkeys), k, start_level=4
        ).toPandas()
        assert _rows(got) == _knn_reference(pts, pids, qts, qkeys, k)

    def test_many_arrow_batches_per_partition(self, spark):
        pts, pids, qts, qkeys = _cluster_and_tail()
        points, queries = _knn_frames(spark, pts, pids, qts, qkeys)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        batch = 64
        assert len(pts) > 4 * batch * points.rdd.getNumPartitions()
        old = spark.conf.get(key)
        spark.conf.set(key, str(batch))
        try:
            got = knn_join(spark, points, queries, 5, start_level=4).toPandas()
        finally:
            spark.conf.set(key, old)
        assert _rows(got) == _knn_reference(pts, pids, qts, qkeys, 5)

    def test_ties_cut_at_a_fine_levels_kth_row(self, spark):
        # every clustered coordinate three times under scattered pids: a
        # query settled at level 13 has its k-th row inside a tie
        pts, pids, qts, qkeys = _cluster_and_tail(n_dense=900, n_tail=300)
        P = np.concatenate([pts, pts, pts])
        ids = np.concatenate([pids * 3 + 2, pids * 3, pids * 3 + 1])
        k = 4
        fine, _ = _settles_at(P, qts, k, 13)
        assert fine.any()
        got = knn_join(
            spark, *_knn_frames(spark, P, ids, qts, qkeys), k, start_level=4
        ).toPandas()
        assert _rows(got) == _knn_reference(P, ids, qts, qkeys, k)

    def test_cube_corner_and_pole_queries(self, spark):
        corner = np.full(3, 1 / np.sqrt(3))
        pole = np.array([0.0, 0.0, 1.0])
        pts, pids, _, _ = _cluster_and_tail(centers=[corner, pole])
        tilt = _unit(corner + np.array([1e-6, -1e-6, 0.0]))
        qts = np.stack([corner, pole, tilt, -corner, -pole])
        qkeys = np.arange(len(qts), dtype=np.int64)
        k = 6
        got = knn_join(
            spark, *_knn_frames(spark, pts, pids, qts, qkeys), k, start_level=4
        ).toPandas()
        assert _rows(got) == _knn_reference(pts, pids, qts, qkeys, k)

    def test_fine_rows_with_a_nearer_row_outside_do_not_settle(self, spark):
        # k rows inside each query's level-13 block and one nearer row
        # just outside it, all in one partition: level 13 must not settle
        qts, trap, halo = _block_trap(13)
        tail, _ = _xyz(500)
        pts = np.concatenate([trap.reshape(-1, 3), halo, tail])
        pids = np.arange(len(pts), dtype=np.int64)
        qkeys = np.arange(len(qts), dtype=np.int64)
        points, queries = _knn_frames(spark, pts, pids, qts, qkeys)
        got = knn_join(spark, points.coalesce(1), queries, 4, start_level=4).toPandas()
        assert _rows(got) == _knn_reference(pts, pids, qts, qkeys, 4)


def _unit(X):
    return X / np.linalg.norm(X, axis=-1, keepdims=True)


def _cluster_and_tail(n_dense=3000, n_tail=1000, centers=None, seed=17):
    """Points: ``n_dense`` within about 1e-4 rad of a few centers, plus
    ``n_tail`` spread over the sphere.  Queries: ten near the centers,
    twenty anywhere.  Returns (pts, pids, qts, qkeys)."""
    rng = np.random.RandomState(seed)
    if centers is None:
        centers = _unit(rng.randn(3, 3))
    C = np.asarray(centers)
    dense = C[rng.randint(len(C), size=n_dense)] + 1e-4 * rng.randn(n_dense, 3)
    pts = _unit(np.concatenate([dense, rng.randn(n_tail, 3)]))
    near = C[rng.randint(len(C), size=10)] + 5e-5 * rng.randn(10, 3)
    qts = _unit(np.concatenate([near, rng.randn(20, 3)]))
    pids = rng.permutation(len(pts)).astype(np.int64) * 5 + 1
    return pts, pids, qts, np.arange(len(qts), dtype=np.int64) * 7 + 3


def _block_trap(level, n=8, seed=3):
    """Queries at ``n`` level-``level`` cell centers, and per query five
    points: four inside its 3x3 block toward the block's corners and,
    last, one just outside the block that is nearer than the farthest
    of the four.  A halo of 40 points 0.01-0.03 rad around each query
    fills its coarse blocks, so that the fine level meets far fewer
    pairs than a scan at a coarse level and is scored.
    Returns (qts, trap points of shape (n, 5, 3), halo points)."""
    from s2geometry_spark.operators import knn

    rng = np.random.RandomState(seed)
    seeds = _unit(rng.randn(n, 3))
    own = cellid.parent(cellid.from_xyz(*seeds.T), level)
    c = np.stack(cellid.to_point(own), axis=1)
    V = cellid.corners_xyz(own)
    inside = _unit(c[:, None, :] + 2.6 * (V - c[:, None, :]))
    outside = _unit(c + 3.3 * ((V[:, 0] + V[:, 1]) / 2 - c))
    trap = np.concatenate([inside, outside[:, None, :]], axis=1)
    # the fixture's premise: the four are in the block, the fifth is not
    # and is nearer, and the k-th of the four is beyond the bound
    blocks = knn._ladder(c, cellid.from_xyz(*c.T), level)[-1][0]
    row, _ = leafintervals.stab(blocks, cellid.from_xyz(*trap.reshape(-1, 3).T))
    assert (np.isin(np.arange(5 * n), row).reshape(n, 5) == [True] * 4 + [False]).all()
    d = ((trap - c[:, None, :]) ** 2).sum(axis=2)
    assert (d[:, 4] < d[:, :4].max(axis=1)).all()
    bound = knn.query_bound_chord2(c, cellid.from_xyz(*c.T), level)
    assert (d[:, :4].max(axis=1) > bound).all()
    t = rng.randn(n, 40, 3)
    t -= (t * c[:, None, :]).sum(axis=2, keepdims=True) * c[:, None, :]
    r = rng.uniform(0.01, 0.03, (n, 40, 1))
    halo = _unit(c[:, None, :] + r * _unit(t)).reshape(-1, 3)
    assert len(leafintervals.stab(blocks, cellid.from_xyz(*halo.T))[0]) == 0
    return c, trap, halo


def _settles_at(pts, qts, k, level):
    """(fine, coarse): whether each query's global k-th distance beats
    its bound at ``level``, i.e. whether its k nearest points lie in its
    block there with nothing outside nearer."""
    from s2geometry_spark.operators import knn

    d = ((qts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
    kth = np.sort(d, axis=1)[:, k - 1]
    cells = cellid.from_xyz(qts[:, 0], qts[:, 1], qts[:, 2])
    fine = kth < knn.query_bound_chord2(qts, cells, level)
    return fine, ~fine


def _knn_frames(spark, pts, pids, qts, qkeys):
    """(points, queries) frames in knn_join's input schema."""
    import pandas as pd

    def frame(xyz, ids, key, prefix):
        cells = cellid.to_biased(cellid.from_xyz(xyz[:, 0], xyz[:, 1], xyz[:, 2]))
        pdf = pd.DataFrame(
            {key: np.asarray(ids, np.int64), f"{prefix}x": xyz[:, 0],
             f"{prefix}y": xyz[:, 1], f"{prefix}z": xyz[:, 2],
             f"{prefix}_cell": cells}
        )
        return spark.createDataFrame(
            pdf, f"{key} long, {prefix}x double, {prefix}y double, "
            f"{prefix}z double, {prefix}_cell long",
        )

    return frame(pts, pids, "pid", "p"), frame(qts, qkeys, "qid", "q")


def _knn_reference(pts, pids, qts, qkeys, k):
    """Exhaustive top-k in (chord², pid) order with the pinned
    ((dx²+dy²)+dz²) sum: {(qid, rank, pid, dist_chord2)}."""
    rows = set()
    for i, qk in enumerate(qkeys):
        dx, dy, dz = (qts[i, c] - pts[:, c] for c in range(3))
        d = (dx * dx + dy * dy) + dz * dz
        for r, j in enumerate(np.lexsort((pids, d))[:k], start=1):
            rows.add((int(qk), r, int(pids[j]), float(d[j])))
    return rows


def _rows(got):
    return set(zip(got["qid"].tolist(), got["rank"].tolist(),
                   got["pid"].tolist(), got["dist_chord2"].tolist()))


def _record_scan_levels(monkeypatch):
    """Record the level of every points scan knn_join runs (0 is the
    scan against every point)."""
    from s2geometry_spark.operators import knn

    levels, scan = [], knn._scan

    def spy(points, kind, Q, cells, level, k):
        levels.append(level)
        return scan(points, kind, Q, cells, level, k)

    monkeypatch.setattr(knn, "_scan", spy)
    return levels


class TestBoundaryDistance:
    def test_matches_brute_force(self, spark):
        from s2geometry_spark.kernels import measures
        from s2geometry_spark.operators.knn import distance_to_boundary_join

        df, P, keys = _points_df(spark, n=2500)
        rows = {r.pid: r for r in distance_to_boundary_join(df, POLYS).collect()}
        assert set(rows) == set(keys.tolist())
        rids = sorted(POLYS)
        # brute force: min over every loop edge, first-(rid, eidx) tie-break
        edges = []
        for rid in rids:
            V = np.asarray(POLYS[rid].vertices, float)
            W = np.roll(V, -1, axis=0)
            edges.extend((rid, i, V[i], W[i]) for i in range(len(V)))
        n = P.shape[0]
        best = np.full(n, np.inf)
        best_j = np.zeros(n, np.int64)
        for j, (_, _, a, b) in enumerate(edges):
            d = measures.point_edge_chord2(
                P, np.broadcast_to(a, (n, 3)), np.broadcast_to(b, (n, 3))
            )
            upd = d < best
            best = np.where(upd, d, best)
            best_j = np.where(upd, j, best_j)
        inside = np.zeros(n, bool)
        for rid in rids:
            lp = POLYS[rid]
            inside |= predicates.loop_contains_points(lp.vertices, lp.origin_inside, P)
        for i, pid in enumerate(keys):
            r = rows[int(pid)]
            rid, eidx, _, _ = edges[best_j[i]]
            assert (r.rid, r.edge_idx) == (rid, eidx)
            assert r.dist_chord2 == best[i]
            assert r.inside == inside[i]
            assert r.signed_chord2 == (-best[i] if inside[i] else best[i])
            # S2Polygon::Project: the point itself inside, else the
            # closest boundary point on the winning edge
            if inside[i]:
                assert (r.px, r.py, r.pz) == tuple(P[i])
            else:
                _, _, a, b = edges[best_j[i]]
                want = measures.project_to_edge_pinned(
                    P[i : i + 1],
                    np.broadcast_to(a, (1, 3)).copy(),
                    np.broadcast_to(b, (1, 3)).copy(),
                )[0]
                assert (r.px, r.py, r.pz) == tuple(want)
        # the fixture must exercise both signs
        assert inside.any() and not inside.all()


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


def test_rect_join_matches_brute_force(spark):
    """rect_join (covering candidates + atan2-free SQL refinement) equals
    the per-point LatLngRect.contains_point scan, including the
    antimeridian-wrapping and full-longitude polar rects."""
    from s2geometry_spark.kernels.regions import LatLngRect
    from s2geometry_spark.operators.contains_join import rect_join

    rects = {
        "box": LatLngRect.from_degrees(10.0, 20.0, 35.0, 55.0),
        "wrap": LatLngRect.from_degrees(-30.0, 160.0, 10.0, -150.0),
        "polar": LatLngRect.from_degrees(70.0, -180.0, 90.0, 180.0),
    }
    df, pts, keys = _points_df(spark, n=3000)
    got = {
        (r.pid, r.poly_id) for r in rect_join(spark, df, rects).collect()
    }
    want = {
        (int(k), rid)
        for k, p in zip(keys, pts)
        for rid, rect in rects.items()
        if rect.contains_point(p)
    }
    assert got == want and len(want) > 0
