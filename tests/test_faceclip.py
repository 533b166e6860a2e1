"""GetFaceSegments: kernel properties + Spark/DuckDB bit-parity.

Reference semantics: s2edge_clipping.cc:206-258 (see
kernels/faceclip.py).  The walk's invariants — the reference's own
documented guarantees (s2edge_clipping.h:50-66) — are checked directly:
the segments form a continuous chain from A to B, every vertex lies on
the great circle AB, and each segment stays within its face's
[-1,1]x[-1,1] UV square (modulo kFaceClipError slop).
"""

import numpy as np
import pytest

from s2geometry_spark.kernels.coords import face_uv_to_xyz, xyz_to_face_uv
from s2geometry_spark.kernels.faceclip import (
    _dot3,
    get_face_segments,
    robust_cross_prod,
)
from tests.conftest import SF_ORACLE, compare_frames, load_entry


def _random_units(rng, n):
    p = rng.normal(size=(n, 3))
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def _segments(n=5000, seed=3):
    rng = np.random.default_rng(seed)
    a, b = _random_units(rng, n), _random_units(rng, n)
    return a, b, get_face_segments(
        a[:, 0], a[:, 1], a[:, 2], b[:, 0], b[:, 1], b[:, 2]
    )


def test_chain_endpoints_and_order():
    a, b, (idx, seg, face, au, av, bu, bv) = _segments()
    order = np.lexsort((seg, idx))
    idx, seg, face = idx[order], seg[order], face[order]
    au, av, bu, bv = au[order], av[order], bu[order], bv[order]
    first = np.r_[True, idx[1:] != idx[:-1]]
    last = np.r_[idx[1:] != idx[:-1], True]
    af, auu, avv = xyz_to_face_uv(a[:, 0], a[:, 1], a[:, 2])
    bf, buu, bvv = xyz_to_face_uv(b[:, 0], b[:, 1], b[:, 2])
    # MoveOrigin may (rarely) shift an endpoint's face; the UV match
    # below holds whenever it did not fire, which is all random draws
    np.testing.assert_array_equal(face[first], af[idx[first]])
    np.testing.assert_array_equal(au[first], auu[idx[first]])
    np.testing.assert_array_equal(av[first], avv[idx[first]])
    np.testing.assert_array_equal(face[last], bf[idx[last]])
    np.testing.assert_array_equal(bu[last], buu[idx[last]])
    np.testing.assert_array_equal(bv[last], bvv[idx[last]])
    # seg numbering is 0..k-1 per edge
    assert seg[first].max() == 0
    counts = np.bincount(idx)
    assert (seg[last] == counts[idx[last]] - 1).all()
    assert 1 <= counts.max() <= 5


def test_chain_continuity_exact():
    _, _, (idx, seg, face, au, av, bu, bv) = _segments()
    order = np.lexsort((seg, idx))
    idx, face = idx[order], face[order]
    au, av, bu, bv = au[order], av[order], bu[order], bv[order]
    last = np.r_[idx[1:] != idx[:-1], True]
    first = np.r_[True, idx[1:] != idx[:-1]]
    # exit xyz of segment k == entry xyz of segment k+1, bit-exact
    ex, ey, ez = face_uv_to_xyz(face[~last], bu[~last], bv[~last])
    sx, sy, sz = face_uv_to_xyz(face[~first], au[~first], av[~first])
    exn = np.stack([ex, ey, ez])
    exn = exn / np.linalg.norm(exn, axis=0)
    sxn = np.stack([sx, sy, sz])
    sxn = sxn / np.linalg.norm(sxn, axis=0)
    assert np.abs(exn - sxn).max() == 0.0


def test_vertices_on_great_circle_and_in_face():
    a, b, (idx, seg, face, au, av, bu, bv) = _segments()
    nx, ny, nz = robust_cross_prod(
        a[idx, 0], a[idx, 1], a[idx, 2], b[idx, 0], b[idx, 1], b[idx, 2]
    )
    nn = np.sqrt(_dot3(nx, ny, nz, nx, ny, nz))
    for uu, vv in [(au, av), (bu, bv)]:
        px, py, pz = face_uv_to_xyz(face, uu, vv)
        pn = np.sqrt(_dot3(px, py, pz, px, py, pz))
        d = np.abs(_dot3(px / pn, py / pn, pz / pn, nx, ny, nz)) / nn
        assert d.max() < 1e-16 * 10
        assert max(np.abs(uu).max(), np.abs(vv).max()) <= 1 + 1e-12


def test_boundary_points_walk_completes():
    # endpoints exactly on face boundaries (u = +-1) exercise the
    # MoveOriginToValidFace branch decisions without crashing the walk
    diag = np.array(
        [
            [1.0, 1.0, 0.3],
            [1.0, -1.0, 0.2],
            [0.5, 1.0, 1.0],
            [-1.0, 1.0, -1.0],
        ]
    )
    a = diag / np.linalg.norm(diag, axis=1, keepdims=True)
    b = _random_units(np.random.default_rng(11), 4)
    idx, seg, face, au, av, bu, bv = get_face_segments(
        a[:, 0], a[:, 1], a[:, 2], b[:, 0], b[:, 1], b[:, 2]
    )
    assert np.bincount(idx, minlength=4).min() >= 1
    assert max(np.abs(au).max(), np.abs(bv).max()) <= 1 + 1e-12


def test_empty_batch_schema(spark):
    from s2geometry_spark.operators.faceclip import FSEG_SCHEMA, face_segments

    edges = spark.createDataFrame(
        [],
        "eid long, ax double, ay double, az double, "
        "bx double, by double, bz double",
    )
    out = face_segments(edges)
    assert out.columns == [c.split()[0] for c in FSEG_SCHEMA.split(", ")]
    assert out.count() == 0


def test_spark_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_face_segments(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["face_segments"])
    compare_frames(sdf, rel)


def test_clip_padding_zero_equals_walk():
    """At padding 0, ClipToPaddedFace's hit set and clipped UVs must
    equal the GetFaceSegments walk exactly (both sides of
    s2edge_clipping.cc agree on interior crossings)."""
    from s2geometry_spark.kernels.faceclip import clip_to_padded_face

    a, b, (idx, seg, face, au, av, bu, bv) = _segments(n=3000, seed=17)
    n = a.shape[0]
    E = np.repeat(np.arange(n), 6)
    Fc = np.tile(np.arange(6, dtype=np.int64), n)
    hit, cau, cav, cbu, cbv = clip_to_padded_face(
        Fc, a[E, 0], a[E, 1], a[E, 2], b[E, 0], b[E, 1], b[E, 2], 0.0
    )
    walk = set(zip(idx.tolist(), face.tolist()))
    clip = set(zip(E[hit].tolist(), Fc[hit].tolist()))
    assert walk == clip
    pos = {(e, f): i for i, (e, f) in enumerate(zip(E[hit], Fc[hit]))}
    sel = np.array([pos[(e, f)] for e, f in zip(idx, face)])
    assert np.array_equal(cau[hit][sel], au)
    assert np.array_equal(cav[hit][sel], av)
    assert np.array_equal(cbu[hit][sel], bu)
    assert np.array_equal(cbv[hit][sel], bv)


def test_clip_padding_monotone():
    from s2geometry_spark.kernels.faceclip import clip_to_padded_face

    rng = np.random.default_rng(23)
    a, b = _random_units(rng, 2000), _random_units(rng, 2000)
    E = np.repeat(np.arange(2000), 6)
    Fc = np.tile(np.arange(6, dtype=np.int64), 2000)
    args = (Fc, a[E, 0], a[E, 1], a[E, 2], b[E, 0], b[E, 1], b[E, 2])
    h0, *_ = clip_to_padded_face(*args, 0.0)
    h1, *_ = clip_to_padded_face(*args, 0.05)
    h2, *_ = clip_to_padded_face(*args, 0.2)
    assert not (h0 & ~h1).any() and not (h1 & ~h2).any()
    assert h1.sum() > h0.sum()


def test_edge_clip_faces_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_edge_clip_faces(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["edge_clip_faces"])
    compare_frames(sdf, rel)


def test_edge_cells_covers_sampled_points():
    """Every densely-sampled point of every edge must land in one of the
    emitted level-3 grid cells (the cell set is a cover of the edge)."""
    from s2geometry_spark.kernels.coords import st_to_ij, uv_to_st, xyz_to_face_uv
    from s2geometry_spark.kernels.faceclip import edge_level_cells

    rng = np.random.default_rng(31)
    n, lvl = 400, 3
    a, b = _random_units(rng, n), _random_units(rng, n)
    idx, face, ci, cj = edge_level_cells(
        a[:, 0], a[:, 1], a[:, 2], b[:, 0], b[:, 1], b[:, 2], lvl
    )
    cells = set(zip(idx.tolist(), face.tolist(), ci.tolist(), cj.tolist()))
    shift = 30 - lvl
    ts = np.linspace(0, 1, 120)
    for e in range(n):
        p = a[e][None, :] * (1 - ts)[:, None] + b[e][None, :] * ts[:, None]
        p = p / np.linalg.norm(p, axis=1, keepdims=True)
        f, u, v = xyz_to_face_uv(p[:, 0], p[:, 1], p[:, 2])
        i = st_to_ij(uv_to_st(u)) >> shift
        j = st_to_ij(uv_to_st(v)) >> shift
        assert all(
            (e, ff, ii, jj) in cells
            for ff, ii, jj in zip(f.tolist(), i.tolist(), j.tolist())
        )


def test_edge_cells_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_edge_cells(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["edge_cells"])
    compare_frames(sdf, rel)


def test_clip_edge_agrees_with_intersects_rect():
    """ClipEdge returns a clipped segment iff IntersectsRect says the
    segment meets the rect (the reference documents them as the same
    predicate); clipped endpoints stay in the rect, on the segment, in
    parameter order."""
    from s2geometry_spark.kernels.faceclip import clip_edge, intersects_rect

    rng = np.random.default_rng(41)
    n = 50000
    au, av, bu, bv = (rng.uniform(-1.5, 1.5, n) for _ in range(4))
    c = rng.uniform(-1.2, 1.2, (n, 4))
    ulo, uhi = np.minimum(c[:, 0], c[:, 1]), np.maximum(c[:, 0], c[:, 1])
    vlo, vhi = np.minimum(c[:, 2], c[:, 3]), np.maximum(c[:, 2], c[:, 3])
    ok, cau, cav, cbu, cbv = clip_edge(au, av, bu, bv, ulo, uhi, vlo, vhi)
    assert np.array_equal(ok, intersects_rect(au, av, bu, bv, ulo, uhi, vlo, vhi))
    e, m = 1e-12, ok
    for p, lo, hi in [(cau, ulo, uhi), (cbu, ulo, uhi), (cav, vlo, vhi), (cbv, vlo, vhi)]:
        assert (p[m] >= lo[m] - e).all() and (p[m] <= hi[m] + e).all()
    dx, dy = bu - au, bv - av
    for pu, pv in [(cau, cav), (cbu, cbv)]:
        cr = np.abs(dx[m] * (pv[m] - av[m]) - dy[m] * (pu[m] - au[m]))
        assert (cr <= 1e-13 * (dx[m] ** 2 + dy[m] ** 2 + 1)).all()
    t_a = (cau[m] - au[m]) * dx[m] + (cav[m] - av[m]) * dy[m]
    t_b = (cbu[m] - au[m]) * dx[m] + (cbv[m] - av[m]) * dy[m]
    assert (t_a <= t_b + 1e-12).all()


def test_edge_cell_clips_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_edge_clip_cells(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["edge_clip_cells"])
    compare_frames(sdf, rel)


def test_edge_cell_clips_segments_inside_cells():
    """Every clipped segment lies inside its cell's UV rect and on the
    face segment it was clipped from, and the cell set equals
    edge_level_cells (ClipEdge == IntersectsRect)."""
    from s2geometry_spark.kernels.faceclip import (
        edge_level_cell_clips,
        edge_level_cells,
        _st_to_uv,
    )

    a, b, _ = _segments(n=2000, seed=9)
    lvl = 3
    args = (a[:, 0], a[:, 1], a[:, 2], b[:, 0], b[:, 1], b[:, 2], lvl)
    idx, face, ci, cj, cau, cav, cbu, cbv = edge_level_cell_clips(*args)
    idx0, face0, ci0, cj0 = edge_level_cells(*args)
    assert np.array_equal(idx, idx0) and np.array_equal(face, face0)
    assert np.array_equal(ci, ci0) and np.array_equal(cj, cj0)
    shift = 30 - lvl
    inv = 1.0 / 1073741824.0
    culo = _st_to_uv(inv * (ci << shift).astype(np.float64))
    cuhi = _st_to_uv(inv * ((ci + 1) << shift).astype(np.float64))
    cvlo = _st_to_uv(inv * (cj << shift).astype(np.float64))
    cvhi = _st_to_uv(inv * ((cj + 1) << shift).astype(np.float64))
    e = 1e-12
    for p, lo, hi in [(cau, culo, cuhi), (cbu, culo, cuhi),
                      (cav, cvlo, cvhi), (cbv, cvlo, cvhi)]:
        assert (p >= lo - e).all() and (p <= hi + e).all()
