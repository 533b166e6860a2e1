"""s2shapeutil::GetReferencePoint (s2shapeutil_get_reference_point.cc).

The contains-vertex convention is checked against an INDEPENDENT
geometric probe: a vertex B of a simple loop is "contained" iff the
loop contains the point nudged from B toward RefDir(B) — so the
clockwise-unmatched-edge rule is validated by actual point-in-polygon
parity, not by replaying itself.  The sweep logic (first vertex
balanced -> min unmatched edge) is pinned by handcrafted shapes."""

import numpy as np

from s2geometry_spark.kernels.containsvertex import ContainsVertexQuery
from s2geometry_spark.kernels.predicates import (
    _ortho,
    compute_origin_inside,
    loop_contains_points,
)
from tests.conftest import load_entry


def _unit(v):
    v = np.asarray(v, np.float64)
    return v / np.linalg.norm(v)


def test_contains_sign_matches_nudged_point_parity():
    rng = np.random.default_rng(5)
    agree = 0
    for trial in range(200):
        # a random triangle B -> C -> D -> B on the sphere
        b = _unit(rng.normal(size=3))
        c = _unit(rng.normal(size=3))
        d = _unit(rng.normal(size=3))
        q = ContainsVertexQuery(b)
        q.add_edge(c, 1)   # outgoing B->C
        q.add_edge(d, -1)  # incoming D->B
        sign = q.contains_sign()
        assert sign in (-1, 1)
        ref = np.asarray(_ortho(tuple(b)))
        probe = _unit(b + 1e-9 * ref)
        loop = np.stack([b, c, d])
        inside = bool(
            loop_contains_points(
                loop, compute_origin_inside(loop), probe.reshape(1, 3)
            )[0]
        )
        assert (sign > 0) == inside, (trial, sign, inside)
        agree += 1
    assert agree == 200


def test_matched_edges_give_zero_sign():
    rng = np.random.default_rng(9)
    b = _unit(rng.normal(size=3))
    w = _unit(rng.normal(size=3))
    q = ContainsVertexQuery(b)
    q.add_edge(w, 1)
    q.add_edge(w, -1)
    assert q.contains_sign() == 0


def test_sweep_picks_min_unmatched_edge(spark):
    m = load_entry()
    out = (
        m.queries()["shape_reference_point"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .set_index("shape_id")
    )
    for pid in out.index:
        mcase = pid % 3
        if mcase == 0:
            # figure-eight: first edge's source A = pid*8+6 is unbalanced
            assert out.loc[pid, "ref_vertex"] == pid * 8 + 6
        elif mcase == 1:
            # sibling pair balances the first vertex; the sorted sweep's
            # min unmatched edge is (B, C) -> vertex B = pid*8+1
            assert out.loc[pid, "ref_vertex"] == pid * 8 + 1
        else:
            # all edges matched: sentinel vertex, not contained
            assert out.loc[pid, "ref_vertex"] == -1
            assert not out.loc[pid, "contained"]


def test_contains_signs_batch_equals_scalar_class():
    """Randomized equivalence: the vectorized batch fold must reproduce
    the scalar ContainsVertexQuery sign for every shape, including
    cancelling sibling pairs and duplicate endpoints."""
    import numpy as np

    from s2geometry_spark.kernels.containsvertex import contains_signs_batch

    rng = np.random.default_rng(11)
    gids, tgts, fars, sgns = [], [], [], []
    expected = {}
    for gid in range(300):
        t = rng.normal(size=3)
        t /= np.linalg.norm(t)
        q = ContainsVertexQuery(tuple(t))
        n_edges = rng.integers(1, 6)
        pts = rng.normal(size=(n_edges, 3))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        for j in range(n_edges):
            s = int(rng.choice([-1, 1]))
            q.add_edge(tuple(pts[j]), s)
            gids.append(gid); tgts.append(t); fars.append(pts[j]); sgns.append(s)
            if rng.random() < 0.3:  # sibling pair: cancels to 0
                q.add_edge(tuple(pts[j]), -s)
                gids.append(gid); tgts.append(t); fars.append(pts[j]); sgns.append(-s)
        expected[gid] = q.contains_sign()
    ug, bs = contains_signs_batch(
        np.array(gids, np.int64), np.array(tgts), np.array(fars),
        np.array(sgns, np.int64),
    )
    got = dict(zip(ug.tolist(), bs.tolist()))
    assert got == expected
