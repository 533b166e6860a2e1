"""Edge-crossing join vs brute force: random geodesic edge sets, all
crossing pairs via the scalar robust predicate as the oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import predicates
from s2geometry_spark.operators.edge_join import (
    edge_crossing_join,
    edge_intersection_join,
)


def random_edges(rng, n, spread=0.3, center=(1.0, 0.0, 0.0)):
    c = np.asarray(center, float)
    c /= np.linalg.norm(c)
    p0 = c[None, :] + spread * rng.normal(size=(n, 3))
    p1 = c[None, :] + spread * rng.normal(size=(n, 3))
    p0 /= np.linalg.norm(p0, axis=1)[:, None]
    p1 /= np.linalg.norm(p1, axis=1)[:, None]
    return p0, p1


def to_df(spark, prefix, ids, P0, P1):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            f"eid_{prefix[0]}": ids,
            f"{prefix}0x": P0[:, 0], f"{prefix}0y": P0[:, 1], f"{prefix}0z": P0[:, 2],
            f"{prefix}1x": P1[:, 0], f"{prefix}1y": P1[:, 1], f"{prefix}1z": P1[:, 2],
        }
    )
    return spark.createDataFrame(pdf)


def brute_pairs(A0, A1, B0, B1):
    out = set()
    for i in range(A0.shape[0]):
        for j in range(B0.shape[0]):
            if predicates.crossing_sign(A0[i], A1[i], B0[j], B1[j]) > 0:
                out.add((i, j))
    return out


def test_edges_cross_batch_vs_scalar():
    rng = np.random.default_rng(21)
    A0, A1 = random_edges(rng, 60)
    B0, B1 = random_edges(rng, 60)
    # all pairs flattened
    n, m = 60, 60
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    got = predicates.edges_cross_batch(
        A0[ii.ravel()], A1[ii.ravel()], B0[jj.ravel()], B1[jj.ravel()]
    ).reshape(n, m)
    want = brute_pairs(A0, A1, B0, B1)
    assert {(i, j) for i, j in zip(*np.nonzero(got))} == want
    assert want  # dense random edges do cross


def _mixed_length_edges():
    rng = np.random.default_rng(22)
    # mixed edge lengths across two clusters => mixed covering levels
    A0a, A1a = random_edges(rng, 40, spread=0.3)
    A0b, A1b = random_edges(rng, 20, spread=0.02)
    A0 = np.vstack([A0a, A0b]); A1 = np.vstack([A1a, A1b])
    B0a, B1a = random_edges(rng, 40, spread=0.25)
    B0b, B1b = random_edges(rng, 20, spread=0.01)
    B0 = np.vstack([B0a, B0b]); B1 = np.vstack([B1a, B1b])
    return A0, A1, B0, B1


def _dense_edges():
    rng = np.random.default_rng(29)
    A0, A1 = random_edges(rng, 50, spread=0.2)
    B0, B1 = random_edges(rng, 50, spread=0.15)
    return A0, A1, B0, B1


@pytest.mark.parametrize(
    "make_edges", [_mixed_length_edges, _dense_edges], ids=["22", "29"]
)
def test_edge_crossing_join_vs_bruteforce(spark, make_edges):
    A0, A1, B0, B1 = make_edges()
    da = to_df(spark, "a", list(range(len(A0))), A0, A1)
    db = to_df(spark, "b", list(range(len(B0))), B0, B1)
    got = {(r.eid_a, r.eid_b) for r in edge_crossing_join(spark, da, db).collect()}
    want = brute_pairs(A0, A1, B0, B1)
    assert got == want
    assert want


def test_edge_crossing_join_disjoint_regions(spark):
    rng = np.random.default_rng(23)
    A0, A1 = random_edges(rng, 20, spread=0.05, center=(1, 0, 0))
    B0, B1 = random_edges(rng, 20, spread=0.05, center=(-1, 0, 0))
    da = to_df(spark, "a", list(range(20)), A0, A1)
    db = to_df(spark, "b", list(range(20)), B0, B1)
    assert edge_crossing_join(spark, da, db).count() == 0


def test_empty_side_gives_no_rows(spark):
    """An edge table with no rows flows through the term tables and the
    cogroup to an empty result in every join form."""
    rng = np.random.default_rng(24)
    A0, A1 = random_edges(rng, 20)
    da = to_df(spark, "a", list(range(20)), A0, A1)
    # a filter the optimizer cannot fold away: the term tables and the
    # cogroup still run, over a B side with no rows
    db = to_df(spark, "b", list(range(20)), A0, A1).where(F.col("eid_b") < 0)
    for crossing_type in ("interior", "all"):
        assert (
            edge_crossing_join(spark, da, db, crossing_type=crossing_type).count()
            == 0
        )
    assert edge_intersection_join(spark, da, db).count() == 0


def test_antipodal_pairs_do_not_cross():
    """Two arcs whose great circles intersect at ANTIPODAL points each
    straddle the other's great circle but do NOT cross — the sign-chain
    check must reject them (regression: the naive two-straddle test
    false-positives here)."""
    rng = np.random.default_rng(33)
    A0, A1 = random_edges(rng, 25, spread=0.1, center=(1, 0, 0))
    B0, B1 = random_edges(rng, 25, spread=0.1, center=(-1, 0, 0))
    n = 25
    ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    for robust in (True, False):
        got = predicates.edges_cross_batch(
            A0[ii.ravel()], A1[ii.ravel()], B0[jj.ravel()], B1[jj.ravel()],
            robust=robust,
        )
        assert not got.any(), f"antipodal false positives (robust={robust})"
    assert not brute_pairs(A0, A1, B0, B1)


def test_crossing_type_all_vs_bruteforce(spark):
    """CrossingType::ALL (s2crossing_edge_query.cc:75 min_sign=0):
    shared-vertex pairs report sign 0, interior crossings sign 1, and
    the sign-1 set equals the interior-mode result.  Brute-force oracle
    = scalar CrossingSign >= 0."""
    rng = np.random.RandomState(17)
    A0, A1 = random_edges(rng, 30)
    # splice in shared-vertex structure: chain-like edges reusing endpoints
    A0[10] = A1[9]
    A0[11] = A1[10]
    A0[12] = A1[9]  # two edges fanning out of the same vertex
    da = to_df(spark, "a", np.arange(30), A0, A1)
    db = to_df(spark, "b", np.arange(30), A0, A1)

    got = {
        (r.eid_a, r.eid_b): r.sign
        for r in edge_crossing_join(
            spark, da, db, robust=True, crossing_type="all"
        ).collect()
        if r.eid_a < r.eid_b
    }
    want = {}
    for i in range(30):
        for j in range(i + 1, 30):
            s = predicates.crossing_sign(A0[i], A1[i], A0[j], A1[j])
            if s >= 0:
                want[(i, j)] = s
    assert got == want
    assert 0 in set(got.values()) and 1 in set(got.values())

    interior = {
        (r.eid_a, r.eid_b)
        for r in edge_crossing_join(
            spark, da, db, robust=True, crossing_type="interior"
        ).collect()
        if r.eid_a < r.eid_b
    }
    assert interior == {k for k, v in got.items() if v == 1}


def test_edge_intersection_join_points(spark):
    """The distributed intersection join finds exactly the brute-force
    crossing pairs, and every emitted point matches the scalar
    S2::GetIntersection kernel (booleanop.edge_intersection), is unit
    length, lies on both edges' great circles, and inside both arcs."""
    from s2geometry_spark.kernels.booleanop import edge_intersection

    rng = np.random.default_rng(7)
    A0, A1 = random_edges(rng, 40)
    B0, B1 = random_edges(rng, 40)
    da = to_df(spark, "a", np.arange(40), A0, A1)
    db = to_df(spark, "b", np.arange(40), B0, B1)
    rows = edge_intersection_join(spark, da, db, robust=True).collect()
    got = {(r.eid_a, r.eid_b): np.array([r.ix, r.iy, r.iz]) for r in rows}
    assert set(got) == brute_pairs(A0, A1, B0, B1)
    assert len(got) > 0
    for (i, j), x in got.items():
        ref = edge_intersection(A0[i], A1[i], B0[j], B1[j])
        assert np.allclose(x, ref, atol=1e-12)
        assert abs(np.linalg.norm(x) - 1.0) < 1e-12
        for p, q in ((A0[i], A1[i]), (B0[j], B1[j])):
            n = np.cross(p, q)
            assert abs(np.dot(n, x)) < 1e-12 * np.linalg.norm(n)
            # inside the arc: x is on the positive side of both
            # endpoint-perpendicular planes
            assert np.dot(np.cross(n, p), x) > 0
            assert np.dot(np.cross(q, n), x) > 0
