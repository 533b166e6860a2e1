"""Composite regions: union / intersection predicates, coverings and
the region index."""

import numpy as np

from s2geometry_spark.kernels.regions import (
    Cap,
    RegionIntersection,
    RegionUnion,
)


def test_region_union_intersection_predicates():
    c1 = Cap.from_latlng_degrees(10, 20, 0.3)
    c2 = Cap.from_latlng_degrees(10, 24, 0.3)
    c3 = Cap.from_latlng_degrees(-40, 150, 0.2)
    rng = np.random.RandomState(0)
    P = rng.randn(10000, 3)
    P /= np.linalg.norm(P, axis=1)[:, None]
    u = RegionUnion([c1, c3])
    i = RegionIntersection([c1, c2])
    assert (
        u.contains_points(P)
        == (c1.contains_points(P) | c3.contains_points(P))
    ).all()
    assert (
        i.contains_points(P)
        == (c1.contains_points(P) & c2.contains_points(P))
    ).all()


def test_composites_work_with_coverer_and_index(spark):
    from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer
    from s2geometry_spark.operators.contains_join import RegionIndex

    u = RegionUnion(
        [Cap.from_latlng_degrees(10, 20, 0.2), Cap.from_latlng_degrees(-10, 50, 0.2)]
    )
    cov = RegionCoverer(CovererOptions(max_cells=16)).get_covering(u)
    assert 0 < len(cov) <= 16
    # covering covers: sampled member points fall in covering cells
    from s2geometry_spark.kernels import cellid

    rng = np.random.RandomState(1)
    P = rng.randn(20000, 3)
    P /= np.linalg.norm(P, axis=1)[:, None]
    inside = u.contains_points(P)
    leafs = cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2])
    covered = np.zeros(len(P), bool)
    for c in np.asarray(cov, np.uint64):
        covered |= cellid.contains(np.full(len(P), c, np.uint64), leafs)
    assert (covered | ~inside).all()  # inside => covered
    idx = RegionIndex({"u": u})
    assert "u" in idx.coverings
