"""Non-broadcast polygon containment join: distributed coverings + shuffle
term join + cogrouped refinement must agree exactly with the broadcast
path on the same fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels.regions import Loop, Polygon
from s2geometry_spark.operators import big_polygon_join as bpj
from s2geometry_spark.operators.contains_join import RegionIndex, contains_join
from tests.conftest import SF_TEST, load_entry


REGIONS = {
    "zurich": Loop.make_regular(47.36, 8.55, 0.25, 16),
    "sydney": Loop.make_regular(-33.87, 151.20, 0.35, 24),
    "north": Loop.make_regular(90.0, 0.0, 0.5, 16),
    "ring": Polygon(
        [Loop.make_regular(0.0, 0.0, 0.3, 20), Loop.make_regular(0.0, 0.0, 0.1, 8)]
    ),
}


@pytest.fixture(scope="module")
def pts(spark):
    e = load_entry()
    df = e._order_points_xyz(spark, SF_TEST).cache()
    df.count()
    yield df
    df.unpersist()


def test_terms_match_driver_index(spark):
    """Executor-side term generation == the driver-side RegionIndex terms."""
    polys = bpj.polygons_to_df(spark, REGIONS)
    got = {
        (r.term_cell, r.is_covering, r.poly_id)
        for r in bpj.polygon_index_terms(polys).collect()
    }
    want = set(RegionIndex(REGIONS).terms)
    assert got == want


def test_big_join_equals_broadcast_join(spark, pts):
    big = {
        (r.pid, r.poly_id)
        for r in bpj.contains_join_big(
            spark, pts, bpj.polygons_to_df(spark, REGIONS)
        ).collect()
    }
    small = {
        (r.pid, r.poly_id)
        for r in contains_join(spark, pts, RegionIndex(REGIONS)).collect()
    }
    assert big == small
    assert big  # fixtures guarantee matches