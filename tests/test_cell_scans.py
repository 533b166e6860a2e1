"""Cell-keyed operators in one pass over the points: contains_join,
cell_union_contains_join, cap_join and rect_join as one scan (plan
shape; brute-force checks on
overlapping regions, string ids, the candidate set and coverings coarser
than min_level) and tile_rollup as one aggregation."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import cellid, predicates
from s2geometry_spark.kernels.regions import Cap, LatLngRect, Loop
from s2geometry_spark.operators import tiling
from s2geometry_spark.operators.contains_join import (
    RegionIndex,
    cap_join,
    cell_union_contains_join,
    contains_join,
    rect_join,
)
from tests.test_joins import POLYS, _points_df


def _pip_pairs(pts, keys, regions):
    """Brute-force (key, region id) pairs: every point against every
    Loop/Polygon with the parity kernel."""
    out = set()
    for rid, region in regions.items():
        loops = getattr(region, "loops", None) or [region]
        inside = predicates.polygon_contains_points(
            [lp.vertices for lp in loops], [lp.origin_inside for lp in loops], pts
        )
        out |= {(keys[i], rid) for i in np.nonzero(inside)[0]}
    return out


def _covering_pairs(pts, keys, coverings):
    """Brute-force (key, region id) pairs whose leaf cell lies in a cell
    of the region's covering."""
    leaf = cellid.from_xyz(pts[:, 0], pts[:, 1], pts[:, 2])
    out = set()
    for rid, cov in coverings.items():
        hit = np.zeros(len(leaf), bool)
        for c in cov:
            hit |= cellid.contains(np.full(len(leaf), c, np.uint64), leaf)
        out |= {(keys[i], rid) for i in np.nonzero(hit)[0]}
    return out


def _plan_nodes(df):
    """Operator names of ``df``'s physical plan (before execution, so an
    adaptive plan shows its initial shape once)."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return [
        m.group(1)
        for m in (re.match(r"[\s:+\-]*(?:\*\(\d+\)\s*)?(\w+)", ln) for ln in tree.splitlines())
        if m
    ]


class TestContainsJoinScan:
    def test_plan_is_one_scan_without_shuffle(self, spark):
        df, _, _ = _points_df(spark, 500)
        nodes = _plan_nodes(contains_join(spark, df, RegionIndex(POLYS)))
        assert not [n for n in nodes if "Exchange" in n]
        assert len([n for n in nodes if re.search(r"Python|Pandas|InArrow", n)]) == 1

    def test_cap_and_rect_joins_are_one_scan_without_join(self, spark):
        """cap_join and rect_join refine the scan's candidates in place:
        no term explode joined to a broadcast table, no de-duplicating
        shuffle."""
        df, _, _ = _points_df(spark, 500)
        caps = {"c": Cap.from_latlng_degrees(47.36, 8.55, 0.3)}
        rects = {"box": LatLngRect.from_degrees(10.0, 20.0, 35.0, 55.0)}
        for out in (cap_join(spark, df, caps), rect_join(spark, df, rects)):
            nodes = _plan_nodes(out)
            assert not [n for n in nodes if "Exchange" in n or "Join" in n], nodes
            assert len([n for n in nodes if re.search(r"Python|Pandas|InArrow", n)]) == 1

    def test_overlapping_regions_match_brute_force(self, spark):
        df, pts, keys = _points_df(spark, 4000)
        regions = {
            "a": Loop.make_regular(20.0, 30.0, 0.25, 16),
            "b": Loop.make_regular(22.0, 33.0, 0.2, 12),
            "zurich": POLYS["zurich"],
        }
        index = RegionIndex(regions)
        assert set(index.coverings["a"].tolist()) & set(index.coverings["b"].tolist())
        got = [tuple(r) for r in contains_join(spark, df, index).collect()]
        want = _pip_pairs(pts, keys, regions)
        assert len(got) == len(set(got))
        assert set(got) == want
        both = {k for k, r in want if r == "a"} & {k for k, r in want if r == "b"}
        assert both  # some points lie in both loops

    def test_string_point_ids(self, spark):
        df, pts, keys = _points_df(spark, 3000)
        sdf = df.withColumn("pid", F.concat(F.lit("p"), F.col("pid").cast("string")))
        out = contains_join(spark, sdf, RegionIndex(POLYS))
        assert out.schema.simpleString() == "struct<pid:string,poly_id:string>"
        got = {tuple(r) for r in out.collect()}
        assert got == {(f"p{k}", rid) for k, rid in _pip_pairs(pts, keys, POLYS)}

    def test_candidates_keep_schema_and_cover_pairs(self, spark):
        df, pts, keys = _points_df(spark, 3000)
        index = RegionIndex(POLYS)
        cand = contains_join(spark, df, index, exact=False)
        assert cand.schema.simpleString() == (
            "struct<pid:bigint,x:double,y:double,z:double,poly_id:string>"
        )
        got = {(r.pid, r.poly_id) for r in cand.collect()}
        assert got == _covering_pairs(pts, keys, index.coverings)
        assert _pip_pairs(pts, keys, POLYS) < got

    def test_cell_union_join_matches_cell_containment(self, spark):
        df, pts, keys = _points_df(spark, 3000)
        unions = dict(RegionIndex(POLYS).coverings)
        # unsorted, not normalized (the first points' cells at level 12 and
        # their level-9 ancestors), and sharing cells with another union
        leaf = cellid.from_xyz(pts[:40, 0], pts[:40, 1], pts[:40, 2])
        unions["nested"] = np.concatenate(
            [cellid.parent(leaf, 12), unions["sf"], cellid.parent(leaf, 9)]
        )
        out = cell_union_contains_join(spark, df, unions)
        assert out.schema.simpleString() == "struct<pid:bigint,region_id:string>"
        assert not [n for n in _plan_nodes(out) if "Exchange" in n]
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(set(got))
        want = _covering_pairs(pts, keys, unions)
        assert set(got) == want
        assert {k for k, r in want if r == "nested"} >= set(keys[:40].tolist())

    @pytest.mark.parametrize("level", [2, 3])
    def test_precomputed_covering_coarser_than_min_level(self, spark, level):
        """Covering cells above min_level: the scan looks them up at their
        own level, for contains_join and for cap_join's candidates."""
        df, pts, keys = _points_df(spark, 4000)
        loop = POLYS["zurich"]
        cap = Cap.from_latlng_degrees(47.36, 8.55, 0.25)

        def coarse(region):
            fine = RegionIndex({"r": region}).coverings["r"]
            return np.unique(cellid.parent(fine, level))

        index = RegionIndex({"zurich": loop}, coverings={"zurich": coarse(loop)})
        got = {tuple(r) for r in contains_join(spark, df, index).collect()}
        want = _pip_pairs(pts, keys, {"zurich": loop})
        assert got == want and want
        caps = {"c": cap}
        got = {tuple(r) for r in cap_join(spark, df, caps, coverings={"c": coarse(cap)}).collect()}
        inside = cap.contains_points(pts)
        assert got == {(keys[i], "c") for i in np.nonzero(inside)[0]} and got


def test_tile_rollup_is_one_aggregation(spark):
    """Every level in one groupBy: a single Exchange in the plan, and the
    counts equal a NumPy histogram of the leaf cells' parents per level."""
    df, pts, _ = _points_df(spark, 2000)
    got = tiling.tile_rollup(df, [8, 2, 5])
    assert len([n for n in _plan_nodes(got) if "Exchange" in n]) == 1
    assert got.schema.simpleString() == "struct<level:int,cell_lvl:bigint,cnt:bigint>"
    leaf = cellid.from_xyz(pts[:, 0], pts[:, 1], pts[:, 2])
    want = set()
    for lv in (2, 5, 8):
        cells, cnt = np.unique(cellid.to_biased(cellid.parent(leaf, lv)), return_counts=True)
        want |= {(lv, int(c), int(n)) for c, n in zip(cells, cnt)}
    assert {tuple(r) for r in got.collect()} == want
