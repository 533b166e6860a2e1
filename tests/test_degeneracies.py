"""FindPolygonDegeneracies: reference goldens + distributed oracle gate."""

import numpy as np
import pytest

from s2geometry_spark.kernels.coords import latlng_to_xyz
from s2geometry_spark.kernels.degeneracies import find_polygon_degeneracies
from tests.conftest import SF_ORACLE, compare_frames, load_entry


def _graph(loops_str: str):
    """Parse the reference test notation 'a:b, c:d; e:f' (loops split by
    ';', vertices lat:lng) into (verts, edges, label map).  1-vertex
    loops become degenerate edges, 2-vertex loops sibling pairs,
    longer loops closed boundaries — matching what S2Builder's graph
    would contain for these test polygons."""
    vid: dict[str, int] = {}
    pts = []

    def v(tok: str) -> int:
        tok = tok.strip()
        if tok not in vid:
            lat, lng = (float(x) for x in tok.split(":"))
            vid[tok] = len(pts)
            x, y, z = latlng_to_xyz(np.radians([lat]), np.radians([lng]))
            pts.append([x[0], y[0], z[0]])
        return vid[tok]

    edges = []
    for loop in loops_str.split(";"):
        ids = [v(t) for t in loop.split(",")]
        if len(ids) == 1:
            edges.append((ids[0], ids[0]))
        else:
            for i in range(len(ids)):
                edges.append((ids[i], ids[(i + 1) % len(ids)]))
    inv = {i: k for k, i in vid.items()}
    return np.array(pts), edges, inv


def _run(loops_str: str):
    verts, edges, inv = _graph(loops_str)
    found = find_polygon_degeneracies(verts, edges)
    return {
        (inv[edges[e][0]], inv[edges[e][1]], is_hole) for e, is_hole in found
    }


# Reference: s2builderutil_find_polygon_degeneracies_test.cc:159-201.
CASES = [
    ("0:0, 0:1, 1:0", set()),
    (
        "0:0, 0:1, 1:0; 1:0, 2:0",
        {("1:0", "2:0", False), ("2:0", "1:0", False)},
    ),
    (
        "0:0, 0:3, 3:0; 0:0, 1:1",
        {("0:0", "1:1", True), ("1:1", "0:0", True)},
    ),
    (
        "0:0, 0:3, 3:0; 3:0, 1:1; 3:0, 5:5",
        {
            ("3:0", "1:1", True), ("1:1", "3:0", True),
            ("3:0", "5:5", False), ("5:5", "3:0", False),
        },
    ),
    (
        "0:0, 0:3, 3:3, 3:0; 4:4, 5:5; 6:6",
        {
            ("4:4", "5:5", False), ("5:5", "4:4", False),
            ("6:6", "6:6", False),
        },
    ),
    (
        "0:0, 0:5, 5:5, 5:0; 1:1, 2:2; 3:3",
        {
            ("1:1", "2:2", True), ("2:2", "1:1", True),
            ("3:3", "3:3", True),
        },
    ),
]


@pytest.mark.parametrize("loops_str,expected", CASES)
def test_reference_goldens(loops_str, expected):
    assert _run(loops_str) == expected


def test_fully_degenerate_raises():
    with pytest.raises(ValueError):
        _run("0:0")


def test_polygon_degeneracies_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_polygon_degeneracies(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["polygon_degeneracies"])
    compare_frames(sdf, rel)


def test_polygon_degeneracies_plan(spark):
    """Every family emits all 7 planted degeneracies with the planted
    orientation: shrunk (t<1) degeneracies are holes, expanded (t>1)
    shells; sibling pairs report 2 edges."""
    mod = load_entry()
    pdf = mod.q_polygon_degeneracies(spark, SF_ORACLE).toPandas()
    n_fam = pdf["family_id"].nunique()
    assert len(pdf) == 7 * n_fam
    by = pdf.groupby("deg_id")
    assert by["is_hole"].agg(lambda s: s.eq(s.iloc[0]).all()).all()
    holes = by["is_hole"].first()
    assert holes.to_dict() == {
        0: True, 1: True, 2: True, 3: False, 4: False, 5: True, 6: False
    }
    assert by["n_deg_edges"].first().to_dict() == {
        0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 2
    }
