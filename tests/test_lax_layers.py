"""Lax polygon/polyline layers: reference layer-test goldens
(s2builderutil_lax_polygon_layer_test.cc:127-280) + the EdgeProcessor
DIRECTED arm + distributed invariants."""

import numpy as np
import pytest

from s2geometry_spark.kernels import cellid
from s2geometry_spark.kernels.coords import latlng_to_xyz, normalize
from s2geometry_spark.operators.lax_layers import (
    lax_polygon_loops,
    lax_polyline_vertices,
    process_edges_directed,
)
from tests.conftest import load_entry

ALL_MODES = ["discard", "discard_holes", "discard_shells", "keep"]


def _parse(text: str):
    """MakeLaxPolygon: '; '-separated loops of 'lat:lng, ...'; 'full'
    is the zero-vertex full loop.  Returns (loops, has_full) with each
    loop an (n, 3) array."""
    loops = []
    has_full = False
    if text.strip():
        for part in text.split(";"):
            part = part.strip()
            if part == "full":
                loops.append(np.zeros((0, 3)))
                has_full = True
                continue
            lat, lng = [], []
            for tok in part.split(","):
                a, b = tok.strip().split(":")
                lat.append(float(a))
                lng.append(float(b))
            x, y, z = latlng_to_xyz(np.radians(lat), np.radians(lng))
            x, y, z = normalize(x, y, z)
            loops.append(np.stack([x, y, z], axis=1))
    return loops, has_full


def _build(input_str: str, mode: str):
    """The S2Builder pipeline with the default zero-radius snap: sites =
    distinct input vertices in S2CellId (Hilbert) order, input edge ids
    in insertion order, then LaxPolygonLayer::BuildDirected."""
    loops, has_full = _parse(input_str)
    pts: list[tuple] = []
    for lp in loops:
        for p in lp:
            t = tuple(p)
            if t not in pts:
                pts.append(t)
    if pts:
        arr = np.array(pts, np.float64)
        keys = cellid.to_biased(
            cellid.from_xyz(arr[:, 0], arr[:, 1], arr[:, 2])
        )
        order = np.argsort(keys, kind="stable")
        arr = arr[order]
    else:
        arr = np.zeros((0, 3))
    vid = {tuple(p): i for i, p in enumerate(arr)}
    edges = []
    iid = 0
    for lp in loops:
        n = len(lp)
        for k in range(n):
            edges.append((iid, vid[tuple(lp[k])], vid[tuple(lp[(k + 1) % n])]))
            iid += 1
    out = lax_polygon_loops(arr, edges, mode, is_full=has_full)
    return [arr[ids] if ids else np.zeros((0, 3)) for ids in out], arr


def _assert_same(actual_loops, expected_str):
    expected, _ = _parse(expected_str)
    assert len(actual_loops) == len(expected), (
        f"{len(actual_loops)} loops, expected {len(expected)}"
    )
    for a, e in zip(actual_loops, expected):
        assert a.shape == e.shape
        assert (a == e).all()


def _check(input_str, expected_str, mode):
    actual, _ = _build(input_str, mode)
    _assert_same(actual, expected_str)


def test_empty():
    for mode in ALL_MODES:
        _check("", "", mode)


def test_full():
    for mode in ALL_MODES:
        _check("full", "full", mode)


def test_one_normal_shell():
    for mode in ALL_MODES:
        _check("0:0, 0:1, 1:1", "0:0, 0:1, 1:1", mode)


def test_two_normal_shells_one_normal_hole():
    s = "0:1, 1:1, 0:0; 3:3, 3:6, 6:6, 6:3; 4:4, 5:4, 5:5, 4:5"
    for mode in ALL_MODES:
        _check(s, s, mode)


def test_all_degenerate_shells():
    for mode in ("keep", "discard_holes"):
        _check("1:1; 2:2, 3:3", "1:1; 2:2, 3:3", mode)
    for mode in ("discard", "discard_shells"):
        _check("1:1; 2:2, 3:3", "", mode)


def test_all_degenerate_holes():
    for mode in ("keep", "discard_shells"):
        _check("full; 1:1; 2:2, 3:3", "full; 1:1; 2:2, 3:3", mode)
    for mode in ("discard", "discard_holes"):
        _check("full; 1:1; 2:2, 3:3", "full", mode)


def test_some_degenerate_shells():
    normal = "0:0, 0:9, 9:0; 1:1, 7:1, 1:7"
    inp = normal + "; 3:2; 2:2, 2:3"
    _check(inp, inp, "keep")
    _check(inp, inp, "discard_holes")
    _check(inp, normal, "discard")
    _check(inp, normal, "discard_shells")


def test_some_degenerate_holes():
    for mode in ("keep", "discard_shells"):
        _check("0:0, 0:9, 9:0; 1:1; 2:2, 3:3",
               "0:0, 0:9, 9:0; 1:1; 2:2, 3:3", mode)
    for mode in ("discard", "discard_holes"):
        _check("0:0, 0:9, 9:0; 1:1; 2:2, 3:3", "0:0, 0:9, 9:0", mode)


def test_normal_and_degenerate_shells_and_holes():
    normal = ("0:0, 0:9, 9:9, 9:0; "
              "0:10, 0:19, 9:19, 9:10; 1:11, 8:11, 8:18, 1:18")
    normal_with_degen_holes = (
        "0:0, 0:9, 1:8, 1:7, 1:8, 0:9, 9:9, 9:0; "
        "0:10, 0:19, 9:19, 9:10, 0:10, 1:11, 8:11, 8:18, 1:18, 1:11"
    )
    degen_shells = "0:9, 0:10; 2:12; 3:13, 3:14; 20:20; 10:0, 10:1"
    degen_holes = "2:5; 3:6, 3:7; 8:8"
    inp = normal_with_degen_holes + "; " + degen_shells + "; " + degen_holes
    _check(inp, normal, "discard")
    _check(inp, normal + "; " + degen_shells, "discard_holes")
    _check(inp, normal_with_degen_holes + "; " + degen_holes,
           "discard_shells")
    _check(inp, inp, "keep")


def test_partial_loop_raises():
    # builder.AddPolyline("0:1, 2:3, 4:5") -> edges do not form loops
    loops, _ = _parse("0:1, 2:3, 4:5")
    lp = loops[0]
    arr = np.unique(lp, axis=0)
    keys = cellid.to_biased(cellid.from_xyz(arr[:, 0], arr[:, 1], arr[:, 2]))
    arr = arr[np.argsort(keys, kind="stable")]
    vid = {tuple(p): i for i, p in enumerate(arr)}
    edges = [
        (k, vid[tuple(lp[k])], vid[tuple(lp[k + 1])])
        for k in range(len(lp) - 1)
    ]
    with pytest.raises(ValueError, match="DO_NOT_FORM_LOOPS"):
        lax_polygon_loops(arr, edges, "keep", is_full=False)


def test_duplicate_input_edges():
    """AddShape(square) + AddPoint(0:0) + AddPoint(1:1) x2 +
    AddShape('2:2, 2:3') x2, KEEP -> duplicates merged, degeneracies
    kept (test.cc:266-287)."""
    square, _ = _parse("0:0, 0:5, 5:5, 5:0")
    pts_txt = ["0:0", "1:1", "1:1"]
    fil, _ = _parse("2:2, 2:3")
    all_pts = [tuple(p) for p in square[0]]
    for t in pts_txt:
        p, _ = _parse(t)
        all_pts.append(tuple(p[0][0:3].tolist()) if p[0].ndim == 2 else None)
    # collect every distinct vertex
    verts = []
    for p in square[0]:
        if tuple(p) not in [tuple(v) for v in verts]:
            verts.append(p)
    for t in ("0:0", "1:1"):
        p, _ = _parse(t)
        q = p[0][0]
        if tuple(q) not in [tuple(v) for v in verts]:
            verts.append(q)
    for p in fil[0]:
        if tuple(p) not in [tuple(v) for v in verts]:
            verts.append(p)
    arr = np.array(verts, np.float64)
    keys = cellid.to_biased(cellid.from_xyz(arr[:, 0], arr[:, 1], arr[:, 2]))
    arr = arr[np.argsort(keys, kind="stable")]
    vid = {tuple(p): i for i, p in enumerate(arr)}
    edges = []
    iid = 0
    sq = square[0]
    for k in range(4):
        edges.append((iid, vid[tuple(sq[k])], vid[tuple(sq[(k + 1) % 4])]))
        iid += 1
    for t in ("0:0", "1:1", "1:1"):
        p, _ = _parse(t)
        v = vid[tuple(p[0][0])]
        edges.append((iid, v, v))
        iid += 1
    f0, f1 = vid[tuple(fil[0][0])], vid[tuple(fil[0][1])]
    for _ in range(2):
        edges.append((iid, f0, f1))
        iid += 1
        edges.append((iid, f1, f0))
        iid += 1
    out = lax_polygon_loops(arr, edges, "keep", is_full=False)
    loops = [arr[ids] for ids in out]
    _assert_same(loops, "0:0, 0:5, 5:5, 5:0; 1:1; 2:2, 3:3".replace(
        "2:2, 3:3", "2:2, 2:3"))


def test_process_edges_discard_excess_rules():
    # degenerate incident to non-degenerate -> discarded; isolated ->
    # merged to one; balanced siblings -> one pair kept; unbalanced ->
    # difference kept with merged labels
    edges = [
        (0, 1, 2), (1, 2, 1),              # balanced sibling pair
        (2, 1, 1),                          # degenerate at ring vertex
        (3, 5, 5), (4, 5, 5),               # isolated duplicates
        (5, 7, 8), (6, 7, 8), (7, 8, 7),    # unbalanced 2 out / 1 in
    ]
    out = process_edges_directed(edges, "discard_excess", "discard_excess")
    assert out == [(0, 1, 2), (1, 2, 1), (3, 5, 5), (5, 7, 8)]
    # strict mode: degenerates vanish, balanced siblings cancel, and the
    # unbalanced pair keeps the out-in DIFFERENCE with merged labels
    assert process_edges_directed(edges, "discard", "discard") == [(5, 7, 8)]


def test_lax_polyline_keeps_duplicates_and_walks():
    # AABBC-style chain with a doubled edge: one walk, duplicates kept
    edges = [(0, 1, 2), (1, 2, 2), (2, 2, 3), (3, 3, 1), (4, 1, 2)]
    verts = lax_polyline_vertices(edges)
    assert len(verts) == len(edges) + 1
    # two disconnected chains -> error
    with pytest.raises(ValueError, match="FORM_POLYLINE"):
        lax_polyline_vertices([(0, 1, 2), (1, 5, 6)])


def test_grouped_matches_sequential(spark):
    """The distributed per-graph path must reproduce the sequential
    reference build loop-for-loop on the entry fixture at sf0.001."""
    import pandas as pd

    mod = load_entry()
    from s2geometry_spark.operators.lax_layers import (
        lax_polygon_loops_grouped,
        process_edges_directed,
        _circuit_loops,
    )

    edges = mod._lax_edges_df(spark, "/root/testdata/sf0.001")
    epdf = edges.toPandas()
    out = (
        lax_polygon_loops_grouped(edges, mode="keep")
        .toPandas()
        .sort_values(["gid", "loop_id", "pos"])
        .reset_index(drop=True)
    )
    # replay sequentially for a handful of graphs
    for gid, g in list(epdf.groupby("gid"))[:5]:
        coords = {}
        for vid, x, y, z in zip(g.src, g.sx, g.sy, g.sz):
            coords[int(vid)] = (float(x), float(y), float(z))
        for vid, x, y, z in zip(g.dst, g.dx, g.dy, g.dz):
            coords[int(vid)] = (float(x), float(y), float(z))
        es = [(int(i), int(s), int(d)) for i, s, d in zip(g.eid, g.src, g.dst)]
        pg = process_edges_directed(es, "discard_excess", "discard_excess")
        loops = _circuit_loops(pg, coords)
        got = out[out.gid == gid]
        assert len(got) == sum(len(lp) for lp in loops)
        mii = {e: iid for e, (iid, _, _) in enumerate(pg)}
        rows = []
        for lp in loops:
            for pos, e in enumerate(lp):
                rows.append((lp[0], pos, mii[e], pg[e][1], pg[e][2]))
        exp = pd.DataFrame(
            rows, columns=["loop_id", "pos", "eid", "src", "dst"]
        ).sort_values(["loop_id", "pos"]).reset_index(drop=True)
        gotc = got[["loop_id", "pos", "eid", "src", "dst"]].reset_index(
            drop=True
        )
        assert (gotc.values == exp.values).all()
