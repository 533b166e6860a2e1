"""Graph::GetDirectedLoops(SIMPLE) / S2PolygonLayer loop assembly.

Reference goldens from s2builder_graph.cc: the AddVertexEdges zyAxBw
interleave example (.cc:212-215), the CanonicalizeLoopOrder
(7,7,4,5,6,7) -> (4,5,6,7,7,7) rotation (.cc:330-333), plus an
independent angle-based port checked against the faithful OrderedCCW
kernel on random union-of-cycles graphs, and the distributed
contraction path (assemble_loops) vs the per-graph path
(assemble_loops_grouped) on the entry fixture."""

import math

import numpy as np
import pandas as pd
import pytest

from s2geometry_spark.operators.polygon_layer import (
    _add_vertex_edges,
    _assemble_graph,
    _canonicalize_loop_order,
    _walk_from,
    assemble_loops,
    assemble_loops_grouped,
)
from tests.conftest import load_entry


def test_add_vertex_edges_reference_example():
    # 2 outgoing a,b and 4 incoming w,x,y,z around v0: clockwise order
    # zyAxBw (s2builder_graph.cc:212-215; lower = incoming)
    v0_edges = []
    _add_vertex_edges(["a", "b"], ["w", "x", "y", "z"], 99, v0_edges)
    got = [("in" if inc else "out", e) for inc, e, _, _ in v0_edges]
    assert got == [
        ("in", "z"),
        ("in", "y"),
        ("out", "a"),
        ("in", "x"),
        ("out", "b"),
        ("in", "w"),
    ]
    # ranks strictly increasing
    assert [r for _, _, _, r in v0_edges] == list(range(6))


def test_add_vertex_edges_one_each_out_first():
    # "one edge in each direction: the outgoing edge is always ordered
    # before the incoming edge" (s2builder_graph.cc:201-203)
    v0_edges = []
    _add_vertex_edges(["o"], ["i"], 7, v0_edges)
    assert [(inc, e) for inc, e, _, _ in v0_edges] == [(False, "o"), (True, "i")]


def test_canonicalize_loop_order_reference_example():
    # input id sequence (7, 7, 4, 5, 6, 7) rotates to (4, 5, 6, 7, 7, 7)
    loop = [10, 11, 12, 13, 14, 15]
    mii = {10: 7, 11: 7, 12: 4, 13: 5, 14: 6, 15: 7}
    p0 = _canonicalize_loop_order(loop, mii)
    rot = loop[p0:] + loop[:p0]
    assert [mii[e] for e in rot] == [4, 5, 6, 7, 7, 7]


def test_canonicalize_constant_ids_keeps_highest_last():
    # all-equal ids: pos walks to the end, rotation is identity
    loop = [3, 1, 2]
    p0 = _canonicalize_loop_order(loop, {1: 5, 2: 5, 3: 5})
    assert p0 == 0


def _ring(vids):
    """Directed cycle edges over vertex ids, eid = src*2^28 + dst."""
    return [
        (vids[i] * 2**28 + vids[(i + 1) % len(vids)], vids[i], vids[(i + 1) % len(vids)])
        for i in range(len(vids))
    ]


def _coords_for(vids, seed):
    rng = np.random.default_rng(seed)
    out = {}
    for v in vids:
        p = rng.normal(size=3)
        out[int(v)] = tuple(p / np.linalg.norm(p))
    return out


def _graph_pdf(edge_lists, coords, mii=None):
    rows = []
    for eid, s, d in edge_lists:
        rows.append(
            {
                "eid": eid,
                "iid": mii.get(eid, eid) if mii else eid,
                "src": s,
                "dst": d,
                "sx": coords[s][0],
                "sy": coords[s][1],
                "sz": coords[s][2],
                "dx": coords[d][0],
                "dy": coords[d][1],
                "dz": coords[d][2],
            }
        )
    return pd.DataFrame(rows)


def test_figure_eight_peels_two_loops():
    # two triangles through shared vertex 0: SIMPLE peeling must emit
    # two vertex-simple loops, never one 6-edge walk
    edges = _ring([0, 1, 2]) + _ring([0, 3, 4])
    coords = _coords_for(range(5), seed=5)
    rows = _assemble_graph(_graph_pdf(edges, coords))
    df = pd.DataFrame(
        rows, columns=["loop_id", "vec_key", "pos", "eid", "src", "dst"]
    )
    assert len(df) == 6
    sizes = df.groupby("loop_id").size().tolist()
    assert sorted(sizes) == [3, 3]
    for _, loop in df.groupby("loop_id"):
        loop = loop.sort_values("pos")
        # vertex-simple and closed
        assert loop["src"].is_unique
        assert list(loop["dst"])[:-1] == list(loop["src"])[1:]
        assert loop["dst"].iloc[-1] == loop["src"].iloc[0]


def test_sibling_pair_degenerate_two_edge_loop():
    edges = _ring([1, 2])
    coords = _coords_for([1, 2], seed=9)
    rows = _assemble_graph(_graph_pdf(edges, coords))
    assert len(rows) == 2
    assert {r[3] for r in rows} == {e[0] for e in edges}
    assert len({r[0] for r in rows}) == 1


def test_self_edge_becomes_own_loop():
    # a degenerate edge maps to itself (s2builder_graph.cc:272-276),
    # alongside an ordinary triangle at the same vertex
    edges = _ring([0, 1, 2]) + [(0 * 2**28 + 0, 0, 0)]
    coords = _coords_for(range(3), seed=11)
    rows = _assemble_graph(_graph_pdf(edges, coords))
    df = pd.DataFrame(
        rows, columns=["loop_id", "vec_key", "pos", "eid", "src", "dst"]
    )
    assert len(df) == 4
    self_loop = df[df["eid"] == 0]
    assert len(self_loop) == 1 and self_loop["pos"].iloc[0] == 0


def _independent_assemble(edges, coords, mii):
    """An INDEPENDENT port of GetDirectedLoops: clockwise ordering by
    tangent-plane atan2 angles (the oracle's procedure) instead of
    OrderedCCW, plain-list stack matching, dict walk."""
    by_vertex = {}
    for eid, s, d in edges:
        by_vertex.setdefault(s, []).append(("out", eid, d))
        by_vertex.setdefault(d, []).append(("in", eid, s))
    nxt = {}
    for v0, items in by_vertex.items():
        by_nbr = {}
        for kind, eid, v1 in items:
            by_nbr.setdefault(v1, {"out": [], "in": []})[kind].append(eid)
        gathered = []
        for v1 in sorted(by_nbr):
            outs = sorted(by_nbr[v1]["out"])
            ins = sorted(by_nbr[v1]["in"])
            if v1 == v0:
                for e in ins:
                    nxt[e] = e
                continue
            rank = [0]
            ob, oe, ib, ie = 0, len(outs), 0, len(ins)
            while ie - ib > oe - ob:
                ie -= 1
                gathered.append(("in", ins[ie], v1, rank[0]))
                rank[0] += 1
            while ie > ib:
                gathered.append(("out", outs[ob], v1, rank[0]))
                ob += 1
                rank[0] += 1
                ie -= 1
                gathered.append(("in", ins[ie], v1, rank[0]))
                rank[0] += 1
            while oe > ob:
                gathered.append(("out", outs[ob], v1, rank[0]))
                ob += 1
                rank[0] += 1
        if not gathered:
            continue
        o = np.array(coords[v0])
        ref = np.array(coords[gathered[0][2]])
        u = ref - np.dot(ref, o) * o
        w = np.cross(o, ref)

        def cw(item):
            if item[2] == gathered[0][2]:
                return (0.0, item[3])
            t = np.array(coords[item[2]])
            th = math.atan2(np.dot(t, w), np.dot(t, u))
            if th < 0:
                th += 2 * math.pi
            return (2 * math.pi - th, item[3])

        order = [gathered[0]] + sorted(gathered[1:], key=cw)
        e_in, e_out = [], []
        for kind, eid, _, _ in order:
            if kind == "in":
                e_in.append(eid)
            elif e_in:
                nxt[e_in.pop()] = eid
            else:
                e_out.append(eid)
        e_out.reverse()
        while e_out and e_in:
            nxt[e_in.pop()] = e_out.pop()
        assert not e_in
    src = {eid: s for eid, s, _ in edges}
    dst = {eid: d for eid, _, d in edges}
    visited = set()
    rows = []
    for e in sorted(nxt):
        if e not in visited:
            rows.extend(_walk_from(e, nxt, src, dst, mii, visited))
    return sorted(rows)


def test_random_graphs_match_independent_port():
    rng = np.random.default_rng(42)
    for trial in range(25):
        n_v = int(rng.integers(4, 10))
        coords = _coords_for(range(n_v), seed=100 + trial)
        edges = []
        for _ in range(int(rng.integers(1, 5))):
            k = int(rng.integers(2, min(5, n_v) + 1))
            vids = list(rng.choice(n_v, size=k, replace=False))
            ring = _ring(vids)
            if any(e[0] == f[0] for e in ring for f in edges):
                continue  # keep directed edges unique
            edges.extend(ring)
        if not edges:
            continue
        mii = {eid: eid for eid, _, _ in edges}
        got = sorted(_assemble_graph(_graph_pdf(edges, coords, mii)))
        want = _independent_assemble(edges, coords, mii)
        assert got == want, f"trial {trial}"


def test_contraction_path_matches_grouped_path(spark):
    m = load_entry()
    edges = m._loop_graph_edges(spark, "/root/testdata/sf0.001")
    cols = ["loop_id", "vec_key", "pos", "eid", "src", "dst"]
    a = (
        assemble_loops(edges.drop("gid"))
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    b = (
        assemble_loops_grouped(edges)
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    assert a.equals(b)
    assert len(a) == edges.count()
