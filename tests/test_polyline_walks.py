"""GetPolylines(WALK) vs the reference's golden cases.

Golden sources: s2builderutil_s2polyline_vector_layer_test.cc
MultipleIntersectingWalks / EarlyWalkTermination, translated to the
graph level (integer vertex ids in order of first appearance, edge ids
= input order — the identity snap leaves the graph unchanged, so the
layer-level idempotency goldens pin the walk decomposition itself).
"""

import pandas as pd
import pytest

from s2geometry_spark.operators.polyline_walks import (
    build_walks,
    polyline_walks,
)
from tests.conftest import load_entry


def _edges_from_polylines(polylines):
    """[(v0, v1, v2...), ...] -> [(eid, src, dst)] in input order."""
    edges = []
    for pl in polylines:
        for a, b in zip(pl, pl[1:]):
            edges.append((len(edges), a, b))
    return edges


def _vertex_seqs(edges, walks):
    edge = {e: (s, d) for e, s, d in edges}
    out = []
    for w in walks:
        seq = [edge[w[0]][0]] + [edge[e][1] for e in w]
        out.append(seq)
    return out


def test_multiple_intersecting_walks_golden():
    # vertices: 5:5=0 5:6=1 6:5=2 5:4=3 5:3=4 4:4=5 4:5=6 3:5=7 6:6=8 7:7=9
    inp = [
        (0, 1, 2, 0, 3, 4),
        (5, 0, 2, 1, 0, 1, 2, 0, 6),
        (7, 0, 1, 2, 0, 1, 8, 9),
    ]
    edges = _edges_from_polylines(inp)
    walks = build_walks(edges)
    assert _vertex_seqs(edges, walks) == [list(p) for p in inp]


def test_early_walk_termination_golden():
    # vertices: 0:1=0 1:1=1 1:0=2 1:2=3 0:2=4 2:2=5 2:1=6 2:3=7
    inp = [(0, 1), (2, 1, 3), (4, 3, 5), (6, 5, 7)]
    edges = _edges_from_polylines(inp)
    walks = build_walks(edges)
    assert _vertex_seqs(edges, walks) == [list(p) for p in inp]


def test_eulerian_loops_merge_into_one_walk():
    # two loops sharing vertex 0: WALK splices them into a single
    # maximal closed walk (PATH would emit two)
    edges = [(0, 0, 1), (1, 1, 0), (2, 0, 2), (3, 2, 0)]
    walks = build_walks(edges)
    assert walks == [[0, 1, 2, 3]]


def test_excess_vertex_walk_passes_through():
    edges = [(0, 0, 1), (1, 1, 0), (2, 0, 2)]
    walks = build_walks(edges)
    assert _vertex_seqs(edges, walks) == [[0, 1, 0, 2]]


def test_every_edge_used_exactly_once_and_continuous():
    import numpy as np

    rng = np.random.default_rng(7)
    edges = [
        (i, int(rng.integers(0, 12)), int(rng.integers(0, 12)))
        for i in range(60)
    ]
    walks = build_walks(edges)
    used = [e for w in walks for e in w]
    assert sorted(used) == list(range(60))
    edge = {e: (s, d) for e, s, d in edges}
    for w in walks:
        for a, b in zip(w, w[1:]):
            assert edge[a][1] == edge[b][0]
    # canonical order: walks sorted by first edge id
    assert [w[0] for w in walks] == sorted(w[0] for w in walks)


def test_distributed_matches_sequential(spark):
    """polyline_walks (components + buckets + trivial anti-join) must
    equal the global sequential decomposition: components are
    independent, so the global run IS the per-component union."""
    import numpy as np

    rng = np.random.default_rng(11)
    edges = []
    eid = 0
    # several bounded components in disjoint vertex blocks + trivia
    for blk in range(17):
        base = blk * 100
        n = int(rng.integers(1, 14))
        for _ in range(n):
            edges.append(
                (
                    eid,
                    base + int(rng.integers(0, 8)),
                    base + int(rng.integers(0, 8)),
                )
            )
            eid += 1
        # an isolated edge and an isolated self-loop
        edges.append((eid, base + 50, base + 51)); eid += 1
        edges.append((eid, base + 60, base + 60)); eid += 1
    expect = {}
    for w in build_walks(edges):
        for i, e in enumerate(w):
            expect[e] = (w[0], i)
    df = spark.createDataFrame(edges, "eid long, src long, dst long")
    got = {
        r.eid: (r.walk_id, r.seq) for r in polyline_walks(df).collect()
    }
    assert got == expect


def test_entry_fixture_conserves_edges(spark):
    """Every fixture edge lands in exactly one walk exactly once."""
    mod = load_entry()
    sf = "/root/testdata/sf0.001"
    out = mod.queries()["polyline_walks"](spark, sf).toPandas()
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    assert len(out) == n_orders
    assert out["eid"].is_unique
    # seq is a contiguous 0..len-1 ramp within each walk
    g = out.groupby("walk_id")["seq"]
    assert (g.min() == 0).all()
    assert (g.max() + 1 == g.count()).all()


def test_closed_flag(spark):
    edges = [(0, 1, 2), (1, 2, 1), (2, 5, 6), (3, 7, 7)]
    df = spark.createDataFrame(edges, "eid long, src long, dst long")
    rows = polyline_walks(df).collect()
    closed = {r.eid: r.closed for r in rows}
    assert closed == {0: True, 1: True, 2: False, 3: True}


def test_walk_invariants_catch_corruption(spark):
    """The r5 invariant oracle actually discriminates: intact walks
    produce the input edge-multiset witness with zero violations, while
    a lost edge, a swapped order, or a flipped closed flag each perturb
    at least one output column."""
    from pyspark.sql import functions as F

    from s2geometry_spark.operators.polyline_walks import (
        polyline_walks,
        walk_invariants,
    )

    rows = [
        # one 4-cycle component and one open chain component
        (1, 0, 1), (2, 1, 2), (3, 2, 3), (4, 3, 0),
        (10, 100, 101), (11, 101, 102), (12, 102, 103),
    ]
    edges = spark.createDataFrame(rows, "eid long, src long, dst long")
    walks = polyline_walks(edges)
    good = walk_invariants(walks, edges).toPandas().sort_values("comp")
    assert (good.n_break == 0).all() and (good.n_flag_bad == 0).all()
    assert sorted(good.n_edges.tolist()) == [3, 4]
    assert set(good.sum_eid) == {10, 33}

    # lost edge: the witness no longer matches the input multiset
    lost = walk_invariants(walks.where(F.col("eid") != 2), edges).toPandas()
    assert set(lost.n_edges) != {3, 4} or set(lost.sum_eid) != {10, 33}

    # scrambled order: contiguity violations become nonzero
    scram = walks.withColumn(
        "seq", F.when(F.col("seq") == 0, 99).otherwise(F.col("seq"))
    )
    bad = walk_invariants(scram, edges).toPandas()
    assert bad.n_break.sum() > 0

    # flipped closed flag on the cycle walk
    flip = walks.withColumn("closed", ~F.col("closed"))
    assert walk_invariants(flip, edges).toPandas().n_flag_bad.sum() > 0
