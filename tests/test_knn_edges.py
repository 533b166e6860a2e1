"""Closest-edge kNN join (S2ClosestEdgeQuery re-expression): the staged
ring-expansion result must equal the brute-force cross join exactly, and
the pinned chord^2 kernel must agree with the reference-style projection
distance (measures.distance_to_edge)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import cellid, leafintervals, measures
from s2geometry_spark.operators.knn_edges import (
    closest_edges_join,
    furthest_edges_join,
)


def _pt(lat, lng):
    la, ln = math.radians(lat), math.radians(lng)
    return np.array(
        [math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)]
    )


def test_point_edge_chord2_matches_projection_distance():
    rng = np.random.RandomState(7)
    X = rng.randn(200, 3)
    X /= np.linalg.norm(X, axis=1)[:, None]
    a = _pt(10, 20)
    step = _pt(12, 26)
    b = a + 0.3 * step
    b /= np.linalg.norm(b)
    A = np.broadcast_to(a, (200, 3))
    B = np.broadcast_to(b, (200, 3))
    got = measures.point_edge_chord2(X, A, B)
    ang = measures.distance_to_edge(X, a, b)
    want = (2.0 * np.sin(0.5 * ang)) ** 2
    assert np.allclose(got, want, atol=1e-9)


def test_point_edge_max_chord2_antipodal_identity():
    rng = np.random.RandomState(3)
    X = rng.randn(50, 3)
    X /= np.linalg.norm(X, axis=1)[:, None]
    a, b = _pt(0, 0), _pt(0, 20)
    A = np.broadcast_to(a, (50, 3))
    B = np.broadcast_to(b, (50, 3))
    mx = measures.point_edge_max_chord2(X, A, B)
    # brute force: sample the arc densely
    ts = np.linspace(0, 1, 400)
    arc = np.stack([measures.interpolate(a, b, t)[0] for t in ts])
    d = ((X[:, None, :] - arc[None, :, :]) ** 2).sum(axis=2).max(axis=1)
    assert np.allclose(mx, d, atol=1e-4)


def _unit(X):
    return X / np.linalg.norm(X, axis=1)[:, None]


def _edges_df(spark, A, B):
    return spark.createDataFrame(
        [(i, *map(float, a), *map(float, b)) for i, (a, b) in enumerate(zip(A, B))],
        "eid long, e0x double, e0y double, e0z double, "
        "e1x double, e1y double, e1z double",
    )


def _queries_df(spark, Q):
    qc = cellid.to_biased(cellid.from_xyz(Q[:, 0], Q[:, 1], Q[:, 2]))
    return spark.createDataFrame(
        [(int(i), *map(float, Q[i]), int(qc[i])) for i in range(len(Q))],
        "qid long, qx double, qy double, qz double, q_cell long",
    )


@pytest.fixture(scope="module")
def edge_tables(spark):
    """Deterministic points + short edges scattered globally."""
    rng = np.random.RandomState(42)
    n_e, n_q = 400, 120
    P = _unit(rng.randn(n_e, 3))
    E1 = _unit(P + 0.05 * rng.randn(n_e, 3))
    Q = _unit(rng.randn(n_q, 3))
    return _edges_df(spark, P, E1), _queries_df(spark, Q)


def _brute(spark, edges, queries, k):
    from pyspark.sql import Window

    cand = queries.crossJoin(edges)
    import pandas as pd

    def refine(it):
        for pdf in it:
            X = pdf[["qx", "qy", "qz"]].to_numpy(np.float64)
            A = pdf[["e0x", "e0y", "e0z"]].to_numpy(np.float64)
            B = pdf[["e1x", "e1y", "e1z"]].to_numpy(np.float64)
            out = pdf[["qid", "eid"]].copy()
            out["dist_chord2"] = measures.point_edge_chord2(X, A, B)
            yield out

    scored = cand.mapInPandas(refine, "qid long, eid long, dist_chord2 double")
    w = Window.partitionBy("qid").orderBy(
        F.col("dist_chord2").asc(), F.col("eid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "eid", "dist_chord2")
    )


def test_staged_equals_bruteforce(spark, edge_tables):
    edges, queries = edge_tables
    k = 3
    got = {
        (r.qid, r.rank): (r.eid, r.dist_chord2)
        for r in closest_edges_join(
            spark, edges, queries, k, start_level=6, num_stages=2
        ).collect()
    }
    want = {
        (r.qid, r.rank): (r.eid, r.dist_chord2)
        for r in _brute(spark, edges, queries, k).collect()
    }
    assert got == want


def test_furthest_edge_runs(spark, edge_tables):
    edges, queries = edge_tables
    rows = furthest_edges_join(spark, edges, queries, k=1).collect()
    assert len(rows) == queries.count()
    # every max distance is large (antipodal side exists among 400 edges)
    assert all(r.dist_chord2 > 2.0 for r in rows)


def test_project_to_edge_pinned_geometry():
    """Pinned projection agrees with the reference-path project_to_edge
    (broadcast form) and its distance with the chord2 kernel."""
    rng = np.random.RandomState(11)
    X = rng.randn(300, 3)
    X /= np.linalg.norm(X, axis=1)[:, None]
    a = _pt(-5, 80)
    b0 = a + 0.4 * _pt(3, 95)
    b = b0 / np.linalg.norm(b0)
    A = np.broadcast_to(a, (300, 3)).copy()
    B = np.broadcast_to(b, (300, 3)).copy()
    P = measures.project_to_edge_pinned(X, A, B)
    want = measures.project_to_edge(X, a, b)
    assert np.allclose(P, want, atol=1e-12)
    # unit length and consistency with the reported chord2
    assert np.allclose(np.linalg.norm(P, axis=1), 1.0, atol=1e-12)
    d_proj = ((X - P) ** 2).sum(axis=1)
    d_kernel = measures.point_edge_chord2(X, A, B)
    assert np.allclose(d_proj, d_kernel, atol=1e-9)


def test_project_to_closest_edges(spark, edge_tables):
    """Operator picks the same edge as the k=1 staged join and projects
    onto it."""
    from s2geometry_spark.operators.knn_edges import project_to_closest_edges

    edges, queries = edge_tables
    got = {
        r.qid: r
        for r in project_to_closest_edges(spark, edges, queries).collect()
    }
    want = {
        r.qid: r
        for r in closest_edges_join(spark, edges, queries, k=1).collect()
    }
    E = {r.eid: r for r in edges.collect()}
    Q = {r.qid: r for r in queries.collect()}
    assert set(got) == set(want)
    for qid, r in got.items():
        assert r.eid == want[qid].eid
        assert r.dist_chord2 == want[qid].dist_chord2
        e, q = E[r.eid], Q[qid]
        P = measures.project_to_edge_pinned(
            np.array([[q.qx, q.qy, q.qz]]),
            np.array([[e.e0x, e.e0y, e.e0z]]),
            np.array([[e.e1x, e.e1y, e.e1z]]),
        )[0]
        assert (r.px, r.py, r.pz) == (P[0], P[1], P[2])


def _sorted(df):
    return sorted((r.qid, r.rank, r.eid, r.dist_chord2) for r in df.collect())


def _assert_matches_brute(spark, edges, queries, k, **kw):
    got = _sorted(closest_edges_join(spark, edges, queries, k, **kw))
    assert got == _sorted(_brute(spark, edges, queries, k))


def test_duplicate_edges_tie_on_eid_at_rank_k(spark, edge_tables):
    """Three copies of a quarter of the edges: equal distances straddle
    rank k, and the tie breaks on eid as in the brute-force window."""
    edges, queries = edge_tables
    base = edges.where("eid < 100")
    dup = edges.unionByName(base.withColumn("eid", F.col("eid") + 1000)).unionByName(
        base.withColumn("eid", F.col("eid") + 2000)
    )
    k = 4
    wide = _sorted(_brute(spark, dup, queries, k + 1))
    d = {(q, r): dist for q, r, _, dist in wide}
    assert any(d.get((q, k)) == d.get((q, k + 1)) for q, _, _, _ in wide)
    _assert_matches_brute(spark, dup, queries, k, start_level=6, num_stages=2)


def test_remainder_scan_matches_bruteforce(spark, edge_tables):
    """Level 20 certifies no query, so every one takes the scan against
    the whole edge table."""
    edges, queries = edge_tables
    _assert_matches_brute(spark, edges, queries, 3, start_level=20, num_stages=1)


def test_fine_start_certifies_at_second_level(spark, edge_tables, monkeypatch):
    """From level 5, finer than the auto level for 400 edges, the first
    level leaves queries uncertified and the second (level 2) certifies
    all of them: with no remainder allowed, one level raises and two
    match the brute force."""
    from s2geometry_spark.operators import knn

    edges, queries = edge_tables
    monkeypatch.setattr(knn, "MAX_BRUTE_FORCE_QUERIES", 0)
    with pytest.raises(ValueError, match="left uncertified"):
        closest_edges_join(spark, edges, queries, 1, start_level=5, num_stages=1)
    _assert_matches_brute(spark, edges, queries, 1, start_level=5, num_stages=2)


def test_long_edges_cover_coarser_than_the_level(spark):
    """Edges of about 0.5 rad have covering cells coarser than the stage
    level: such a cell contains block cells rather than lying in one."""
    from s2geometry_spark.operators.edge_join import _edge_coverings_flat

    from s2geometry_spark.operators import knn

    rng = np.random.RandomState(5)
    A = _unit(rng.randn(60, 3))
    B = _unit(A + 0.5 * _unit(rng.randn(60, 3)))
    _, cells = _edge_coverings_flat(A, B)
    assert cellid.level(cells).max() < 6
    Q = _unit(rng.randn(40, 3))
    # a covering cell's leaf range meets several of the level's block
    # intervals
    blocks = knn._ladder(Q, cellid.from_xyz(*Q.T), 6)[-1][0]
    row, _ = leafintervals.overlap(blocks, cellid.range_min(cells), cellid.range_max(cells))
    assert np.bincount(row).max() > 1
    queries = _queries_df(spark, Q)
    _assert_matches_brute(
        spark, _edges_df(spark, A, B), queries, 2, start_level=6, num_stages=2
    )


def test_remainder_cap_raises(spark, edge_tables, monkeypatch):
    from s2geometry_spark.operators import knn

    edges, queries = edge_tables
    monkeypatch.setattr(knn, "MAX_BRUTE_FORCE_QUERIES", 0)
    with pytest.raises(ValueError, match="left uncertified"):
        closest_edges_join(spark, edges, queries, 3, start_level=20, num_stages=1)


def test_empty_query_side_returns_schema(spark, edge_tables):
    edges, queries = edge_tables
    out = closest_edges_join(spark, edges, queries.limit(0), 3)
    assert out.columns == ["qid", "rank", "eid", "dist_chord2"]
    assert out.count() == 0


def test_empty_edge_table(spark, edge_tables):
    edges, queries = edge_tables
    out = closest_edges_join(spark, edges.limit(0), queries, 3, start_level=6)
    assert out.columns == ["qid", "rank", "eid", "dist_chord2"]
    assert out.count() == 0


def test_empty_partitions_in_the_scan(spark, edge_tables):
    """Three edges over 8 partitions: most scan tasks see no rows and
    must still emit the declared schema."""
    edges, queries = edge_tables
    few = edges.where("eid < 3").repartition(8)
    _assert_matches_brute(spark, few, queries, 2, start_level=6, num_stages=2)


def test_closest_edges_join_leaves_no_persistent_rdds(spark, edge_tables):
    edges, queries = edge_tables
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    closest_edges_join(spark, edges, queries, 3).toPandas()
    assert jsc.getPersistentRDDs().size() == before


def test_project_to_closest_edges_leaves_no_persistent_rdds(spark, edge_tables):
    from s2geometry_spark.operators.knn_edges import project_to_closest_edges

    edges, queries = edge_tables
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    project_to_closest_edges(spark, edges, queries).toPandas()
    assert jsc.getPersistentRDDs().size() == before


# Each batch settles a query at the finest block level of the scan's
# ladder (start, +3, +6, +9) that holds k of its edges nearer than its
# bound.  The fixtures are knn_join's, with every point the first
# endpoint of a short edge, checked against an exhaustive NumPy top-k.


def _short_edges(spark, P, length, ids=None, seed=5):
    """(edges frame, endpoints (n, 6), eids): an edge of about
    ``length`` rad from every point of ``P``, in one partition per core,
    each holding a contiguous run of the rows (the join keeps them)."""
    rng = np.random.RandomState(seed)
    E = np.concatenate([P, _unit(P + length * rng.randn(len(P), 3))], axis=1)
    ids = np.arange(len(P)) if ids is None else np.asarray(ids)
    sc = spark.sparkContext
    rows = [(int(i), *map(float, e)) for i, e in zip(ids, E)]
    df = spark.createDataFrame(
        sc.parallelize(rows, sc.defaultParallelism),
        "eid long, e0x double, e0y double, e0z double, "
        "e1x double, e1y double, e1z double",
    )
    return df, E, ids


def _edge_reference(Q, E, ids, k):
    """Exhaustive top-k in (chord², eid) order, sorted like ``_sorted``."""
    rows = []
    for i, q in enumerate(Q):
        d = measures.point_edge_chord2(np.broadcast_to(q, (len(E), 3)), E[:, :3], E[:, 3:])
        for r, j in enumerate(np.lexsort((ids, d))[:k], start=1):
            rows.append((i, r, int(ids[j]), float(d[j])))
    return sorted(rows)


def _assert_matches_reference(spark, P, Q, k, length=1e-6, ids=None):
    edges, E, ids = _short_edges(spark, P, length, ids)
    got = _sorted(closest_edges_join(spark, edges, _queries_df(spark, Q), k, start_level=4))
    assert got == _edge_reference(Q, E, ids, k)


def test_dense_cluster_and_sparse_tail_from_a_coarse_level(spark):
    from tests.test_joins import _cluster_and_tail

    pts, _, qts, _ = _cluster_and_tail()
    _assert_matches_reference(spark, pts, qts, 5)


def test_many_arrow_batches_per_partition(spark):
    from tests.test_joins import _cluster_and_tail

    pts, _, qts, _ = _cluster_and_tail()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = 64
    assert len(pts) > 4 * batch * spark.sparkContext.defaultParallelism
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        _assert_matches_reference(spark, pts, qts, 5)
    finally:
        spark.conf.set(key, old)


def test_ties_cut_at_a_fine_levels_kth_edge(spark):
    """Every clustered edge three times under scattered eids."""
    from tests.test_joins import _cluster_and_tail

    pts, _, qts, _ = _cluster_and_tail(n_dense=900, n_tail=300)
    n = len(pts)
    ids = np.concatenate([np.arange(n) * 3 + 2, np.arange(n) * 3, np.arange(n) * 3 + 1])
    _assert_matches_reference(spark, np.concatenate([pts] * 3), qts, 4, length=0.0, ids=ids)


def test_cube_corner_and_pole_queries(spark):
    from tests.test_joins import _cluster_and_tail

    corner = np.full(3, 1 / np.sqrt(3))
    pole = np.array([0.0, 0.0, 1.0])
    pts, _, _, _ = _cluster_and_tail(centers=[corner, pole])
    tilt = _unit(corner[None, :] + [[1e-6, -1e-6, 0.0]])[0]
    Q = np.stack([corner, pole, tilt, -corner, -pole])
    _assert_matches_reference(spark, pts, Q, 6)


def test_fine_edges_with_a_nearer_edge_outside_do_not_settle(spark):
    """Four edges inside each query's level-13 block and one nearer edge
    just outside it, all in the first partition: level 13 must not
    settle."""
    from s2geometry_spark.operators import knn
    from s2geometry_spark.operators.edge_join import _edge_coverings_flat
    from tests.test_joins import _block_trap, _xyz

    qts, trap, halo = _block_trap(13)
    tail, _ = _xyz(500)
    P = np.concatenate([trap.reshape(-1, 3), halo, tail])
    # the outside edges' coverings stay outside the blocks
    _, E, _ = _short_edges(spark, P, 1e-9)
    owner, cells = _edge_coverings_flat(E[:, :3], E[:, 3:])
    blocks = knn._ladder(qts, cellid.from_xyz(*qts.T), 13)[-1][0]
    row, _ = leafintervals.overlap(blocks, cellid.range_min(cells), cellid.range_max(cells))
    assert not np.isin(owner[row], np.arange(4, 5 * len(qts), 5)).any()
    # each covering cell of the inside edges meets one block interval
    inner = cells[(owner < 5 * len(qts)) & (owner % 5 != 4)]
    row, _ = leafintervals.overlap(blocks, cellid.range_min(inner), cellid.range_max(inner))
    assert np.array_equal(row, np.arange(len(inner)))
    assert 5 * len(qts) <= len(P) // spark.sparkContext.defaultParallelism
    _assert_matches_reference(spark, P, qts, 4, length=1e-9)
