"""k-nearest-neighbor joins via cell-neighbor ring expansion, one scan per
level.

Re-expression of S2ClosestPointQuery's best-first cell search
(s2closest_point_query_base.h:482-769) as dataflow.  The query side is
small, so it is collected once; each ring level is then ONE mapInPandas
scan over the indexed rows against a broadcast leaf-interval table of
the queries' 3x3 neighbor blocks at the level (kernels/leafintervals).
A row looks up the queries whose block it touches, and
each partition emits those queries' local top-k in (dist, id) order; the
driver merges the partial lists.  Inside a batch the scan widens as the
reference does: a query is scored first against its 3x3 blocks at finer
levels (level+9, +6, +3) and settles at the first that holds k of its
rows nearer than anything outside it; only the queries still open meet
the rows of their block at the level itself.

The loop (``_ring_join``) is shared by two callers that differ only in
how a row finds its blocks and how it is scored:

* ``knn_join`` (points): a ``stab`` of the row's leaf cell, with the
  pinned ((dx²+dy²)+dz²) chord² — bit-identical to the SQL oracles;
* ``knn_edges.closest_edges_join`` (S2ClosestEdgeQuery): an ``overlap``
  of the edge's covering cells, with the pinned point-to-arc chord².

A query is *certified* at a level when it has k candidates and its k-th
distance is smaller than the minimum possible distance to any row
outside its 3x3 block — the same admissible lower bound the reference's
queue pruning uses (S2Cell::GetDistance / kMinWidth,
s2closest_point_query_base.h:556-560).  Uncertified queries escalate to a
coarser level (64x the area); whatever remains after the last level is
scanned against every row (typically none).  Nothing is cached.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .. import functions as s2f
from ..kernels import cellid, leafintervals, metrics

# Hard cap on queries allowed into the brute-force fallback: beyond this
# the `remaining x points` cross join is a scale cliff, not a remainder.
MAX_BRUTE_FORCE_QUERIES = 10_000


def _neighbor_block_udf(level: int):
    """cells of the 3x3 block (self + AppendAllNeighbors) at ``level`` for
    each query's cell — vectorized, returns array<long> (biased)."""

    @pandas_udf(ArrayType(LongType()))
    def block(cell_biased: pd.Series) -> pd.Series:
        ids = cellid.from_biased(cell_biased.to_numpy(np.int64))
        own = cellid.parent(ids, level)
        idx, nbrs = cellid.append_all_neighbors(own, level)
        out: list[list[int]] = [[int(b)] for b in cellid.to_biased(own)]
        nb = cellid.to_biased(nbrs)
        for i, b in zip(idx, nb):
            out[int(i)].append(int(b))
        return pd.Series([sorted(set(v)) for v in out])

    return block


def _min_outside_chord2(level: int) -> float:
    """Admissible bound: any point OUTSIDE the 3x3 block at ``level`` is at
    least one neighbor-cell width away => angle >= kMinWidth(level); compare
    in squared-chord space (monotone)."""
    ang = metrics.MIN_WIDTH.get_value(level)
    d = 2.0 * math.sin(0.5 * min(math.pi, ang))
    return d * d


def query_bound_chord2(
    P: np.ndarray, cells: np.ndarray, level: int
) -> np.ndarray:
    """Per-query admissible certification bound, TIGHTER than the
    constant kMinWidth block bound: any point outside the 3x3 block is at
    least d(q, boundary of q's own cell) + kMinWidth(level) away — the
    geodesic to it crosses the own-cell boundary first, then must
    traverse a full ring cell (each ring crossing >= the level's min
    width; S2Cell::GetDistance gives the first term exactly via the
    4-edge distance, s2cell.cc:382-460).

    P: (n,3) query points; cells: uint64 leaf ids.  Returns chord^2.
    """
    from ..kernels import measures

    own = cellid.parent(cells, level)
    corners = cellid.corners_xyz(own)
    n = P.shape[0]
    d = None
    for e in range(4):
        a = corners[:, e]
        b = corners[:, (e + 1) % 4]
        de = measures.point_edge_chord2(P, a, b)
        d = de if d is None else np.minimum(d, de)
    ang = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(d)))
    total = ang + metrics.MIN_WIDTH.get_value(level)
    chord = 2.0 * np.sin(0.5 * np.minimum(np.pi, total))
    return chord * chord


# Candidate (query, point) pairs a scan expands at once: one dense block
# meeting many queries cannot grow a Python worker without limit.
_PAIRS_PER_CHUNK = 1 << 20


# Block levels a scan at level L tries in each batch, finest first, as
# offsets above L.  A query settles at the first rung where the batch
# holds k of its rows nearer than anything outside that rung's block, so
# a dense query never expands its coarse block.  The step is the ring
# cascade's 3 levels (64x the area): a query stops within one step of
# its density, at no more than four lookups per batch.  A finer rung is
# scored only while it meets fewer than half the (row, query) pairs of
# level L itself: rows coarser than the rung (edges whose covering cells
# hold whole blocks) meet nearly as many pairs in a fine block as in the
# coarse one, and scoring them twice cannot pay.  A rung's pairs are a
# subset of the next coarser rung's, so the first rung over that limit
# ends the climb.
_LADDER = (9, 6, 3, 0)


def _ladder(Q: np.ndarray, cells: np.ndarray, level: int):
    """A scan's rungs, finest first: ``(table, bound)`` for level+9, +6,
    +3 and ``level`` (capped at 30, each once): the leaf-interval table of
    the queries' 3x3 blocks at the rung (as _neighbor_block_udf builds
    them), owned by query index, and each query's ``query_bound_chord2``
    there.  The last rung settles every query still open and carries no
    bound; level 0 is the one rung that meets every row."""
    n = len(Q)
    if level == 0:
        faces = cellid.from_face(np.arange(6))
        return [(leafintervals.build(np.repeat(faces, n), np.tile(np.arange(n), 6)), None)]
    rungs = []
    for lv in sorted({min(30, level + s) for s in _LADDER}, reverse=True):
        own = cellid.parent(cells, lv)
        idx, nbrs = cellid.append_all_neighbors(own, lv)
        table = leafintervals.build(np.r_[own, nbrs], np.r_[np.arange(n), idx])
        rungs.append((table, None if lv == level else query_bound_chord2(Q, cells, lv)))
    return rungs


def _topk(q: np.ndarray, p: np.ndarray, d: np.ndarray, k: int):
    """The first k rows of each query in (dist, id) order, queries
    ascending, with each row's 0-based rank.  A repeated (query, id) row
    counts once: an edge can meet a query through two block cells."""
    order = np.lexsort((p, d, q))
    q, p, d = q[order], p[order], d[order]
    if len(q):
        new = np.r_[True, (q[1:] != q[:-1]) | (p[1:] != p[:-1])]
        q, p, d = q[new], p[new], d[new]
    i = np.arange(len(q))
    first = np.r_[True, q[1:] != q[:-1]] if len(q) else np.empty(0, bool)
    rank = i - np.maximum.accumulate(np.where(first, i, 0))
    keep = rank < k
    return q[keep], p[keep], d[keep], rank[keep]


_NONE = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64))


def _pairs_topk(hit, iv, table, ids, Q, X, chord2, k):
    """Top-k ``(q, id, d, rank)`` over the distinct (query, row) pairs
    where row ``hit[j]`` meets the queries owning interval ``iv[j]`` of
    the block ``table``, expanded and scored at most ``_PAIRS_PER_CHUNK``
    pairs at a time."""
    out = _NONE
    cnt = leafintervals.owner_counts(table, iv)
    cum = np.cumsum(cnt)
    s = 0
    while s < len(hit):
        budget = cum[s] - cnt[s] + _PAIRS_PER_CHUNK
        e = max(int(np.searchsorted(cum, budget, "right")), s + 1)
        ri, q = leafintervals.expand(table, hit[s:e], iv[s:e])
        # a row meets a query once per block cell of the query's that it
        # touches (an edge's covering cell can hold all nine): score each
        # pair once.  The ids arrive in sorted runs, so timsort is cheap.
        pair = np.sort(ri * len(Q) + q, kind="stable")
        new = np.ones(len(pair), bool)
        new[1:] = pair[1:] != pair[:-1]
        ri, q = np.divmod(pair[new], len(Q))
        out = _topk(
            np.concatenate([out[0], q]),
            np.concatenate([out[1], ids[ri]]),
            np.concatenate([out[2], chord2(Q[q], X[ri])]),
            k,
        )
        s = e
    return out


def _point_rows(pdf: pd.DataFrame):
    """A points batch's leaf cells and coordinates."""
    leaf = cellid.from_biased(pdf["p_cell"].to_numpy(np.int64))
    return leaf, pdf[["px", "py", "pz"]].to_numpy(np.float64)


def _point_chord2(Q: np.ndarray, P: np.ndarray) -> np.ndarray:
    """Row-wise pinned ((dx²+dy²)+dz²) chord², as the SQL oracles."""
    dx = Q[:, 0] - P[:, 0]
    dy = Q[:, 1] - P[:, 1]
    dz = Q[:, 2] - P[:, 2]
    return (dx * dx + dy * dy) + dz * dz


# The two row kinds of the ring expansion, as ``(rows, lookup, chord2)``:
# ``rows(pdf)`` derives a batch's lookup data once, with its coordinate
# matrix; ``lookup(table, data)`` returns the batch's distinct
# (row, interval) pairs in a rung's leaf-interval table; ``chord2(Q, X)``
# scores query points against those coordinates row-wise.
POINTS = (_point_rows, leafintervals.stab, _point_chord2)


def _scan(rows: DataFrame, kind, Q: np.ndarray, cells: np.ndarray, level: int, k: int):
    """One mapInPandas scan of ``rows`` (id column first) for the queries
    at ``Q`` (leaf ``cells``) and their 3x3 blocks at ``level``.  Each
    batch climbs the ``_ladder`` fine to coarse: the ``kind``'s lookup
    maps the batch to its (row, interval) pairs in a rung's table, every
    pair meets the interval's still-open owner queries, scored by the
    kind's chord², and a query settles once it has k rows there nearer
    than its bound.  A finer block lies inside the coarse one and every
    row outside it is beyond that bound, so each batch's top-k is the
    one the coarse block alone gives.  Each partition emits its queries'
    local top-k.  Returns the driver-merged top-k ``(q, id, d, rank)``."""
    bc = rows.sparkSession.sparkContext.broadcast((Q, _ladder(Q, cells, level)))
    rid = rows.columns[0]
    batch_rows, lookup, chord2 = kind

    def kern(batches):
        Q, ladder = bc.value
        acc = _NONE[:3]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            data, X = batch_rows(pdf)
            ids = pdf[rid].to_numpy(np.int64)
            *fine, (coarse, _) = ladder
            coarse_hits = lookup(coarse, data)
            found = [acc]
            open_ = np.ones(len(Q), bool)
            for table, bound in fine:
                hit, iv = lookup(table, data)
                table = leafintervals.restrict(table, open_)
                n_fine = leafintervals.owner_counts(table, iv).sum()
                open_coarse = leafintervals.restrict(coarse, open_)
                if 2 * n_fine > leafintervals.owner_counts(open_coarse, coarse_hits[1]).sum():
                    break  # and so does every coarser rung
                q, p, d, rank = _pairs_topk(hit, iv, table, ids, Q, X, chord2, k)
                kth = rank == k - 1
                settled = np.zeros(len(Q), bool)
                settled[q[kth][d[kth] < bound[q[kth]]]] = True
                keep = settled[q]
                found.append((q[keep], p[keep], d[keep]))
                open_ &= ~settled
            if open_.any():
                coarse = leafintervals.restrict(coarse, open_)
                found.append(_pairs_topk(*coarse_hits, coarse, ids, Q, X, chord2, k)[:3])
            acc = _topk(*(np.concatenate(c) for c in zip(*found)), k)[:3]
        yield pd.DataFrame({"q": acc[0], "p": acc[1], "d": acc[2]})

    try:
        part = rows.mapInPandas(kern, "q long, p long, d double").toPandas()
    finally:
        bc.unpersist()
    return _topk(
        part["q"].to_numpy(np.int64),
        part["p"].to_numpy(np.int64),
        part["d"].to_numpy(np.float64),
        k,
    )


def _ring_join(
    spark: SparkSession,
    rows: DataFrame,
    queries: DataFrame,
    k: int,
    start_level: int,
    num_stages: int,
    kind,
    qid: str = "qid",
) -> DataFrame:
    """The ring expansion shared by ``knn_join`` and the closest-edge join.

    ``rows`` is the scanned side, id column first, of row ``kind`` (see
    ``POINTS``).  queries: (qid, qx, qy, qz, q_cell[biased leaf]).
    Returns (qid, rank, id, dist_chord2), ranked by (dist_chord2, id).

    Levels run at start_level, start_level-3, ... each one scan of
    ``rows`` against the still-uncertified queries; the (rare) remainder
    is scanned against every row.  The query side is collected to the
    driver.
    """
    rid = rows.columns[0]
    schema = f"{qid} long, rank int, {rid} long, dist_chord2 double"
    qdf = queries.select(qid, "qx", "qy", "qz", "q_cell").toPandas()
    q_ids = qdf[qid].to_numpy(np.int64)
    Q = qdf[["qx", "qy", "qz"]].to_numpy(np.float64)
    cells = cellid.from_biased(qdf["q_cell"].to_numpy(np.int64))
    remaining = np.arange(len(qdf))
    none = np.empty(0, np.int64)
    out = [(none, none, none, np.empty(0))]

    def emit(rem, q, p, d, rank):
        out.append((q_ids[rem[q]], rank + 1, p, d))

    level = start_level
    for _ in range(num_stages):
        if level < 1 or len(remaining) == 0:
            break
        Qr = Q[remaining]
        q, p, d, rank = _scan(rows, kind, Qr, cells[remaining], level, k)
        # certified: k candidates, the k-th nearer than anything outside
        # the block (own-cell boundary distance + ring width)
        n = np.bincount(q, minlength=len(remaining))
        dmax = np.full(len(remaining), -np.inf)
        np.maximum.at(dmax, q, d)
        cert = (n >= k) & (dmax < query_bound_chord2(Qr, cells[remaining], level))
        keep = cert[q]
        emit(remaining, q[keep], p[keep], d[keep], rank[keep])
        remaining = remaining[~cert]
        level -= 3

    # the remainder is scanned against every row — LOUDLY capped:
    # `remaining x rows` is the one plan here that does not survive a
    # 100x scale-up, so refuse it for more than a trickle of queries
    # (same contract as ann.cosine_topk_bruteforce's MAX_QUERIES).
    if len(remaining) > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f">{MAX_BRUTE_FORCE_QUERIES} queries ({len(remaining)}) left "
            f"uncertified after {num_stages} stages; a scan against the "
            "full table at this volume is a scale cliff. Increase "
            "num_stages or lower start_level so the ring levels certify "
            "them."
        )
    if len(remaining):
        emit(remaining, *_scan(rows, kind, Q[remaining], cells[remaining], 0, k))
    cols = [np.concatenate(c) for c in zip(*out)]
    return spark.createDataFrame(
        pd.DataFrame(
            {
                qid: cols[0].astype(np.int64),
                "rank": cols[1].astype(np.int32),
                rid: cols[2].astype(np.int64),
                "dist_chord2": cols[3].astype(np.float64),
            }
        ),
        schema,
    )


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    k: int,
    start_level: int = 8,
    num_stages: int = 2,
    qid: str = "qid",
    pid: str = "pid",
) -> DataFrame:
    """Top-k nearest points for every query.

    points: (pid, px, py, pz, p_cell[biased leaf]);
    queries: (qid, qx, qy, qz, q_cell[biased leaf]).
    Returns (qid, rank, pid, dist_chord2), ranked by (dist_chord2, pid).

    Levels run at start_level, start_level-3, ... each one scan of the
    points against the still-uncertified queries (``_ring_join``); a
    point meets the queries whose block holds its cell at the level.
    """
    return _ring_join(
        spark,
        points.select(pid, "px", "py", "pz", "p_cell"),
        queries,
        k,
        start_level,
        num_stages,
        POINTS,
        qid,
    )


def hausdorff_distance(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    start_level: int = 5,
    num_stages: int = 2,
) -> DataFrame:
    """Directed Hausdorff distance h(Q -> P) = max_{q in Q} min_{p in P}
    d(q, p) — the S2HausdorffDistanceQuery semantics over point sets,
    composed from the kNN join (k=1 nearest in P per q, then one max agg;
    the same best-first pruning the reference's query uses is our staged
    ring expansion).

    points: (pid, px, py, pz, p_cell); queries: (qid, qx, qy, qz, q_cell).
    Returns one row: (h_chord2, h_radians).
    """
    nn = knn_join(
        spark, points, queries, k=1, start_level=start_level, num_stages=num_stages
    )
    agg = nn.groupBy().agg(F.max("dist_chord2").alias("h_chord2"))
    # chord^2 -> angle: 2*asin(sqrt(d2)/2) (s1chord_angle.h ToAngle)
    return agg.select(
        "h_chord2",
        (2.0 * F.asin(F.sqrt(F.col("h_chord2")) / 2.0)).alias("h_radians"),
    )


def distance_to_boundary_join(
    points: DataFrame, loops: dict[str, "object"]
) -> DataFrame:
    """Signed distance to the nearest fixture-loop boundary
    (S2ClosestEdgeQuery over a polygon's boundary shape +
    S2ContainsPointQuery sign, the composition behind
    S2Polygon::GetDistance / s2closest_edge_query.h IncludeInteriors):
    for every point, the minimum chord^2 distance over ALL loop edges,
    the winning (loop, edge) pair, the containment flag, and the signed
    angular distance (negative inside).

    The edge table (sum of loop sizes — broadcast-small by the fixture
    contract) ships in the UDF closure; points stream ONCE through an
    Arrow-batched kernel that keeps a running (min, argmin) over edges —
    ties resolve to the smallest (loop_id, edge_idx), matching the
    oracle's ORDER BY.  The signed column is chord^2 with an exact sign
    flip (monotonic in the angle): an asin-based radians column is NOT
    portable here — Java's and DuckDB's asin disagree in the last ulp
    for ~3% of these small arguments (measured), unlike the larger
    chain_centroids arguments where they agreed.

    points: (pid, x, y, z); loops: {rid: Loop}.
    Returns (pid, rid, edge_idx, dist_chord2, inside, signed_chord2,
    px, py, pz) — the projection columns implement S2Polygon::Project
    (s2polygon.cc Project): the point itself when inside, else the
    closest boundary point (pinned kernel, bit-exact SQL twin).
    """
    from ..kernels import measures, predicates

    rids = sorted(loops)
    A_list, B_list, code_list, eidx_list = [], [], [], []
    for ci, rid in enumerate(rids):
        V = np.asarray(loops[rid].vertices, np.float64)
        m = V.shape[0]
        A_list.append(V)
        B_list.append(np.roll(V, -1, axis=0))
        code_list.append(np.full(m, ci, np.int64))
        eidx_list.append(np.arange(m, dtype=np.int64))
    A = np.concatenate(A_list)
    B = np.concatenate(B_list)
    codes = np.concatenate(code_list)
    eidxs = np.concatenate(eidx_list)
    loop_data = [
        (np.asarray(loops[rid].vertices, np.float64), bool(loops[rid].origin_inside))
        for rid in rids
    ]
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast((A, B, codes, eidxs, loop_data))

    def kern(it):
        A, B, codes, eidxs, loop_data = bc.value
        m = A.shape[0]
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "pid": pd.Series(dtype="int64"),
                        "_code": pd.Series(dtype="int64"),
                        "edge_idx": pd.Series(dtype="int64"),
                        "dist_chord2": pd.Series(dtype="float64"),
                        "inside": pd.Series(dtype="bool"),
                        "px": pd.Series(dtype="float64"),
                        "py": pd.Series(dtype="float64"),
                        "pz": pd.Series(dtype="float64"),
                    }
                )
                continue
            X = pdf[["x", "y", "z"]].to_numpy(np.float64)
            n = X.shape[0]
            best_d = np.full(n, np.inf)
            best_j = np.zeros(n, np.int64)
            for j in range(m):
                Aj = np.broadcast_to(A[j], (n, 3))
                Bj = np.broadcast_to(B[j], (n, 3))
                d = measures.point_edge_chord2(X, Aj, Bj)
                upd = d < best_d  # strict: first (smallest) j wins ties
                best_d = np.where(upd, d, best_d)
                best_j = np.where(upd, j, best_j)
            inside = np.zeros(n, bool)
            for V, oi in loop_data:
                inside |= predicates.loop_contains_points(V, oi, X)
            # S2Polygon::Project semantics: the point itself when inside,
            # else the closest boundary point on the winning edge
            P = measures.project_to_edge_pinned(X, A[best_j], B[best_j])
            px = np.where(inside, X[:, 0], P[:, 0])
            py = np.where(inside, X[:, 1], P[:, 1])
            pz = np.where(inside, X[:, 2], P[:, 2])
            yield pd.DataFrame(
                {
                    "pid": pdf["pid"].to_numpy(np.int64),
                    "_code": codes[best_j],
                    "edge_idx": eidxs[best_j],
                    "dist_chord2": best_d,
                    "inside": inside,
                    "px": px,
                    "py": py,
                    "pz": pz,
                }
            )

    out = points.select("pid", "x", "y", "z").mapInPandas(
        kern,
        "pid long, _code long, edge_idx long, dist_chord2 double, "
        "inside boolean, px double, py double, pz double",
    )
    rid_map = F.array(*[F.lit(r) for r in rids])
    return out.select(
        "pid",
        F.element_at(rid_map, F.col("_code").cast("int") + 1).alias("rid"),
        "edge_idx",
        "dist_chord2",
        "inside",
        F.when(F.col("inside"), -F.col("dist_chord2"))
        .otherwise(F.col("dist_chord2"))
        .alias("signed_chord2"),
        "px",
        "py",
        "pz",
    )


def boundary_distance_oracle_sql(
    xyz_cte: str, loops: dict[str, "object"]
) -> str:
    """DuckDB replay of distance_to_boundary_join over the same point
    CTE: edge endpoints as exact double literals, the pinned chord2
    kernel, argmin by (dist, rid, edge_idx), containment via the
    independent convex-loop half-plane predicates, exact sign flip,
    pinned projection CTE chain for the Project columns."""
    from .. import oracle as _oracle
    from ..kernels.measures import (
        point_edge_chord2_sql,
        project_to_edge_sql_ctes,
    )

    def lit(x: float) -> str:
        return "%.17e" % x

    rows = []
    for rid in sorted(loops):
        V = np.asarray(loops[rid].vertices, np.float64)
        W = np.roll(V, -1, axis=0)
        for i in range(V.shape[0]):
            rows.append(
                f"('{rid}', {i}, "
                + ", ".join(lit(c) for c in V[i])
                + ", "
                + ", ".join(lit(c) for c in W[i])
                + ")"
            )
    edges = ",\n    ".join(rows)
    inside_pred = " OR ".join(
        "(" + _oracle.convex_loop_predicate_sql(loops[rid].vertices) + ")"
        for rid in sorted(loops)
    )
    d = point_edge_chord2_sql("p.", "e.a", "e.b")
    return f"""WITH {xyz_cte},
eg(rid, edge_idx, ax, ay, az, bx, by, bz) AS (
  VALUES
    {edges}
),
ins AS MATERIALIZED (
  SELECT pid, x, y, z, ({inside_pred}) AS inside FROM xyz
),
scored AS MATERIALIZED (
  SELECT p.pid, e.rid, e.edge_idx, {d} AS dist_chord2, p.inside,
         p.x AS qx, p.y AS qy, p.z AS qz,
         e.ax AS e0x, e.ay AS e0y, e.az AS e0z,
         e.bx AS e1x, e.by AS e1y, e.bz AS e1z,
         row_number() OVER (
           PARTITION BY p.pid ORDER BY {d} ASC, e.rid ASC, e.edge_idx ASC
         ) AS r
  FROM ins p CROSS JOIN eg e
),
best AS MATERIALIZED (
  SELECT pid, rid, edge_idx, dist_chord2, inside,
         qx, qy, qz, e0x, e0y, e0z, e1x, e1y, e1z
  FROM scored WHERE r = 1
),
{project_to_edge_sql_ctes(
        "best",
        keep="pid, rid, edge_idx, dist_chord2, inside, qx, qy, qz",
    )}
SELECT pid, rid, edge_idx, dist_chord2, inside,
       CASE WHEN inside THEN -dist_chord2 ELSE dist_chord2 END AS signed_chord2,
       CASE WHEN inside THEN qx ELSE px END AS px,
       CASE WHEN inside THEN qy ELSE py END AS py,
       CASE WHEN inside THEN qz ELSE pz END AS pz
FROM prj_out"""


def level_for_radius_chord2(radius_chord2: float) -> int:
    """Finest level whose 3x3 neighbor block certifiably contains every
    point within the given squared-chord radius of a cell's points: the
    deepest level with _min_outside_chord2(level) >= radius_chord2 (the
    same kMinWidth admissibility bound the kNN stages certify with)."""
    lvl = 0
    for cand in range(1, 31):
        if _min_outside_chord2(cand) >= radius_chord2:
            lvl = cand
        else:
            break
    return lvl


def within_distance_pairs(
    points: DataFrame,
    radius_chord2: float,
    point_id: str = "pid",
    cell: str = "cell",
    level: int | None = None,
) -> DataFrame:
    """All unordered point pairs (pid_a < pid_b, dist_chord2) within a
    squared-chord distance — the epsilon-neighborhood spatial self-join
    (the DBSCAN/range-query primitive; reference scope: the pair form of
    S2ClosestPointQuery's within-distance option,
    s2closest_point_query.h ConservativeMaxDistance).

    Grid-neighbor join: each point keys ONCE by its cell at ``level``
    (home side) and by its full 3x3 neighbor block (probe side); the
    kMinWidth bound guarantees every within-radius pair shares a
    (home, probe) key, and the exact chord^2 predicate refines in
    codegen.  One equi-join shuffle keyed by cells — candidates are
    block-local (density-bounded), never O(n^2); skew follows true point
    density (handle hot tiles with the measured-salt machinery,
    operators/density).

    Pairs come per input ROW: a probe row's block cells are distinct and
    a home row has one key, so two rows join at most once and no pair
    dedup runs.  Point ids must therefore be unique (as in
    contains_join); a repeated id repeats its pairs.
    """
    if level is None:
        level = level_for_radius_chord2(radius_chord2)
    if _min_outside_chord2(level) < radius_chord2:
        raise ValueError(
            f"within_distance_pairs: level {level} min-width bound "
            f"{_min_outside_chord2(level):.3e} does not cover radius_chord2 "
            f"{radius_chord2:.3e}"
        )
    home = points.select(
        F.col(point_id).alias("pid_a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.col("z").alias("az"),
        s2f.parent_expr(cell, level).alias("k"),
    )
    blk = _neighbor_block_udf(level)
    probe = (
        points.withColumn("_blocks", blk(F.col(cell)))
        .select(
            F.col(point_id).alias("pid_b"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.col("z").alias("bz"),
            F.explode("_blocks").alias("k"),
        )
    )
    d2 = s2f.chord2_expr(
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
    )
    return (
        home.join(probe, "k")
        .where(F.col("pid_a") < F.col("pid_b"))
        .withColumn("dist_chord2", d2)
        .where(F.col("dist_chord2") <= radius_chord2)
        .select("pid_a", "pid_b", "dist_chord2")
    )


def dbscan(
    points: DataFrame,
    eps_chord2: float,
    min_samples: int = 2,
    point_id: str = "pid",
    cell: str = "cell",
) -> DataFrame:
    """Distributed DBSCAN on the sphere: (pid, cluster, role) for every
    clustered point (noise points are omitted; role is 'core' or
    'border').

    The classic decomposition into this repo's primitives:
      1. epsilon-neighborhood pairs — within_distance_pairs (the
         kMinWidth-certified grid-neighbor join; the only distance work).
      2. core points = degree >= ``min_samples`` OTHER neighbors (one
         hash agg over the symmetrized pair list).
      3. clusters = connected components of the core-core subgraph
         (operators/graph large/small-star contraction — O(log n)
         rounds); an isolated core is its own cluster.
      4. border points attach to the MINIMUM adjacent core cluster
         (deterministic tie-break; plain DBSCAN's assignment is
         scan-order dependent — unacceptable for a reproducible
         pipeline, so the min rule is part of this operator's contract).

    Cluster label = the minimum core pid of the component (BIGINT).
    Every step is an oracle-replayable join/agg — no iteration beyond
    the components loop, no driver-side graph state.
    """
    from .graph import connected_components

    pairs = within_distance_pairs(
        points, eps_chord2, point_id=point_id, cell=cell
    ).persist()
    sym = pairs.select(
        F.col("pid_a").alias("p"), F.col("pid_b").alias("q")
    ).unionByName(
        pairs.select(F.col("pid_b").alias("p"), F.col("pid_a").alias("q"))
    )
    deg = sym.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    core = deg.where(F.col("n") >= min_samples).select("p")
    ca = core.select(F.col("p").alias("pid_a"))
    cb = core.select(F.col("p").alias("pid_b"))
    core_pairs = (
        pairs.join(ca, "pid_a")
        .join(cb, "pid_b")
        .select(F.col("pid_a").alias("doc_a"), F.col("pid_b").alias("doc_b"))
    )
    comp = connected_components(core_pairs)
    core_lab = core.join(
        comp, core["p"] == comp["doc_id"], "left"
    ).select("p", F.coalesce("component_id", F.col("p")).alias("cluster"))
    border = (
        sym.join(core_lab, "p")
        .join(core.select(F.col("p").alias("q")), "q", "left_anti")
        .groupBy("q")
        .agg(F.min("cluster").alias("cluster"))
    )
    return core_lab.select(
        F.col("p").alias(point_id), "cluster", F.lit("core").alias("role")
    ).unionByName(
        border.select(
            F.col("q").alias(point_id), "cluster", F.lit("border").alias("role")
        )
    )
