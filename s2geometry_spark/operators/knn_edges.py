"""Closest-edge kNN join: S2ClosestEdgeQuery (s2closest_edge_query.h,
s2closest_edge_query_base.h:1-200) re-expressed as distributed dataflow.

The reference walks a best-first queue over the shape index's cells,
lower-bounding each cell's distance and refining with exact
point-to-edge distances.  The dataflow form is operators/knn.py's ring
expansion (``knn._ring_join``: levels, 3x3 blocks, certification
bound), with only the row side swapped from points to EDGES:

  * an edge meets a block cell when one of its cap-bound covering cells
    (edge_join._edge_coverings_flat) intersects it.  Cells intersect iff
    one contains the other, i.e. iff their leaf ranges overlap, so each
    covering cell is an ``overlap`` lookup in the level's leaf-interval
    table of blocks — one test for a covering cell inside a block cell
    and for one containing several.  A batch derives its coverings once;
    each block level of the scan's ladder only runs the lookup;
  * candidates are scored with the pinned point-to-arc kernel
    (measures.point_edge_chord2), bit-exact with the DuckDB oracle;
  * a query is CERTIFIED when its k-th distance beats the admissible
    bound: an edge with NO covering cell touching the block lies
    entirely outside it, hence beyond the same bound the point form
    uses (knn.query_bound_chord2; S2ClosestEdgeQuery's queue pruning
    via S2Cell::GetDistance).

Scale shape: the query side is collected; each level is one scan of the
narrow edge projection against the broadcast block table.  Nothing is
cached and nothing is shuffled beyond ``_spread``'s repartition of an
input with fewer partitions than cores.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernels import cellid, leafintervals, measures
from .edge_join import _edge_coverings_flat
from .knn import _ring_join

E_COLS = ["e0x", "e0y", "e0z", "e1x", "e1y", "e1z"]


def _spread(df: DataFrame, cols: list[str]) -> DataFrame:
    """Repartition a SMALL projected input up to the session parallelism
    so the NumPy kernels downstream get one task per core.

    A single-row-group parquet file scans as ONE partition regardless of
    core count (splits are by row group), which serializes every
    mapInPandas kernel behind it; shuffling the narrow projection (a few
    doubles per row) costs far less than running the covering kernel
    single-threaded.  At real scale the input already has >= parallelism
    partitions and this is a no-op."""
    sc = df.sparkSession.sparkContext
    src = df.select(*cols)
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism)
    return src


def _auto_start_level(n_edges: int, k: int) -> int:
    """Largest level whose 3x3 block still expects ~4k edges (certifying
    most queries in one stage): 9 * n / (6 * 4^L) >= 4k."""
    if n_edges <= 0:
        return 1
    target = 3.0 * n_edges / (8.0 * max(k, 1))
    return max(1, min(10, int(math.log(max(target, 4.0), 4.0))))


def _edge_rows(pdf: pd.DataFrame):
    """An edge batch's covering cells as ``(owner edge, leaf range min,
    leaf range max)``, derived once and ordered by (edge, range min), and
    its endpoint coordinates.  In that order each lookup's binary
    searches run over nearly sorted needles and its (edge, block) ids
    come out nearly sorted, which halves the cost of a lookup."""
    X = pdf[E_COLS].to_numpy(np.float64)
    owner, cell = _edge_coverings_flat(X[:, :3], X[:, 3:])
    cmin = cellid.range_min(cell)
    order = np.lexsort((cmin, owner))
    return (owner[order], cmin[order], cellid.range_max(cell)[order]), X


def _edge_overlap(table, cover):
    """``(row, interval)``: the distinct (edge, interval) pairs of a block
    ``table`` whose leaf ranges overlap one of the edge's covering cells,
    in ascending (edge, interval) order."""
    owner, cmin, cmax = cover
    row, iv = leafintervals.overlap(table, cmin, cmax)
    pair = np.sort(owner[row] * len(table[0]) + iv, kind="stable")  # timsort: linear on sorted runs
    new = np.ones(len(pair), bool)
    new[1:] = pair[1:] != pair[:-1]
    return np.divmod(pair[new], len(table[0]))


def _edge_chord2(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    return measures.point_edge_chord2(Q, X[:, :3], X[:, 3:])


EDGES = (_edge_rows, _edge_overlap, _edge_chord2)


def closest_edges_join(
    spark: SparkSession,
    edges: DataFrame,
    queries: DataFrame,
    k: int,
    start_level: int | None = None,
    num_stages: int = 2,
    n_edges: int | None = None,
) -> DataFrame:
    """Top-k nearest edges for every query point.

    edges: (eid, e0x..e1z unit endpoints); queries: (qid, qx, qy, qz,
    q_cell[biased leaf]).  Returns (qid, rank, eid, dist_chord2), ranked
    by (dist_chord2, eid).  start_level=None sizes the first stage from
    edge density so most queries certify immediately (results are
    level-independent — the certification bound is admissible at every
    level).  n_edges is an optional sizing hint (e.g. a metadata-only
    parquet count of the source table): passing it skips a dedicated
    count job, which for a Python-derived edge table is a full kernel
    pass.
    """
    edges = _spread(edges, ["eid", *E_COLS])
    if start_level is None:
        if n_edges is None:
            n_edges = edges.count()
        start_level = _auto_start_level(n_edges, k)
    return _ring_join(spark, edges, queries, k, start_level, num_stages, EDGES)


def furthest_edges_join(
    spark: SparkSession,
    edges: DataFrame,
    queries: DataFrame,
    k: int = 1,
) -> DataFrame:
    """Top-k FURTHEST edges per query (S2FurthestEdgeQuery,
    s2furthest_edge_query.h).  Max-distance has no useful cell pruning on
    a single stage (the maximum is near the antipode, where coverings
    give no bound), so the dataflow form is the scored cross join with a
    descending window — the reference's own brute-force path for small
    indexes (s2closest_edge_query_base.h FindClosestEdgesBruteForce).
    For a large edge table, prune with an antipodal-cap pre-filter before
    calling this.
    """
    cand = queries.crossJoin(edges)

    def refine(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "qid": pd.Series(dtype="int64"),
                        "eid": pd.Series(dtype="int64"),
                        "dist_chord2": pd.Series(dtype="float64"),
                    }
                )
                continue
            X = pdf[["qx", "qy", "qz"]].to_numpy(np.float64)
            A = pdf[E_COLS[:3]].to_numpy(np.float64)
            B = pdf[E_COLS[3:]].to_numpy(np.float64)
            out = pdf[["qid", "eid"]].copy()
            out["dist_chord2"] = measures.point_edge_max_chord2(X, A, B)
            yield out

    scored = cand.mapInPandas(refine, "qid long, eid long, dist_chord2 double")
    w = Window.partitionBy("qid").orderBy(
        F.col("dist_chord2").desc(), F.col("eid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "eid", "dist_chord2")
    )


def project_to_closest_edges(
    spark: SparkSession,
    edges: DataFrame,
    queries: DataFrame,
    n_edges: int | None = None,
    num_stages: int = 2,
) -> DataFrame:
    """S2ClosestEdgeQuery::Project (s2closest_edge_query.h Project /
    GetEdge): for every query point, the closest point ON its nearest
    edge.  Runs the staged closest-edge join at k=1, joins the winning
    (qid, eid) pair back to both coordinate tables (a broadcast-sized
    result side at any scale: one row per query), and computes the
    projection with the pinned kernel (measures.project_to_edge_pinned)
    whose DuckDB twin replays it bit-for-bit.

    Returns (qid, eid, dist_chord2, px, py, pz).
    """
    best = closest_edges_join(
        spark, edges, queries, k=1, num_stages=num_stages, n_edges=n_edges
    ).drop("rank")
    j = best.join(queries.select("qid", "qx", "qy", "qz"), "qid").join(
        edges.select("eid", *E_COLS), "eid"
    )

    def proj(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "qid": pd.Series(dtype="int64"),
                        "eid": pd.Series(dtype="int64"),
                        "dist_chord2": pd.Series(dtype="float64"),
                        "px": pd.Series(dtype="float64"),
                        "py": pd.Series(dtype="float64"),
                        "pz": pd.Series(dtype="float64"),
                    }
                )
                continue
            X = pdf[["qx", "qy", "qz"]].to_numpy(np.float64)
            A = pdf[E_COLS[:3]].to_numpy(np.float64)
            B = pdf[E_COLS[3:]].to_numpy(np.float64)
            P = measures.project_to_edge_pinned(X, A, B)
            out = pdf[["qid", "eid", "dist_chord2"]].copy()
            out["px"] = P[:, 0]
            out["py"] = P[:, 1]
            out["pz"] = P[:, 2]
            yield out

    return j.mapInPandas(
        proj, "qid long, eid long, dist_chord2 double, px double, py double, pz double"
    )
