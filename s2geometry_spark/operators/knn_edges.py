"""Closest-edge kNN join: S2ClosestEdgeQuery (s2closest_edge_query.h,
s2closest_edge_query_base.h:1-200) re-expressed as distributed dataflow.

The reference walks a best-first queue over the shape index's cells,
lower-bounding each cell's distance and refining with exact
point-to-edge distances.  The dataflow re-expression mirrors
operators/knn.py's ring expansion (levels, 3x3 blocks, certification
bound) as staged key joins, adapted for EDGE geometry:

  stage at level L —
    * each edge emits mixed-level KEYS from its cap-bound covering
      (edge_join._edge_coverings_flat): covering cells at level >= L are
      keyed by their level-L parent; coarser cells are keyed raw.
    * each query point emits its 3x3 neighbor block at L plus the
      ancestors of those block cells down to the coarsest edge-covering
      level (cells intersect iff one contains the other, so a coarse
      edge cell overlapping the block necessarily IS one of those
      ancestors — the key join is therefore lossless).
    * one equi-join on the key -> pair dedup -> exact chord^2 via the
      pinned point-to-arc kernel (measures.point_edge_chord2) -> window
      top-k.
    * a query is CERTIFIED when its k-th distance beats the admissible
      bound: any edge with NO covering cell touching the block lies
      entirely outside it, hence >= kMinWidth(L) away (the same bound
      S2ClosestEdgeQuery's queue pruning uses via S2Cell::GetDistance).
  uncertified queries escalate to L-3 (64x the area); the final
  fallback is a brute-force cross join for the (typically empty)
  remainder.

Scale shape: the edge side is scanned once per stage (keys are a
mapInPandas projection, no shuffle until the key join); the key join
shuffles keys + coordinates only; no driver-side collect of either
table.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..kernels import cellid, measures
from .edge_join import _edge_coverings_flat
from .knn import _min_outside_chord2, query_bound_chord2

E_COLS = ["e0x", "e0y", "e0z", "e1x", "e1y", "e1z"]


def _bound_udf(level: int):
    """knn.query_bound_chord2 at ``level`` as a column UDF of
    (q_cell, qx, qy, qz)."""

    @pandas_udf(DoubleType())
    def bound(
        cell_biased: pd.Series, qx: pd.Series, qy: pd.Series, qz: pd.Series
    ) -> pd.Series:
        ids = cellid.from_biased(cell_biased.to_numpy(np.int64))
        P = np.stack(
            [
                qx.to_numpy(np.float64),
                qy.to_numpy(np.float64),
                qz.to_numpy(np.float64),
            ],
            axis=1,
        )
        return pd.Series(query_bound_chord2(P, ids, level))

    return bound


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


def _edge_keys_for_levels(edges: DataFrame, stage_levels: list[int]) -> DataFrame:
    """(eid, key, lv, is_cov, e0..e1 coords): ONE pass emitting every
    edge's covering cells plus ancestors at the given STAGE levels only
    (ancestors at other levels can never match a point key, so emitting
    them — as an all-levels table would — just inflates the cached table
    ~8x).

    Match structure at stage level L:
      point block cell b (level L)  ==  edge key at level L
        (ancestor-at-L of a deeper covering cell, or a covering cell at
         exactly L: holds iff some covering cell is inside b), or
      point ancestor key (level l < L)  ==  edge COVERING key at level l
        (a covering cell coarser than the block necessarily CONTAINS any
         block cell it touches).
    """
    stage_levels = sorted(set(stage_levels))
    return edges.select("eid", *E_COLS).mapInPandas(
        _edge_cover_batches(stage_levels), _edge_cover_schema(stage_levels)
    )


def _edge_cover_schema(stage_levels: list[int]) -> str:
    g_cols = ", ".join(f"g_{sl} long" for sl in stage_levels)
    return (
        f"eid long, key long, lv int, is_cov boolean, {g_cols}, "
        + ", ".join(f"{c} double" for c in E_COLS)
    )


def _edge_cover_batches(stage_levels: list[int]):
    """mapInPandas generator for the edge-covering key table; exposed at
    module level so the zero-row-Arrow-batch path is unit-testable (an
    empty batch must still emit every ``g_<level>`` schema column)."""

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "eid": pd.Series(dtype="int64"),
                        "key": pd.Series(dtype="int64"),
                        "lv": pd.Series(dtype="int32"),
                        "is_cov": pd.Series(dtype="bool"),
                        **{
                            f"g_{sl}": pd.Series(dtype="int64")
                            for sl in stage_levels
                        },
                        **{c: pd.Series(dtype="float64") for c in E_COLS},
                    }
                )
                continue
            A0 = pdf[E_COLS[:3]].to_numpy(np.float64)
            A1 = pdf[E_COLS[3:]].to_numpy(np.float64)
            owner, cell = _edge_coverings_flat(A0, A1)
            lv = cellid.level(cell)
            own_all = [owner]
            key_all = [cell]
            lv_all = [lv]
            cov_all = [np.ones(len(owner), bool)]
            for p in stage_levels:
                sel = np.flatnonzero(lv > p)
                if sel.size == 0:
                    continue
                own_all.append(owner[sel])
                key_all.append(cellid.parent(cell[sel], p))
                lv_all.append(np.full(sel.size, p))
                cov_all.append(np.zeros(sel.size, bool))
            own = np.concatenate(own_all)
            ids = pdf["eid"].to_numpy(np.int64)[own]
            keys_u = np.concatenate(key_all).astype(np.uint64)
            out = pd.DataFrame(
                {
                    "eid": ids,
                    "key": cellid.to_biased(keys_u),
                    "lv": np.concatenate(lv_all).astype(np.int32),
                    "is_cov": np.concatenate(cov_all),
                }
            )
            for sl in stage_levels:
                out[f"g_{sl}"] = _mixed_group(keys_u, max(sl - 4, 0))
            for i, c in enumerate(E_COLS):
                src = A0 if i < 3 else A1
                out[c] = src[own, i % 3]
            out = out.sort_values("is_cov", ascending=False).drop_duplicates(
                subset=["eid", "key"]
            )
            yield out

    return batches


def _auto_start_level(n_edges: int, k: int) -> int:
    """Largest level whose 3x3 block still expects ~4k edges (certifying
    most queries in one stage): 9 * n / (6 * 4^L) >= 4k."""
    import math

    if n_edges <= 0:
        return 1
    target = 3.0 * n_edges / (8.0 * max(k, 1))
    return max(1, min(10, int(math.log(max(target, 4.0), 4.0))))


def _point_keys_flat(level: int, anc_min_level: int, group_level: int):
    """mapInPandas generator: one output row per (query, key) — the 3x3
    block at ``level`` plus block-cell ancestors down to
    ``anc_min_level``, each with its mixed-level cogroup key.  Fully
    vectorized (a per-query Python loop building array<struct> rows for
    a later explode cost ~4.6 s at sf0.1 — a third of the whole stage)."""

    q_cols = ["qid", "qx", "qy", "qz", "q_cell"]

    def batches(it):
        for pdf in it:
            pdf = pdf[q_cols]
            if len(pdf) == 0:
                out = pdf.copy()
                out["key"] = pd.Series(dtype="int64")
                out["g"] = pd.Series(dtype="int64")
                yield out
                continue
            ids = cellid.from_biased(pdf["q_cell"].to_numpy(np.int64))
            n = len(ids)
            own = cellid.parent(ids, level)
            idx, nbrs = cellid.append_all_neighbors(own, level)
            # flat (query row, block cell) pairs: self + neighbors
            qi = np.concatenate([np.arange(n, dtype=np.int64), idx.astype(np.int64)])
            bc = np.concatenate([own, nbrs]).astype(np.uint64)
            # ancestors of every block cell at each coarser stage level
            all_qi = [qi]
            all_keys = [bc]
            for lv in range(anc_min_level, level):
                all_qi.append(qi)
                all_keys.append(cellid.parent(bc, lv))
            fqi = np.concatenate(all_qi)
            fkeys = np.concatenate(all_keys)
            # per-query dedup of keys without a Python loop: unique on
            # the (query, key) composite
            comp = np.stack([fqi, fkeys.view(np.int64)], axis=1)
            uq = np.unique(comp, axis=0)
            rqi = uq[:, 0]
            rkeys = uq[:, 1].view(np.uint64)
            out = pdf.iloc[rqi].reset_index(drop=True)
            out["key"] = cellid.to_biased(rkeys)
            out["g"] = _mixed_group(rkeys, group_level)
            yield out

    return batches


def _mixed_group(keys_u64: np.ndarray, group_level: int) -> np.ndarray:
    """Cogroup key (biased) for MIXED-LEVEL cell keys: fine keys group
    under their group-level parent, keys at/above the group level group
    as themselves — both sides compute the same value for a matching
    key, so exact-key matches always co-locate."""
    lv = cellid.level(keys_u64)
    g = np.where(
        lv <= group_level, keys_u64, cellid.parent(keys_u64, group_level)
    )
    return cellid.to_biased(g.astype(np.uint64))


def _stage(
    edge_keys_all: DataFrame,
    queries: DataFrame,
    level: int,
    anc_min_level: int,
    k: int,
) -> DataFrame:
    # stage view of the level-agnostic key table: exact-level rows (any
    # kind) + coarser COVERING rows; cell ids encode their level, so an
    # exact key match cannot cross levels
    ek = edge_keys_all.where(
        (F.col("lv") == level) | (F.col("is_cov") & (F.col("lv") < level))
    ).withColumn("g", F.col(f"g_{level}"))
    # COGROUP on a coarse prefix instead of joining: the join would ship
    # every query's coordinates once PER CANDIDATE EDGE through Arrow
    # (~119 copies per query at sf0.1); cogrouping ships each side's rows
    # once, exact-key matching and the distance kernel run in-group, and
    # only per-(group, qid) top-k rows reach the dedup + window shuffles.
    # group two levels coarser than before (level-4): the pair volume is
    # unchanged (pairs still require an exact key match inside the
    # group), but ~16x fewer cogroup groups means ~16x less per-group
    # Python/pandas overhead — measured as the dominant stage cost at
    # sf0.1 (6k groups x ~2 ms)
    gl = max(level - 4, 0)
    q = queries.mapInPandas(
        _point_keys_flat(level, min(anc_min_level, level), gl),
        "qid long, qx double, qy double, qz double, q_cell long, "
        "key long, g long",
    )

    def group_topk(key, qdf: pd.DataFrame, edf: pd.DataFrame):
        empty = pd.DataFrame(
            {
                "qid": pd.Series(dtype="int64"),
                "q_cell": pd.Series(dtype="int64"),
                "qx": pd.Series(dtype="float64"),
                "qy": pd.Series(dtype="float64"),
                "qz": pd.Series(dtype="float64"),
                "eid": pd.Series(dtype="int64"),
                "dist_chord2": pd.Series(dtype="float64"),
            }
        )
        if len(qdf) == 0 or len(edf) == 0:
            return empty
        e_key = edf["key"].to_numpy(np.int64)
        order_e = np.argsort(e_key, kind="stable")
        e_key_s = e_key[order_e]
        A = edf[E_COLS[:3]].to_numpy(np.float64)[order_e]
        B = edf[E_COLS[3:]].to_numpy(np.float64)[order_e]
        e_ids = edf["eid"].to_numpy(np.int64)[order_e]
        q_key = qdf["key"].to_numpy(np.int64)
        Q = qdf[["qx", "qy", "qz"]].to_numpy(np.float64)
        q_ids = qdf["qid"].to_numpy(np.int64)
        q_cells = qdf["q_cell"].to_numpy(np.int64)
        # vectorized per-key range join: each query row matches the
        # contiguous e_key_s run of its key (no per-key Python loop)
        lo = np.searchsorted(e_key_s, q_key, "left")
        hi = np.searchsorted(e_key_s, q_key, "right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total == 0:
            return empty
        ii = np.repeat(np.arange(len(q_key)), cnt)
        starts = np.zeros(len(q_key), np.int64)
        np.cumsum(cnt[:-1], out=starts[1:])
        jj = np.arange(total, dtype=np.int64) - starts[ii] + lo[ii]
        d = measures.point_edge_chord2(Q[ii], A[jj], B[jj])
        out = pd.DataFrame(
            {
                "qid": q_ids[ii],
                "q_cell": q_cells[ii],
                "qx": Q[ii, 0],
                "qy": Q[ii, 1],
                "qz": Q[ii, 2],
                "eid": e_ids[jj],
                "dist_chord2": d,
            }
        )
        # in-group dedup (a pair can match on several keys) + partial
        # top-k: the global top-k of per-group top-ks equals the global
        # top-k (monotone), so only k rows per (group, qid) shuffle on
        out = out.drop_duplicates(subset=["qid", "eid"])
        return out.sort_values(["dist_chord2", "eid"]).groupby(
            "qid", sort=False
        ).head(k)

    scored = (
        q.groupBy("g")
        .cogroup(ek.groupBy("g"))
        .applyInPandas(
            group_topk,
            "qid long, q_cell long, qx double, qy double, qz double, "
            "eid long, dist_chord2 double",
        )
        .dropDuplicates(["qid", "eid"])
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("dist_chord2").asc(), F.col("eid").asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    # per-query bound (own-cell boundary distance + ring width): an edge
    # with no covering cell in the block lies entirely outside it, so the
    # same point-bound argument applies (see knn.query_bound_chord2)
    bnd = _bound_udf(level)
    cert = (
        topk.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("dist_chord2").alias("_dmax"),
            F.first("q_cell").alias("_qc"),
            F.first("qx").alias("_qx"),
            F.first("qy").alias("_qy"),
            F.first("qz").alias("_qz"),
        )
        .withColumn(
            "_bound", bnd(F.col("_qc"), F.col("_qx"), F.col("_qy"), F.col("_qz"))
        )
        .withColumn(
            "certified", (F.col("_n") >= k) & (F.col("_dmax") < F.col("_bound"))
        )
        .select("qid", "certified")
    )
    return topk.select("qid", "rank", "eid", "dist_chord2").join(
        cert, "qid", "inner"
    )


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
    q_cell[biased leaf]).  Returns (qid, rank, eid, dist_chord2).
    start_level=None sizes the first stage from edge density so most
    queries certify immediately (results are level-independent — the
    certification bound is admissible at every level).  n_edges is an
    optional sizing hint (e.g. a metadata-only parquet count of the
    source table): passing it skips a dedicated count job, which for a
    Python-derived edge table is a full kernel pass.
    """
    # The narrow edge projection is spread + cached ONCE: the count that
    # sizes the stage levels materializes it (edges are often a Python
    # derivation, so an uncached count would re-run that kernel), and the
    # covering-key build then runs over the 32-way cached copy instead of
    # the single row-group scan (the key build is the dominant cold cost
    # and is embarrassingly parallel).  The coarsest covering level —
    # which bounds point-side ancestor emission — falls out of the
    # materialized key table itself, replacing the former separate stats
    # job and its synthetic-edge kernel.
    queries = _spread(queries, queries.columns).cache()
    edges_c = _spread(edges, ["eid", *E_COLS]).cache()
    if n_edges is None:
        n_edges = edges_c.count()
    if start_level is None:
        start_level = _auto_start_level(n_edges, k)
    stage_levels = [
        start_level - 3 * s for s in range(num_stages) if start_level - 3 * s >= 1
    ]
    ek_all = _edge_keys_for_levels(edges_c, stage_levels).cache()
    row = ek_all.where("is_cov").agg(F.min("lv").alias("m")).collect()[0]
    anc_min = 30 if row.m is None else int(row.m)
    remaining = queries
    prev_cached: list[DataFrame] = []
    results = []
    level = start_level
    for stage_i in range(num_stages):
        if level < 1:
            break
        staged = _stage(ek_all, remaining, level, anc_min, k).cache()
        results.append(
            staged.where(F.col("certified")).select(
                "qid", "rank", "eid", "dist_chord2"
            )
        )
        certified_q = staged.where(F.col("certified")).select("qid").distinct()
        remaining = remaining.join(certified_q, "qid", "left_anti").cache()
        level -= 3
        # after the LAST stage the fallback plan handles whatever remains
        # lazily (usually nothing) — no driver action needed; mid-cascade,
        # the empty check short-circuits the next stage's shuffles
        if stage_i == num_stages - 1:
            break
        empty = remaining.limit(1).count() == 0
        for df in prev_cached:
            df.unpersist()
        prev_cached = [remaining]
        if empty:
            return reduce(DataFrame.unionByName, results)

    # brute-force fallback for the (typically empty) remainder; edge
    # coords come from the cached key table (covering rows carry them).
    # Loudly capped like knn.knn_join: an uncapped remainder x edges cross
    # join is the one non-scalable plan in this operator.
    from .knn import MAX_BRUTE_FORCE_QUERIES

    n_remaining = remaining.limit(MAX_BRUTE_FORCE_QUERIES + 1).count()
    if n_remaining > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"closest_edges_join: >{MAX_BRUTE_FORCE_QUERIES} queries "
            f"(>= {n_remaining}) left uncertified after {num_stages} "
            "stages; increase num_stages or lower start_level instead of "
            "cross-joining the edge table."
        )
    if n_remaining == 0:
        # usual case: everything certified — drop the fallback subtree
        # (crossJoin + mapInPandas + window) from the final plan entirely
        return reduce(DataFrame.unionByName, results)
    edges_cached = ek_all.where("is_cov").select("eid", *E_COLS).dropDuplicates(
        ["eid"]
    )
    cand = remaining.crossJoin(edges_cached)

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
            out["dist_chord2"] = measures.point_edge_chord2(X, A, B)
            yield out

    scored = cand.mapInPandas(refine, "qid long, eid long, dist_chord2 double")
    w = Window.partitionBy("qid").orderBy(
        F.col("dist_chord2").asc(), F.col("eid").asc()
    )
    bf = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "eid", "dist_chord2")
    )
    results.append(bf)
    return reduce(DataFrame.unionByName, results)


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
