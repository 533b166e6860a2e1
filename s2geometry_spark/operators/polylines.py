"""Polyline predicates and clipping as distributed joins
(s2polyline.h:158-273: Intersects, IntersectWithPolygon).

* ``chains_to_edges``          — (chain_id, seq, x, y, z) vertex tables
  -> directed edge tables via a per-chain window lag (pure SQL).
* ``polyline_crossing_join``   — S2Polyline::Intersects as a join: two
  chain sets intersect where any edge pair crosses transversally; built
  on the cogrouped edge-crossing term join, output distinct
  (chain_a, chain_b).
* ``clip_to_polygon`` (kernel) + ``polyline_clip_join`` — S2Polyline::
  IntersectWithPolygon: split each chain at polygon-boundary crossings,
  keep the sub-arcs inside, re-chain consecutive kept pieces; one
  groupBy(chain) applyInPandas pass with the (broadcast-scale) polygon
  in the closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernels import predicates
from ..kernels.booleanop import edge_intersection
from ..kernels.regions import Polygon
from .edge_join import edge_crossing_join


def chains_to_edges(
    chains: DataFrame,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
    prefix: str = "a",
) -> DataFrame:
    """(eid, chain, a0x..a1z): one row per chain edge, eid unique.

    Edge endpoints come from a lag window over the vertex sequence —
    JVM-side, one shuffle on the chain key.
    """
    w = Window.partitionBy(chain_col).orderBy(seq_col)
    out = chains.select(
        F.col(chain_col).alias(f"chain_{prefix}"),
        F.col(seq_col).alias("_seq"),
        F.lag("x").over(w).alias(f"{prefix}0x"),
        F.lag("y").over(w).alias(f"{prefix}0y"),
        F.lag("z").over(w).alias(f"{prefix}0z"),
        F.col("x").alias(f"{prefix}1x"),
        F.col("y").alias(f"{prefix}1y"),
        F.col("z").alias(f"{prefix}1z"),
    ).where(F.col(f"{prefix}0x").isNotNull())
    # unique edge id: chain * 2^32 + seq (chain/seq are table-key sized)
    return out.withColumn(
        f"eid_{prefix}",
        F.shiftleft(F.col(f"chain_{prefix}").cast("long"), 32) + F.col("_seq"),
    ).drop("_seq")


def polyline_crossing_join(
    spark: SparkSession,
    chains_a: DataFrame,
    chains_b: DataFrame,
    robust: bool = True,
) -> DataFrame:
    """Distinct (chain_a, chain_b) pairs whose polylines cross
    (transversal interior crossing — S2Polyline::Intersects' generic
    position case).

    Uses the cogrouped crossing join (edge_join.edge_crossing_join)
    with pair_shift=32: each side's term rows ship once per coarse cell
    group, and the in-group kernel dedups straight to chain pairs.  At
    sf0.1 that is ~2.7M cogrouped term rows and a ~5k-row chain-pair
    dedup, where a materialized candidate join took 27M rows plus a
    422k-row edge-pair dedup."""
    ea = chains_to_edges(chains_a, prefix="a")
    eb = chains_to_edges(chains_b, prefix="b")
    pairs = edge_crossing_join(
        spark,
        ea.drop("chain_a"),
        eb.drop("chain_b"),
        robust=robust,
        # swept at sf0.1: one extra subdivision round (~3x fewer
        # in-group pairs on long chain edges) beats the default
        split_rounds=3,
        pair_shift=32,
    )
    # the id embeds the chain in bits 32+; pair_shift already applied
    return pairs.select(
        F.col("eid_a").alias("chain_a"), F.col("eid_b").alias("chain_b")
    )


def polyline_self_crossing_join(
    spark: SparkSession,
    chains: DataFrame,
    robust: bool = True,
    crossing_type: str = "interior",
) -> DataFrame:
    """Distinct transversally-crossing EDGE pairs (eid_a < eid_b) within
    ONE chain set — the validation query of s2shapeutil
    FindSelfIntersection / VisitCrossingEdgePairs (s2shapeutil_visit_
    crossing_edge_pairs.cc): find every pair of edges, including pairs
    of the SAME chain, that cross in their interiors.  Adjacent edges
    share a vertex, so one determinant of the sign chain is exactly zero
    and they are excluded by construction (transversal-only semantics,
    matching the oracle's pinned arithmetic when robust=False).

    Same cogrouped term join as the two-set crossing join (each side's
    term rows ship once per coarse cell group); the B side is the A side
    renamed, and the final eid_a < eid_b filter keeps each unordered
    pair once.

    ``crossing_type="all"`` is S2CrossingEdgeQuery's CrossingType::ALL
    (s2crossing_edge_query.cc:75, min_sign = 0): shared-vertex pairs —
    in a chain set, every adjacent edge pair — are reported too, with a
    ``sign`` column (1 interior, 0 shared vertex)."""
    ea = chains_to_edges(chains, prefix="a").drop("chain_a")
    eb = ea.select(
        F.col("eid_a").alias("eid_b"),
        *[
            F.col(f"a{i}{c}").alias(f"b{i}{c}")
            for i in (0, 1)
            for c in ("x", "y", "z")
        ],
    )
    pairs = edge_crossing_join(
        spark, ea, eb, robust=robust, split_rounds=3, crossing_type=crossing_type
    )
    return pairs.where(F.col("eid_a") < F.col("eid_b"))


def clip_to_polygon(
    V: np.ndarray, poly: Polygon, keep_inside: bool = True
) -> list[np.ndarray]:
    """S2Polyline::IntersectWithPolygon: the sub-polylines of chain V
    inside ``poly`` (or outside it with ``keep_inside=False`` — the
    SubtractFromPolyline direction).  Splits each edge at boundary
    crossings (midpoint classification per sub-arc), merging consecutive
    kept sub-arcs."""
    if V.shape[0] < 2:
        return []
    b_edges = []
    for lp in poly.loops:
        vs = lp.vertices
        n = vs.shape[0]
        for i in range(n):
            b_edges.append((vs[i], vs[(i + 1) % n]))
    B0 = np.stack([e[0] for e in b_edges])
    B1 = np.stack([e[1] for e in b_edges])
    pieces: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    for i in range(V.shape[0] - 1):
        a0, a1 = V[i], V[i + 1]
        m = B0.shape[0]
        hit = predicates.edges_cross_batch(
            np.broadcast_to(a0, (m, 3)),
            np.broadcast_to(a1, (m, 3)),
            B0,
            B1,
            robust=True,
        )
        xs = [edge_intersection(a0, a1, B0[j], B1[j]) for j in np.flatnonzero(hit)]
        xs.sort(key=lambda p: -float(np.dot(p, a0)))
        chain = [a0] + xs + [a1]
        for s in range(len(chain) - 1):
            u, v = chain[s], chain[s + 1]
            mid = u + v
            mid = mid / np.linalg.norm(mid)
            if bool(poly.contains_point(mid)) == keep_inside:
                if not cur:
                    cur = [u, v]
                elif np.array_equal(cur[-1], u):
                    cur.append(v)
                else:
                    pieces.append(cur)
                    cur = [u, v]
            else:
                if cur:
                    pieces.append(cur)
                    cur = []
    if cur:
        pieces.append(cur)
    return [np.stack(p) for p in pieces if len(p) >= 2]


def buffer_chains(
    chains: DataFrame,
    radius: float,
    num_vertices: int = 24,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Buffered region per chain (S2BufferOperation approximation,
    kernels.bufferop): one groupBy(chain) applyInPandas pass emitting the
    buffered polygon's loops as vertex rows (chain_id, loop, seq, x, y,
    z) plus the signed polygon area on each row."""
    from ..kernels import bufferop
    from ..kernels.booleanop import polygon_area

    def one_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        V = pdf[["x", "y", "z"]].to_numpy(np.float64)
        cid = pdf[chain_col].iloc[0]
        loops = bufferop.buffer_polyline(V, radius, num_vertices)
        area = polygon_area(loops)
        rows = []
        for li, lp in enumerate(loops):
            for si in range(lp.shape[0]):
                rows.append(
                    {
                        chain_col: cid,
                        "loop": li,
                        seq_col: si,
                        "x": lp[si, 0],
                        "y": lp[si, 1],
                        "z": lp[si, 2],
                        "area": area,
                    }
                )
        return pd.DataFrame(
            rows, columns=[chain_col, "loop", seq_col, "x", "y", "z", "area"]
        )

    return chains.groupBy(chain_col).applyInPandas(
        one_chain,
        f"{chain_col} long, loop long, {seq_col} long, "
        "x double, y double, z double, area double",
    )


def polyline_clip_join(
    chains: DataFrame,
    poly: Polygon,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Clip every chain to ``poly``: returns (chain_id, piece, seq, x, y,
    z) — one vertex row per clipped sub-polyline vertex."""

    def one_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        V = pdf[["x", "y", "z"]].to_numpy(np.float64)
        cid = pdf[chain_col].iloc[0]
        rows = []
        for pi, piece in enumerate(clip_to_polygon(V, poly)):
            for si in range(piece.shape[0]):
                rows.append(
                    {
                        chain_col: cid,
                        "piece": pi,
                        seq_col: si,
                        "x": piece[si, 0],
                        "y": piece[si, 1],
                        "z": piece[si, 2],
                    }
                )
        return pd.DataFrame(
            rows, columns=[chain_col, "piece", seq_col, "x", "y", "z"]
        )

    return chains.groupBy(chain_col).applyInPandas(
        one_chain,
        f"{chain_col} long, piece long, {seq_col} long, "
        "x double, y double, z double",
    )


def polyline_clip_model_counts(
    chains: DataFrame,
    loop,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Boundary-model-aware clip counts (S2BooleanOperation
    PolygonModel/PolylineModel, s2boolean_operation.h:160-230): for every
    chain and every (pg_model, pl_model) combination, the piece/vertex/
    degenerate-point counts of chain INTERSECTION loop under that model
    (kernels.clipmodels.clip_chain_models).  ``loop`` must be a convex
    CCW Loop; one groupBy(chain) applyInPandas pass, loop in closure."""
    from ..kernels.clipmodels import POLYGON_MODELS, POLYLINE_MODELS, clip_chain_models

    L = np.asarray(loop.vertices, np.float64)
    oi = bool(loop.origin_inside)

    def one_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        V = pdf[["x", "y", "z"]].to_numpy(np.float64)
        cid = pdf[chain_col].iloc[0]
        res = clip_chain_models(V, L, oi)
        rows = [
            (pg, pl, cid, *res[pg][pl])
            for pg in POLYGON_MODELS
            for pl in POLYLINE_MODELS
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "pg_model", "pl_model", chain_col,
                "n_pieces", "n_vertices", "n_points",
            ],
        )

    return chains.groupBy(chain_col).applyInPandas(
        one_chain,
        f"pg_model string, pl_model string, {chain_col} long, "
        "n_pieces long, n_vertices long, n_points long",
    )


def _convex_pred_sql(verts: np.ndarray, cx: str, cy: str, cz: str) -> str:
    """Strict-interior predicate of a CCW convex loop for arbitrary
    column names (oracle.convex_loop_predicate_sql pinned x/y/z)."""
    m = verts.shape[0]
    terms = []
    for i in range(m):
        c = np.cross(verts[i], verts[(i + 1) % m])
        terms.append(
            f"({float(c[0])!r}*{cx} + {float(c[1])!r}*{cy} + {float(c[2])!r}*{cz} > 0)"
        )
    return "(" + " AND ".join(terms) + ")"


def clip_models_oracle_sql(verts_sql: str, loop_vertices: np.ndarray) -> str:
    """DuckDB replay of polyline_clip_model_counts WITHOUT computing a
    single intersection coordinate.

    Because the loop is geodesically convex and every chain edge
    subtends < pi, a chain edge's sub-arc in/out flags ALTERNATE along
    the edge; anchored at an off-boundary endpoint's containment flag,
    per-edge kept counts and first/last flags follow from the crossing
    count alone:

        kept = (c + 1 + anchor_flag) // 2       (ones of an alternating
        first/last = parity-flips of the anchor   0/1 string)

    and within an edge every kept sub-arc is an isolated run, so global
    piece count = sum(kept) - (adjacent-edge merges where last=1 meets
    first=1).  Boundary rides / interior chords / vertex touches are
    detected STRUCTURALLY by exact-coordinate joins against the loop
    vertex list (the engine does the same), and crossing counts use the
    identical pinned 1e-15-band sign chain as edges_cross_batch
    (robust=False), so every count is bit-comparable."""
    L = np.asarray(loop_vertices, np.float64)
    n = L.shape[0]
    # bare decimal literals are DECIMAL in DuckDB (scale-38 overflow in
    # the pinned products) — pin every loop coordinate to DOUBLE
    loopv_rows = ", ".join(
        f"({i}, CAST({float(L[i, 0])!r} AS DOUBLE), "
        f"CAST({float(L[i, 1])!r} AS DOUBLE), CAST({float(L[i, 2])!r} AS DOUBLE))"
        for i in range(n)
    )
    in0 = _convex_pred_sql(L, "a0x", "a0y", "a0z")
    in1 = _convex_pred_sql(L, "a1x", "a1y", "a1z")
    return f"""WITH verts AS MATERIALIZED ({verts_sql}),
loopv(li, lx, ly, lz) AS (VALUES {loopv_rows}),
vv AS MATERIALIZED (
  SELECT v.chain_id, v.x, v.y, v.z, l.li,
         row_number() OVER (PARTITION BY v.chain_id ORDER BY v.seq) - 1 AS k
  FROM verts v LEFT JOIN loopv l ON v.x = l.lx AND v.y = l.ly AND v.z = l.lz
),
nv AS MATERIALIZED (SELECT chain_id, count(*) AS n FROM vv GROUP BY chain_id),
edges AS MATERIALIZED (
  SELECT * FROM (
    SELECT chain_id, k - 1 AS e,
           lag(x) OVER w AS a0x, lag(y) OVER w AS a0y, lag(z) OVER w AS a0z,
           lag(li) OVER w AS li0,
           x AS a1x, y AS a1y, z AS a1z, li AS li1
    FROM vv WINDOW w AS (PARTITION BY chain_id ORDER BY k)
  ) WHERE a0x IS NOT NULL
),
ledges AS MATERIALIZED (
  SELECT a.li AS le, a.lx AS e0x, a.ly AS e0y, a.lz AS e0z,
         b.lx AS e1x, b.ly AS e1y, b.lz AS e1z
  FROM loopv a JOIN loopv b ON b.li = (a.li + 1) % {n}
),
cand AS MATERIALIZED (
  SELECT g.chain_id, g.e,
         (g.a0y*g.a1z - g.a0z*g.a1y) AS nx,
         (g.a0z*g.a1x - g.a0x*g.a1z) AS ny,
         (g.a0x*g.a1y - g.a0y*g.a1x) AS nz,
         (l.e0y*l.e1z - l.e0z*l.e1y) AS mx,
         (l.e0z*l.e1x - l.e0x*l.e1z) AS my,
         (l.e0x*l.e1y - l.e0y*l.e1x) AS mz,
         g.a0x, g.a0y, g.a0z, g.a1x, g.a1y, g.a1z,
         l.e0x, l.e0y, l.e0z, l.e1x, l.e1y, l.e1z
  FROM edges g JOIN ledges l
    ON NOT (coalesce(g.li0, -1) = l.le OR coalesce(g.li0, -1) = (l.le + 1) % {n}
         OR coalesce(g.li1, -1) = l.le OR coalesce(g.li1, -1) = (l.le + 1) % {n})
  WHERE g.li0 IS NULL OR g.li1 IS NULL
),
cdet AS (
  SELECT chain_id, e,
         (nx*e0x + ny*e0y) + nz*e0z AS db0, (nx*e1x + ny*e1y) + nz*e1z AS db1,
         (mx*a0x + my*a0y) + mz*a0z AS da0, (mx*a1x + my*a1y) + mz*a1z AS da1
  FROM cand
),
csig AS (
  SELECT chain_id, e,
         CASE WHEN abs(db0) <= 1e-15 THEN 0 ELSE sign(db0) END AS db0s,
         CASE WHEN abs(db1) <= 1e-15 THEN 0 ELSE sign(db1) END AS db1s,
         CASE WHEN abs(da0) <= 1e-15 THEN 0 ELSE sign(da0) END AS da0s,
         CASE WHEN abs(da1) <= 1e-15 THEN 0 ELSE sign(da1) END AS da1s
  FROM cdet
),
cc AS MATERIALIZED (
  SELECT chain_id, e, count(*) AS c FROM csig
  WHERE db0s * db1s < 0 AND da0s * da1s < 0 AND db1s = da0s
  GROUP BY chain_id, e
),
models(pg) AS (VALUES ('open'), ('semi_open'), ('closed')),
ef AS MATERIALIZED (
  SELECT m.pg, g.chain_id, g.e, kl.kept, kl.first_f, kl.last_f
  FROM models m
  CROSS JOIN edges g
  LEFT JOIN cc ON cc.chain_id = g.chain_id AND cc.e = g.e,
  LATERAL (
    SELECT
      CASE
        WHEN g.li0 IS NOT NULL AND g.li1 IS NOT NULL THEN sf.s
        WHEN g.li1 IS NULL THEN (coalesce(cc.c, 0) + 1 + af.a1f) // 2
        ELSE (coalesce(cc.c, 0) + 1 + af.a0f) // 2
      END AS kept,
      CASE
        WHEN g.li0 IS NOT NULL AND g.li1 IS NOT NULL THEN sf.s
        WHEN g.li1 IS NULL THEN
          CASE WHEN coalesce(cc.c, 0) % 2 = 0 THEN af.a1f ELSE 1 - af.a1f END
        ELSE af.a0f
      END AS first_f,
      CASE
        WHEN g.li0 IS NOT NULL AND g.li1 IS NOT NULL THEN sf.s
        WHEN g.li1 IS NULL THEN af.a1f
        ELSE CASE WHEN coalesce(cc.c, 0) % 2 = 0 THEN af.a0f ELSE 1 - af.a0f END
      END AS last_f
    FROM
      (SELECT CASE WHEN {in0} THEN 1 ELSE 0 END AS a0f,
              CASE WHEN {in1} THEN 1 ELSE 0 END AS a1f) af,
      (SELECT CASE
         WHEN g.li1 = (g.li0 + 1) % {n} THEN CASE WHEN m.pg = 'open' THEN 0 ELSE 1 END
         WHEN g.li0 = (g.li1 + 1) % {n} THEN CASE WHEN m.pg = 'closed' THEN 1 ELSE 0 END
         ELSE 1 END AS s) sf
  ) kl
),
perchain AS MATERIALIZED (
  SELECT pg, chain_id,
         CAST(sum(kept) - sum(merge_prev) AS BIGINT) AS n_pieces,
         CAST(sum(kept) + (sum(kept) - sum(merge_prev)) AS BIGINT) AS n_vertices
  FROM (
    SELECT pg, chain_id, e, kept, first_f, last_f,
           CASE WHEN first_f = 1
                 AND lag(last_f) OVER (PARTITION BY pg, chain_id ORDER BY e) = 1
                THEN 1 ELSE 0 END AS merge_prev
    FROM ef
  ) GROUP BY pg, chain_id
),
plmodels(pl) AS (VALUES ('open'), ('semi_open'), ('closed')),
pts AS MATERIALIZED (
  SELECT plm.pl, v.chain_id, CAST(count(*) AS BIGINT) AS pts
  FROM plmodels plm
  CROSS JOIN vv v
  JOIN nv ON nv.chain_id = v.chain_id
  LEFT JOIN ef ep ON ep.pg = 'closed' AND ep.chain_id = v.chain_id AND ep.e = v.k - 1
  LEFT JOIN ef en ON en.pg = 'closed' AND en.chain_id = v.chain_id AND en.e = v.k
  WHERE v.li IS NOT NULL
    AND coalesce(ep.last_f, 0) = 0 AND coalesce(en.first_f, 0) = 0
    AND CASE plm.pl WHEN 'open' THEN v.k > 0 AND v.k < nv.n - 1
                    WHEN 'semi_open' THEN v.k < nv.n - 1
                    ELSE TRUE END
  GROUP BY plm.pl, v.chain_id
)
SELECT f.pg AS pg_model, plm.pl AS pl_model, f.chain_id,
       f.n_pieces, f.n_vertices,
       CASE WHEN f.pg = 'closed' THEN coalesce(p.pts, 0) ELSE CAST(0 AS BIGINT) END
         AS n_points
FROM perchain f
CROSS JOIN plmodels plm
LEFT JOIN pts p ON p.pl = plm.pl AND p.chain_id = f.chain_id"""


def chain_true_centroids(chains: DataFrame) -> DataFrame:
    """Per-chain S2Polyline::GetCentroid (s2polyline.cc:221) via
    S2::TrueCentroid(a, b) (s2centroids.cc:76): the centroid-times-length
    contribution of each geodesic edge is sqrt(|a-b|^2 / |a+b|^2) * (a+b),
    summed over the chain.  Also emits the chain's arc length
    (S2Polyline::GetLength) as the same-order fold of per-edge angles.

    Everything stays JVM-side: per-edge terms are codegen column
    expressions over a lag window, and the per-chain sum is an ORDERED
    left-associative fold (array_sort on seq + aggregate) so a DuckDB
    oracle replaying list_reduce over the same edge order reproduces
    every double bit-for-bit (group-by SUM on either engine would not:
    both sum in partition/segment-tree order).

    Scale shape: one shuffle on chain_id for the window + group; state
    per chain is bounded by the chain length (the fixture contract).
    """
    w = Window.partitionBy("chain_id").orderBy("seq")
    e = chains.select(
        "chain_id",
        "seq",
        F.lag("x").over(w).alias("ax"),
        F.lag("y").over(w).alias("ay"),
        F.lag("z").over(w).alias("az"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("z").alias("bz"),
    ).where(F.col("ax").isNotNull())
    vdx, vdy, vdz = (F.col(a) - F.col(b) for a, b in (("ax", "bx"), ("ay", "by"), ("az", "bz")))
    vsx, vsy, vsz = (F.col(a) + F.col(b) for a, b in (("ax", "bx"), ("ay", "by"), ("az", "bz")))
    sin2 = (vdx * vdx + vdy * vdy) + vdz * vdz
    cos2 = (vsx * vsx + vsy * vsy) + vsz * vsz
    f = F.sqrt(sin2 / cos2)
    t = e.select(
        "chain_id",
        "seq",
        (f * vsx).alias("tx"),
        (f * vsy).alias("ty"),
        (f * vsz).alias("tz"),
        # edge angle via the chord identity |a-b| = 2 sin(theta/2); asin
        # (not atan2) — both engines' asin agreed bit-for-bit in the
        # hausdorff oracle, atan2 is unvetted here
        (F.lit(2.0) * F.asin(F.sqrt(sin2) / F.lit(2.0))).alias("th"),
    )
    g = t.groupBy("chain_id").agg(
        F.array_sort(F.collect_list(F.struct("seq", "tx", "ty", "tz", "th"))).alias("ed")
    )

    def fold(field: str):
        return F.aggregate(
            F.col("ed"), F.lit(0.0), lambda acc, s: acc + s[field]
        )

    return g.select(
        "chain_id",
        F.size("ed").cast("long").alias("n_edges"),
        fold("tx").alias("cx"),
        fold("ty").alias("cy"),
        fold("tz").alias("cz"),
        fold("th").alias("length_radians"),
    )


def centroids_oracle_sql(chain_cte: str, cte_name: str) -> str:
    """DuckDB replay of chain_true_centroids over the same chain CTE:
    identical pinned per-edge terms, identical fold order (list(... ORDER
    BY seq) + left-fold list_reduce seeded with 0.0)."""
    return f"""WITH {chain_cte},
ed AS MATERIALIZED (
  SELECT chain_id, seq,
         lag(x) OVER w AS ax, lag(y) OVER w AS ay, lag(z) OVER w AS az,
         x AS bx, y AS by, z AS bz
  FROM {cte_name} WINDOW w AS (PARTITION BY chain_id ORDER BY seq)
),
vd AS MATERIALIZED (
  SELECT chain_id, seq,
         (ax - bx) AS vdx, (ay - by) AS vdy, (az - bz) AS vdz,
         (ax + bx) AS vsx, (ay + by) AS vsy, (az + bz) AS vsz
  FROM ed WHERE ax IS NOT NULL
),
s2c2 AS MATERIALIZED (
  SELECT chain_id, seq, vsx, vsy, vsz,
         ((vdx*vdx + vdy*vdy) + vdz*vdz) AS sin2,
         ((vsx*vsx + vsy*vsy) + vsz*vsz) AS cos2
  FROM vd
),
tm AS MATERIALIZED (
  SELECT chain_id, seq,
         sqrt(sin2 / cos2) * vsx AS tx,
         sqrt(sin2 / cos2) * vsy AS ty,
         sqrt(sin2 / cos2) * vsz AS tz,
         2.0 * asin(sqrt(sin2) / 2.0) AS th
  FROM s2c2
),
lst AS MATERIALIZED (
  SELECT chain_id,
         CAST(count(*) AS BIGINT) AS n_edges,
         list(tx ORDER BY seq) AS ltx, list(ty ORDER BY seq) AS lty,
         list(tz ORDER BY seq) AS ltz, list(th ORDER BY seq) AS lth
  FROM tm GROUP BY chain_id
)
SELECT chain_id, n_edges,
       list_reduce(list_prepend(0.0, ltx), (a, b) -> a + b) AS cx,
       list_reduce(list_prepend(0.0, lty), (a, b) -> a + b) AS cy,
       list_reduce(list_prepend(0.0, ltz), (a, b) -> a + b) AS cz,
       list_reduce(list_prepend(0.0, lth), (a, b) -> a + b) AS length_radians
FROM lst"""


def chain_pair_min_distance(
    spark: SparkSession,
    chains: DataFrame,
    pairs: DataFrame,
    chain_col: str = "chain_id",
) -> DataFrame:
    """S2ClosestEdgeQuery with an EDGE target, per chain pair
    (s2closest_edge_query.h EdgeTarget; the per-candidate kernel is
    UpdateEdgePairMinDistance, s2edge_distances.cc:327): the minimum
    distance between two polylines = 0 if any edge pair crosses, else
    the min over edge pairs of the four endpoint-to-edge distances.

    Output (chain_a, chain_b, n_a, n_b, min_chord2, a_edge, b_edge):
    argmin edge pair with the (a_edge, b_edge) lexicographic tie-break.
    Per-pair O(n*m) kernel rows, embarrassingly parallel across pairs
    (the alignment-join recipe); chain sizes bounded upstream."""
    from ..kernels.measures import point_edge_chord2
    from .alignment import _verts_to_np, chains_as_arrays

    arrs = chains_as_arrays(chains, chain_col)
    # small pair list fanning out O(n*m) kernel work: repartition on the
    # pair key so AQE's coalesced join output doesn't serialize the kernels
    n_slices = spark.sparkContext.defaultParallelism * 2
    joined = (
        pairs.select("chain_a", "chain_b")
        .join(arrs.select(F.col("chain_id").alias("chain_a"), F.col("verts").alias("va")), "chain_a")
        .join(arrs.select(F.col("chain_id").alias("chain_b"), F.col("verts").alias("vb")), "chain_b")
        .repartition(n_slices, "chain_a", "chain_b")
    )

    def batches(it):
        for pdf in it:
            rows = []
            for a, b, va, vb in zip(pdf["chain_a"], pdf["chain_b"], pdf["va"], pdf["vb"]):
                A = _verts_to_np(va)
                B = _verts_to_np(vb)
                n, m = len(A), len(B)
                ii, jj = np.meshgrid(np.arange(n - 1), np.arange(m - 1), indexing="ij")
                ii, jj = ii.ravel(), jj.ravel()
                A0, A1 = A[ii], A[ii + 1]
                B0, B1 = B[jj], B[jj + 1]
                cross = predicates.edges_cross_batch(A0, A1, B0, B1, robust=False)
                d = np.minimum(
                    np.minimum(
                        point_edge_chord2(A0, B0, B1),
                        point_edge_chord2(A1, B0, B1),
                    ),
                    np.minimum(
                        point_edge_chord2(B0, A0, A1),
                        point_edge_chord2(B1, A0, A1),
                    ),
                )
                d = np.where(cross, 0.0, d)
                k = int(np.argmin(d))  # first min in i-major order =
                # (a_edge, b_edge) lexicographic tie-break
                rows.append((a, b, n, m, float(d[k]), int(ii[k]), int(jj[k])))
            yield pd.DataFrame(
                rows,
                columns=["chain_a", "chain_b", "n_a", "n_b",
                         "min_chord2", "a_edge", "b_edge"],
            )

    return joined.mapInPandas(
        batches,
        "chain_a long, chain_b long, n_a long, n_b long, "
        "min_chord2 double, a_edge long, b_edge long",
    )


def chain_pair_min_distance_oracle_sql(verts_sql: str, pairs_sql: str) -> str:
    """DuckDB replay of chain_pair_min_distance: per-pair edge cross
    join, the pinned point_edge_chord2 four-way least, the same
    fixed-band sign-chain crossing test the kernel uses
    (edges_cross_batch robust=False), argmin by (dist, a_edge, b_edge).
    ``verts_sql`` yields (chain_id, seq, x, y, z); ``pairs_sql`` yields
    (chain_a, chain_b)."""
    from ..kernels.measures import point_edge_chord2_sql

    d1 = point_edge_chord2_sql("a0", "b0", "b1")
    d2 = point_edge_chord2_sql("a1", "b0", "b1")
    d3 = point_edge_chord2_sql("b0", "a0", "a1")
    d4 = point_edge_chord2_sql("b1", "a0", "a1")
    return f"""
WITH vsrc AS MATERIALIZED ({verts_sql}),
verts AS MATERIALIZED (
  SELECT chain_id,
         row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z
  FROM vsrc
),
pairs AS MATERIALIZED ({pairs_sql}),
ea AS MATERIALIZED (
  SELECT p.chain_a, p.chain_b, v0.vi AS i,
         v0.x AS a0x, v0.y AS a0y, v0.z AS a0z,
         v1.x AS a1x, v1.y AS a1y, v1.z AS a1z
  FROM pairs p
  JOIN verts v0 ON v0.chain_id = p.chain_a
  JOIN verts v1 ON v1.chain_id = p.chain_a AND v1.vi = v0.vi + 1
),
eb AS MATERIALIZED (
  SELECT p.chain_a, p.chain_b, v0.vi AS j,
         v0.x AS b0x, v0.y AS b0y, v0.z AS b0z,
         v1.x AS b1x, v1.y AS b1y, v1.z AS b1z
  FROM pairs p
  JOIN verts v0 ON v0.chain_id = p.chain_b
  JOIN verts v1 ON v1.chain_id = p.chain_b AND v1.vi = v0.vi + 1
),
mat AS MATERIALIZED (
  SELECT ea.chain_a, ea.chain_b, ea.i, eb.j,
         a0x, a0y, a0z, a1x, a1y, a1z, b0x, b0y, b0z, b1x, b1y, b1z,
         (a0y*a1z - a0z*a1y) AS nx, (a0z*a1x - a0x*a1z) AS ny,
         (a0x*a1y - a0y*a1x) AS nz,
         (b0y*b1z - b0z*b1y) AS mx, (b0z*b1x - b0x*b1z) AS my,
         (b0x*b1y - b0y*b1x) AS mz
  FROM ea JOIN eb ON eb.chain_a = ea.chain_a AND eb.chain_b = ea.chain_b
),
sg AS MATERIALIZED (
  SELECT chain_a, chain_b, i, j,
         a0x, a0y, a0z, a1x, a1y, a1z, b0x, b0y, b0z, b1x, b1y, b1z,
         CASE WHEN abs((nx*b0x + ny*b0y) + nz*b0z) <= 1e-15 THEN 0
              ELSE sign((nx*b0x + ny*b0y) + nz*b0z) END AS db0s,
         CASE WHEN abs((nx*b1x + ny*b1y) + nz*b1z) <= 1e-15 THEN 0
              ELSE sign((nx*b1x + ny*b1y) + nz*b1z) END AS db1s,
         CASE WHEN abs((mx*a0x + my*a0y) + mz*a0z) <= 1e-15 THEN 0
              ELSE sign((mx*a0x + my*a0y) + mz*a0z) END AS da0s,
         CASE WHEN abs((mx*a1x + my*a1y) + mz*a1z) <= 1e-15 THEN 0
              ELSE sign((mx*a1x + my*a1y) + mz*a1z) END AS da1s
  FROM mat
),
dist AS MATERIALIZED (
  SELECT chain_a, chain_b, i, j,
         CASE WHEN db0s * db1s < 0 AND da0s * da1s < 0 AND db1s = da0s
              THEN 0.0
              ELSE least(least(({d1}), ({d2})), least(({d3}), ({d4})))
         END AS d
  FROM sg
),
best AS (
  SELECT chain_a, chain_b, d AS min_chord2, i AS a_edge, j AS b_edge,
         row_number() OVER (
           PARTITION BY chain_a, chain_b ORDER BY d, i, j
         ) AS rnk
  FROM dist
),
cnt AS (SELECT chain_id, count(*) AS n FROM verts GROUP BY chain_id)
SELECT b.chain_a, b.chain_b, ca.n AS n_a, cb.n AS n_b,
       b.min_chord2, b.a_edge, b.b_edge
FROM best b
JOIN cnt ca ON ca.chain_id = b.chain_a
JOIN cnt cb ON cb.chain_id = b.chain_b
WHERE b.rnk = 1
ORDER BY b.chain_a, b.chain_b"""
