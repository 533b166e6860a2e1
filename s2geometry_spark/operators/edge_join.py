"""Edge-crossing join: S2CrossingEdgeQuery (s2crossing_edge_query.cc)
re-expressed as distributed dataflow over two EDGE tables.

Plan:
  covering — each edge's bounding-cap cell-union bound (vertex neighbors
  at the cap's radius level, s2cap.cc:202-223), VECTORIZED: radii ->
  levels scalar-cheaply, then one append_vertex_neighbors call per level
  group; 6-face fallback for huge edges; levels clamped to MAX_LEVEL.
  terms — the REGION-to-REGION term-indexer scheme
  (s2region_term_indexer.cc:23-72): the index side (B) emits covering
  terms + ancestor terms, the query side (A) emits an ancestor term per
  covering cell + covering terms for its ancestors; coverings overlap in
  range iff they share a term.  Emitted as FLAT (eid, term_cell,
  is_covering) rows from one mapInPandas pass — no per-row Python.
  candidates — the two term tables are COGROUPED on each term cell's
  coarse GROUP_LEVEL prefix (_mixed_group), so each side's term rows
  cross the Arrow boundary once per group; inside a group the exact
  (term_cell, is_covering) match is a vectorized searchsorted range join
  (_match_terms).  The term rows CARRY their edge coordinates, so the
  matches feed the kernel in the same call: no materialized candidate
  join, no coordinate re-joins.
  refine — per group, the vectorized interior-crossing kernel
  (predicates.edges_cross_batch: pinned-order triage determinants with
  the antipodal sign-chain check; robust mode drops uncertain rows to
  the exact scalar path) or the intersection-point kernel, then an
  in-group dedup; the final dedup touches only actual hits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import cellid, metrics, predicates

MAX_LEVEL = 20
# ancestor terms are emitted only at every LEVEL_MOD-th level and covering
# cells snap DOWN to the nearest allowed level (s2region_term_indexer.h
# level_mod option): halves the O(level) ancestor fan-out per covering
# cell at the cost of slightly coarser (still lossless) candidates.
LEVEL_MOD = 2


# edges are subdivided 2^SPLIT_ROUNDS times before covering: each
# sub-arc's cap is 4x smaller per round, so covering cells are ~2 levels
# finer per round — at the cost of ~4x more (deduped) covering cells per
# edge, the candidate set shrinks ~16x per round in dense tables.
SPLIT_ROUNDS = 2
# the term tables cogroup on each term cell's GROUP_LEVEL parent
# (_mixed_group)
GROUP_LEVEL = 4


def _edge_coverings_flat(
    A0: np.ndarray, A1: np.ndarray, split_rounds: int = SPLIT_ROUNDS
) -> tuple[np.ndarray, np.ndarray]:
    """(owner_row_idx, covering_cell uint64) flat arrays for a batch."""
    n = A0.shape[0]
    # subdivide: chain of 2^rounds + 1 points per edge (normalized
    # midpoints), covering each consecutive sub-arc's cap independently
    pts = [A0, A1]
    for _ in range(split_rounds):
        new_pts = [pts[0]]
        for i in range(len(pts) - 1):
            m = pts[i] + pts[i + 1]
            nrm = np.linalg.norm(m, axis=1)
            bad = nrm < 1e-12
            m[bad] = pts[i][bad]
            nrm[bad] = 1.0
            new_pts.extend([m / nrm[:, None], pts[i + 1]])
        pts = new_pts
    owners = []
    cells = []
    for s in range(len(pts) - 1):
        P0, P1 = pts[s], pts[s + 1]
        mid = P0 + P1
        nrm = np.linalg.norm(mid, axis=1)
        bad = nrm < 1e-12
        mid[bad] = P0[bad]
        nrm[bad] = 1.0
        mid = mid / nrm[:, None]
        r2 = ((mid - P0) ** 2).sum(axis=1)
        radius = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(r2)))
        levels = metrics.MIN_WIDTH.get_level_for_min_value_vec(radius) - 1
        levels = np.minimum(levels, MAX_LEVEL)
        # snap to the LEVEL_MOD grid (downward: coarser always covers)
        levels = np.where(levels >= 0, levels - (levels % LEVEL_MOD), levels)
        full = levels < 0
        if full.any():
            faces = cellid.from_face(np.arange(6))
            for i in np.flatnonzero(full):
                owners.append(np.full(6, i))
                cells.append(faces)
        leafs = cellid.from_xyz(mid[:, 0], mid[:, 1], mid[:, 2])
        for lv in np.unique(levels[levels >= 0]):
            sel = np.flatnonzero(levels == lv)
            idx, nbrs = cellid.append_vertex_neighbors(leafs[sel], int(lv))
            owners.append(sel[idx])
            cells.append(nbrs)
    owner = np.concatenate(owners) if owners else np.zeros(0, np.int64)
    cell = np.concatenate(cells) if cells else np.zeros(0, np.uint64)
    # adjacent sub-arcs share vertex-neighbor cells: dedupe (owner, cell)
    if owner.size:
        pair = np.stack([owner, cell.view(np.int64)], axis=1)
        _, uniq = np.unique(pair, axis=0, return_index=True)
        uniq.sort()
        owner, cell = owner[uniq], cell[uniq]
    return owner, cell


def _mixed_group(keys_u64: np.ndarray) -> np.ndarray:
    """Cogroup key (biased) for MIXED-LEVEL cell keys: fine keys group
    under their GROUP_LEVEL parent, keys at/above GROUP_LEVEL group as
    themselves — both sides compute the same value for a matching key,
    so exact-key matches always co-locate."""
    lv = cellid.level(keys_u64)
    g = np.where(
        lv <= GROUP_LEVEL, keys_u64, cellid.parent(keys_u64, GROUP_LEVEL)
    )
    return cellid.to_biased(g.astype(np.uint64))


def _terms_flat(owner: np.ndarray, cell: np.ndarray, side: str):
    """Vectorized term emission for a flat covering batch.

    index side: (c, True) [if level < MAX_LEVEL], (c, False), ancestors
    (p, False); query side: (c, False), ancestors (p, True).
    """
    lv = cellid.level(cell)
    out_owner, out_cell, out_cov = [], [], []
    biased = cellid.to_biased(cell)
    if side == "index":
        m = lv < MAX_LEVEL
        out_owner.append(owner[m]); out_cell.append(biased[m]); out_cov.append(np.ones(m.sum(), bool))
        out_owner.append(owner); out_cell.append(biased); out_cov.append(np.zeros(len(owner), bool))
        anc_flag = False
    else:
        out_owner.append(owner); out_cell.append(biased); out_cov.append(np.zeros(len(owner), bool))
        anc_flag = True
    for L in np.unique(lv):
        if L == 0:
            continue
        sel = np.flatnonzero(lv == L)
        sub = cell[sel]
        # ancestors only on the LEVEL_MOD grid (covering cells are snapped
        # to the same grid, so containment is still detected exactly)
        for p in range(int(L) - LEVEL_MOD, -1, -LEVEL_MOD):
            par = cellid.to_biased(cellid.parent(sub, p))
            out_owner.append(owner[sel])
            out_cell.append(par)
            out_cov.append(np.full(len(sel), anc_flag))
    return (
        np.concatenate(out_owner),
        np.concatenate(out_cell),
        np.concatenate(out_cov),
    )


def _term_table(
    edges: DataFrame,
    id_col: str,
    prefix: str,
    side: str,
    split_rounds: int,
) -> DataFrame:
    """Term rows WITH the edge coordinates and the cogroup key ``g``:
    the in-group matches feed the kernel directly — no coordinate
    re-joins on the (much larger) candidate set.  Duplicate candidates
    cost only vectorized flops and are deduped AFTER refinement, where
    the row count is the (tiny) hit set."""
    cols = [f"{prefix}{k}{ax}" for k in (0, 1) for ax in "xyz"]

    def batches(it):
        for pdf in it:
            A0 = pdf[cols[:3]].to_numpy(np.float64)
            A1 = pdf[cols[3:]].to_numpy(np.float64)
            owner, cell = _edge_coverings_flat(A0, A1, split_rounds)
            o, c, f = _terms_flat(owner, cell, side)
            ids = pdf[id_col].to_numpy(np.int64)
            out = pd.DataFrame(
                {id_col: ids[o], "term_cell": c.astype(np.int64), "is_covering": f}
            )
            out = out.drop_duplicates()
            keep = out.index.to_numpy()
            for i, cc in enumerate(cols):
                src = A0 if i < 3 else A1
                out[cc] = src[o[keep], i % 3]
            out["g"] = _mixed_group(
                cellid.from_biased(out["term_cell"].to_numpy(np.int64))
            )
            yield out

    return edges.select(id_col, *cols).mapInPandas(
        batches,
        f"{id_col} long, term_cell long, is_covering boolean, "
        + ", ".join(f"{c} double" for c in cols)
        + ", g long",
    )


def _term_cogroup(edges_a: DataFrame, edges_b: DataFrame, split_rounds: int):
    """A's query-side and B's index-side term tables, cogrouped on g."""
    ta = _term_table(edges_a, "eid_a", "a", "query", split_rounds)
    tb = _term_table(edges_b, "eid_b", "b", "index", split_rounds)
    return ta.groupBy("g").cogroup(tb.groupBy("g"))


def _match_terms(adf: pd.DataFrame, bdf: pd.DataFrame):
    """(eid_a, eid_b, A0, A1, B0, B1), one row per exact (term_cell,
    is_covering) match inside a group: a vectorized searchsorted range
    join over B's terms sorted on the composite key
    (cell bits << 1) | is_covering."""

    def key(df):
        return (
            df["term_cell"].to_numpy(np.int64).view(np.uint64) << np.uint64(1)
        ) | df["is_covering"].to_numpy(bool).astype(np.uint64)

    kb = key(bdf)
    order = np.argsort(kb, kind="stable")
    kb_s = kb[order]
    ka = key(adf)
    lo = np.searchsorted(kb_s, ka, "left")
    cnt = np.searchsorted(kb_s, ka, "right") - lo
    total = int(cnt.sum())
    ii = np.repeat(np.arange(len(ka)), cnt)
    starts = np.zeros(len(ka), np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    jj = order[np.arange(total, dtype=np.int64) - starts[ii] + lo[ii]]
    return (
        adf["eid_a"].to_numpy(np.int64)[ii],
        bdf["eid_b"].to_numpy(np.int64)[jj],
        adf[["a0x", "a0y", "a0z"]].to_numpy(np.float64)[ii],
        adf[["a1x", "a1y", "a1z"]].to_numpy(np.float64)[ii],
        bdf[["b0x", "b0y", "b0z"]].to_numpy(np.float64)[jj],
        bdf[["b1x", "b1y", "b1z"]].to_numpy(np.float64)[jj],
    )


def edge_crossing_join(
    spark: SparkSession,
    edges_a: DataFrame,
    edges_b: DataFrame,
    robust: bool = True,
    split_rounds: int = SPLIT_ROUNDS,
    pair_shift: int = 0,
    crossing_type: str = "interior",
) -> DataFrame:
    """All (eid_a, eid_b) pairs whose edge interiors cross.

    edges_a: (eid_a, a0x..a1z); edges_b: (eid_b, b0x..b1z).  The
    crossing kernel and an in-batch pair dedup run on each group's
    matches before anything is shuffled; the final dedup touches only
    actual crossing pairs.

    ``pair_shift`` right-shifts both edge ids before the in-batch dedup:
    chains_to_edges embeds the chain id in bits 32+, so pair_shift=32
    makes this emit DISTINCT CHAIN PAIRS directly — the post-cogroup
    dedup then touches ~5k rows instead of 422k edge crossings.

    ``crossing_type``: "interior" (the default; CrossingSign > 0 only,
    output (eid_a, eid_b)) or "all" (s2crossing_edge_query.cc:75
    min_sign = 0: shared-vertex pairs qualify too, output gains a
    ``sign`` column — 1 interior crossing, 0 shared vertex).  A shared
    vertex is an EXACT coordinate match, per S2::CrossingSign's identity
    tests; degenerate (zero-length) edges are outside the contract.
    """
    if crossing_type not in ("interior", "all"):
        raise ValueError(f"crossing_type must be 'interior' or 'all': {crossing_type}")
    want_all = crossing_type == "all"
    out_schema = "eid_a long, eid_b long" + (", sign int" if want_all else "")

    def group_cross(key, adf: pd.DataFrame, bdf: pd.DataFrame):
        ea, eb, A0, A1, B0, B1 = _match_terms(adf, bdf)
        hit = predicates.edges_cross_batch(A0, A1, B0, B1, robust=robust)
        out = {}
        if want_all:
            shared = (
                (A0 == B0).all(axis=1)
                | (A0 == B1).all(axis=1)
                | (A1 == B0).all(axis=1)
                | (A1 == B1).all(axis=1)
            )
            hit |= shared
            # shared vertex wins: CrossingSign returns 0 on any exact
            # vertex identity before the interior verdict
            out["sign"] = np.where(shared[hit], 0, 1).astype(np.int32)
        return pd.DataFrame(
            {"eid_a": ea[hit] >> pair_shift, "eid_b": eb[hit] >> pair_shift, **out}
        ).drop_duplicates()

    # in "all" mode a pair_shift-collapsed pair can legitimately carry
    # both signs (some edge pairs share a vertex, others cross) — dedup
    # on the full row; at pair_shift=0 sign is unique per edge pair
    dedup_cols = ["eid_a", "eid_b"] + (["sign"] if want_all else [])
    return (
        _term_cogroup(edges_a, edges_b, split_rounds)
        .applyInPandas(group_cross, out_schema)
        .dropDuplicates(dedup_cols)
    )


# ---------- intersection points (S2::GetIntersection) ----------


def _intersection_points(A0, A1, B0, B1):
    """Vectorized S2::GetIntersection stable path
    (s2edge_crossings.cc:520+, kStable simple method) with PINNED
    per-component arithmetic order so a SQL replay is bit-identical:
    na = (a0-a1) x (a0+a1), nb likewise, x = na x nb, normalize, then
    sign-pick x onto the hemisphere of (a0+a1)+(b0+b1).  Caller
    guarantees the edges actually cross (norm > 0)."""
    DA, SA = A0 - A1, A0 + A1
    DB, SB = B0 - B1, B0 + B1
    nax = DA[:, 1] * SA[:, 2] - DA[:, 2] * SA[:, 1]
    nay = DA[:, 2] * SA[:, 0] - DA[:, 0] * SA[:, 2]
    naz = DA[:, 0] * SA[:, 1] - DA[:, 1] * SA[:, 0]
    nbx = DB[:, 1] * SB[:, 2] - DB[:, 2] * SB[:, 1]
    nby = DB[:, 2] * SB[:, 0] - DB[:, 0] * SB[:, 2]
    nbz = DB[:, 0] * SB[:, 1] - DB[:, 1] * SB[:, 0]
    xx = nay * nbz - naz * nby
    xy = naz * nbx - nax * nbz
    xz = nax * nby - nay * nbx
    nrm = np.sqrt((xx * xx + xy * xy) + xz * xz)
    ux, uy, uz = xx / nrm, xy / nrm, xz / nrm
    tx, ty, tz = SA[:, 0] + SB[:, 0], SA[:, 1] + SB[:, 1], SA[:, 2] + SB[:, 2]
    flip = (ux * tx + uy * ty) + uz * tz < 0.0
    sgn = np.where(flip, -1.0, 1.0)
    return ux * sgn, uy * sgn, uz * sgn


def edge_intersection_join(
    spark: SparkSession,
    edges_a: DataFrame,
    edges_b: DataFrame,
    robust: bool = False,
    split_rounds: int = SPLIT_ROUNDS,
) -> DataFrame:
    """Interior-crossing join that also EMITS the intersection point
    (eid_a, eid_b, ix, iy, iz) — the distributed form of running
    S2::GetIntersection on every S2CrossingEdgeQuery hit.  Same cogrouped
    term join as edge_crossing_join (coordinates ride the term tables,
    so the point kernel runs map-side in the cogroup); duplicate
    candidate hits across term cells collapse in the final
    dropDuplicates because the pinned arithmetic emits bit-identical
    doubles for the same pair."""

    def group_points(key, adf: pd.DataFrame, bdf: pd.DataFrame):
        ea, eb, A0, A1, B0, B1 = _match_terms(adf, bdf)
        hit = predicates.edges_cross_batch(A0, A1, B0, B1, robust=robust)
        ix, iy, iz = _intersection_points(A0[hit], A1[hit], B0[hit], B1[hit])
        return pd.DataFrame(
            {"eid_a": ea[hit], "eid_b": eb[hit], "ix": ix, "iy": iy, "iz": iz}
        ).drop_duplicates()

    return (
        _term_cogroup(edges_a, edges_b, split_rounds)
        .applyInPandas(
            group_points, "eid_a long, eid_b long, ix double, iy double, iz double"
        )
        .dropDuplicates(["eid_a", "eid_b"])
    )
