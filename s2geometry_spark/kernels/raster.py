"""Raster -> vector: trace the boundary polygon of a cell raster
(the north rule's "raster <-> vector" axis; the reference's nearest
analogue is S2CellUnion -> S2Polygon::InitToCellUnionBorder,
s2polygon.cc:1261+).

Input: a set of SAME-LEVEL cell ids (a raster layer).  Output: closed
boundary loops.  As in InitToCellUnionBorder, every cell contributes
its four edges and each sibling pair (an edge together with its exact
reverse, shared by two cells of the set) is dropped, as that function's
S2Builder polygon layer drops them; what is left is the raster's
boundary, and loops may cross face seams.

Corner vertices come from cellid.corners_xyz: adjacent same-face cells
share grid corners BIT-EXACTLY, and seam corners mostly coincide across
faces too once -0.0 (which face_uv_to_xyz's negations give on some
faces) is folded to +0.0, so the chain walk (booleanop._chain) needs no
tolerance.  Where two faces' seam corners do not coincide, the seam
edges on both sides stay and each face's loops close on their own (the
per-face polygons are interior-disjoint, so odd-even over all loops
still equals their union).
"""

from __future__ import annotations

import numpy as np

from . import cellid
from .booleanop import _chain


def boundary_edges(cells: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Directed boundary edges (interior on the left) of the raster: the
    cells' edges less every sibling pair."""
    cells = np.unique(np.asarray(cells, np.uint64))
    if cells.size == 0:
        return []
    lv = cellid.level(cells)
    if not (lv == lv[0]).all():
        raise ValueError("raster cells must share one level")
    # (n,4,3): (lo,lo),(hi,lo),(hi,hi),(lo,hi); edge k runs v_k -> v_{k+1}.
    # + 0.0 folds -0.0 to +0.0, so _chain's byte keys see one seam corner.
    corners = cellid.corners_xyz(cells) + 0.0
    edges = [(c[k], c[(k + 1) % 4]) for c in corners for k in range(4)]
    keys = {(a.tobytes(), b.tobytes()) for a, b in edges}
    return [(a, b) for a, b in edges if (b.tobytes(), a.tobytes()) not in keys]


def vectorize_cells(cells: np.ndarray) -> list[np.ndarray]:
    """Boundary loops of the raster, normalized to SMALL orientation so
    odd-even parity over the loop set equals raster membership while
    each loop bounds less than 2pi (an un-normalized CW loop contributes
    the complement, which cancels only for even loop counts).  With
    sibling pairs dropped and signed zeros folded, no loop walks a spike
    (A -> B -> A) or splits one corner into two vertices, either of which
    gives a degenerate loop whose origin_inside inverts every point."""
    from .booleanop import _normalize_small

    edges = boundary_edges(cells)
    if not edges:
        return []
    return _normalize_small(_chain(edges))
