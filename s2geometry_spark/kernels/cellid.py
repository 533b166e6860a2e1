"""Vectorized S2CellId algebra over uint64 NumPy arrays + int64 bias shim.

Reference semantics: s2cell_id.h:57-746, s2cell_id.cc (encode/decode,
neighbors, tokens).  All functions operate on whole columns at once.

Storage convention for Spark (the "biased int64" shim): cell ids are uint64
with faces 4-5 setting the sign bit, so signed comparisons would misorder.
We store ``biased = id XOR 2^63`` reinterpreted as int64 — an
order-preserving bijection — and convert back to uint64 at the NumPy edge.
"""

from __future__ import annotations

import numpy as np

from . import coords
from .hilbert import LOOKUP_BITS, MAX_LEVEL, from_face_ij, to_face_ij_orientation

U64 = np.uint64
MAX_SIZE = 1 << MAX_LEVEL
_SIGN = U64(1 << 63)
_ONE = U64(1)
_TWO = U64(2)
WRAP_OFFSET = U64(6 << 61)  # kWrapOffset (s2cell_id.h)


# exact powers of two up to 2^63 are representable in float64, so log2 of an
# isolated low bit recovers countr_zero exactly (numpy 1.x lacks bitwise_count)
def _countr_zero(ids: np.ndarray) -> np.ndarray:
    ids = ids.astype(np.uint64, copy=False)
    lsb_ = ids & (~ids + _ONE)
    return np.log2(lsb_.astype(np.float64)).astype(np.int64)


# ---------- bias shim ----------


def to_biased(ids: np.ndarray) -> np.ndarray:
    """uint64 cell id -> order-preserving int64 (id - 2^63)."""
    return (np.ascontiguousarray(ids, dtype=np.uint64) ^ _SIGN).view(np.int64)


def from_biased(biased: np.ndarray) -> np.ndarray:
    """int64 back to raw uint64 cell id."""
    return (np.ascontiguousarray(biased, dtype=np.int64).view(np.uint64)) ^ _SIGN


# ---------- encode / decode ----------


def from_xyz(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """S2CellId(S2Point) (s2cell_id.cc:309-315): leaf ids, uint64."""
    face, u, v = coords.xyz_to_face_uv(
        np.asarray(x, np.float64), np.asarray(y, np.float64), np.asarray(z, np.float64)
    )
    i = coords.st_to_ij(coords.uv_to_st(u))
    j = coords.st_to_ij(coords.uv_to_st(v))
    return from_face_ij(face, i, j)


def from_latlng_radians(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    x, y, z = coords.latlng_to_xyz(np.asarray(lat, np.float64), np.asarray(lng, np.float64))
    return from_xyz(x, y, z)


def from_latlng_degrees(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    d2r = np.pi / 180.0
    return from_latlng_radians(np.asarray(lat, np.float64) * d2r, np.asarray(lng, np.float64) * d2r)


def get_center_si_ti(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """GetCenterSiTi (s2cell_id.h:555-581)."""
    ids = np.asarray(ids, np.uint64)
    face, i, j, _ = to_face_ij_orientation(ids)
    leaf = is_leaf(ids)
    second = ((i ^ (ids.astype(np.int64) >> np.int64(2))) & 1) != 0
    delta = np.where(leaf, 1, np.where(second, 2, 0))
    return face, 2 * i + delta, 2 * j + delta


def to_point_raw(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ToPointRaw (s2cell_id.cc:375-379): unnormalized center direction."""
    face, si, ti = get_center_si_ti(ids)
    return coords.face_si_ti_to_xyz(face, si, ti)


def to_point(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return coords.normalize(*to_point_raw(ids))


def to_latlng(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """ToLatLng — radians; atan2 is scale-invariant so raw center is fine."""
    x, y, z = to_point_raw(ids)
    return coords.xyz_to_latlng(x, y, z)


# ---------- structure ----------


def lsb(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids & (~ids + _ONE)


def lsb_for_level(level) -> np.ndarray:
    # lsb_for_level (s2cell_id.h): 1 << 2*(kMaxLevel - level); leaf lsb == 1
    shift = np.int64(2) * (np.int64(MAX_LEVEL) - np.asarray(level, np.int64))
    return _ONE << shift.astype(np.uint64)


def level(ids: np.ndarray) -> np.ndarray:
    """level = 30 - countr_zero(id)/2 (s2cell_id.h:595-603)."""
    return MAX_LEVEL - (_countr_zero(np.asarray(ids, np.uint64)) >> 1)


def face(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, np.uint64) >> U64(61)).astype(np.int64)


def is_leaf(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, np.uint64) & _ONE) != 0


def is_face(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return (ids & (lsb_for_level(0) - _ONE)) == 0


def is_valid(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return (face(ids) < 6) & ((lsb(ids) & U64(0x1555555555555555)) != 0)


def parent(ids: np.ndarray, lvl) -> np.ndarray:
    """parent(level) (s2cell_id.h:630-640)."""
    ids = np.asarray(ids, np.uint64)
    nlsb = lsb_for_level(lvl)
    return (ids & (~nlsb + _ONE)) | nlsb


def child(ids: np.ndarray, position) -> np.ndarray:
    """child(pos) (s2cell_id.h:652-660): new_lsb = lsb>>2; id + (2*pos-3)*new_lsb."""
    ids = np.asarray(ids, np.uint64)
    new_lsb = lsb(ids) >> _TWO
    pos = np.asarray(position, np.int64)
    off = (2 * pos - 3).astype(np.int64)
    return ids + (off.astype(np.uint64) * new_lsb)


def child_position(ids: np.ndarray, lvl) -> np.ndarray:
    """child_position(level) (s2cell_id.h:605-612)."""
    ids = np.asarray(ids, np.uint64)
    shift = np.int64(2) * (np.int64(MAX_LEVEL) - np.asarray(lvl, np.int64)) + np.int64(1)
    return ((ids >> shift.astype(np.uint64)) & _C3).astype(np.int64)


_C3 = U64(3)


def range_min(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids - (lsb(ids) - _ONE)


def range_max(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids + (lsb(ids) - _ONE)


def contains(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """cell a contains cell b (interval test, s2cell_id.h:642-650)."""
    return (np.asarray(b, np.uint64) >= range_min(a)) & (np.asarray(b, np.uint64) <= range_max(a))


def intersects(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def child_begin(ids: np.ndarray, lvl) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids - lsb(ids) + lsb_for_level(lvl)


def child_end(ids: np.ndarray, lvl) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids + lsb(ids) + lsb_for_level(lvl)


def next_cell(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids + (lsb(ids) << _ONE)


def prev_cell(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    return ids - (lsb(ids) << _ONE)


def next_wrap(ids: np.ndarray) -> np.ndarray:
    n = next_cell(ids)
    return np.where(n < WRAP_OFFSET, n, n - WRAP_OFFSET)


def from_face(f) -> np.ndarray:
    f = np.asarray(f, np.uint64)
    return (f << U64(61)) + lsb_for_level(0)


def advance(ids: np.ndarray, steps) -> np.ndarray:
    """advance (s2cell_id.cc:119-141): move `steps` cells forward/back at
    the same level along the Hilbert curve (no clamping here — caller
    stays in range as in the reference's dchecked fast path)."""
    ids = np.asarray(ids, np.uint64)
    steps = np.asarray(steps, np.int64)
    step_size = (lsb(ids) << _ONE).astype(np.int64)
    return (ids.astype(np.int64) + steps * step_size).astype(np.uint64)


def common_ancestor_level(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """GetCommonAncestorLevel (s2cell_id.cc:193-207): level of the lowest
    common ancestor, -1 if none (different faces)."""
    a = np.asarray(a, np.uint64)
    b = np.asarray(b, np.uint64)
    bits = np.maximum(a ^ b, np.maximum(lsb(a), lsb(b)))
    # 61 - bit_length(bits), then >> 1 (floor towards -inf for the -1 case)
    blen = np.zeros_like(bits, dtype=np.int64)
    tmp = bits.copy()
    while np.any(tmp):
        nz = tmp > 0
        blen[nz] += 1
        tmp = tmp >> _ONE
    return np.maximum(61 - blen, -1) >> 1


def maximum_tile(ids: np.ndarray, limits: np.ndarray) -> np.ndarray:
    """maximum_tile(id, limit) (s2cell_id.cc:168-191): the largest cell
    starting at `id` (a range_min-style position) that does not extend
    past `limit`'s range and is not a smaller-than-necessary piece.
    Scalar control flow per element (tiling a scan range produces few
    cells; used driver-side), faithful to the reference:
      - if this range starts at/after limit's range: return limit;
      - if this cell overflows limit: descend child(0) until inside;
      - else ascend while the parent still starts here and fits."""
    ids = np.atleast_1d(np.asarray(ids, np.uint64))
    limits = np.atleast_1d(np.asarray(limits, np.uint64))

    def _s(f, v):  # scalar helper over the array kernels
        return int(f(np.array([v], np.uint64))[0])

    out = np.empty_like(ids)
    for k in range(ids.size):
        cid = int(ids[k])
        lim = int(limits[k])
        start = _s(range_min, cid)
        if start >= _s(range_min, lim):
            out[k] = lim
            continue
        if _s(range_max, cid) >= lim:
            while _s(range_max, cid) >= lim:
                cid = _s(lambda x: child(x, 0), cid)
        else:
            while _s(is_face, cid) == 0:
                par = _s(lambda x: parent(x, _s(level, cid) - 1), cid)
                if _s(range_min, par) != start or _s(range_max, par) >= lim:
                    break
                cid = par
        out[k] = cid
    return out


# ---------- tokens ----------


def to_token(ids: np.ndarray) -> list[str]:
    """ToToken (s2cell_id.cc:217-233): 16-hex with trailing zero digits stripped."""
    out = []
    for v in np.asarray(ids, np.uint64).tolist():
        if v == 0:
            out.append("X")
        else:
            out.append(format(v, "016x").rstrip("0"))
    return out


def from_token(tokens) -> np.ndarray:
    """FromToken (s2cell_id.cc:235-254); invalid -> 0 (None)."""
    out = np.zeros(len(tokens), dtype=np.uint64)
    for idx, t in enumerate(tokens):
        if not t or len(t) > 16:
            continue
        # strict per-char hex (reference rejects whitespace/sign/etc.)
        if not all(c in "0123456789abcdefABCDEF" for c in t):
            continue
        out[idx] = U64(int(t, 16) << (4 * (16 - len(t))))
    return out


def to_debug_string(ids: np.ndarray) -> list[str]:
    """ToString (s2cell_id.cc:600-611): "face/0123..." path form."""
    ids = np.asarray(ids, np.uint64)
    faces = face(ids)
    lvls = level(ids)
    out = []
    for n in range(ids.size):
        s = f"{faces[n]}/"
        for cl in range(1, int(lvls[n]) + 1):
            s += "0123"[int(child_position(ids[n : n + 1], np.int64(cl))[0])]
        out.append(s)
    return out


def from_debug_string(strs) -> np.ndarray:
    out = np.zeros(len(strs), dtype=np.uint64)
    for idx, s in enumerate(strs):
        if len(s) < 2 or s[1] != "/" or not s[0].isdigit():
            continue
        f = int(s[0])
        if f > 5:
            continue
        cid = from_face(np.array([f]))
        ok = True
        for ch in s[2:]:
            if ch not in "0123":
                ok = False
                break
            cid = child(cid, np.array([int(ch)]))
        if ok:
            out[idx] = cid[0]
    return out


# ---------- neighbors ----------


def get_size_ij(lvl) -> np.ndarray:
    return np.int64(1) << (MAX_LEVEL - np.asarray(lvl, np.int64))


def corners_xyz(ids: np.ndarray) -> np.ndarray:
    """(n, 4, 3) normalized corner vertices of each cell, vectorized
    (S2Cell::GetVertex, s2cell.h:90-100): decode to (face, i, j), snap to
    the cell's ij base, corners on the si/ti grid in the fixed
    (lo,lo)->(hi,lo)->(hi,hi)->(lo,hi) perimeter order."""
    ids = np.asarray(ids, np.uint64)
    face, i, j, _ = to_face_ij_orientation(ids)
    size = get_size_ij(level(ids)).astype(np.int64)
    i0 = (i.astype(np.int64) // size) * size
    j0 = (j.astype(np.int64) // size) * size
    si_lo, si_hi = 2 * i0, 2 * (i0 + size)
    ti_lo, ti_hi = 2 * j0, 2 * (j0 + size)
    out = np.empty((ids.shape[0], 4, 3), np.float64)
    for k, (si, ti) in enumerate(
        [(si_lo, ti_lo), (si_hi, ti_lo), (si_hi, ti_hi), (si_lo, ti_hi)]
    ):
        x, y, z = coords.normalize(*coords.face_si_ti_to_xyz(face, si, ti))
        out[:, k, 0] = x
        out[:, k, 1] = y
        out[:, k, 2] = z
    return out


def _from_face_ij_wrap(f: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """FromFaceIJWrap (s2cell_id.cc:459-489): project past the face edge."""
    i = np.clip(i, -1, MAX_SIZE)
    j = np.clip(j, -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = 1.0 + np.finfo(np.float64).eps
    u = np.clip(scale * (2 * (i - MAX_SIZE // 2) + 1).astype(np.float64), -limit, limit)
    v = np.clip(scale * (2 * (j - MAX_SIZE // 2) + 1).astype(np.float64), -limit, limit)
    x, y, z = coords.face_uv_to_xyz(f, u, v)
    f2, u2, v2 = coords.xyz_to_face_uv(x, y, z)
    return from_face_ij(f2, coords.st_to_ij(0.5 * (u2 + 1)), coords.st_to_ij(0.5 * (v2 + 1)))


def _from_face_ij_same(f, i, j, same: np.ndarray) -> np.ndarray:
    """FromFaceIJSame (s2cell_id.cc:491-497), vectorized over the mask."""
    out = np.empty(np.broadcast(f, i, j).shape, dtype=np.uint64)
    f, i, j = np.broadcast_arrays(f, i, j)
    if same.any():
        out[same] = from_face_ij(f[same], i[same], j[same])
    inv = ~same
    if inv.any():
        out[inv] = _from_face_ij_wrap(f[inv], i[inv], j[inv])
    return out


def get_edge_neighbors(ids: np.ndarray) -> np.ndarray:
    """GetEdgeNeighbors (s2cell_id.cc:499-512) -> (n,4) uint64."""
    ids = np.asarray(ids, np.uint64)
    lvl = level(ids)
    size = get_size_ij(lvl)
    f, i, j, _ = to_face_ij_orientation(ids)
    down = parent(_from_face_ij_same(f, i, j - size, j - size >= 0), lvl)
    right = parent(_from_face_ij_same(f, i + size, j, i + size < MAX_SIZE), lvl)
    up = parent(_from_face_ij_same(f, i, j + size, j + size < MAX_SIZE), lvl)
    left = parent(_from_face_ij_same(f, i - size, j, i - size >= 0), lvl)
    return np.stack([down, right, up, left], axis=1)


def append_vertex_neighbors(ids: np.ndarray, lvl: int) -> tuple[np.ndarray, np.ndarray]:
    """AppendVertexNeighbors (s2cell_id.cc:514-554), vectorized.

    ``lvl`` must be strictly less than every input cell's level.  Returns
    (row_index, neighbor_id): 3 or 4 cells around the nearest vertex.
    """
    ids = np.asarray(ids, np.uint64)
    f, i, j, _ = to_face_ij_orientation(ids)
    halfsize = get_size_ij(np.int64(lvl + 1))
    size = halfsize << 1
    ipos = (i & halfsize) != 0
    ioffset = np.where(ipos, size, -size)
    isame = np.where(ipos, (i + size) < MAX_SIZE, (i - size) >= 0)
    jpos = (j & halfsize) != 0
    joffset = np.where(jpos, size, -size)
    jsame = np.where(jpos, (j + size) < MAX_SIZE, (j - size) >= 0)

    idx = np.arange(ids.size, dtype=np.int64)
    rows = [idx, idx, idx]
    outs = [
        parent(ids, lvl),
        parent(_from_face_ij_same(f, i + ioffset, j, isame), lvl),
        parent(_from_face_ij_same(f, i, j + joffset, jsame), lvl),
    ]
    diag = isame | jsame  # cube-corner vertices have only 3 neighbors
    if diag.any():
        rows.append(idx[diag])
        outs.append(
            parent(
                _from_face_ij_same(
                    f[diag], (i + ioffset)[diag], (j + joffset)[diag], (isame & jsame)[diag]
                ),
                lvl,
            )
        )
    return np.concatenate(rows), np.concatenate(outs)


def append_all_neighbors(ids: np.ndarray, nbr_level: int) -> tuple[np.ndarray, np.ndarray]:
    """AppendAllNeighbors (s2cell_id.cc:556-598), vectorized.

    All input cells must share one level <= nbr_level.  Returns
    (row_index, neighbor_id) arrays — one pair per emitted neighbor
    (duplicates possible exactly as in the reference; callers dedup).
    """
    ids = np.asarray(ids, np.uint64)
    lvls = level(ids)
    if ids.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.uint64)
    lvl = int(lvls[0])
    assert (lvls == lvl).all(), "append_all_neighbors: uniform level required"
    assert nbr_level >= lvl
    f, i, j, _ = to_face_ij_orientation(ids)
    size = int(get_size_ij(lvl))
    i = i & -size
    j = j & -size
    nbr_size = int(get_size_ij(nbr_level))

    rows: list[np.ndarray] = []
    outs: list[np.ndarray] = []
    idx = np.arange(ids.size, dtype=np.int64)

    def emit(ii, jj, same):
        rows.append(idx)
        outs.append(parent(_from_face_ij_same(f, ii, jj, same), nbr_level))

    k = -nbr_size
    while True:
        if k < 0:
            same_face = j + k >= 0
        elif k >= size:
            same_face = j + k < MAX_SIZE
        else:
            same_face = np.ones(ids.shape, dtype=bool)
            emit(i + k, j - nbr_size, j - size >= 0)  # bottom
            emit(i + k, j + size, j + size < MAX_SIZE)  # top
        emit(i - nbr_size, j + k, same_face & (i - size >= 0))  # left
        emit(i + size, j + k, same_face & (i + size < MAX_SIZE))  # right
        if k >= size:
            break
        k += nbr_size
    return np.concatenate(rows), np.concatenate(outs)
