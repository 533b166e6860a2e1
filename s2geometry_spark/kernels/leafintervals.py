"""Labelled cells as disjoint, owned leaf intervals: S2CellIndex's
decomposition (s2cell_index.h:34-110) for driver-sized tables.

Interval ``j`` of a table ``(lo, hi, offs, owners)`` holds the leaves
``lo[j]..hi[j]`` (sorted, disjoint, only those some cell covers) and is
owned by ``owners[offs[j]:offs[j+1]]``, distinct and ascending.  A lookup
is one search (``stab`` for leaves, ``overlap`` for leaf ranges), then
``expand`` to (row, owner) pairs: distinct ones, for a stab, by row, then
owner, however the cells of one owner nest.
"""

from __future__ import annotations

import numpy as np

from . import cellid


def _runs(start: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(run, position)``: run ``i`` at ``start[i] .. start[i] + cnt[i] - 1``."""
    run = np.repeat(np.arange(len(cnt)), cnt)
    return run, np.arange(len(run)) + np.repeat(start - (np.cumsum(cnt) - cnt), cnt)


def build(cells: np.ndarray, labels: np.ndarray):
    """The table ``(lo, hi, offs, owners)`` of ``cells`` (uint64 ids of any
    levels, overlapping and repeated ones included), cell ``i`` owned by
    the non-negative ``labels[i]``."""
    labels = np.asarray(labels, np.int64)
    first = cellid.range_min(cells)
    end = cellid.range_max(cells) + np.uint64(1)  # face 5's last leaf + 1 still fits
    bounds = np.unique(np.concatenate([first, end]))
    # elementary interval j is bounds[j] .. bounds[j + 1] - 1
    start = np.searchsorted(bounds, first)
    cell, iv = _runs(start, np.searchsorted(bounds, end) - start)
    m = int(labels.max()) + 1 if len(labels) else 1
    iv, owners = np.divmod(np.unique(iv * m + labels[cell]), m)
    owned, offs = np.unique(iv, return_index=True)
    return bounds[owned], bounds[owned + 1] - np.uint64(1), np.append(offs, len(iv)), owners


def of_coverings(coverings: list[np.ndarray]):
    """The table of a list of cell sets, each owned by its position."""
    covs = [np.asarray(c, np.uint64) for c in coverings]
    labels = np.repeat(np.arange(len(covs)), [len(c) for c in covs])
    return build(np.concatenate([np.empty(0, np.uint64), *covs]), labels)


def stab(table, leaves: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(row, interval)`` of each of the ``leaves`` in an interval, rows ascending."""
    pos = np.searchsorted(table[0], leaves, "right") - 1
    # a leaf before the first interval (pos -1) meets the appended 0
    row = np.nonzero(leaves <= np.append(table[1], np.uint64(0))[pos])[0]
    return row, pos[row]


def overlap(table, rmin: np.ndarray, rmax: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(row, interval)`` for every interval that meets the leaf range
    ``rmin[row]..rmax[row]``, by row, then interval."""
    first = np.searchsorted(table[1], rmin, "left")
    return _runs(first, np.searchsorted(table[0], rmax, "right") - first)


def owner_counts(table, iv: np.ndarray) -> np.ndarray:
    """The number of owners of each interval ``iv``."""
    return table[2][iv + 1] - table[2][iv]


def expand(table, row: np.ndarray, iv: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(row, owner)``: each pair's row with every owner of its interval,
    in the pairs' order, owners ascending within a pair."""
    run, pos = _runs(table[2][iv], owner_counts(table, iv))
    return row[run], table[3][pos]


def restrict(table, keep: np.ndarray):
    """The table with only the owners ``keep`` marks (a bool per owner);
    an interval left without owners stays, empty."""
    lo, hi, offs, owners = table
    m = keep[owners]
    return lo, hi, np.r_[0, np.cumsum(m)][offs], owners[m]
