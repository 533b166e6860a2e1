"""S2CellIndex range decomposition (operators/cell_index.py).

Parity target: s2cell_index.h RangeIterator/NonEmptyRangeIterator/
ContentsIterator semantics — non-overlapping leaf ranges subdividing
the indexed region, each carrying the exact set of (cell, label) pairs
that intersect it.  The brute force below rebuilds the range table
from first principles in NumPy (sorted boundary multiset + interval
stabbing), independently of the two-level distributed lead and the
ancestor equi-join the operator uses.
"""

import numpy as np
import pandas as pd

from s2geometry_spark.kernels import cellid
from s2geometry_spark.operators.cell_index import (
    BASE_LEVEL,
    LEVEL_SPAN,
    N_LABELS,
    cell_index_ranges,
)
from tests.conftest import SF_TEST, load_entry


def _points(spark):
    mod = load_entry()
    return mod._order_points(spark, SF_TEST)


def _brute_force(pids: np.ndarray, cells_biased: np.ndarray) -> pd.DataFrame:
    raw = cellid.from_biased(cells_biased)
    label = pids % N_LABELS
    lv = BASE_LEVEL + (label % LEVEL_SPAN)
    parents = np.empty_like(raw)
    for l in np.unique(lv):
        m = lv == l
        parents[m] = cellid.parent(raw[m], int(l))
    tab = pd.DataFrame(
        {"label": label, "lv": lv, "cid_raw": parents.astype(np.uint64)}
    ).drop_duplicates()
    rmin = cellid.range_min(tab["cid_raw"].to_numpy(np.uint64))
    rmax = cellid.range_max(tab["cid_raw"].to_numpy(np.uint64))
    bounds = np.unique(np.concatenate([rmin, rmax + np.uint64(2)]))
    rows = []
    for i in range(len(bounds) - 1):
        s, e = bounds[i], bounds[i + 1]
        hit = (rmin <= s) & (s <= rmax)
        for j in np.nonzero(hit)[0]:
            rows.append(
                (
                    int(cellid.to_biased(np.array([s], np.uint64))[0]),
                    int(cellid.to_biased(np.array([e], np.uint64))[0]),
                    int(
                        cellid.to_biased(
                            tab["cid_raw"].to_numpy(np.uint64)[j : j + 1]
                        )[0]
                    ),
                    int(tab["label"].iloc[j]),
                    int(tab["lv"].iloc[j]),
                )
            )
    return pd.DataFrame(
        rows, columns=["range_start", "range_limit", "cell", "label", "lv"]
    )


def test_matches_brute_force(spark):
    pts = _points(spark)
    got = (
        cell_index_ranges(pts)
        .toPandas()
        .sort_values(["range_start", "label"])
        .reset_index(drop=True)
    )
    src = pts.select("pid", "cell").toPandas()
    want = (
        _brute_force(
            src["pid"].to_numpy(np.int64), src["cell"].to_numpy(np.int64)
        )
        .sort_values(["range_start", "label"])
        .reset_index(drop=True)
    )
    # brute force keeps empty gaps out too (inner stabbing loop emits
    # nothing for them), so the frames must be identical
    got["lv"] = got["lv"].astype(np.int64)
    want["lv"] = want["lv"].astype(np.int64)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_range_invariants(spark):
    """RangeIterator contract: ranges sorted, non-overlapping, start<limit,
    contents unique per (range,label), every content cell really
    intersects its range."""
    got = cell_index_ranges(_points(spark)).toPandas()
    assert (got["range_start"] < got["range_limit"]).all()
    r = got[["range_start", "range_limit"]].drop_duplicates().sort_values("range_start")
    assert (r["range_start"].to_numpy()[1:] >= r["range_limit"].to_numpy()[:-1]).all()
    assert not got.duplicated(["range_start", "label"]).any()
    raw_cell = cellid.from_biased(got["cell"].to_numpy(np.int64))
    raw_start = cellid.from_biased(got["range_start"].to_numpy(np.int64))
    assert (cellid.range_min(raw_cell) <= raw_start).all()
    assert (raw_start <= cellid.range_max(raw_cell)).all()
