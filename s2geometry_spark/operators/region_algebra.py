"""Composite regions (S2RegionUnion / S2RegionIntersection) as dataflow.

The reference composes regions lazily (`s2region_union.h:36-73`,
`s2region_intersection.h:37-76`): Contains = any/all members,
GetCovering falls out of MayIntersect during the coverer's subdivision.
In a dataflow engine the same composition lives at the COVERING level —
S2CellUnion coverage identities make the composed covering exact with
no re-subdivision:

* covering(A ∪ B)  = Normalize(covA + covB)        (exact coverage union,
  `s2cell_union.cc:241-259` GetUnion)
* covering(A ∩ B) ⊇ A ∩ B via covA ∩ covB          (GetIntersection,
  `s2cell_union.cc:300-334` — cell-exact: the leaf set of the result is
  exactly leaf(covA) ∩ leaf(covB))
* covA \\ covB via GetDifference                   (`s2cell_union.cc:424-452`,
  recursive subdivision, leaf-exact)

Because all three are LEAF-EXACT set operations on coverage, membership
of a level-30 point in the composed union obeys pure boolean algebra
over the member coverings — which is what the DuckDB oracle replays
(in-A OR/AND/AND-NOT in-B over per-level literal IN-lists), making the
oracle an independent check of the set-op kernels
themselves, not a replay of them.

Scale shape: the coverings arrive as a driver dict of a few dozen cells
each, so every (pair, mode) is composed on the driver.  The point
membership count is then ONE scan of the points' cells
(a stab of the leaf-interval table of every composed covering,
kernels/leafintervals, the S2CellIteratorJoin shape) summing hits per
composite — no explode, no join, no shuffle, nothing cached.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import cellid, cellunion, leafintervals

MODES = ("union", "intersection", "difference")


def _compose(a: np.ndarray, b: np.ndarray, mode: str) -> np.ndarray:
    if mode == "union":
        return cellunion.normalize(cellunion.union(a, b))
    if mode == "intersection":
        return cellunion.intersection(a, b)
    return cellunion.difference(a, b)


def composite_region_join(
    spark: SparkSession,
    points: DataFrame,
    coverings: dict[str, "np.ndarray"],
    cell: str = "cell",
    modes: tuple[str, ...] = MODES,
) -> DataFrame:
    """Per unordered region pair and mode: the number of points inside
    the COMPOSED region's covering.  Returns (rid_a, rid_b, mode,
    n_points) for every pair x mode, zeros included (an empty
    intersection is a result, not an absence)."""
    keys = [
        (ra, rb, mode)
        for ra, rb in itertools.combinations(sorted(coverings), 2)
        for mode in modes
    ]
    table = leafintervals.of_coverings(
        [
            _compose(
                np.asarray(coverings[ra], np.uint64),
                np.asarray(coverings[rb], np.uint64),
                mode,
            )
            for ra, rb, mode in keys
        ]
    )

    def scan(batches):
        n = np.zeros(len(keys), np.int64)
        for pdf in batches:
            leaf = cellid.from_biased(pdf[cell].to_numpy(np.int64))
            rg = leafintervals.expand(table, *leafintervals.stab(table, leaf))[1]
            n += np.bincount(rg, minlength=len(keys))
        yield pd.DataFrame({"g": np.arange(len(keys)), "n": n})

    part = points.select(cell).mapInPandas(scan, "g long, n long").toPandas()
    n = np.zeros(len(keys), np.int64)
    np.add.at(n, part["g"].to_numpy(np.int64), part["n"].to_numpy(np.int64))
    return spark.createDataFrame(
        pd.DataFrame(keys, columns=["rid_a", "rid_b", "mode"]).assign(n_points=n),
        "rid_a string, rid_b string, mode string, n_points long",
    )


def composite_region_oracle_parts(
    coverings: dict[str, "np.ndarray"],
    parent_sql_expr,
    leaf_col: str = "cell_leaf",
    modes: tuple[str, ...] = MODES,
) -> list[str]:
    """Per (pair, mode) SELECT fragments over a CTE ``leaf`` holding the
    encoded leaf id: membership as boolean algebra of per-region
    per-level IN-lists — independent of the engine's set-op kernels."""

    def member_pred(rid: str) -> str:
        arr = np.asarray(coverings[rid], np.uint64)
        by_level: dict[int, list[int]] = {}
        for v, lv in zip(
            cellid.to_biased(arr).tolist(), cellid.level(arr).tolist()
        ):
            by_level.setdefault(int(lv), []).append(int(v))
        preds = [
            f"{parent_sql_expr(leaf_col, lv)} IN ({','.join(str(c) for c in cells)})"
            for lv, cells in sorted(by_level.items())
        ]
        return "(" + " OR ".join(preds) + ")"

    combine = {
        "union": "{a} OR {b}",
        "intersection": "{a} AND {b}",
        "difference": "{a} AND NOT {b}",
    }
    parts = []
    for ra, rb in itertools.combinations(sorted(coverings), 2):
        pa, pb = member_pred(ra), member_pred(rb)
        for mode in modes:
            pred = combine[mode].format(a=pa, b=pb)
            parts.append(
                f"SELECT '{ra}' AS rid_a, '{rb}' AS rid_b, '{mode}' AS mode, "
                f"CAST(count(CASE WHEN {pred} THEN 1 END) AS BIGINT) AS n_points "
                f"FROM leaf"
            )
    return parts
