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
oracle an independent check of the distributed set-op kernels
themselves, not a replay of them.

Scale shape: the composition runs as ONE applyInPandas over (pair,
mode) groups of a few dozen covering cells each — shuffle size is
O(pairs x max_cells), never the fact table.  The point-membership join
is the S2CellIteratorJoin shape:
one scan of the points exploding (level, parent) pairs for only the
levels present in any composed covering, one broadcast equi-join, and a
count — normalized unions are disjoint, so no dedup exists anywhere.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import cellid, cellunion
from .. import functions as s2f

MODES = ("union", "intersection", "difference")


def _compose_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    rid_a, rid_b, mode = key
    a = cellid.from_biased(
        pdf.loc[pdf["side"] == "a", "cell"].to_numpy(np.int64)
    )
    b = cellid.from_biased(
        pdf.loc[pdf["side"] == "b", "cell"].to_numpy(np.int64)
    )
    if mode == "union":
        comp = cellunion.normalize(cellunion.union(a, b))
    elif mode == "intersection":
        comp = cellunion.intersection(a, b)
    else:
        comp = cellunion.difference(a, b)
    return pd.DataFrame(
        {
            "rid_a": rid_a,
            "rid_b": rid_b,
            "mode": mode,
            "cell": cellid.to_biased(comp).astype(np.int64),
            "level": cellid.level(comp).astype(np.int32),
        }
    )


def composite_region_join(
    spark: SparkSession,
    points: DataFrame,
    coverings: dict[str, "np.ndarray"],
    point_id: str = "pid",
    cell: str = "cell",
    modes: tuple[str, ...] = MODES,
) -> DataFrame:
    """Per unordered region pair and mode: the number of points inside
    the COMPOSED region's covering.  Returns (rid_a, rid_b, mode,
    n_points) for every pair x mode, zeros included (an empty
    intersection is a result, not an absence)."""
    rows: list[tuple[str, str, str, str, int]] = []
    for ra, rb in itertools.combinations(sorted(coverings), 2):
        for mode in modes:
            for side, rid in (("a", ra), ("b", rb)):
                arr = np.asarray(coverings[rid], np.uint64)
                for c in cellid.to_biased(arr).tolist():
                    rows.append((ra, rb, mode, side, int(c)))
    sides = spark.createDataFrame(
        rows, schema="rid_a string, rid_b string, mode string, side string, cell long"
    )
    composed = (
        sides.groupBy("rid_a", "rid_b", "mode")
        .applyInPandas(
            _compose_group,
            schema="rid_a string, rid_b string, mode string, cell long, level int",
        )
        .persist()
    )
    # the distinct composed levels: a bounded scalar collect (<= 31 ints)
    levels = sorted(
        r.level for r in composed.select("level").distinct().collect()
    )
    all_pairs = sides.select("rid_a", "rid_b", "mode").distinct()
    if not levels:  # every composition empty — all-zero counts
        return all_pairs.select(
            "rid_a", "rid_b", "mode", F.lit(0).cast("long").alias("n_points")
        )
    parents = F.array(
        *[
            F.struct(
                F.lit(lv).cast("int").alias("level"),
                s2f.parent_expr(cell, lv).alias("pcell"),
            )
            for lv in levels
        ]
    )
    exploded = points.select(point_id, F.explode(parents).alias("p")).select(
        point_id,
        F.col("p.level").alias("level"),
        F.col("p.pcell").alias("cell"),
    )
    counts = (
        exploded.join(F.broadcast(composed), ["level", "cell"])
        .groupBy("rid_a", "rid_b", "mode")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return all_pairs.join(counts, ["rid_a", "rid_b", "mode"], "left").select(
        "rid_a",
        "rid_b",
        "mode",
        F.coalesce(F.col("n_points"), F.lit(0)).cast("long").alias("n_points"),
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
