"""Tiling operators: leaf cell-id assignment + cell-at-level columns.

The leaf encode is the only Python-boundary crossing (vectorized pandas
UDF); every derived tiling column is pure integer SQL (parent_expr) so it
stays inside whole-stage codegen and is usable for partition pruning.
At design scale the `cell_l{k}` column is the Iceberg partition/sort key
(SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import functions as s2f


# ---------- portable 64-bit string hash (Spark == DuckDB, bit-exact) ----------
#
# xxhash64 is Spark-only, so every operator that must be ORACLE-CHECKABLE
# hashes strings via md5 (available in both engines) and recomposes the
# first 16 hex chars into a signed 64-bit integer:
#   hi32 = int(hex[0:8]), lo32 = int(hex[8:16]); h = (hi32 << 32) + lo32
# Spark's shiftleft wraps into the sign bit (no ANSI overflow) and DuckDB
# gets the same two's-complement value via an explicit signed fold.


def md5_h64(c: Column) -> Column:
    """Signed 64-bit hash of a string column from its md5 (portable)."""
    hx = F.md5(c)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32) + lo


def md5_h64_sql(expr: str) -> str:
    """DuckDB SQL for the identical signed 64-bit md5 hash."""
    hi = f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"
    lo = f"(('0x' || substr(md5({expr}), 9, 8))::BIGINT)"
    return (
        f"((CASE WHEN {hi} >= 2147483648 THEN {hi} - 4294967296 ELSE {hi} END)"
        f" * 4294967296 + {lo})"
    )


def md5_h32(c: Column) -> Column:
    """Unsigned 32-bit md5-derived hash (always fits int64)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_h32_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def with_cell_from_triplet(
    df: DataFrame, x0: str = "x0", y0: str = "y0", z0: str = "z0", out: str = "cell"
) -> DataFrame:
    return df.withColumn(out, s2f.cell_from_triplet(F.col(x0), F.col(y0), F.col(z0)))


def triplet_exprs(key_col: str) -> list[Column]:
    """Spark columns for the exact integer geotag of an integer key column.

    Mirrors kernels.geotag.int_triplet_from_key / sql_xyz_exprs — pure
    integer SQL, identical in DuckDB.
    """
    from ..kernels.geotag import sql_xyz_exprs

    e = sql_xyz_exprs(key_col)
    return [
        F.expr(e["x0"]).alias("x0"),
        F.expr(e["y0"]).alias("y0"),
        F.expr(e["z0"]).alias("z0"),
    ]


def tile_counts(df: DataFrame, level: int, cell: str = "cell") -> DataFrame:
    """images-per-tile at one level: partial+final hash agg (SURVEY §2.8)."""
    return df.groupBy(s2f.parent_expr(cell, level).alias(f"cell_l{level}")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def tile_sample(
    df: DataFrame,
    level: int,
    k: int,
    cell: str = "cell",
    point_id: str = "pid",
    salt: str = "s2sample",
) -> DataFrame:
    """Deterministic stratified sampling: the k rows with the smallest
    portable md5-h32 hash per tile at ``level`` — spatially balanced
    subsampling for training-data pipelines, equivalent in distribution
    to uniform-without-replacement per stratum but reproducible across
    runs, retries, and cluster sizes (no RNG state).

    One shuffle on the tile key; the rank window runs per tile with
    map-side partial sort.  At skewed scale, cap per-tile group size
    upstream with the density-tree sharder (operators/density.py) — the
    sample itself is insensitive to salting because the hash order is a
    global property of the rows."""
    from pyspark.sql import Window

    tile_col = f"cell_l{level}"
    h = md5_h32(F.concat(F.lit(salt + ":"), F.col(point_id).cast("string")))
    w = Window.partitionBy(tile_col).orderBy(F.col("h"), F.col(point_id))
    return (
        df.select(s2f.parent_expr(cell, level).alias(tile_col), point_id, h.alias("h"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def per_tile_hulls(df: DataFrame, level: int, cell: str = "cell") -> DataFrame:
    """Convex hull of the points in each tile (S2ConvexHullQuery per
    group): shuffle once on the tile key, hull + area per group in NumPy.

    df needs x,y,z unit-vector columns.  Returns (cell_l{level},
    n_points, n_hull_vertices, hull_area, n_inside) where n_inside counts
    the tile's points inside-or-on the computed hull — a correct hull has
    n_inside == n_points, which is what the DuckDB oracle asserts (the
    hull construction itself is verified by kernel property tests).
    """
    import numpy as np
    import pandas as pd

    from ..kernels.convexhull import convex_hull
    from ..kernels.measures import loop_area
    from ..kernels.regions import Loop

    key = f"cell_l{level}"
    out_schema = (
        f"{key} long, n_points long, n_hull_vertices long, hull_area double, "
        "n_inside long"
    )

    def one_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[["x", "y", "z"]].to_numpy(np.float64)
        try:
            hull = convex_hull(pts)
            area = loop_area(hull) if hull.shape[0] >= 3 else 0.0
        except ValueError:  # non-hemispheric tile group (only at level 0-1)
            hull, area = pts, float("nan")
        if hull.shape[0] >= 3:
            c = hull.mean(axis=0)
            c /= np.linalg.norm(c)
            # pull exact-boundary points (the hull vertices themselves)
            # slightly toward the hull centroid to dodge boundary parity
            q = pts * (1.0 - 1e-9) + c[None, :] * 1e-9
            q /= np.linalg.norm(q, axis=1)[:, None]
            n_inside = int(Loop(hull).contains_points(q).sum())
        else:
            n_inside = len(pdf)  # degenerate hull (<=2 distinct points)
        return pd.DataFrame(
            {
                key: [int(pdf[key].iloc[0])],
                "n_points": [len(pdf)],
                "n_hull_vertices": [hull.shape[0]],
                "hull_area": [float(area)],
                "n_inside": [n_inside],
            }
        )

    with_key = df.withColumn(key, s2f.parent_expr(cell, level))
    return with_key.groupBy(key).applyInPandas(one_tile, out_schema)


def tile_rollup(df: DataFrame, levels, cell: str = "cell") -> DataFrame:
    """Multi-level tile rollup as ONE aggregation: ``(level, cell_lvl,
    cnt)`` for every requested level.

    Each row expands into its ``(level, parent(cell, level))`` tile at
    every level (pure-SQL prefix exprs, codegen) and a single
    ``groupBy().count()`` counts them — map-side partial counts, one
    shuffle.  Summing fine tiles into coarse ones (the density-tree
    ancestor property, s2density_tree.h:16-40) gives the same counts but
    needs an aggregation per level.
    """
    tiles = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(int(lvl)).alias("level"),
                    s2f.parent_expr(cell, lvl).alias("cell_lvl"),
                )
                for lvl in sorted(levels)
            ]
        )
    )
    return (
        df.select(tiles)
        .groupBy("level", "cell_lvl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
