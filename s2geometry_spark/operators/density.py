"""Density-driven skew handling: the S2DensityTree idea as DataFrames.

S2DensityTree (s2density_tree.h:16-40) is a cell -> weight histogram used
to shard skewed spatial data into equal-weight pieces.  Its distributed
re-expression is a groupBy-count at coarse cell levels; the measured
density then drives TWO mechanisms required by the north rule ("explicit
salting/repartition-by-cell-prefix"):

1. repartition_by_cell_prefix — range/hash partition the fact table on a
   coarse tiling column so per-partition NumPy kernels see co-located
   Hilbert ranges (the S2RegionSharder role, s2region_sharder.h:15-80).

2. salting — hot tiles (dense cities at 10^12 rows) are split into
   `salt` sub-keys sized from MEASURED density, aggregated in two phases
   (partial per (cell,salt), final per cell).  AQE's skew-join splitting
   cannot do this for aggregations keyed on the cell id itself, which is
   exactly the hot path of per-tile rollups.

All exprs are pure SQL (codegen); the only data-dependent piece is the
small salt-factor map, broadcast as a literal CASE/MapType expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as s2f


def measure_density(df: DataFrame, level: int, cell: str = "cell") -> DataFrame:
    """The density tree at one level: (cell_lvl, cnt)."""
    return df.groupBy(s2f.parent_expr(cell, level).alias("cell_lvl")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def salt_factors(
    density: DataFrame, rows_per_task: int, max_salt: int = 64
) -> dict[int, int]:
    """cell_lvl -> salt fan-out for every tile denser than rows_per_task.

    Driver-side collect is safe: the density table has at most
    4^level * 6 rows (level 5 => ~6k) regardless of fact-table size.
    """
    hot = density.where(F.col("cnt") > rows_per_task).collect()
    return {
        int(r.cell_lvl): min(max_salt, int(-(-int(r.cnt) // rows_per_task)))
        for r in hot
    }


def salt_expr(cell_lvl_col, leaf_cell_col, factors: dict[int, int]):
    """Pure-SQL salt: pmod(xxhash64(leaf_cell), factor_of(cell_lvl));
    0 for cold tiles.

    The leaf id is hashed first because raw S2 leaf ids have structured
    low bits (always odd: the trailing-1 level marker), so pmod on the
    raw id collapses to one salt value.  Deriving the salt from the leaf
    id (not a random number) keeps runs deterministic and resume-safe.
    """
    if not factors:
        return F.lit(0)
    mapping = F.create_map(
        *[F.lit(v) for kv in factors.items() for v in kv]
    )
    factor = F.coalesce(mapping[cell_lvl_col], F.lit(1))
    return F.pmod(F.xxhash64(leaf_cell_col), factor)


def repartition_by_cell_prefix(
    df: DataFrame,
    level: int,
    cell: str = "cell",
    factors: dict[int, int] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Repartition on (cell prefix, measured salt): co-locates Hilbert
    ranges while splitting hot tiles across executors."""
    prefix = s2f.parent_expr(cell, level).alias("_prefix")
    salt = salt_expr(s2f.parent_expr(cell, level), F.col(cell), factors or {})
    if num_partitions:
        return df.repartition(num_partitions, prefix, salt)
    return df.repartition(prefix, salt)


def tile_counts_salted(
    df: DataFrame, level: int, cell: str = "cell", factors: dict[int, int] | None = None
) -> DataFrame:
    """Per-tile counts with explicit two-phase salted aggregation.

    Phase 1 shuffles on (cell, salt) — hot tiles spread over `factor`
    reducers; phase 2 merges the (few) partials per tile.  Result is
    IDENTICAL to the unsalted groupBy (tested), only the shuffle shape
    differs.
    """
    key = s2f.parent_expr(cell, level).alias(f"cell_l{level}")
    salt = salt_expr(s2f.parent_expr(cell, level), F.col(cell), factors or {}).alias("_salt")
    partial = df.groupBy(key, salt).agg(F.count(F.lit(1)).alias("_cnt"))
    return partial.groupBy(f"cell_l{level}").agg(F.sum("_cnt").alias("cnt"))
