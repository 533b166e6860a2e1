"""Spark SQL surface: vectorized pandas/Arrow UDFs over the NumPy kernels,
plus pure-SQL (JVM codegen) expressions for the cell-id bit algebra.

Design rule (SURVEY.md §4.3): Python crosses the boundary only for the
numerically delicate encode/decode kernels; everything that is integer bit
math on the biased int64 cell id (parent, range_min/max, containment
predicates) stays in Spark SQL built-ins so Catalyst can push it down and
whole-stage-codegen it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, LongType, StringType

from ..kernels import cellid, geotag

MAX_LEVEL = 30


# ---------- pandas UDFs (Arrow-vectorized NumPy kernels) ----------


@pandas_udf(LongType())
def cell_from_xyz(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    """Leaf cell id (biased int64) from a direction vector."""
    ids = cellid.from_xyz(x.to_numpy(np.float64), y.to_numpy(np.float64), z.to_numpy(np.float64))
    return pd.Series(cellid.to_biased(ids))


@pandas_udf(LongType())
def cell_from_triplet(x0: pd.Series, y0: pd.Series, z0: pd.Series) -> pd.Series:
    """Leaf cell id (biased) from the exact integer triplet geotag."""
    x, y, z = geotag.xyz_from_triplet(
        x0.to_numpy(np.int64), y0.to_numpy(np.int64), z0.to_numpy(np.int64)
    )
    return pd.Series(cellid.to_biased(cellid.from_xyz(x, y, z)))


@pandas_udf(StringType())
def cell_token(biased: pd.Series) -> pd.Series:
    ids = cellid.from_biased(biased.to_numpy(np.int64))
    return pd.Series(cellid.to_token(ids), dtype="object")


@pandas_udf(IntegerType())
def cell_level(biased: pd.Series) -> pd.Series:
    return pd.Series(cellid.level(cellid.from_biased(biased.to_numpy(np.int64))).astype(np.int32))


# ---------- pure-SQL bit algebra on biased int64 ids (JVM codegen) ----------


def _lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def parent_expr(cell_col: str | Column, level: int) -> Column:
    """parent(level) on a biased int64 — pure integer SQL, codegen-friendly.

    Clearing the low bits of the unsigned id == subtracting the positive
    modulus in the biased domain (2^(2*(30-level)+1) divides 2^63, so the
    bias shifts every residue class identically).
    """
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    lsb = _lsb_for_level(level)
    m = 2 * lsb
    return (c - F.pmod(c, F.lit(m)) + F.lit(lsb)).cast(LongType())


def range_min_expr(cell_col: str | Column, level: int) -> Column:
    """range_min of a *level-`level`* biased cell id (leaf interval start)."""
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    return (c - F.lit(_lsb_for_level(level) - 1)).cast(LongType())


def range_max_expr(cell_col: str | Column, level: int) -> Column:
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    return (c + F.lit(_lsb_for_level(level) - 1)).cast(LongType())


def chord2_expr(x1, y1, z1, x2, y2, z2) -> Column:
    """Squared chord distance — the S1ChordAngle length2 (s1chord_angle.h).

    Association order pinned to ((dx²+dy²)+dz²) to match the NumPy kernels
    and the DuckDB oracle bit-for-bit.
    """
    dx, dy, dz = x1 - x2, y1 - y2, z1 - z2
    return (dx * dx + dy * dy) + dz * dz
