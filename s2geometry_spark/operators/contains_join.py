"""Spatial containment join: points x regions in ONE scan of the points.

S2RegionTermIndexer (s2region_term_indexer.cc:23-72) matches a point to a
region when the point's leaf cell lies in a cell of the region's
covering.  With the region set small enough for the driver, that lookup
needs no join at all.

Plan shape: one ``mapInPandas`` over ``(point_id, cell, x, y, z)``.

  driver:  canonical coverings (RegionCoverer port, or precomputed)
           -> one sorted table of covering cells, each with the regions
              that own it (CSR), plus the distinct covering levels;
              shipped in the UDF closure with the regions' loops
  scan:    per Arrow batch, each leaf cell's parent at every covering
           level -> ``np.searchsorted`` into the table -> candidate
           (row, region) pairs, de-duplicated in the batch
           -> the crossing-parity kernel once per region -> pairs

No explode, no broadcast join, no shuffle, and one Python crossing: the
plan is a single stage whatever the number of regions, overlapping ones
included.  ``cell_union_contains_join`` is the same scan without the
refinement.  ``cap_join`` and ``rect_join`` take the scan's candidates
(``exact=False``) and refine them with a SQL predicate instead.  Only
``big_polygon_join``, whose regions are a table rather than a driver
dict, keeps the term-indexer equi-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import functions as s2f
from ..kernels import cellid
from ..kernels.coverer import CovererOptions, RegionCoverer

# S2RegionTermIndexer defaults (s2region_term_indexer.h)
DEFAULT_MIN_LEVEL = 4
DEFAULT_MAX_LEVEL = 16
DEFAULT_LEVEL_MOD = 1
DEFAULT_MAX_CELLS = 8


class RegionIndex:
    """Driver-side index of a (broadcast-scale) region set: a canonical
    covering per region (``coverings``) for the scan's cell lookup, and
    the region objects (``regions``) for the exact refinement kernel.
    ``contains_join``, ``cap_join`` and ``rect_join`` match points to it
    per input row, so a point id that repeats can repeat a pair."""

    def __init__(
        self,
        regions: dict[str, object],
        min_level: int = DEFAULT_MIN_LEVEL,
        max_level: int = DEFAULT_MAX_LEVEL,
        level_mod: int = DEFAULT_LEVEL_MOD,
        max_cells: int = DEFAULT_MAX_CELLS,
        coverings: dict[str, np.ndarray] | None = None,
    ):
        """``coverings`` may supply a precomputed covering per region
        (must COVER the region, e.g. a cell raster the region was traced
        from); regions without one are covered by the RegionCoverer."""
        self.regions = regions
        coverer = RegionCoverer(
            CovererOptions(
                max_cells=max_cells,
                min_level=min_level,
                max_level=max_level,
                level_mod=level_mod,
            )
        )
        pre = coverings or {}
        self.coverings: dict[str, np.ndarray] = {
            rid: (
                np.sort(np.asarray(pre[rid], np.uint64))
                if rid in pre
                else coverer.get_covering(region)
            )
            for rid, region in regions.items()
        }


def _loops_of(region):
    from ..kernels.regions import Loop, Polygon

    if isinstance(region, Polygon):
        return region.loops
    if isinstance(region, Loop):
        return [region]
    raise TypeError(f"refinement requires Loop/Polygon, got {type(region)}")


def cap_join(
    spark: SparkSession,
    points: DataFrame,
    caps: dict[str, object],
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
    **index_opts,
) -> DataFrame:
    """within-distance join: all (point, cap) pairs with the point inside
    the spherical cap, as ``(point_id, poly_id)``.  Candidates are
    ``contains_join``'s covering lookup (``exact=False``, one scan, no
    shuffle); refinement is a pure SQL chord^2 test (JVM codegen, no
    Python) against the cap constants.  Pairs come per input row, as in
    ``contains_join``: a repeated point id can repeat a pair."""
    index = RegionIndex(caps, **index_opts)
    cand = contains_join(spark, points, index, point_id, cell, xyz, exact=False)
    x, y, z = xyz
    # refinement predicate: one CASE over the (few) caps — constant-folded
    expr = None
    for rid, cap in caps.items():
        cx, cy, cz = (float(v) for v in cap.center)
        pred = (
            s2f.chord2_expr(
                F.col(x), F.col(y), F.col(z), F.lit(cx), F.lit(cy), F.lit(cz)
            )
            <= F.lit(float(cap.radius2))
        ) & (F.col("poly_id") == rid)
        expr = pred if expr is None else (expr | pred)
    return cand.where(expr).select(point_id, "poly_id")


def rect_join(
    spark: SparkSession,
    points: DataFrame,
    rects: dict[str, object],
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
    **index_opts,
) -> DataFrame:
    """S2LatLngRect::Contains(S2Point) as a distributed join
    (s2latlng_rect.cc:248-262, tested throughout s2latlng_rect_test.cc),
    including antimeridian-wrapping and full-longitude polar rects.

    Candidates via the same covering lookup as cap_join, with pairs per
    input row as there; refinement is pure SQL (JVM codegen, no Python)
    and avoids atan2 (bit-portability): latitude via the monotone
    z = sin(lat) bounds, longitude via the two meridian half-plane
    signs — exact for spans <= pi, which covers every rect a
    coverer-backed join should broadcast (wider rects belong in a
    cell-union join)."""
    import math

    index = RegionIndex(rects, **index_opts)
    cand = contains_join(spark, points, index, point_id, cell, xyz, exact=False)
    x, y, z = xyz
    expr = None
    for rid, rect in rects.items():
        pred = (F.col(z) >= F.lit(math.sin(rect.lat.lo))) & (
            F.col(z) <= F.lit(math.sin(rect.lat.hi))
        )
        if not rect.lng.is_full():
            if rect.lng.get_length() > math.pi:
                raise ValueError(f"rect_join: lng span > pi for {rid!r}")
            lo, hi = rect.lng.lo, rect.lng.hi
            pred = pred & (
                F.col(y) * F.lit(math.cos(lo)) - F.col(x) * F.lit(math.sin(lo))
                >= F.lit(0.0)
            )
            pred = pred & (
                F.col(x) * F.lit(math.sin(hi)) - F.col(y) * F.lit(math.cos(hi))
                >= F.lit(0.0)
            )
        pred = pred & (F.col("poly_id") == rid)
        expr = pred if expr is None else (expr | pred)
    return cand.where(expr).select(point_id, "poly_id")


def cell_union_contains_join(
    spark: SparkSession,
    points: DataFrame,
    unions: dict[str, "np.ndarray"],
    point_id: str = "pid",
    cell: str = "cell",
) -> DataFrame:
    """S2CellUnion::Contains as a distributed join (s2cell_union.cc:285-308
    re-expressed): all (point, region) pairs whose leaf cell lies inside
    the region's covering cell union, as ``(point_id, region_id)``.

    Plan: the same single ``mapInPandas`` scan as ``contains_join`` with
    ``exact=False`` (the cell lookup of ``_cell_hits``), reading only
    ``(point_id, cell)``.  No explode, no join, no shuffle.
    """
    table = _cell_table(list(unions.values()))
    rids = np.array(list(unions), dtype=object)
    schema = StructType(
        [
            StructField(point_id, points.schema[point_id].dataType),
            StructField("region_id", StringType()),
        ]
    )

    def scan(batches):
        for pdf in batches:
            row, rg = _cell_hits(cellid.from_biased(pdf[cell].to_numpy(np.int64)), table)
            yield pd.DataFrame({point_id: pdf[point_id].to_numpy()[row], "region_id": rids[rg]})

    return points.select(point_id, cell).mapInPandas(scan, schema)


def contains_semi_join(
    spark: SparkSession, points: DataFrame, index: RegionIndex, point_id: str = "pid", **kw
) -> DataFrame:
    """Points contained by AT LEAST one region (left_semi on the pair set)."""
    pairs = contains_join(spark, points, index, point_id=point_id, **kw)
    return points.select(point_id).join(pairs, point_id, "left_semi")


def contains_anti_join(
    spark: SparkSession, points: DataFrame, index: RegionIndex, point_id: str = "pid", **kw
) -> DataFrame:
    """Points contained by NO region (left_anti) — e.g. "images outside
    every sensitive zone"."""
    pairs = contains_join(spark, points, index, point_id=point_id, **kw)
    return points.select(point_id).join(pairs, point_id, "left_anti")


def _cell_table(coverings: list[np.ndarray]):
    """Sorted covering-cell -> region CSR ``(levels, keys, offs, reg)``:
    the regions owning covering cell ``keys[j]`` are
    ``reg[offs[j]:offs[j+1]]`` (positions in ``coverings``), and
    ``levels`` are the distinct levels of the keys."""
    covs = [np.asarray(c, np.uint64) for c in coverings]
    cells = np.concatenate([np.empty(0, np.uint64), *covs])
    reg = np.repeat(np.arange(len(covs), dtype=np.int64), [len(c) for c in covs])
    order = np.lexsort((reg, cells))
    cells, reg = cells[order], reg[order]
    keys, starts = np.unique(cells, return_index=True)
    levels = np.unique(cellid.level(keys)).tolist()
    return levels, keys, np.append(starts, len(cells)), reg


def _cell_hits(leaf: np.ndarray, table) -> tuple[np.ndarray, np.ndarray]:
    """Distinct ``(row, region)`` pairs whose leaf cell lies in one of the
    region's covering cells: each leaf's parent at every covering level,
    looked up in ``_cell_table``'s keys by ``np.searchsorted``.  Sorted by
    row, then region."""
    levels, keys, offs, reg = table
    n_reg = int(reg.max()) + 1 if len(reg) else 1
    pair = [np.empty(0, np.int64)]
    for lv in levels:
        par = cellid.parent(leaf, lv)
        pos = np.minimum(np.searchsorted(keys, par), len(keys) - 1)
        hit = np.nonzero(keys[pos] == par)[0]
        lo = offs[pos[hit]]
        cnt = offs[pos[hit] + 1] - lo
        off = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        pair.append(np.repeat(hit, cnt) * n_reg + reg[np.repeat(lo, cnt) + off])
    # a row meets a region once, however many of its cells hold it
    pair = np.unique(np.concatenate(pair))
    return pair // n_reg, pair % n_reg


def contains_join(
    spark: SparkSession,
    points: DataFrame,
    index: RegionIndex,
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
    exact: bool = True,
) -> DataFrame:
    """All (point, region) pairs where the region contains the point:
    ``(point_id, poly_id)``, the id column keeping the input's type.

    ``exact=False`` returns the candidate set instead, as
    ``(point_id, x, y, z, poly_id)``: the pairs whose leaf cell lies in a
    cell of the region's covering, with no parity refinement — what
    S2CellIndex-style queries give.

    Pairs are found per input row, so the output is the distinct
    (point id, region) pairs when point ids are unique.  Rows that repeat
    an id each contribute their own pairs: the same pair can then appear
    more than once (``dropDuplicates`` restores a set).
    """
    table = _cell_table(list(index.coverings.values()))
    rids = np.array(list(index.coverings), dtype=object)
    loops = [_loops_of(index.regions[rid]) for rid in rids] if exact else []
    payload = [
        ([np.asarray(lp.vertices) for lp in ls], [bool(lp.origin_inside) for lp in ls])
        for ls in loops
    ]
    x, y, z = xyz
    keep_cols = [point_id] if exact else [point_id, x, y, z]
    schema = StructType(
        [StructField(c, points.schema[c].dataType) for c in keep_cols]
        + [StructField("poly_id", StringType())]
    )

    def scan(batches):
        from ..kernels import predicates

        for pdf in batches:
            row, rg = _cell_hits(cellid.from_biased(pdf[cell].to_numpy(np.int64)), table)
            if exact:
                P = pdf[[x, y, z]].to_numpy(np.float64)
                inside = np.zeros(len(row), dtype=bool)
                for g in np.unique(rg):
                    m = rg == g
                    verts, flags = payload[g]
                    inside[m] = predicates.polygon_contains_points(verts, flags, P[row[m]])
                row, rg = row[inside], rg[inside]
            out = {c: pdf[c].to_numpy()[row] for c in keep_cols}
            out["poly_id"] = rids[rg]
            yield pd.DataFrame(out)

    return points.select(point_id, cell, *xyz).mapInPandas(scan, schema)
