"""Containment join against a LARGE polygon table (no broadcast).

`contains_join` (one scan looking each point's cell up in the driver's
covering table) assumes the polygon set fits on the driver — the
north-star case.  At 10^12 scale the polygon side can itself be a big
table; this operator matches points to polygons with S2's term indexer
instead, every step distributed, and is the engine's one copy of it:

1. **index terms** — each polygon's covering + ancestor terms are computed
   INSIDE a mapInPandas pass (the RegionCoverer port runs per-row in the
   executors; no driver materialization), yielding an exploded
   (term_cell, is_covering, poly_id) table — S2's own distributed-indexing
   design (s2region_term_indexer.cc:23-72).
2. **candidate join** — point query terms (pure-SQL explode) equi-join the
   term table; with a big polygon side Catalyst picks a shuffle hash join
   keyed on the term cell, AQE handling skewed hot terms.
3. **refinement** — candidates shuffle on poly_id and cogroup with the
   polygon payload; one vectorized crossing-parity batch per polygon
   group (kernels.predicates), never per-row Python.

Polygon table schema: (poly_id string, loops array<array<array<double>>>)
— loops -> vertices -> [x, y, z].
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as s2f
from ..kernels import cellid
from ..kernels.coverer import CovererOptions, RegionCoverer
from ..kernels.predicates import compute_origin_inside, polygon_contains_points
from ..kernels.regions import Loop, Polygon
from .contains_join import (
    DEFAULT_LEVEL_MOD,
    DEFAULT_MAX_CELLS,
    DEFAULT_MAX_LEVEL,
    DEFAULT_MIN_LEVEL,
)

TERM_SCHEMA = "term_cell long, is_covering boolean, poly_id string"


def polygons_to_df(spark: SparkSession, regions: dict[str, object]) -> DataFrame:
    """Helper: driver dict -> the big-table layout (for tests/fixtures)."""
    rows = []
    for rid, region in regions.items():
        loops = region.loops if isinstance(region, Polygon) else [region]
        rows.append((rid, [np.asarray(lp.vertices).tolist() for lp in loops]))
    return spark.createDataFrame(
        rows, schema="poly_id string, loops array<array<array<double>>>"
    )


def index_terms(
    covering: np.ndarray, min_level: int, level_mod: int, true_max_level: int
) -> list[tuple[int, bool]]:
    """Index terms ``(biased_cell, is_covering)`` of a canonical covering
    whose cells lie on the ``min_level``/``level_mod`` grid:
    GetIndexTermsForCanonicalCovering (s2region_term_indexer.cc:164-213),
    optimize_for_space=False."""
    out = []
    prev_id = None
    for v in covering.tolist():
        arr = np.array([v], dtype=np.uint64)
        level = int(cellid.level(arr)[0])
        b = int(cellid.to_biased(arr)[0])
        if level < true_max_level:
            out.append((b, True))  # covering term
        out.append((b, False))  # ancestor term for the cell itself
        lv = level
        while True:
            lv -= level_mod
            if lv < min_level:
                break
            anc = cellid.parent(arr, lv)
            if prev_id is not None:
                pa = np.array([prev_id], dtype=np.uint64)
                if int(cellid.level(pa)[0]) > lv and int(
                    cellid.parent(pa, lv)[0]
                ) == int(anc[0]):
                    break
            out.append((int(cellid.to_biased(anc)[0]), False))
        prev_id = v
    return out


def point_query_terms(
    df: DataFrame, min_level: int, level_mod: int, true_max_level: int, cell: str = "cell"
) -> DataFrame:
    """GetQueryTerms for points (s2region_term_indexer.cc:215-245) as pure
    SQL: one ancestor term at true_max_level + covering terms for every
    ancestor level.  Stays in whole-stage codegen; output has one row per
    (row, term) after the explode."""
    terms = [
        F.struct(
            s2f.parent_expr(cell, true_max_level).alias("term_cell"),
            F.lit(False).alias("is_covering"),
        )
    ]
    lv = true_max_level
    while lv >= min_level:
        terms.append(
            F.struct(
                s2f.parent_expr(cell, lv).alias("term_cell"),
                F.lit(True).alias("is_covering"),
            )
        )
        lv -= level_mod
    return df.withColumn("q_term", F.explode(F.array(*terms))).select(
        "*", F.col("q_term.term_cell").alias("term_cell"),
        F.col("q_term.is_covering").alias("is_covering"),
    ).drop("q_term")


def polygon_index_terms(
    polygons: DataFrame,
    min_level: int = DEFAULT_MIN_LEVEL,
    max_level: int = DEFAULT_MAX_LEVEL,
    level_mod: int = DEFAULT_LEVEL_MOD,
    max_cells: int = DEFAULT_MAX_CELLS,
) -> DataFrame:
    """(term_cell, is_covering, poly_id): coverings + ancestor terms,
    computed executor-side per Arrow batch."""

    def batches(it):
        opts = CovererOptions(
            max_cells=max_cells,
            min_level=min_level,
            max_level=max_level,
            level_mod=level_mod,
        )
        coverer = RegionCoverer(opts)
        true_max = opts.true_max_level()
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                loops = [
                    Loop(np.stack([np.asarray(v, np.float64) for v in lv]))
                    for lv in row.loops
                ]
                region = Polygon(loops) if len(loops) > 1 else loops[0]
                covering = coverer.get_covering(region)
                rows += [
                    (b, is_cov, row.poly_id)
                    for b, is_cov in index_terms(covering, min_level, level_mod, true_max)
                ]
            yield pd.DataFrame(rows, columns=["term_cell", "is_covering", "poly_id"])

    return polygons.mapInPandas(batches, TERM_SCHEMA)


def contains_join_big(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
    **index_opts,
) -> DataFrame:
    """All (point, polygon) pairs with the polygon containing the point —
    both sides arbitrarily large."""
    opts = CovererOptions(
        max_cells=index_opts.get("max_cells", DEFAULT_MAX_CELLS),
        min_level=index_opts.get("min_level", DEFAULT_MIN_LEVEL),
        max_level=index_opts.get("max_level", DEFAULT_MAX_LEVEL),
        level_mod=index_opts.get("level_mod", DEFAULT_LEVEL_MOD),
    )
    terms = polygon_index_terms(polygons, **index_opts)
    q = point_query_terms(
        points, opts.min_level, opts.level_mod, opts.true_max_level(), cell=cell
    )
    x, y, z = xyz
    cand = (
        q.join(terms, ["term_cell", "is_covering"])
        .select(point_id, x, y, z, "poly_id")
        .dropDuplicates([point_id, "poly_id"])
    )

    # refinement: cogroup candidates with polygon payloads per poly_id;
    # one parity kernel call per (polygon, batch)
    out_schema = f"{point_id} long, poly_id string"

    def refine(key, cand_pdf: pd.DataFrame, poly_pdf: pd.DataFrame):
        if len(cand_pdf) == 0 or len(poly_pdf) == 0:
            return pd.DataFrame({point_id: pd.Series(dtype="int64"),
                                 "poly_id": pd.Series(dtype="object")})
        loops = [
            np.stack([np.asarray(v, np.float64) for v in lv])
            for lv in poly_pdf.iloc[0]["loops"]
        ]
        flags = [compute_origin_inside(v) for v in loops]
        pts = cand_pdf[[x, y, z]].to_numpy(np.float64)
        inside = polygon_contains_points(loops, flags, pts)
        keep = cand_pdf.loc[inside, [point_id]].copy()
        keep["poly_id"] = key[0]
        return keep

    return (
        cand.groupBy("poly_id")
        .cogroup(polygons.groupBy("poly_id"))
        .applyInPandas(refine, out_schema)
    )
