"""Distributed polygon boolean operations (S2BooleanOperation subset,
s2boolean_operation.h:16-75).

Two dataflow shapes:

* ``pairwise_boolean`` — a table of polygon PAIRS, one overlay per row
  (the "clip a million regions to their AOIs" pipeline step): perfectly
  parallel mapInPandas, each pair's overlay computed in-process by the
  kernels.booleanop walk.  Polygons travel as
  ``array<array<array<double>>>`` (loops -> vertices -> xyz), Arrow all
  the way; no driver involvement.
* entry queries (``__spark_entry__.q_poly_*``) — a SMALL fixture pair
  set computed driver-side, whose RESULT polygons drive the standard
  broadcast containment join over the points table; the DuckDB oracle
  classifies the same points against the INPUT polygons with the convex
  half-space predicates, so the computed boolean geometry is verified
  pointwise on every row of the points table.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import booleanop

RESULT_SCHEMA = (
    "pair_id long, op string, n_loops int, area double, "
    "result_loops array<array<array<double>>>"
)


def _decode(loops_cell) -> list[np.ndarray]:
    # Arrow hands nested lists as object arrays of arrays — stack per loop
    return [
        np.stack([np.asarray(v, dtype=np.float64) for v in lp])
        for lp in loops_cell
    ]


def _encode(loops: list[np.ndarray]):
    return [lp.tolist() for lp in loops]


def winding_join(
    points: DataFrame,
    loops: list[np.ndarray],
    ref: np.ndarray,
    ref_winding: int = 0,
    point_id: str = "pid",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """(pid, winding): S2WindingOperation semantics pointwise — the
    winding number of the (broadcast-scale) loop set around every point,
    via signed path crossings from the reference point (kernels.winding).
    One Arrow-batched pass, no shuffle."""
    from ..kernels.winding import winding_numbers

    x, y, z = xyz

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        point_id: pd.Series(dtype="int64"),
                        "winding": pd.Series(dtype="int64"),
                    }
                )
                continue
            P = pdf[[x, y, z]].to_numpy(np.float64)
            yield pd.DataFrame(
                {
                    point_id: pdf[point_id],
                    "winding": winding_numbers(loops, ref, ref_winding, P),
                }
            )

    return points.select(point_id, x, y, z).mapInPandas(
        batches, f"{point_id} long, winding long"
    )


def pairwise_boolean(pairs: DataFrame) -> DataFrame:
    """One boolean overlay per input row.

    pairs: (pair_id, op in {'intersection','union','difference'},
    a_loops, b_loops).  Returns (pair_id, op, n_loops, area,
    result_loops)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                res = booleanop.overlay(
                    _decode(row.a_loops), _decode(row.b_loops), row.op
                )
                out.append(
                    {
                        "pair_id": row.pair_id,
                        "op": row.op,
                        "n_loops": len(res),
                        "area": booleanop.polygon_area(res),
                        "result_loops": _encode(res),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["pair_id", "op", "n_loops", "area", "result_loops"],
            )

    return pairs.mapInPandas(batches, RESULT_SCHEMA)


def winding_region_cases(
    points: DataFrame,
    cases: list[tuple[str, str, list[np.ndarray]]],
    ref: np.ndarray,
    ref_winding: int = 0,
    point_id: str = "pid",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """(fixture, pid, inside): S2WindingOperation::Build end-to-end.

    For each case (fixture_id, rule, raw_loops) the region polygon is
    assembled driver-side from the broadcast-scale fixture loops
    (kernels.winding.build_winding_polygon — splits self-crossings,
    cancels duplicate/sibling edges, chains simple loops), then every
    point is classified by the pinned odd-parity winding of the
    NORMALIZED loops in one Arrow-batched pass (no shuffle).  The
    oracle classifies the same points by rule(raw winding) on the RAW
    self-intersecting multiset, so engine/oracle agreement proves the
    built polygon is the winding region, pointwise on every row."""
    from ..kernels.winding import (
        WINDING_RULES,
        build_winding_polygon,
        winding_numbers,
    )

    ref = np.asarray(ref, np.float64)
    built = []
    for fixture, rule, loops in cases:
        norm = build_winding_polygon(loops, ref, ref_winding, rule)
        ref01 = int(bool(WINDING_RULES[rule](np.asarray([ref_winding]))[0]))
        built.append((fixture, norm, ref01))
    x, y, z = xyz

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "fixture": pd.Series(dtype="object"),
                        point_id: pd.Series(dtype="int64"),
                        "inside": pd.Series(dtype="bool"),
                    }
                )
                continue
            P = pdf[[x, y, z]].to_numpy(np.float64)
            pids = pdf[point_id].to_numpy()
            for fixture, norm, ref01 in built:
                w = winding_numbers(norm, ref, ref01, P)
                yield pd.DataFrame(
                    {
                        "fixture": fixture,
                        point_id: pids,
                        "inside": (w % 2) != 0,
                    }
                )

    return points.select(point_id, x, y, z).mapInPandas(
        batches, f"fixture string, {point_id} long, inside boolean"
    )
