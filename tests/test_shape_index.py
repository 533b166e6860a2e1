"""Distributed shape-index build (MutableS2ShapeIndex twin) tests."""

import numpy as np

from tests.conftest import SF_ORACLE, compare_frames, load_entry


def test_shape_index_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_shape_index(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["shape_index"])
    compare_frames(sdf, rel)


def test_shape_index_invariants(spark):
    """Finalized cells below the level cap hold <= max_edges_per_cell
    edges, and no finalized cell is an ancestor of another (the output
    is a proper quadtree frontier)."""
    from s2geometry_spark.operators.shape_index import (
        MAX_EDGES_PER_CELL,
        MAX_LEVEL,
    )

    mod = load_entry()
    pdf = mod.q_shape_index(spark, SF_ORACLE).toPandas()
    assert len(pdf) > 0
    below_cap = pdf[pdf["level"] < MAX_LEVEL]
    assert (below_cap["n_edges"] <= MAX_EDGES_PER_CELL).all()
    assert (pdf["n_edges"] >= 1).all()
    # frontier property per face: no ancestor/descendant pairs
    for face, grp in pdf.groupby("face"):
        lv = grp["level"].to_numpy()
        ci = grp["ci"].to_numpy()
        cj = grp["cj"].to_numpy()
        # normalize every cell to its level-MAX prefix range
        for a in range(len(grp)):
            d = lv - lv[a]
            anc = (
                (d > 0)
                & ((ci >> np.maximum(d, 0)) == ci[a])
                & ((cj >> np.maximum(d, 0)) == cj[a])
            )
            assert not anc.any(), (face, ci[a], cj[a], lv[a])


def test_shape_index_lookup_matches_duckdb(spark, duck):
    mod = load_entry()
    sdf = mod.q_shape_index_lookup(spark, SF_ORACLE)
    rel = duck.sql(mod.oracle_sql()["shape_index_lookup"])
    compare_frames(sdf, rel)


def test_shape_index_lookup_unique_cell_per_point(spark):
    """The frontier property implies a point matches at most one cell,
    and the matched cell's grid range contains the point's leaf ij."""
    mod = load_entry()
    pdf = mod.q_shape_index_lookup(spark, SF_ORACLE).toPandas()
    assert len(pdf) > 0
    assert pdf["pid"].is_unique
