"""Emulates the driver's correctness gate: every queries() entry with an
oracle_sql() twin must match DuckDB on sf0.01 (rows + schema + values)."""

import pytest

from tests.conftest import (
    SF_ORACLE,
    SF_TEST,
    OracleResult,
    compare_frames,
    load_entry,
    oracle_frame,
    oracle_pool,
)


@pytest.fixture(scope="module")
def entry_mod():
    return load_entry()


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cell_l5", "cnt"}


def test_queries_match_oracles(spark, entry_mod):
    """Each oracle runs in a fresh child process (``oracle_pool``)."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    with oracle_pool() as pool:
        for name, sql in oracles.items():
            sdf = qs[name](spark, SF_ORACLE)
            compare_frames(sdf, OracleResult(pool.submit(oracle_frame, sql).result()))


def test_rows_only_queries_run(spark, entry_mod):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name, fn in qs.items():
        if name in oracles:
            continue
        df = fn(spark, SF_TEST)
        assert df.count() >= 0


def test_numpy_edge_derivation_matches_catalyst(spark, entry_mod):
    """_edges_df (Arrow/NumPy geotag kernels) must stay bitwise-identical
    to the Catalyst expression derivation it replaced (which the SQL
    oracles mirror)."""
    a = (
        entry_mod._edges_df(
            spark, SF_TEST, "orders", "o_orderkey", entry_mod._EDGE_A_KEY2, "eid", "e"
        )
        .toPandas()
        .sort_values("eid")
        .reset_index(drop=True)
    )
    b = (
        entry_mod._edges_df_sql_exprs(
            spark, SF_TEST, "orders", "o_orderkey", entry_mod._EDGE_A_KEY2, "eid", "e"
        )
        .toPandas()
        .sort_values("eid")
        .reset_index(drop=True)
    )
    for c in ["e0x", "e0y", "e0z", "e1x", "e1y", "e1z"]:
        assert (a[c].values == b[c].values).all(), c
