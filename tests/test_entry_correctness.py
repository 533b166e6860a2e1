"""Emulates the driver's correctness gate: every queries() entry with an
oracle_sql() twin must match DuckDB on sf0.01 (rows + schema + values)."""

import pytest

from tests.conftest import SF_ORACLE, SF_TEST, compare_frames, load_entry


@pytest.fixture(scope="module")
def entry_mod():
    return load_entry()


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cell_l5", "cnt"}


def _fresh_duck():
    """A connection with the sf-oracle views registered and an explicit
    memory ceiling.  The oracle sweep previously shared ONE connection,
    whose accumulated MATERIALIZED-CTE state eventually OOM'd DuckDB
    mid-sweep next to the live local[32] JVM (VERDICT r4 "What's wrong" #1);
    a fresh connection per oracle keeps each oracle's footprint independent."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET memory_limit = '8GB'")
    for name in "region nation customer supplier part orders lineitem".split():
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    return con


def _oracle_frame(sql):
    """One oracle's result as pandas, computed in a child process."""
    con = _fresh_duck()
    try:
        return con.sql(sql).df()
    finally:
        con.close()


class _OracleResult:
    """The part of a DuckDB relation compare_frames reads: ``.df()``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def df(self):
        return self._pdf


def test_queries_match_oracles(spark, entry_mod):
    """Each oracle runs in a fresh child process.  DuckDB's allocator
    keeps what a heavy oracle took after ``close()`` (about 9 GB for
    ``closed_set_normalize``); in the test process that memory stayed
    resident for the rest of the suite, which made the test process the
    OOM killer's pick.  A child that dies fails this test loudly
    (BrokenProcessPool) and the suite goes on."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    with ProcessPoolExecutor(
        max_workers=1,
        mp_context=multiprocessing.get_context("spawn"),
        max_tasks_per_child=1,
    ) as pool:
        for name, sql in oracles.items():
            sdf = qs[name](spark, SF_ORACLE)
            compare_frames(sdf, _OracleResult(pool.submit(_oracle_frame, sql).result()))


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
