import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from s2geometry_spark.sources.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # get_spark's default heap, half the memory available at start, still
    # outgrows the oracle sweep's DuckDB children, which take up to 12.4 GB
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    spark = get_spark("s2spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


def fresh_duck():
    """A DuckDB connection with the sf-oracle views registered and an
    explicit memory ceiling."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET memory_limit = '8GB'")
    for name in "region nation customer supplier part orders lineitem".split():
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    return con


def oracle_frame(sql):
    """One oracle's result as pandas, on a fresh connection."""
    con = fresh_duck()
    try:
        return con.sql(sql).df()
    finally:
        con.close()


class OracleResult:
    """The part of a DuckDB relation compare_frames reads: ``.df()``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def df(self):
        return self._pdf


def _exit_with_parent(parent_pid):
    """Pool initializer: a daemon thread ends this child once its parent
    is no longer ``parent_pid``.  A pytest process taken by the OOM
    killer would otherwise leave its oracle child running, holding what
    DuckDB took (9.3 GB seen)."""
    import threading
    import time

    def watch():
        while os.getppid() == parent_pid:
            time.sleep(0.2)
        os._exit(1)

    threading.Thread(target=watch, daemon=True).start()


def oracle_pool():
    """An executor that runs each submitted oracle in a fresh spawned
    process.  DuckDB 1.0.0's allocator keeps what an oracle took after
    ``close()``; binding alone takes 5.6 GB for ``polygon_degeneracies``,
    9.2 GB for ``closed_set_normalize`` and 12.3 GB for
    ``polygon_validate``.  A child returns it when it exits, so the test
    process stays small next to the session JVM, and a child that dies
    fails its test (BrokenProcessPool), not the suite.  A child whose
    parent dies exits too (``_exit_with_parent``)."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    return ProcessPoolExecutor(
        max_workers=1,
        mp_context=multiprocessing.get_context("spawn"),
        max_tasks_per_child=1,
        initializer=_exit_with_parent,
        initargs=(os.getpid(),),
    )


class _ChildDuck:
    def sql(self, sql):
        with oracle_pool() as pool:
            return OracleResult(pool.submit(oracle_frame, sql).result())


@pytest.fixture(scope="session")
def duck():
    """``duck.sql(oracle)`` computes the oracle in its own process
    (``oracle_pool``) and returns it for ``compare_frames``."""
    return _ChildDuck()


def compare_frames(spark_df, duck_rel, sort_cols=None):
    """Order-insensitive compare of a Spark DataFrame and a DuckDB relation,
    mirroring the driver's row-count + schema + value-hash check."""
    import pandas as pd

    pdf_s = spark_df.toPandas()
    pdf_d = duck_rel.df()
    assert sorted(pdf_s.columns) == sorted(pdf_d.columns), (
        f"columns differ: {sorted(pdf_s.columns)} vs {sorted(pdf_d.columns)}"
    )
    cols = sorted(pdf_s.columns)
    pdf_s = pdf_s[cols].sort_values(cols).reset_index(drop=True)
    pdf_d = pdf_d[cols].sort_values(cols).reset_index(drop=True)
    assert len(pdf_s) == len(pdf_d), f"row counts differ: {len(pdf_s)} vs {len(pdf_d)}"
    for c in cols:
        s, d = pdf_s[c], pdf_d[c]
        # dtype-strict: the driver hashes rendered values, so an oracle
        # column that surfaces float64 (e.g. DuckDB sum -> HUGEINT ->
        # pandas float) against a Spark long hashes `2.0` vs `2` and goes
        # red even when every value is identical.  Mixed int/float is a
        # failure here, before the driver sees it.
        if s.dtype.kind == "f" and d.dtype.kind == "f":
            pd.testing.assert_series_equal(
                s.astype(float), d.astype(float), check_names=False, check_exact=True
            )
        elif (s.dtype.kind == "f") != (d.dtype.kind == "f"):
            raise AssertionError(
                f"column {c}: dtype drift spark={s.dtype} vs oracle={d.dtype} "
                "(pin the oracle with CAST(... AS BIGINT) or match the Spark type)"
            )
        else:
            sv = s.astype(object).where(pd.notna(s), None)
            dv = d.astype(object).where(pd.notna(d), None)
            mism = [
                (i, a, b) for i, (a, b) in enumerate(zip(sv, dv)) if a != b
            ]
            assert not mism, f"column {c}: {len(mism)} mismatches, first: {mism[:3]}"


def load_entry():
    """A fresh module object of this checkout's ``__spark_entry__.py``.

    It is not registered in ``sys.modules``, so the UDFs it defines are
    pickled by value and the Python workers need not import it."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
