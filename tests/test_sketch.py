"""Portable sketches: HLL mergeability, branch coverage, accuracy; the
portable natural log they share with DuckDB."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators.sketch import M_REGS, ln_portable_sql, tile_distinct_hll


def _keyed(spark, rows):
    return spark.createDataFrame(rows, "tile long, key long")


def test_merge_by_max_is_lossless(spark):
    """Sketching two halves into the same tile equals sketching the
    union — the register-max merge property that makes partial
    aggregation lossless (Spark's partial+final combine IS the merge).
    """
    a = [(1, k) for k in range(0, 3000)]
    b = [(1, k) for k in range(1500, 4000)]  # overlapping half
    whole = tile_distinct_hll(_keyed(spark, a + b)).collect()[0]
    # same rows, different partitioning: results must be identical
    shuffled = tile_distinct_hll(
        _keyed(spark, a + b).repartition(13, "key")
    ).collect()[0]
    assert whole == shuffled


def test_both_estimator_branches_and_accuracy(spark):
    rows = [(1, k) for k in range(5000)] + [(2, k) for k in range(40)]
    out = {r.tile: r for r in tile_distinct_hll(_keyed(spark, rows)).collect()}
    big, small = out[1], out[2]
    # raw-HLL branch: all registers hit, estimate within ~3 sigma of
    # the m=256 standard error (1.04/sqrt(256) = 6.5%)
    assert big.exact_distinct == 5000
    assert big.n_regs == M_REGS
    assert abs(big.estimate - 5000) / 5000 < 0.2
    # linear-counting branch: nearly exact at tiny cardinality
    assert small.exact_distinct == 40
    assert small.n_regs < M_REGS
    assert abs(small.estimate - 40) < 3


def test_duplicates_do_not_move_registers(spark):
    once = tile_distinct_hll(_keyed(spark, [(1, k) for k in range(500)]))
    thrice = tile_distinct_hll(
        _keyed(spark, [(1, k) for k in range(500)] * 3)
    )
    r1, r3 = once.collect()[0], thrice.collect()[0]
    assert r1.estimate == r3.estimate
    assert r1.exact_distinct == r3.exact_distinct


def test_count_min_overestimates_and_never_misses(spark):
    from s2geometry_spark.operators.sketch import tile_heavy_hitters

    rows = (
        [(1, 7)] * 20 + [(1, 9)] * 12
        + [(1, k) for k in range(100, 400)]  # singleton tail
        + [(2, 7)] * 3                       # below threshold in tile 2
    )
    out = tile_heavy_hitters(_keyed(spark, rows), threshold=10).collect()
    got = {(r.tile, r.key): r for r in out}
    # no-miss guarantee: est >= exact, so every true hitter is present
    assert (1, 7) in got and got[(1, 7)].is_true_hitter
    assert (1, 9) in got and got[(1, 9)].is_true_hitter
    assert got[(1, 7)].exact_cnt == 20 and got[(1, 7)].est_cnt >= 20
    # tile 2's count stays below threshold (tiles don't bleed)
    assert (2, 7) not in got
    for r in out:
        assert r.est_cnt >= r.exact_cnt


# ---------- histogram quantile sketch ----------


def _valued(spark, rows):
    return spark.createDataFrame(rows, "tile long, key long, value double")


def test_quantile_sketch_exact_leg_is_order_statistic(spark):
    import math

    from s2geometry_spark.operators.sketch import tile_quantile_sketch

    vals = [float(v) for v in range(1, 1001)]  # 1..1000, width 1000 -> 2 bins
    rows = [(1, k, v * 37.5) for k, v in enumerate(vals)]
    out = {
        r.q_permille: r
        for r in tile_quantile_sketch(_valued(spark, rows), width=1000.0).collect()
    }
    import numpy as np

    sv = np.sort([v * 37.5 for v in vals])
    for q in (500, 900, 990):
        needed = math.ceil(q / 1000 * len(vals))
        assert out[q].exact_value == sv[needed - 1]
        assert out[q].n == len(vals)
        # estimate lands within one bin width of the exact statistic
        assert abs(out[q].estimate - out[q].exact_value) <= 1000.0


def test_quantile_sketch_merge_by_addition_is_lossless(spark):
    """Bin counts add: computing the sketch over a repartitioned frame
    (different partial-agg splits) must give identical rows."""
    from s2geometry_spark.operators.sketch import tile_quantile_sketch

    rows = [(t, k, float((k * 7919) % 50000)) for t in (1, 2) for k in range(2000)]
    df = _valued(spark, rows)
    a = sorted(map(tuple, tile_quantile_sketch(df).collect()))
    b = sorted(map(tuple, tile_quantile_sketch(df.repartition(17, "key")).collect()))
    assert a == b


def test_quantile_sketch_interpolation_inside_bin(spark):
    """100 equal-spaced values inside ONE bin: linear interpolation
    recovers every quantile to within one value spacing."""
    from s2geometry_spark.operators.sketch import tile_quantile_sketch

    rows = [(1, k, 10.0 * k) for k in range(100)]  # all in bin 0 (width 1000)
    out = {
        r.q_permille: r
        for r in tile_quantile_sketch(_valued(spark, rows), width=1000.0).collect()
    }
    for q in (500, 900, 990):
        assert abs(out[q].estimate - out[q].exact_value) <= 10.0 + 1e-9


class TestPortableLn:
    def test_accuracy_and_cross_engine_equality(self):
        rng = np.random.default_rng(11)
        xs = np.concatenate(
            [
                rng.uniform(1e-4, 1e4, 5000),
                (np.arange(1, 500) + 0.5) / (np.arange(1, 500)[::-1] + 0.5),
                [1.0, 2.0, 0.5, 4.0, 1.0 / 1024, 1024.0],
            ]
        )
        con = duckdb.connect()
        con.register("t", pd.DataFrame({"x": xs}))
        got = con.execute(f"SELECT {ln_portable_sql('x')} AS l FROM t").fetchdf()[
            "l"
        ].to_numpy()
        rel = np.abs(got - np.log(xs)) / np.maximum(np.abs(np.log(xs)), 1e-3)
        assert rel.max() < 1e-12

    def test_spark_matches_duckdb_bitwise(self, spark):
        from pyspark.sql import functions as F

        rng = np.random.default_rng(12)
        xs = np.concatenate(
            [rng.uniform(1e-4, 1e4, 20000), [1.0, 2.0, 8.0, 0.25]]
        )
        pdf = pd.DataFrame({"x": xs})
        sp = (
            spark.createDataFrame(pdf)
            .select(F.expr(ln_portable_sql("x")).alias("l"))
            .toPandas()["l"]
            .to_numpy()
        )
        con = duckdb.connect()
        con.register("t", pdf)
        du = con.execute(f"SELECT {ln_portable_sql('x')} AS l FROM t").fetchdf()[
            "l"
        ].to_numpy()
        assert np.array_equal(sp, du)
