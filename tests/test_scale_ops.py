"""M6 tests: density tree, salted aggregation equivalence, cell-prefix
repartitioning, and checkpoint-resume with per-partition lineage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators import density, image_pipeline as ip, tiling
from s2geometry_spark.sources import images as imgsrc

N = 600
LEVEL = 5


@pytest.fixture(scope="module")
def images_geo(spark):
    df = ip.with_geotag(imgsrc.images_df(spark, N, num_partitions=8)).cache()
    df.count()
    yield df
    df.unpersist()


def test_density_tree_ancestor_property(images_geo):
    tree = tiling.tile_rollup(images_geo, [2, 5]).collect()
    by_level = {}
    for r in tree:
        by_level.setdefault(r.level, {})[r.cell_lvl] = r.cnt
    assert sum(by_level[2].values()) == N
    assert sum(by_level[5].values()) == N
    # hot-spot skew is visible at level 5: densest tile >> typical tile
    counts = sorted(by_level[5].values(), reverse=True)
    assert counts[0] >= 15 and counts[2] >= 10  # three planted hot cities
    assert counts[0] >= 10 * np.median(counts)


def test_salt_factors_target_hot_tiles(images_geo):
    d = density.measure_density(images_geo, LEVEL)
    factors = density.salt_factors(d, rows_per_task=20)
    assert factors, "hot spots must exceed 20 rows/tile"
    assert all(2 <= v <= 64 for v in factors.values())
    cold = {int(r.cell_lvl) for r in d.where(F.col("cnt") <= 20).collect()}
    assert not (set(factors) & cold)


def test_salted_counts_equal_unsalted(images_geo):
    d = density.measure_density(images_geo, LEVEL)
    factors = density.salt_factors(d, rows_per_task=20)
    plain = {r[0]: r[1] for r in tiling.tile_counts(images_geo, LEVEL).collect()}
    salted = {
        r[0]: r[1]
        for r in density.tile_counts_salted(images_geo, LEVEL, factors=factors).collect()
    }
    assert plain == salted


def test_salted_shuffle_spreads_hot_tile(images_geo):
    """The salted partial-agg key space must be wider than the tile count."""
    d = density.measure_density(images_geo, LEVEL)
    factors = density.salt_factors(d, rows_per_task=20)
    from s2geometry_spark import functions as s2f

    key = s2f.parent_expr("cell", LEVEL)
    salt = density.salt_expr(key, F.col("cell"), factors)
    n_keys_salted = images_geo.select(key.alias("k"), salt.alias("s")).distinct().count()
    n_keys_plain = images_geo.select(key.alias("k")).distinct().count()
    assert n_keys_salted > n_keys_plain


def test_repartition_by_cell_prefix(images_geo):
    df = density.repartition_by_cell_prefix(images_geo, 2, num_partitions=6)
    assert df.rdd.getNumPartitions() == 6
    assert df.count() == N  # no rows lost


def test_checkpoint_resume(spark, images_geo, tmp_path):
    from s2geometry_spark.operators.checkpoint import CheckpointedRun

    out = str(tmp_path / "ckpt")
    run = CheckpointedRun(out, n_buckets=8)

    def make_unit(spark_, b):
        return run.bucket_filter(images_geo, "image_id", b).select(
            "image_id", "cell", "phash"
        )

    first = run.run(spark, make_unit, max_buckets=3)  # simulate interruption
    assert len(first) == 3
    assert len(run.pending_buckets()) == 5
    second = run.run(spark, make_unit)  # resume completes the rest
    assert len(second) == 5
    assert run.pending_buckets() == []
    # lineage: one row per unit with metrics
    lineage = [r for r in run.lineage() if r["status"] == "done"]
    assert len(lineage) == 8
    assert all(r["rows_per_sec"] >= 0 and "wall_s" in r for r in lineage)
    assert sum(r["rows"] for r in lineage) == N
    # result equals the direct computation
    assert run.result(spark).count() == N
    got = {r.image_id for r in run.result(spark).select("image_id").collect()}
    want = {r.image_id for r in images_geo.select("image_id").collect()}
    assert got == want
    # resume on a fresh object (new driver) sees the manifest
    run2 = CheckpointedRun(out, n_buckets=8)
    assert run2.pending_buckets() == []
    assert run2.run(spark, make_unit) == []


def test_checkpoint_attempt_lineage(spark, images_geo, tmp_path):
    """A crash between data write and manifest append must surface as
    attempt=2 on the re-run, not be re-recorded as attempt 1."""
    import os

    from s2geometry_spark.operators.checkpoint import CheckpointedRun

    out = str(tmp_path / "ckpt_att")
    run = CheckpointedRun(out, n_buckets=2)

    def make_unit(spark_, b):
        return run.bucket_filter(images_geo, "image_id", b).select("image_id")

    run.run(spark, make_unit, max_buckets=1)
    # crash simulation for bucket 1: data dir written, manifest line lost
    make_unit(spark, 1).write.mode("overwrite").parquet(
        os.path.join(out, "data", "bucket=1")
    )
    rec = run.run(spark, make_unit)
    assert [r["bucket"] for r in rec] == [1]
    assert rec[0]["attempt"] == 2
    # a failed manifest row also counts as a prior attempt
    run._append_manifest({"run_id": "x", "bucket": 0, "status": "failed"})
    run3 = CheckpointedRun(out, n_buckets=2)
    # bucket 0 was done before the failed marker; force a re-run path check
    assert run3.pending_buckets() == []


def test_workers_run_the_zip_reread_guard(spark):
    """Every Python worker that runs an engine UDF holds the zip re-read
    guard of ``s2geometry_spark/__init__.py`` (installed below 3.13 only)."""
    import pandas as pd

    def probe(batches):
        import os
        import sys
        import zipimport

        # unpickling this function imports the engine, as any engine UDF's does
        assert tiling.__name__ == "s2geometry_spark.operators.tiling"
        fn = zipimport.zipimporter.invalidate_caches
        guarded = fn.__module__ == "s2geometry_spark" and hasattr(fn, "stdlib")
        for b in batches:
            yield pd.DataFrame({"pid": [os.getpid()] * len(b), "guarded": guarded,
                                "expected": sys.version_info < (3, 13)})

    rows = (
        spark.range(16, numPartitions=16)
        .mapInPandas(probe, "pid long, guarded boolean, expected boolean")
        .collect()
    )
    assert len(rows) == 16
    assert all(r.guarded == r.expected for r in rows), rows


def test_workers_freeze_their_import_time_heap(spark):
    """Every Python worker that runs an engine UDF has frozen its
    import-time objects out of the per-task ``gc.collect()``; the
    driver's heap stays unfrozen."""
    import gc

    import pandas as pd

    def probe(batches):
        import gc
        import os

        # unpickling this function imports the engine, as any engine UDF's does
        assert tiling.__name__ == "s2geometry_spark.operators.tiling"
        for b in batches:
            yield pd.DataFrame({"pid": [os.getpid()] * len(b),
                                "frozen": [gc.get_freeze_count()] * len(b)})

    driver = gc.get_freeze_count()
    rows = (
        spark.range(16, numPartitions=16)
        .mapInPandas(probe, "pid long, frozen long")
        .collect()
    )
    assert len(rows) == 16
    assert all(r.frozen > 0 for r in rows), rows
    assert gc.get_freeze_count() == driver
