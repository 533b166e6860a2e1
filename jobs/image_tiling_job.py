#!/usr/bin/env python
"""Production entry point: the full image tiling + containment pipeline as a
checkpoint-resumable spark-submit job.

Launch (cluster):
    zip -r s2geometry_spark.zip s2geometry_spark
    spark-submit --py-files s2geometry_spark.zip jobs/image_tiling_job.py \
        --n-images 1000000 --out /data/runs/tiles1 --buckets 64

The line passes no -XX:TieredStopAtLevel=1, and under spark-submit
get_spark's C1-only option does not reach the driver JVM, which is
running before the job's code.  The option pays on local sessions with
seconds of warm work per query.  A cluster run of this size is a long
session, where C2 code can pay back (the 20-minute test suite, one
session, runs 15-19% longer under C1), and nothing measured C1 there;
its tasks run on executors, which keep their own JVM defaults.

Launch (sandbox smoke):
    python jobs/image_tiling_job.py --n-images 2000 --out /tmp/tilerun

Per the north rule the job is resumable: re-running with the same --out
skips completed buckets (per-partition lineage in <out>/_partitions.jsonl,
per-run metrics in <out>/_runs.jsonl).  On a real deployment the output
directory is an Iceberg table partitioned by cell_l5 and the manifest is
an Iceberg `_partitions` table — the sandbox uses the documented parquet
fallback with identical layout (sources/session.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=2000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--level", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--rows-per-task", type=int, default=100_000)
    args = ap.parse_args()
    if args.n_images < 1:
        ap.error(f"--n-images must be >= 1 (got {args.n_images})")
    if args.buckets < 1:
        ap.error(f"--buckets must be >= 1 (got {args.buckets})")

    from pyspark.sql import functions as F

    from s2geometry_spark.operators import density, image_pipeline as ip
    from s2geometry_spark.operators.checkpoint import CheckpointedRun, parquet_rows
    from s2geometry_spark.sources.images import images_df
    from s2geometry_spark.sources.session import get_spark

    # the Python workers the session starts import the engine too, from
    # wherever the job was launched
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("image-tiling-job", cpus=args.cpus)

    # 1. deterministic source table (stand-in for the Iceberg images table)
    images = ip.with_geotag(images_df(spark, args.n_images)).cache()

    # 2. measure density, derive salt factors for hot tiles (skew handling)
    dens = density.measure_density(images, args.level)
    factors = density.salt_factors(dens, rows_per_task=args.rows_per_task)
    print(f"density: {dens.count()} tiles at level {args.level}, "
          f"{len(factors)} hot tiles salted: {factors}")

    # 3. checkpoint-resumable tiling: per-bucket tile stats + invariants
    run = CheckpointedRun(args.out, n_buckets=args.buckets)

    def make_unit(spark_, bucket):
        part = run.bucket_filter(images, "image_id", bucket)
        stats = density.tile_counts_salted(part, args.level, factors=factors)
        # per-row invariant audit rides along: violations must be zero
        violations = ip.invariant_violations(part).count()
        if violations:
            raise RuntimeError(f"bucket {bucket}: {violations} invariant violations")
        return stats

    lineage = run.run(spark, make_unit)
    print(json.dumps({"completed_buckets": len(lineage),
                      "pending": run.pending_buckets()}))

    # 4. merge per-bucket partials into the final tile table
    final = (
        run.result(spark)
        .groupBy(f"cell_l{args.level}")
        .agg(F.sum("cnt").alias("cnt"))
    )
    final_path = os.path.join(args.out, "tiles_final")
    final.write.mode("overwrite").parquet(final_path)
    # one row per tile: the count comes from the written footers, and
    # only the cnt sum re-reads the table
    total = spark.read.parquet(final_path).agg(F.sum("cnt")).collect()[0][0]
    print(json.dumps({"final_tiles": parquet_rows(final_path), "total_rows": int(total),
                      "expected_rows": args.n_images,
                      "ok": int(total) == args.n_images}))
    spark.stop()


if __name__ == "__main__":
    main()
