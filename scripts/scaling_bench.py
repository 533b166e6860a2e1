#!/usr/bin/env python
"""Scaling-efficiency evidence (north rule): run the SAME image-pipeline
job on the SAME input at two parallelism levels (local[N] and local[4N])
and report throughput at both plus the efficiency ratio.

The sandbox has no multi-node cluster; two local[] core counts are the
documented stand-in (BASELINE.json).  Methodology pitfalls this script
avoids (each observed to corrupt the measurement):

* each level runs in its OWN subprocess — reusing one driver for both
  levels leaves stale JVM heap + Python daemon workers (5x slowdowns);
* the measured job is scan(parquet) -> ONE fused mapInPandas (decode +
  invariant verify + geotag + feature extract) -> JVM hash agg, the
  production plan shape — chaining 3 separate Python stages per task
  oversubscribes workers and inverts scaling at high core counts;
* no .cache() of binary-heavy rows — the memory-store write path
  collapses under 32 concurrent writers (28s vs 7s for the same job);
* the input parquet is written once in a setup phase and read by both
  levels (page-cache warm), so the comparison is pure compute;
* the setup runs in its own process too — ``spark.stop()`` leaves the
  process's py4j gateway JVM running until the process exits, and in
  the main process that idle JVM would share the host with both levels.

    python scripts/scaling_bench.py [--n 60000] [--lo 8] [--hi 32]

Prints one JSON line; recorded in BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEVEL = 5


def setup_input(path: str, n: int, px_scale: int) -> None:
    from s2geometry_spark.sources.images import images_df
    from s2geometry_spark.sources.session import get_spark

    spark = get_spark("scaling-setup")
    images_df(spark, n, num_partitions=128, px_scale=px_scale).write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()


def run_level(cpus: int, path: str, n: int) -> dict:
    from pyspark.sql import functions as F

    from s2geometry_spark.operators import image_pipeline as ip
    from s2geometry_spark.sources.session import get_spark

    spark = get_spark(f"scaling-local[{cpus}]", cpus=cpus)
    # size scan splits to the core count: binary-heavy tables at the
    # default 128MB maxPartitionBytes yield ~12 partitions for this input,
    # capping parallelism at 12 regardless of cores (SURVEY §4.3)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    images = spark.read.parquet(path)
    # warmup pass (workers + codegen + page cache), then best-of-2 timed
    # passes: single-run noise on this box is large
    ip.fused_tile_audit(images, LEVEL).count()
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        res = ip.fused_tile_audit(images, LEVEL)
        agg = res.agg(
            F.count(F.lit(1)), F.sum("n_images"), F.sum("n_violations")
        ).collect()[0]
        reps.append(round(time.perf_counter() - t0, 2))
    # best-of-3: the shared-host sandbox shows bimodal 2-3x slowdowns on
    # individual runs; the minimum is the machine's actual capability
    wall = min(reps)
    spark.stop()
    assert agg[1] == n, f"row count mismatch: {agg[1]} != {n}"
    assert agg[2] == 0, f"{agg[2]} invariant violations"
    return {
        "cpus": cpus,
        "wall_s": round(wall, 2),
        "rep_walls": reps,
        "rows_per_sec": round(n / wall, 1),
        "tiles": agg[0],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=60_000)
    ap.add_argument("--px-scale", type=int, default=4)
    ap.add_argument("--lo", type=int, default=8)
    ap.add_argument("--hi", type=int, default=32)
    ap.add_argument("--input", default=None, help="reuse an existing input dir")
    ap.add_argument("--single", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.single is not None:
        print("RESULT " + json.dumps(run_level(args.single, args.input, args.n)))
        return

    path = args.input or os.path.join(
        tempfile.gettempdir(), f"scaling_images_n{args.n}_px{args.px_scale}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
            pool.submit(setup_input, path, args.n, args.px_scale).result()

    def spawn(cpus: int) -> dict:
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--single", str(cpus), "--n", str(args.n), "--input", path,
        ]
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, check=True
        ).stdout
        for line in out.splitlines():
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])
        raise RuntimeError(f"no RESULT line in output:\n{out[-2000:]}")

    lo = spawn(args.lo)
    hi = spawn(args.hi)
    speedup = lo["wall_s"] / hi["wall_s"]
    eff = speedup / (args.hi / args.lo)
    print(
        json.dumps(
            {
                "job": "scan -> fused decode+verify+geotag -> tile agg",
                "n_images": args.n,
                "px_scale": args.px_scale,
                "lo": lo,
                "hi": hi,
                "speedup": round(speedup, 3),
                "scaling_efficiency": round(eff, 3),
                "meets_north_rule_0.8": eff >= 0.8,
            }
        )
    )


if __name__ == "__main__":
    main()
