"""The benchmark's workloads, driven through the engine's public API.

A workload object owns its inputs under a work directory and exposes:

* ``build_inputs()`` - generate and write the seeded parquet inputs;
* ``prepare()`` - set-up the engine needs before serving passes (the
  fixture region index);
* ``reference()`` - brute-force expected outputs (benchmark overhead,
  not timed);
* ``run_pass()`` - one timed unit of work; returns its outputs;
* ``check(outputs)`` - the number of wrong result items in them (not
  timed);
* ``probes()`` - per-layer measurements taken after the timed passes of
  a traced run.

Optional: ``warmup_passes`` (default 1), ``min_passes`` (timed passes
a run makes at least; default 1), ``end_to_end(walls)`` for
metrics computed from the untraced pass walls, and ``extra_units`` for
metrics a workload outside BENCHMARK.json's rotation prints after the
listed ones.

Spark actions happen inside ``tracer.span(...)`` blocks named after the
layer they call into, so the traced run can attribute time to layers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from s2geometry_spark import functions as s2f
from s2geometry_spark.kernels import cellid, imagecodec, predicates
from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer
from s2geometry_spark.kernels.geotag import geotag_from_index
from s2geometry_spark.operators import density, image_pipeline, knn, tiling
from s2geometry_spark.operators.checkpoint import CheckpointedRun
from s2geometry_spark.operators.contains_join import RegionIndex, cap_join, contains_join

from . import inputs, reference

TILING_LEVELS = (2, 5, 8, 12)
DENSITY_LEVEL = 5
KNN_K = 3
KNN_SAMPLE = 32
# a tile is hot (salted) above this share of the rows: 1/200 of the rows
# is ~30x a level-5 tile's uniform expectation (1/6144)
HOT_TILE_SHARE = 1 / 200
# jobs/image_tiling_job.py's --rows-per-task default: at this image count
# no tile is salted, so salting fires on hot_points only
JOB_ROWS_PER_TASK = 100_000


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def knn_start_level(point_cells: np.ndarray, query_cells: np.ndarray, k: int) -> int:
    """Finest level at which the 5th-percentile query's own cell holds at
    least 32 * k points (96 at k = 3): the start level matched to the
    density the queries see, so the first stage certifies nearly every
    query and the cascade rarely drops to its 64x coarser second stage."""
    pts = cellid.from_biased(point_cells)
    qs = cellid.from_biased(query_cells)
    for level in range(14, 1, -1):
        keys, counts = np.unique(cellid.parent(pts, level), return_counts=True)
        q = cellid.parent(qs, level)
        pos = np.clip(np.searchsorted(keys, q), 0, len(keys) - 1)
        per_query = np.where(keys[pos] == q, counts[pos], 0)
        if np.percentile(per_query, 5) >= 32 * k:
            return level
    return 2


def cover_all(regions: dict) -> tuple[dict, list[float]]:
    """Coverings with the RegionIndex defaults, and the ms each took."""
    coverer = RegionCoverer(
        CovererOptions(max_cells=8, min_level=4, max_level=16, level_mod=1)
    )
    coverings, ms = {}, []
    for rid, region in regions.items():
        t0 = time.perf_counter()
        coverings[rid] = coverer.get_covering(region)
        ms.append((time.perf_counter() - t0) * 1e3)
    return coverings, ms


def encode_rate(xyz: np.ndarray) -> float:
    """Single-thread cellid.from_xyz rate, points per second."""
    return xyz.shape[0] / _median_time(lambda: cellid.from_xyz(xyz[:, 0], xyz[:, 1], xyz[:, 2]))


def pip_rate(xyz: np.ndarray, regions: dict) -> float:
    """Single-thread polygon_contains_points rate, point-region tests per
    second, over every region."""

    def contains_all():
        for region in regions.values():
            loops = getattr(region, "loops", None) or [region]
            predicates.polygon_contains_points(
                [lp.vertices for lp in loops], [lp.origin_inside for lp in loops], xyz
            )

    return xyz.shape[0] * len(regions) / _median_time(contains_all, reps=1)


class PointWorkload:
    """uniform_points / hot_points: leaf encode, tile rollup, containment
    join against the fixture polygons, kNN join, density + salting."""

    # a pass's CPU falls by a quarter from the first warm pass to the third
    # while the JVM compiles; the cold pass and the first warm one take the
    # steepest part of that away.  After them one pass's CPU spreads across
    # runs as much as the median of two (0.10 against 0.09-0.12 over ten
    # seeds), so one timed pass keeps a round of runs within its time limit
    warmup_passes = 2

    def __init__(self, spark, tracer, work: str, seed: int, nproc: int, hot: bool,
                 n_points: int, n_queries: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.nproc, self.hot = seed, nproc, hot
        self.n_points, self.n_queries = n_points, n_queries
        self.rows_per_pass = n_points
        self.points_path = os.path.join(work, "points")
        self.queries_path = os.path.join(work, "queries")

    def build_inputs(self) -> None:
        shutil.rmtree(self.points_path, ignore_errors=True)
        shutil.rmtree(self.queries_path, ignore_errors=True)
        data = inputs.point_inputs(self.seed, self.n_points, self.n_queries, self.hot)
        self.xyz, self.qxyz = data["points"], data["queries"]
        inputs.write_points(self.points_path, self.xyz, "pid", "", self.nproc)
        inputs.write_points(self.queries_path, self.qxyz, "qid", "q", self.nproc)

    def prepare(self) -> None:
        self.regions = inputs.fixture_regions()
        coverings, ms = cover_all(self.regions)
        self.cover_ms = statistics.median(ms)
        self.index = RegionIndex(self.regions, coverings=coverings)
        self.cells = reference.leaf_cells(self.xyz)
        self.knn_level = knn_start_level(self.cells, reference.leaf_cells(self.qxyz), KNN_K)
        self.rows_per_task = max(1, int(self.n_points * HOT_TILE_SHARE))
        self.settings = {"rows": self.n_points, "queries": self.n_queries,
                         "knn_start_level": self.knn_level, "rows_per_task": self.rows_per_task}

    def reference(self) -> None:
        self.want_pairs = reference.pip_pairs(self.xyz, self.regions)
        rng = np.random.default_rng([self.seed, 4])
        self.knn_sample = np.sort(rng.choice(self.n_queries, KNN_SAMPLE, replace=False))

    def _points(self):
        return self.spark.read.parquet(self.points_path).withColumn(
            "cell", s2f.cell_from_xyz(F.col("x"), F.col("y"), F.col("z"))
        )

    def run_pass(self) -> dict:
        spark, tr = self.spark, self.tr
        pts = self._points().cache()
        try:
            with tr.span("functions.encode_udf"):
                pts.count()
            with tr.span("operators.tiling.rollup"):
                rollup = tiling.tile_rollup(pts, TILING_LEVELS).toPandas()
            with tr.span("operators.contains_join"):
                pairs = contains_join(spark, pts, self.index).toPandas()
            with tr.span("operators.knn"):
                p = pts.select(
                    "pid", F.col("x").alias("px"), F.col("y").alias("py"),
                    F.col("z").alias("pz"), F.col("cell").alias("p_cell"),
                )
                q = spark.read.parquet(self.queries_path).withColumn(
                    "q_cell", s2f.cell_from_xyz(F.col("qx"), F.col("qy"), F.col("qz"))
                )
                nn = knn.knn_join(spark, p, q, KNN_K, start_level=self.knn_level).toPandas()
            with tr.span("operators.density"):
                dens = density.measure_density(pts, DENSITY_LEVEL)
                factors = density.salt_factors(dens, rows_per_task=self.rows_per_task)
                salted = density.tile_counts_salted(pts, DENSITY_LEVEL, factors=factors).toPandas()
        finally:
            pts.unpersist()
            spark.catalog.clearCache()
        return {"rollup": rollup, "pairs": pairs, "knn": nn, "salted": salted,
                "hot_tiles": len(factors)}

    def check(self, out: dict) -> int:
        self.hot_tiles = out["hot_tiles"]
        self.n_pairs = len(out["pairs"])
        return (
            reference.check_rollup(out["rollup"], self.cells, TILING_LEVELS)
            + reference.check_pairs(out["pairs"], self.want_pairs)
            + reference.check_knn(out["knn"], self.xyz, self.qxyz, self.knn_sample, KNN_K)
            + reference.check_tile_counts(out["salted"], f"cell_l{DENSITY_LEVEL}",
                                          self.cells, DENSITY_LEVEL)
        )

    def probes(self) -> dict[str, float]:
        rate = encode_rate(self.xyz)
        pts = self._points().cache()
        try:
            pts.count()
            candidate_s, join_s = [], []
            for _ in range(2):  # alternated, so drift slows both alike
                t0 = time.perf_counter()
                candidates = contains_join(self.spark, pts, self.index, exact=False).count()
                candidate_s.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                contains_join(self.spark, pts, self.index).count()
                join_s.append(time.perf_counter() - t0)
        finally:
            pts.unpersist()
            self.spark.catalog.clearCache()
        encode_s = self.tr.per_pass("functions.encode_udf")
        knn_s = self.tr.per_pass("operators.knn")
        pip = pip_rate(self.xyz, self.regions)
        return {
            "kernels.coverer.cover_ms": self.cover_ms,
            "kernels.cellid.encode_mpts_s": rate / 1e6,
            "functions.encode_udf_s": encode_s,
            "functions.udf_overhead_ratio": encode_s / (self.n_points / rate),
            "kernels.predicates.pip_mpts_s": pip / 1e6,
            "operators.contains_join.candidate_s": statistics.median(candidate_s),
            "operators.contains_join.refine_s":
                statistics.median(join_s) - statistics.median(candidate_s),
            # the refinement kernel on every candidate, spread over all
            # cores, ÷ the traced pass: the share a kernel gain could remove
            "operators.contains_join.refine_pass_share":
                candidates / pip / self.nproc / self.tr.per_pass("bench.pass"),
            "operators.contains_join.candidates": candidates,
            "operators.contains_join.pairs": self.n_pairs,
            "operators.contains_join.useful_ratio": self.n_pairs / max(candidates, 1),
            "operators.knn.join_s": knn_s,
            "operators.knn.queries_per_s": self.n_queries / knn_s,
            "operators.knn.spark_stages": self.tr.per_pass("operators.knn", "stages"),
            "operators.tiling.rollup_s": self.tr.per_pass("operators.tiling.rollup"),
            "operators.density.salted_counts_s": self.tr.per_pass("operators.density"),
            "operators.density.hot_tiles": self.hot_tiles,
        }


class ImageWorkload:
    """image_tiling_job: the checkpointed tiling job of
    jobs/image_tiling_job.py over a seeded window of generated images."""

    # one bucket still runs the bucket filter, the manifest, the merge and
    # the resume; each further bucket adds fixed Spark job costs (on a
    # 4-core VM a pass took 5 s with one bucket, 6.5 s with two, 13-16 s
    # with four)
    N_BUCKETS = 1
    # passes speed up by a quarter over the first ten as the JVM compiles;
    # the cold pass and one warm one take the steepest part of that away
    warmup_passes = 2
    min_passes = 2

    def __init__(self, spark, tracer, work: str, seed: int, nproc: int, n_images: int,
                 px_scale: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.nproc = seed, nproc
        self.n_images, self.px_scale = n_images, px_scale
        self.rows_per_pass = n_images
        self.images_path = os.path.join(work, "images")
        self.violations = 0
        self.bucket_walls: list[float] = []
        self.bytes_ratio: list[float] = []
        self.n_pass = 0

    def build_inputs(self) -> None:
        self.window = inputs.image_window(self.seed, self.n_images)
        inputs.write_images(self.spark, self.images_path, self.window, self.px_scale,
                            self.nproc)

    def prepare(self) -> None:
        # small splits for the binary table: one task per ~1 MB of images
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
        self.input_bytes = _tree_bytes(self.images_path)
        self.rows_per_task = JOB_ROWS_PER_TASK
        self.settings = {"images": self.n_images, "px_scale": self.px_scale,
                         "window": self.window, "buckets": self.N_BUCKETS,
                         "rows_per_task": self.rows_per_task}

    def reference(self) -> None:
        # the geotag of image_pipeline.with_geotag: phash bits -> lat/lng
        phash = pq.read_table(self.images_path, columns=["phash"]).column("phash")
        lat, lng = geotag_from_index(phash.to_numpy().astype(np.int64).astype(np.uint64))
        self.cells = cellid.to_biased(cellid.from_latlng_degrees(lat, lng))
        self.xyz = inputs.unit_from_latlng(lat, lng)

    def run_pass(self) -> dict:
        spark, tr = self.spark, self.tr
        out = os.path.join(self.work, f"job-{self.n_pass}")
        self.n_pass += 1
        images = image_pipeline.with_geotag(spark.read.parquet(self.images_path)).cache()
        violations = []
        try:
            with tr.span("operators.image_pipeline.geotag"):
                images.count()
            with tr.span("operators.density"):
                dens = density.measure_density(images, DENSITY_LEVEL)
                factors = density.salt_factors(dens, rows_per_task=self.rows_per_task)
            run = CheckpointedRun(out, n_buckets=self.N_BUCKETS)

            def make_unit(spark_, bucket):
                part = run.bucket_filter(images, "image_id", bucket)
                with tr.span("operators.image_pipeline.audit"):
                    violations.append(image_pipeline.invariant_violations(part).count())
                return density.tile_counts_salted(part, DENSITY_LEVEL, factors=factors)

            with tr.span("operators.checkpoint.run"):
                lineage = run.run(spark, make_unit)
            with tr.span("operators.checkpoint.merge"):
                final_path = os.path.join(out, "tiles_final")
                (
                    run.result(spark)
                    .groupBy(f"cell_l{DENSITY_LEVEL}")
                    .agg(F.sum("cnt").alias("cnt"))
                    .write.mode("overwrite")
                    .parquet(final_path)
                )
                tiles = spark.read.parquet(final_path).toPandas()
            with tr.span("operators.checkpoint.resume"):
                redo = CheckpointedRun(out, n_buckets=self.N_BUCKETS).run(spark, make_unit)
        finally:
            images.unpersist()
            spark.catalog.clearCache()
        return {"out": out, "violations": sum(violations), "lineage": lineage,
                "redo": redo, "tiles": tiles, "hot_tiles": len(factors)}

    def check(self, res: dict) -> int:
        self.violations += res["violations"]
        self.hot_tiles = res["hot_tiles"]
        self.bucket_walls += [rec["wall_s"] for rec in res["lineage"]]
        self.bytes_ratio.append(_tree_bytes(res["out"]) / self.input_bytes)
        shutil.rmtree(res["out"], ignore_errors=True)
        return (
            res["violations"]
            + abs(len(res["lineage"]) - self.N_BUCKETS)
            + len(res["redo"])
            + reference.check_tile_counts(res["tiles"], f"cell_l{DENSITY_LEVEL}",
                                          self.cells, DENSITY_LEVEL)
        )

    def probes(self) -> dict[str, float]:
        table = pq.read_table(self.images_path, columns=["bytes", "fmt"]).to_pandas()
        decode, decode_s = {}, 0.0
        for fmt, group in table.groupby("fmt"):
            blobs = group["bytes"].tolist()[:50]
            secs = _median_time(lambda: [imagecodec.decode(b) for b in blobs])
            decode[f"kernels.imagecodec.decode_ms.{fmt}"] = secs / len(blobs) * 1e3
            decode_s += secs / len(blobs) * len(group)
        return {
            **decode,
            # single-thread decode of every image, spread over all cores, ÷
            # the traced pass: the share a decode gain could remove at most
            "kernels.imagecodec.decode_pass_share":
                decode_s / self.nproc / self.tr.per_pass("bench.pass"),
            "kernels.cellid.encode_mpts_s": encode_rate(self.xyz) / 1e6,
            "operators.image_pipeline.geotag_s": self.tr.per_pass("operators.image_pipeline.geotag"),
            "operators.image_pipeline.audit_s": self.tr.per_pass("operators.image_pipeline.audit"),
            "operators.image_pipeline.violations": self.violations,
            "operators.checkpoint.bucket_p50_s": statistics.median(self.bucket_walls),
            "operators.checkpoint.bytes_written_per_input_byte": statistics.median(self.bytes_ratio),
            "operators.checkpoint.resume_noop_s": self.tr.per_pass("operators.checkpoint.resume"),
            "operators.checkpoint.run_s": self.tr.per_pass("operators.checkpoint.run"),
            "operators.density.hot_tiles": self.hot_tiles,
        }


class LookupWorkload:
    """region_lookups: a closed loop of small requests against the uniform
    point table, written once with its cell column and sorted by cell.  A
    pass is one request: a fresh seeded cap (cap_join) or regular loop
    (RegionIndex + contains_join) whose point ids are collected."""

    # one request of each kind warms both paths
    warmup_passes = 2
    extra_units = {"lookups_per_s": "1/s", "lookup_p50_ms": "ms", "lookup_tail_ms": "ms",
                   "kernels.coverer.request_share": "ratio"}

    def __init__(self, spark, tracer, work: str, seed: int, nproc: int, n_points: int):
        self.spark, self.tr = spark, tracer
        self.seed, self.nproc, self.n_points = seed, nproc, n_points
        self.rows_per_pass = n_points
        self.table_path = os.path.join(work, "table")
        self.n_pass = 0

    def build_inputs(self) -> None:
        shutil.rmtree(self.table_path, ignore_errors=True)
        # the uniform_points table of the same seed
        self.xyz = inputs.point_inputs(self.seed, self.n_points, 0, hot=False)["points"]
        inputs.write_cell_sorted(self.table_path, self.xyz, reference.leaf_cells(self.xyz),
                                 self.nproc)
        self.requests = inputs.region_requests(self.seed, 10_000)

    def prepare(self) -> None:
        self.table = self.spark.read.parquet(self.table_path)
        self.settings = {"rows": self.n_points, "radius_deg": (0.5, 3.0)}

    def reference(self) -> None:
        pass  # per request, in check()

    def run_pass(self) -> dict:
        spark, tr = self.spark, self.tr
        region = inputs.request_region(self.requests[self.n_pass % len(self.requests)])
        self.n_pass += 1
        if hasattr(region, "center"):
            with tr.span("operators.cap_join"):
                rows = cap_join(spark, self.table, {"r": region}).select("pid").collect()
        else:
            with tr.span("operators.contains_join.index"):
                index = RegionIndex({"r": region})
            with tr.span("operators.contains_join"):
                rows = contains_join(spark, self.table, index).select("pid").collect()
        return {"region": region, "ids": [r.pid for r in rows]}

    def check(self, out: dict) -> int:
        return reference.check_ids(out["ids"], reference.region_ids(self.xyz, out["region"]))

    @staticmethod
    def end_to_end(walls: list[float]) -> dict[str, float]:
        """Request rate and latency of the closed loop.  One client, so the
        rate is requests over the time spent in them.  The tail is the
        highest percentile with 10 requests beyond it (the 11th-slowest),
        or the slowest of fewer than 11."""
        if not walls:  # every request failed: the result line says so
            return {}
        ms = sorted(w * 1e3 for w in walls)
        return {
            "lookups_per_s": len(ms) / sum(walls),
            "lookup_p50_ms": statistics.median(ms),
            "lookup_tail_ms": ms[-11] if len(ms) > 10 else ms[-1],
        }

    def probes(self) -> dict[str, float]:
        regions = {i: inputs.request_region(r)
                   for i, r in enumerate(self.requests[: self.n_pass])}
        _, ms = cover_all(regions)
        cover_ms = statistics.median(ms)
        return {"kernels.coverer.cover_ms": cover_ms,
                "kernels.coverer.request_share": cover_ms / (1e3 * self.tr.per_pass("bench.pass"))}


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# sized so a run (cold session, warm-up and one timed pass) takes ~45-55 s
# on 4 cores: the per-pass cost is dominated by fixed Spark stage costs
POINT_SIZES = {"n_points": 50_000, "n_queries": 500}
IMAGE_SIZES = {"n_images": 1_500, "px_scale": 2}
WORKLOADS = {
    "uniform_points": lambda **kw: PointWorkload(hot=False, **kw, **POINT_SIZES),
    "hot_points": lambda **kw: PointWorkload(hot=True, **kw, **POINT_SIZES),
    "image_tiling_job": lambda **kw: ImageWorkload(**kw, **IMAGE_SIZES),
    "region_lookups": lambda **kw: LookupWorkload(**kw, n_points=POINT_SIZES["n_points"]),
}
