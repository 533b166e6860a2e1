"""Seeded benchmark inputs.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical arrays, another seed gives other inputs.  The
benchmark writes them once per run as parquet, and the engine only ever
reads that parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture regions: regular loops (lat, lng, radius rad, vertices) and
# polygons with one hole ((shell), (hole)).  The sites of the engine's
# query fixtures ("north" sits on the pole) at 0.4x their radii, which
# keeps covering them to ~2 s of set-up.
LOOPS = {
    "zurich": (47.36, 8.55, 0.10, 16),
    "sydney": (-33.87, 151.20, 0.14, 24),
    "sf": (37.77, -122.42, 0.06, 12),
    "north": (90.0, 0.0, 0.20, 16),
}
HOLED = {
    "zurich_ring": ((47.36, 8.55, 0.14, 16), (47.36, 8.55, 0.05, 12)),
    "equator_ring": ((0.0, 0.0, 0.12, 20), (0.0, 0.0, 0.04, 8)),
}
# Cluster sites of the hot workload: (lat, lng, sigma rad), one per
# polygon site; sigma is 0.4x the site's largest loop radius.
SITES = (
    (47.36, 8.55, 0.056),
    (-33.87, 151.20, 0.056),
    (37.77, -122.42, 0.024),
    (90.0, 0.0, 0.08),
    (0.0, 0.0, 0.048),
)
HOT_SHARE = 0.9


def fixture_regions() -> dict:
    from s2geometry_spark.kernels.regions import Loop, Polygon

    regions = {rid: Loop.make_regular(*args) for rid, args in LOOPS.items()}
    for rid, (shell, hole) in HOLED.items():
        regions[rid] = Polygon([Loop.make_regular(*shell), Loop.make_regular(*hole)])
    return regions


def unit_from_latlng(lat_deg, lng_deg) -> np.ndarray:
    la, ln = np.radians(lat_deg), np.radians(lng_deg)
    return np.stack(
        [np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], axis=-1
    )


def _normalize(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=1)[:, None]


def uniform_points(rng: np.random.Generator, n: int) -> np.ndarray:
    """n points uniform on the sphere, (n, 3) float64."""
    return _normalize(rng.standard_normal((n, 3)))


def clustered_points(rng: np.random.Generator, n: int, hot_share: float) -> np.ndarray:
    """round(hot_share * n) points in Gaussian clusters around SITES (split
    evenly), the rest uniform; rows are shuffled."""
    n_hot = int(round(hot_share * n))
    site_of = rng.integers(0, len(SITES), n_hot)
    centers = unit_from_latlng(
        np.array([s[0] for s in SITES]), np.array([s[1] for s in SITES])
    )
    sigma = np.array([s[2] for s in SITES])
    # tangent-plane offset: isotropic Gaussian projected off the centre
    off = rng.standard_normal((n_hot, 3)) * sigma[site_of][:, None]
    c = centers[site_of]
    off -= (off * c).sum(axis=1)[:, None] * c
    hot = _normalize(c + off)
    pts = np.concatenate([hot, uniform_points(rng, n - n_hot)])
    return pts[rng.permutation(n)]


def point_inputs(seed: int, n_points: int, n_queries: int, hot: bool) -> dict:
    """Points and kNN queries of one point workload.

    Uniform: everything uniform.  Hot: HOT_SHARE of the points and every
    query sit in the site clusters."""
    rng = np.random.default_rng([seed, 1 if hot else 0])
    if hot:
        pts = clustered_points(rng, n_points, HOT_SHARE)
        qs = clustered_points(rng, n_queries, 1.0)
    else:
        pts = uniform_points(rng, n_points)
        qs = uniform_points(rng, n_queries)
    return {"points": pts, "queries": qs}


def region_requests(seed: int, n: int) -> list[dict]:
    """n seeded lookup requests, alternating caps and regular loops: centres
    uniform on the sphere, radius 0.5-3 degrees, loops of 8-24 vertices."""
    rng = np.random.default_rng([seed, 3])
    centers = uniform_points(rng, n)
    lat = np.degrees(np.arcsin(centers[:, 2]))
    lng = np.degrees(np.arctan2(centers[:, 1], centers[:, 0]))
    radius = rng.uniform(0.5, 3.0, n)
    vertices = rng.integers(8, 25, n)
    return [
        {"kind": ("cap", "loop")[i % 2], "lat": float(lat[i]), "lng": float(lng[i]),
         "radius_deg": float(radius[i]), "vertices": int(vertices[i])}
        for i in range(n)
    ]


def request_region(req: dict):
    """The Cap or Loop a lookup request asks for."""
    from s2geometry_spark.kernels.regions import Cap, Loop

    radius = np.radians(req["radius_deg"])
    if req["kind"] == "cap":
        return Cap.from_latlng_degrees(req["lat"], req["lng"], radius)
    return Loop.make_regular(req["lat"], req["lng"], radius, req["vertices"])


def image_window(seed: int, n: int) -> tuple[int, int]:
    """Seeded window [start, start + n) of image row indices."""
    rng = np.random.default_rng([seed, 2])
    start = int(rng.integers(0, 1 << 30))
    return start, start + n


def write_table(path: str, columns: dict, n_files: int) -> None:
    """Write columns as n_files parquet files under directory path, so the
    scan gets one split per core."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        part = pa.table({k: v[lo:hi] for k, v in columns.items()})
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_points(path: str, xyz: np.ndarray, id_col: str, prefix: str, n_files: int):
    write_table(
        path,
        {
            id_col: np.arange(xyz.shape[0], dtype=np.int64),
            f"{prefix}x": xyz[:, 0],
            f"{prefix}y": xyz[:, 1],
            f"{prefix}z": xyz[:, 2],
        },
        n_files,
    )


def write_cell_sorted(path: str, xyz: np.ndarray, cells: np.ndarray, n_files: int):
    """Points (pid = row of xyz) with their leaf cell column, sorted by
    cell, so each file holds one contiguous cell range."""
    order = np.argsort(cells, kind="stable")
    write_table(
        path,
        {"pid": order.astype(np.int64), "x": xyz[order, 0], "y": xyz[order, 1],
         "z": xyz[order, 2], "cell": cells[order]},
        n_files,
    )


def _image_batches(px_scale: int):
    from s2geometry_spark.sources.images import IMAGES_SCHEMA, make_row

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [make_row(int(i), px_scale) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=IMAGES_SCHEMA.fieldNames())

    return gen


def write_images(spark, path: str, window: tuple[int, int], px_scale: int, n_files: int):
    """Image rows sources.images.make_row(idx, px_scale) for idx in the
    window, generated in parallel and written as parquet."""
    from s2geometry_spark.sources.images import IMAGES_SCHEMA

    start, stop = window
    rows = spark.range(start, stop, numPartitions=n_files)
    rows.mapInPandas(_image_batches(px_scale), IMAGES_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
