"""Image table + pipeline tests: codecs, determinism, per-row invariants
(PSNR >= 40 dB lossy / exact lossless + caption equality), tiling, and the
polygon containment join against a NumPy brute-force oracle."""

import numpy as np
import pytest

from s2geometry_spark.kernels import cellid, imagecodec
from s2geometry_spark.kernels.geotag import geotag_from_index
from s2geometry_spark.kernels.regions import Cap, Loop
from s2geometry_spark.operators import image_pipeline as ip
from s2geometry_spark.operators.contains_join import RegionIndex
from s2geometry_spark.sources import images as imgsrc
from tests.conftest import load_entry

N = 240


# ---------- codec unit tests (no Spark) ----------


def test_codec_roundtrip_lossless():
    for idx in [0, 1, 7, 12345]:
        px = imagecodec.gen_pixels(idx, 13, 9)
        for fmt in ("raw", "rle"):
            decoded, f2 = imagecodec.decode(imagecodec.encode(px, fmt))
            assert f2 == fmt
            assert np.array_equal(decoded, px)


def test_codec_png_roundtrip_and_defilter():
    """PNG is a REAL interchange format here: stdlib zlib writer/reader.
    Roundtrip via the generic dispatch, then decode PNGs built with all
    five scanline filters (spec 9.2), an RGBA variant (alpha dropped),
    and verify chunk-CRC corruption is detected."""
    import struct
    import zlib

    px = imagecodec.gen_pixels(42, 23, 17)
    buf = imagecodec.encode(px, "png")
    assert buf[:8] == imagecodec.PNG_SIG
    decoded, fmt = imagecodec.decode(buf)
    assert fmt == "png" and np.array_equal(decoded, px)

    def encode_filtered(pixels, ftypes, channels=3, ctype=2):
        h, w, _ = pixels.shape
        bpp = channels
        flat = pixels.reshape(h, -1).astype(np.int64)
        rows, prev = [], np.zeros(w * channels, np.int64)
        for y in range(h):
            cur = flat[y]
            ft = ftypes[y % len(ftypes)]
            enc = cur.copy()
            if ft == 1:
                enc[bpp:] = (cur[bpp:] - cur[:-bpp]) & 0xFF
            elif ft == 2:
                enc = (cur - prev) & 0xFF
            elif ft == 3:
                for i in range(cur.size):
                    left = cur[i - bpp] if i >= bpp else 0
                    enc[i] = (cur[i] - ((left + prev[i]) >> 1)) & 0xFF
            elif ft == 4:
                for i in range(cur.size):
                    left = int(cur[i - bpp]) if i >= bpp else 0
                    up = int(prev[i])
                    ul = int(prev[i - bpp]) if i >= bpp else 0
                    enc[i] = (cur[i] - imagecodec._paeth(left, up, ul)) & 0xFF
            rows.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            imagecodec.PNG_SIG
            + imagecodec._png_chunk(b"IHDR", ihdr)
            + imagecodec._png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + imagecodec._png_chunk(b"IEND", b"")
        )

    assert np.array_equal(
        imagecodec.decode_png(encode_filtered(px, [0, 1, 2, 3, 4])), px
    )
    rgba = np.dstack([px, np.full(px.shape[:2], 200, np.uint8)])
    assert np.array_equal(
        imagecodec.decode_png(encode_filtered(rgba, [0, 2], channels=4, ctype=6)),
        px,
    )
    bad = bytearray(buf)
    bad[-5] ^= 0xFF
    with pytest.raises(ValueError):
        imagecodec.decode_png(bytes(bad))


def test_generator_mix_includes_png():
    from s2geometry_spark.sources.images import FMTS, make_row

    assert "png" in FMTS
    row = make_row(3)  # idx % 4 == 3 -> png
    assert row["fmt"] == "png"
    decoded, fmt = imagecodec.decode(row["bytes"])
    assert fmt == "png"
    assert decoded.shape == (row["h"], row["w"], 3)


def test_codec_qnt_lossy_psnr():
    for idx in [0, 3, 999]:
        px = imagecodec.gen_pixels(idx, 16, 16)
        decoded, _ = imagecodec.decode(imagecodec.encode(px, "qnt"))
        assert not np.array_equal(decoded, px)  # genuinely lossy
        p = imagecodec.psnr_db(px, decoded)
        assert 40.0 <= p < 60.0, p
        assert np.max(np.abs(px.astype(int) - decoded.astype(int))) <= 3


def test_rle_compresses_constant_image():
    const = np.full((16, 16, 3), 200, np.uint8)
    assert len(imagecodec.encode(const, "rle")) < len(imagecodec.encode(const, "raw")) / 10
    decoded, _ = imagecodec.decode(imagecodec.encode(const, "rle"))
    assert np.array_equal(decoded, const)


def test_phash_deterministic_and_varied():
    h1 = imagecodec.phash64(imagecodec.gen_pixels(42, 12, 12))
    h2 = imagecodec.phash64(imagecodec.gen_pixels(42, 12, 12))
    assert h1 == h2
    hashes = {imagecodec.phash64(imagecodec.gen_pixels(i, 12, 12)) for i in range(50)}
    assert len(hashes) > 40  # distinct images -> distinct hashes


def test_make_row_deterministic():
    a, b = imgsrc.make_row(17), imgsrc.make_row(17)
    assert a == b
    assert a["phash"] == imagecodec.phash64(imgsrc.source_pixels(17))


# ---------- Spark pipeline ----------


@pytest.fixture(scope="module")
def images_geo(spark):
    df = ip.with_geotag(imgsrc.images_df(spark, N, num_partitions=8)).cache()
    df.count()
    yield df
    df.unpersist()


def test_images_df_schema_and_determinism(spark):
    df1 = imgsrc.images_df(spark, 60, num_partitions=4)
    assert df1.schema == imgsrc.IMAGES_SCHEMA
    rows1 = {r.image_id: (bytes(r.bytes), r.phash, r.caption) for r in df1.collect()}
    rows2 = {
        r.image_id: (bytes(r.bytes), r.phash, r.caption)
        for r in imgsrc.images_df(spark, 60, num_partitions=7).collect()
    }
    assert rows1 == rows2  # partitioning-invariant generation
    assert len(rows1) == 60


def test_invariants_all_pass(images_geo):
    v = ip.verify_invariants(images_geo)
    rows = v.collect()
    assert len(rows) == N
    assert all(r.caption_ok and r.pixels_ok for r in rows)
    lossy = [r for r in rows if r.fmt == "qnt"]
    assert lossy and all(40.0 <= r.psnr_db < 900 for r in lossy)
    lossless = [r for r in rows if r.fmt in ("raw", "rle")]
    assert lossless and all(r.psnr_db == 999.0 for r in lossless)
    assert ip.invariant_violations(images_geo).count() == 0


def test_video_invariants_all_pass(spark):
    """Every generated video row is a REAL MJPEG container that demuxes
    to its metadata geometry with all frames at PSNR >= 40 dB."""
    vids = imgsrc.videos_df(spark, 24, num_partitions=3)
    rows = ip.verify_video_invariants(vids).collect()
    assert len(rows) == 24
    assert all(r.meta_ok and r.pixels_ok for r in rows)
    assert all(r.fmt == "mjpg" and 40.0 <= r.psnr_db < 900 for r in rows)
    assert ip.video_invariant_violations(vids).count() == 0


def test_geotag_matches_kernel(images_geo):
    rows = images_geo.select("phash", "lat", "lng", "cell").collect()
    ph = np.array([r.phash for r in rows], np.int64).astype(np.uint64)
    lat, lng = geotag_from_index(ph)
    ids = cellid.from_latlng_degrees(lat, lng)
    np.testing.assert_allclose([r.lat for r in rows], lat)
    np.testing.assert_array_equal(
        np.array([r.cell for r in rows], np.int64), cellid.to_biased(ids)
    )


def test_tile_image_stats(images_geo):
    stats = ip.tile_image_stats(images_geo, 5).collect()
    assert sum(r.n_images for r in stats) == N
    assert all(0.0 < r.avg_luma < 255.0 for r in stats)
    # hot spots (20% of rows in 3 city caps) -> some tiles much denser
    assert max(r.n_images for r in stats) >= 5


def test_fused_tile_audit_matches_unfused(spark, images_geo):
    """The single-crossing fused operator must agree with the chained path."""
    fused = {r[0]: (r.n_images, r.n_violations) for r in ip.fused_tile_audit(images_geo, 5).collect()}
    stats = {r[0]: r.n_images for r in ip.tile_image_stats(images_geo, 5).collect()}
    assert {k: v[0] for k, v in fused.items()} == stats
    assert all(v[1] == 0 for v in fused.values())


def test_px_scale_generates_larger_verified_images(spark):
    df = ip.with_geotag(imgsrc.images_df(spark, 40, num_partitions=4, px_scale=4))
    rows = df.collect()
    assert all(32 <= r.w <= 96 and 32 <= r.h <= 96 for r in rows)
    v = ip.verify_invariants(df).collect()
    assert all(r.caption_ok and r.pixels_ok for r in v)


def test_images_pip_join_vs_bruteforce(spark, images_geo):
    loops = {
        "zurich": Loop.make_regular(47.36, 8.55, 1.2, 16),
        "sydney": Loop.make_regular(-33.87, 151.20, 1.2, 16),
    }
    got = {
        (r.image_id, r.poly_id)
        for r in ip.images_pip_join(spark, images_geo, RegionIndex(loops)).collect()
    }
    # brute force on the driver
    rows = images_geo.select("image_id", "lat", "lng").collect()
    lat = np.radians(np.array([r.lat for r in rows]))
    lng = np.radians(np.array([r.lng for r in rows]))
    pts = np.stack(
        [np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)], axis=1
    )
    from s2geometry_spark.kernels import predicates

    want = set()
    for rid, lp in loops.items():
        inside = predicates.polygon_contains_points(
            [np.asarray(lp.vertices)], [bool(lp.origin_inside)], pts
        )
        want |= {(rows[i].image_id, rid) for i in np.flatnonzero(inside)}
    assert got == want
    assert want  # hot spots guarantee non-empty


def test_image_quality_screening(spark):
    """Hand-made degenerate frames trip each quality gate; a textured
    frame passes."""
    from s2geometry_spark.operators.image_pipeline import image_quality

    rng = np.random.RandomState(4)
    textured = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
    black = np.zeros((24, 24, 3), np.uint8)
    white = np.full((24, 24, 3), 255, np.uint8)
    flat = np.full((24, 24, 3), 128, np.uint8)  # mid-gray, zero contrast
    rows = [
        ("ok", imagecodec.encode(textured, "raw")),
        ("black", imagecodec.encode(black, "raw")),
        ("white", imagecodec.encode(white, "raw")),
        ("flat", imagecodec.encode(flat, "raw")),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: r for r in image_quality(df).collect()}
    assert got["ok"].keep
    assert not got["black"].keep and got["black"].mean_luma < 16.0
    assert not got["white"].keep and got["white"].mean_luma > 235.0
    assert not got["flat"].keep and got["flat"].std_luma < 1e-9
    assert abs(got["flat"].entropy_bits) == 0.0
    assert got["ok"].entropy_bits > 5.0
    assert all(r.n_px == 24 * 24 for r in got.values())


def test_img_knn_matches_brute_force(spark):
    """The k-nearest-image query (staged ring-expansion kNN over the
    geotagged generated images) equals the NumPy brute-force top-k with
    the same (dist, pid) tie-break."""
    import numpy as np

    mod = load_entry()

    sf = "/root/testdata/sf0.001"
    out = mod.q_img_knn(spark, sf).toPandas()

    from s2geometry_spark.operators import image_pipeline as ip

    imgs = ip.with_xyz(mod._images_geo_narrow(spark, sf)).select(
        "image_id", "x", "y", "z"
    ).toPandas()
    qs = mod._customer_queries(spark, sf, mod._QUERY_KEY).select(
        "qid", "qx", "qy", "qz"
    ).toPandas()
    P = imgs[["x", "y", "z"]].to_numpy()
    pid = imgs["image_id"].to_numpy()
    order_pid = np.argsort(pid, kind="stable")
    want = {}
    for _, row in qs.iterrows():
        q = np.array([row.qx, row.qy, row.qz])
        d = ((P - q) ** 2).sum(axis=1)
        idx = sorted(range(len(d)), key=lambda i: (d[i], pid[i]))[: mod.KNN_K]
        want[row.qid] = [(r + 1, pid[i], d[i]) for r, i in enumerate(idx)]
    got = {}
    for _, r in out.iterrows():
        got.setdefault(r.qid, []).append((r["rank"], r.image_id, r.dist_chord2))
    for k in got:
        got[k] = sorted(got[k])
    assert len(got) == len(want)
    for qid, rows in want.items():
        assert got[qid] == rows, (qid, got[qid], rows)
