"""Multimodal resize / frame-sample plumbing."""

import numpy as np
import pytest

from s2geometry_spark.kernels import imagecodec
from s2geometry_spark.sources import images as imgsrc


def test_resize_nearest_kernel():
    px = imagecodec.gen_pixels(7, 16, 12)
    t = imagecodec.resize_nearest(px, 8, 8)
    assert t.shape == (8, 8, 3)
    # identity resize is exact; 2x downscale samples the source grid
    assert np.array_equal(imagecodec.resize_nearest(px, 16, 12), px)
    assert np.array_equal(t[0, 0], px[0, 0])


def test_resize_images_operator(spark):
    from s2geometry_spark.operators.image_pipeline import resize_images

    df = imgsrc.images_df(spark, 40, num_partitions=2)
    out = {r.image_id: r for r in resize_images(df, 6, 6).collect()}
    assert len(out) == 40
    for idx in (0, 7, 23):
        row = out[f"img{idx:012d}"]
        px, _ = imagecodec.decode(bytes(imgsrc.make_row(idx)["bytes"]))
        want = imagecodec.resize_nearest(px, 6, 6)
        got = np.frombuffer(row.thumb, dtype=np.uint8).reshape(6, 6, 3)
        assert np.array_equal(got, want)
        assert row.tw == row.th == 6


def test_sample_video_frames_operator(spark):
    """The sampler demuxes the REAL container: frame count and pixels come
    from the MJPEG marker stream, and sampled-frame luma equals the luma of
    the container's own decoded frames (bit-exact vs decode_video)."""
    from s2geometry_spark.operators.image_pipeline import sample_video_frames

    vids = imgsrc.videos_df(spark, 12, num_partitions=2)
    every = 4
    rows = sample_video_frames(vids, every).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.video_id, []).append((r.frame_idx, r.mean_luma))
    assert len(by_vid) == 12
    for idx in (0, 5):
        meta = imgsrc.make_video_row(idx)
        frames = imagecodec.decode_video(meta["bytes"])
        assert frames.shape == (meta["n_frames"], meta["h"], meta["w"], 3)
        want_idx = imagecodec.frame_sample_indices(meta["n_frames"], every)
        got = sorted(by_vid[meta["video_id"]])
        assert [f for f, _ in got] == want_idx.tolist()
        for f, luma in got:
            p = frames[f].astype(np.float64)
            w = (0.299 * p[:, :, 0] + 0.587 * p[:, :, 1] + 0.114 * p[:, :, 2]).mean()
            assert luma == pytest.approx(w, abs=0)


def test_decode_video_real_mjpeg_roundtrip():
    """decode_video is REAL for MJPEG payloads: round-trips encode_video
    at the invariant PSNR bar, selective demux decodes exactly the full
    decoder's frames, and non-JPEG containers still raise (no codec libs
    in this sandbox)."""
    src = imgsrc.gen_video_frames(3, 12, 10, 6)
    buf = imagecodec.encode_video(src)
    dec = imagecodec.decode_video(buf)
    assert dec.shape == src.shape
    assert imagecodec.video_frame_count(buf) == 6
    for s, d in zip(src, dec):
        assert imagecodec.psnr_db(s, d) >= imagecodec.PSNR_MIN_DB
    # selective demux: only the requested frames, bit-identical to the
    # full decode at those indices
    sel = imagecodec.decode_video_frames(buf, np.array([1, 4]))
    assert [f for f, _ in sel] == [1, 4]
    for f, px in sel:
        assert np.array_equal(px, dec[f])
    with pytest.raises(NotImplementedError):
        imagecodec.decode_video(b"whatever")
    with pytest.raises(NotImplementedError):
        imagecodec.decode_video_frames(b"whatever", np.array([0]))
