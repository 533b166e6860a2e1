"""Multimodal resize / frame-sample plumbing + stateful streaming
operators (applyInPandasWithState)."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

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


@pytest.fixture()
def event_stream_dirs(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    df = imgsrc.images_df(spark, 200, num_partitions=2)
    df.write.mode("overwrite").parquet(str(tmp_path / "b0"))
    for i, f in enumerate(sorted((tmp_path / "b0").glob("part-*.parquet"))):
        shutil.copy(f, src / f"b0-{i}.parquet")
    return src, tmp_path


def test_streaming_tile_totals_accumulates(spark, event_stream_dirs):
    from s2geometry_spark.streaming import ingest
    from s2geometry_spark.streaming.stateful import streaming_tile_totals

    src, tmp = event_stream_dirs
    out = str(tmp / "out")
    ckpt = str(tmp / "ckpt")

    def run_once():
        stream = spark.readStream.schema(imgsrc.IMAGES_SCHEMA).parquet(str(src))
        tiled = ingest.tile_stream(stream, levels=(3,))
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_tile_totals(tiled, 3)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {r.tile: r.total for r in spark.read.parquet(out).collect()}
    batch = ingest.tile_stream(
        spark.read.parquet(str(src)), levels=(3,)
    ).groupBy("cell_l3").count()
    want = {r.cell_l3: r["count"] for r in batch.collect()}
    assert first == want
    # second batch arrives; restart with the same checkpoint: totals
    # ACCUMULATE across the restart (state lives in the checkpoint)
    df2 = imgsrc.images_df(spark, 80, num_partitions=1)
    df2.write.mode("overwrite").parquet(str(tmp / "b1"))
    for i, f in enumerate(sorted((tmp / "b1").glob("part-*.parquet"))):
        shutil.copy(f, src / f"b1-{i}.parquet")
    run_once()
    rows = spark.read.parquet(out).collect()
    # keep the LAST emitted total per tile
    latest = {}
    for r in rows:
        latest[r.tile] = max(latest.get(r.tile, 0), r.total)
    batch2 = ingest.tile_stream(
        spark.read.parquet(str(src)), levels=(3,)
    ).groupBy("cell_l3").count()
    want2 = {r.cell_l3: r["count"] for r in batch2.collect()}
    assert latest == want2
    assert sum(want2.values()) == 280


@pytest.fixture
def data_batches_only(spark):
    """``streaming_first_seen`` times markers out by processing time, and
    such a query asks for another (no-data) batch after every batch, so an
    ``availableNow`` run would never end by itself and would go on running
    no-data batches in the shared session.  Without no-data batches the
    run ends once the files present are processed; expired markers are
    then removed in the next data batch."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def test_streaming_first_seen_dedup(spark, tmp_path, data_batches_only):
    from s2geometry_spark.streaming.stateful import streaming_first_seen

    src = tmp_path / "src"
    src.mkdir()
    df = imgsrc.images_df(spark, 100, num_partitions=1).select("image_id", "fmt")
    df.write.mode("overwrite").parquet(str(tmp_path / "b0"))
    for i, f in enumerate(sorted((tmp_path / "b0").glob("part-*.parquet"))):
        shutil.copy(f, src / f"b0-{i}.parquet")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_first_seen(stream, "image_id")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 100
    # replay the same keys (plus 20 new) in a new file: only new keys emit
    df2 = imgsrc.images_df(spark, 120, num_partitions=1).select("image_id", "fmt")
    df2.write.mode("overwrite").parquet(str(tmp_path / "b1"))
    for i, f in enumerate(sorted((tmp_path / "b1").glob("part-*.parquet"))):
        shutil.copy(f, src / f"b1-{i}.parquet")
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 120  # 100 + 20 new, duplicates suppressed
    assert got.select("key").distinct().count() == 120


def test_streaming_first_seen_ttl_bounds_state(spark, tmp_path, data_batches_only):
    """With a TTL, an idle key's marker is expired and REMOVED, so (a)
    state stays bounded by the trailing window's distinct keys and (b) a
    duplicate arriving after expiry is re-emitted — the documented
    bounded-memory trade."""
    import time

    from s2geometry_spark.streaming.stateful import streaming_first_seen

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "image_id string, fmt string"

    def write_batch(tag, ids):
        df = spark.createDataFrame([(f"k{i}", "raw") for i in ids], schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / tag))
        for i, f in enumerate(sorted((tmp_path / tag).glob("part-*.parquet"))):
            shutil.copy(f, src / f"{tag}-{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_first_seen(stream, "image_id", ttl_minutes=0.0005)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b0", range(50))
    run_once()
    assert spark.read.parquet(out).count() == 50
    # batch of DIFFERENT keys after the 30 ms TTL: the idle b0 markers
    # time out during this batch and are removed
    time.sleep(1.5)
    write_batch("b1", range(100, 120))
    run_once()
    assert spark.read.parquet(out).count() == 70
    # replay the b0 keys: markers are gone -> re-emitted
    time.sleep(1.5)
    write_batch("b2", range(50))
    run_once()
    assert spark.read.parquet(out).count() == 120


def test_streaming_first_seen_no_ttl_unbounded(spark, tmp_path):
    """ttl_minutes=None keeps whole-stream exact dedup (markers never
    expire) regardless of wall-clock gaps."""
    import time

    from s2geometry_spark.streaming.stateful import streaming_first_seen

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "image_id string, fmt string"

    def write_batch(tag, ids):
        df = spark.createDataFrame([(f"k{i}", "raw") for i in ids], schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / tag))
        for i, f in enumerate(sorted((tmp_path / tag).glob("part-*.parquet"))):
            shutil.copy(f, src / f"{tag}-{i}.parquet")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_first_seen(stream, "image_id", ttl_minutes=None)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b0", range(30))
    run_once()
    time.sleep(1.0)
    write_batch("b1", range(30))  # exact replay after a gap
    run_once()
    assert spark.read.parquet(out).count() == 30
