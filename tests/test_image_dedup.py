"""Perceptual near-dup image detection vs a brute-force popcount oracle.

These tests pin the banded-Hamming join and its image front-end: decoded
pHash values, losslessness of the 4x16-bit banding at radius <= 3, the
planted original/variant guarantee, and the end-to-end pair set against
an all-pairs NumPy popcount.
"""

import numpy as np
import pytest

from s2geometry_spark.kernels import imagecodec
from s2geometry_spark.operators.image_dedup import (
    N_BANDS,
    phash_from_bytes,
    phash_near_dup_pairs,
    reencoded_variants,
)
from s2geometry_spark.sources import images as imgsrc
from tests.conftest import load_entry

N = 500


def _brute_pairs(ids, hashes, max_dist):
    h = np.asarray(hashes, np.uint64)
    x = h[:, None] ^ h[None, :]
    d = np.zeros_like(x, dtype=np.int64)
    for s in range(0, 64, 8):
        d += np.unpackbits(
            ((x >> np.uint64(s)) & np.uint64(0xFF)).astype(np.uint8)[..., None],
            axis=-1,
        ).sum(axis=-1, dtype=np.int64)
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if d[i, j] <= max_dist:
                a, b = sorted((ids[i], ids[j]))
                out.add((a, b, int(d[i, j])))
    return out


def test_phash_from_bytes_matches_kernel(spark):
    """Spark-side decoded-pixel hashes == driver-side kernel on the same rows."""
    imgs = imgsrc.images_df(spark, 64)
    got = {r.image_id: r.phash for r in phash_from_bytes(imgs).collect()}
    assert len(got) == 64
    for idx in range(64):
        row = imgsrc.make_row(idx)
        px, _ = imagecodec.decode(row["bytes"])
        assert got[row["image_id"]] == imagecodec.phash64(px)


def test_banding_lossless_and_planted_pairs(spark):
    """Every original/qnt-variant pair is found (qnt |err| <= 2 codes keeps
    the hash within the radius), and the full pair set equals brute force."""
    corpus = imgsrc.images_df(spark, N).select("image_id", "bytes")
    both = corpus.unionByName(reencoded_variants(corpus, fmt="qnt"))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup_pairs(both, max_dist=2).collect()
    }
    rows = phash_from_bytes(both).collect()
    ids = [r.image_id for r in rows]
    hashes = [np.int64(r.phash).astype(np.uint64) for r in rows]
    want = _brute_pairs(ids, hashes, 2)
    assert got == want
    # planted pairs: qnt block means shift by <= 2 codes, but a bit whose
    # block sits within that margin of the GLOBAL mean threshold can
    # still flip, so the variant's distance is usually 0-2 and rarely
    # 3-4 (measured 496/500 <= 2 at N=500).  The operator must find
    # exactly the within-radius planted pairs — and that must be nearly
    # all of them, or the fixture isn't exercising anything.
    planted = {(a, b) for a, b, _ in got if a == f"dup-{b}"}
    h = dict(zip(ids, hashes))
    within = {
        i
        for i in range(N)
        if bin(int(h[f"img{i:012d}"] ^ h[f"dup-img{i:012d}"])).count("1") <= 2
    }
    assert planted == {(f"dup-img{i:012d}", f"img{i:012d}") for i in within}
    assert len(within) >= int(0.98 * N)


def test_two_table_form(spark):
    corpus = imgsrc.images_df(spark, 120).select("image_id", "bytes")
    variants = reencoded_variants(corpus, fmt="qnt")
    got = phash_near_dup_pairs(corpus, variants, max_dist=2).collect()
    mine = {r.id_a: r.id_b for r in got if r.id_b == f"dup-{r.id_a}"}
    assert len(mine) >= int(0.95 * 120)  # rare >2-bit qnt flips excluded


def test_max_dist_guard():
    with pytest.raises(ValueError):
        phash_near_dup_pairs(None, max_dist=N_BANDS)


def test_phash_dedup_clusters(spark):
    """Every planted original/variant pair lands in one cluster with a
    consistent canonical id; cluster_size matches membership."""
    from collections import defaultdict

    from s2geometry_spark.operators.image_dedup import (
        phash_dedup_clusters,
        reencoded_variants,
    )
    from s2geometry_spark.sources import images as imgsrc

    corpus = imgsrc.images_df(spark, 120).select("image_id", "bytes")
    both = corpus.unionByName(reencoded_variants(corpus, fmt="qnt"))
    rows = phash_dedup_clusters(both, max_dist=2).collect()
    by_canon = defaultdict(set)
    canon_of = {}
    size_of = {}
    for r in rows:
        by_canon[r.canonical_id].add(r.image_id)
        canon_of[r.image_id] = r.canonical_id
        size_of[r.image_id] = r.cluster_size
    # each original clusters with its dup- variant
    for r in rows:
        if r.image_id.startswith("dup-"):
            src = r.image_id[len("dup-"):]
            assert canon_of.get(src) == r.canonical_id, r.image_id
    # canonical is the min member; size is the member count
    for canon, members in by_canon.items():
        assert canon == min(members)
        assert all(size_of[m] == len(members) for m in members)


def test_phash_with_reencoded_matches_composed_path(spark):
    """The fused one-decode-pass hash producer yields EXACTLY the hashes
    the two-pass composition (reencoded_variants + phash_from_bytes)
    produces, and drives phash_dedup_clusters to the identical result."""
    from s2geometry_spark.operators.image_dedup import (
        phash_dedup_clusters,
        phash_from_bytes,
        phash_with_reencoded,
        reencoded_variants,
    )
    from s2geometry_spark.sources import images as imgsrc

    corpus = imgsrc.images_df(spark, 96).select("image_id", "bytes")
    fused = {
        r.image_id: r.phash for r in phash_with_reencoded(corpus, fmt="qnt").collect()
    }
    both = corpus.unionByName(reencoded_variants(corpus, fmt="qnt"))
    composed = {r.image_id: r.phash for r in phash_from_bytes(both).collect()}
    assert fused == composed

    c_fused = {
        (r.image_id, r.canonical_id, r.cluster_size)
        for r in phash_dedup_clusters(
            hashes=phash_with_reencoded(corpus, fmt="qnt"), max_dist=2
        ).collect()
    }
    c_composed = {
        (r.image_id, r.canonical_id, r.cluster_size)
        for r in phash_dedup_clusters(both, max_dist=2).collect()
    }
    assert c_fused == c_composed


class TestHammingBall:
    """The exact flip-one-bit variant join (hamming_ball_hash_pairs)."""

    def test_ball_pairs_match_brute_force(self, spark):
        from s2geometry_spark.operators.image_dedup import (
            hamming_ball_hash_pairs,
        )

        rng = np.random.RandomState(7)
        base = rng.randint(-(2**63), 2**63, size=60, dtype=np.int64)
        # plant d=1 and d=2 neighbors, including the sign bit (bit 63)
        planted = [
            int(base[0]) ^ 1,
            int(base[1]) ^ (1 << 5) ^ (1 << 40),
            int(np.int64(base[2] ^ np.int64(-(2**63)))),  # flip bit 63
            int(np.int64(base[3] ^ np.int64(-(2**63)) ^ np.int64(1))),
        ]
        hashes = sorted(set(int(x) for x in base) | set(planted))
        df = spark.createDataFrame([(h,) for h in hashes], "phash long")
        got = {
            (r.ph_a, r.ph_b, r.hamming)
            for r in hamming_ball_hash_pairs(df, 2).collect()
        }
        h = np.asarray(hashes, np.int64).view(np.uint64)
        x = h[:, None] ^ h[None, :]
        d = np.zeros_like(x, dtype=np.int64)
        for s in range(0, 64, 8):
            d += np.unpackbits(
                ((x >> np.uint64(s)) & np.uint64(0xFF)).astype(np.uint8)[..., None],
                axis=-1,
            ).sum(axis=-1, dtype=np.int64)
        want = set()
        for i in range(len(hashes)):
            for j in range(i + 1, len(hashes)):
                if 1 <= d[i, j] <= 2:
                    a, b = sorted((hashes[i], hashes[j]))
                    want.add((a, b, int(d[i, j])))
        assert got == want
        assert any(t[2] == 2 for t in want) and any(t[2] == 1 for t in want)

    def test_ball_rejects_large_radius(self, spark):
        from s2geometry_spark.operators.image_dedup import (
            hamming_ball_hash_pairs,
        )

        df = spark.createDataFrame([(0,)], "phash long")
        with pytest.raises(ValueError):
            hamming_ball_hash_pairs(df, 3)


def test_caption_conflict_planted(spark):
    """Odd-index planted variants get edited captions -> must surface as
    conflicts; even-index planted pairs share the caption -> excluded."""
    mod = load_entry()
    from s2geometry_spark.operators.image_dedup import caption_conflict_pairs
    from pyspark.sql import functions as F

    n = 200
    corpus = imgsrc.images_df(spark, n)
    both = corpus.select("image_id", "bytes").unionByName(
        reencoded_variants(corpus.select("image_id", "bytes"), fmt="qnt")
    )
    idx = F.substring("image_id", 4, 12).cast("long")
    captions = corpus.select("image_id", "caption").unionByName(
        corpus.select(
            F.concat(F.lit("dup-"), "image_id").alias("image_id"),
            F.when(idx % 2 == 1, F.concat("caption", F.lit(" (edited)")))
            .otherwise(F.col("caption"))
            .alias("caption"),
        )
    )
    pairs = phash_near_dup_pairs(images_a=both, max_dist=2)
    got = {
        (r.id_a, r.id_b)
        for r in caption_conflict_pairs(pairs, captions).collect()
    }
    n_odd = 0
    for i in range(n):
        row = imgsrc.make_row(i)
        px, _ = imagecodec.decode(row["bytes"])
        vpx, _ = imagecodec.decode(imagecodec.encode(px, "qnt"))
        d = bin(imagecodec.phash64(px) ^ imagecodec.phash64(vpx)).count("1")
        rid = f"img{i:012d}"
        planted = tuple(sorted((rid, "dup-" + rid)))
        if i % 2 == 1 and d <= 2:
            # a planted near-dup with an edited caption MUST surface
            n_odd += 1
            assert planted in got, (planted, d)
        else:
            # same-caption (even) planted pairs are excluded regardless
            # of distance; odd pairs beyond the radius aren't near-dups
            assert planted not in got, (planted, d)
    assert n_odd > 50  # the fixture plants a meaningful conflict set
    # every surfaced conflict is a true near-dup pair with distinct captions
    cap = {r.image_id: r.caption for r in captions.collect()}
    for a, b in got:
        assert cap[a] != cap[b]


def test_tile_blocked_near_dup_matches_brute_force(spark):
    """Spatially-blocked near-dup == brute force over (same tile,
    hamming <= 2) pairs; and it is exactly the global near-dup pair set
    filtered to co-located pairs."""
    from s2geometry_spark import functions as s2f
    from s2geometry_spark.kernels import imagecodec
    from s2geometry_spark.operators import image_pipeline as ip
    from s2geometry_spark.operators.image_dedup import (
        tile_blocked_near_dup,
    )
    from s2geometry_spark.sources import images as imgsrc

    N, LVL = 150, 5
    geo = ip.with_geotag(imgsrc.images_df(spark, N))
    got = {
        (r.tile, r.id_a, r.id_b): r.hamming
        for r in tile_blocked_near_dup(geo, level=LVL).collect()
    }
    rows = geo.select(
        "image_id", "bytes", s2f.parent_expr("cell", LVL).alias("tile")
    ).collect()
    hashes = [
        (r.image_id, imagecodec.phash64(imagecodec.decode(bytes(r.bytes))[0]), r.tile)
        for r in rows
    ]
    expect = {}
    for i, (ia, ha, ta) in enumerate(hashes):
        for ib, hb, tb in hashes[i + 1 :]:
            if ta != tb:
                continue
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 2:
                a, b = sorted((ia, ib))
                expect[(ta, a, b)] = d
    assert got == expect
    assert len(got) > 0, "fixture draw has no co-located near-dups"
