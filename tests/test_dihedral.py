"""Dihedral-invariant pHash dedup: exactness + planted-pair recovery."""

import numpy as np

from s2geometry_spark.kernels import imagecodec as ic
from tests.conftest import SF_ORACLE, load_entry


def test_canon_invariant_under_all_dihedral_transforms():
    rng = np.random.default_rng(11)
    for _ in range(50):
        h, w = 8 * rng.integers(1, 4), 8 * rng.integers(1, 4)
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        c0 = ic.phash64_canon(px)
        for k in range(8):
            assert ic.phash64_canon(ic.dihedral_transform(px, k)) == c0


def test_plain_phash_not_rotation_invariant():
    """The capability gap the canon hash closes: a quarter-turn changes
    the plain pHash (so the banded Hamming join cannot pair rotations)."""
    rng = np.random.default_rng(12)
    changed = 0
    for _ in range(40):
        px = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
        if ic.phash64(ic.dihedral_transform(px, 1)) != ic.phash64(px):
            changed += 1
    assert changed >= 35


def test_dihedral_group_closure():
    """canon is the min over the ORBIT: transforming first never changes
    the orbit, including for rectangular (non-square) grids."""
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, (8, 24, 3)).astype(np.uint8)
    orbit = {ic.phash64_canon(ic.dihedral_transform(px, k)) for k in range(8)}
    assert len(orbit) == 1


def test_fused_canon_pass_equals_composed(spark):
    """phash_canon_with_dihedral (one decode pass) must produce exactly
    the (id, canon) set of the composed path it replaced: canon-hash
    over corpus ∪ dihedral_variants(corpus)."""
    from s2geometry_spark.operators.image_dedup import (
        dihedral_variants,
        phash_canon_from_bytes,
        phash_canon_with_dihedral,
    )
    from s2geometry_spark.sources import images as imgsrc

    corpus = imgsrc.images_df(spark, 40).select("image_id", "bytes")
    fused = (
        phash_canon_with_dihedral(corpus)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    composed = (
        phash_canon_from_bytes(corpus.unionByName(dihedral_variants(corpus)))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert fused.image_id.tolist() == composed.image_id.tolist()
    assert (fused.canon.values == composed.canon.values).all()


def test_planted_pairs_recovered(spark):
    mod = load_entry()
    pdf = mod.q_img_dedup_dihedral(spark, SF_ORACLE).toPandas()

    from s2geometry_spark.sources import images as imgsrc

    n = imgsrc.n_images_for_sf_dir(SF_ORACLE)
    expected = 0
    for idx in range(n):
        row = imgsrc.make_row(idx)
        if row["w"] % 8 == 0 and row["h"] % 8 == 0:
            expected += 1
    direct = pdf[
        pdf.apply(lambda r: r.id_b.startswith(r.id_a + ":d"), axis=1)
    ]
    assert len(direct) == expected
    # every planted variant is paired with its exact source
    variants = {i for i in pdf.id_b if ":d" in i} | {
        i for i in pdf.id_a if ":d" in i
    }
    assert len(variants) == expected
