"""Property tests for the cell-union algebra, replaying the reference's
randomized test strategy (s2cell_union_test.cc, 942 LoC) with hypothesis:
every set operation is cross-checked against brute-force LEAF-INTERVAL
semantics (a cell union is exactly a set of disjoint leaf ranges)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from s2geometry_spark.kernels import cellid, cellunion

MAX_LEVEL = 30


@st.composite
def random_cells(draw, max_cells=12):
    """Random valid cell ids at random levels (reference's GetRandomCellId)."""
    n = draw(st.integers(1, max_cells))
    out = []
    for _ in range(n):
        face = draw(st.integers(0, 5))
        level = draw(st.integers(0, 12))  # shallow: keeps interval math in python ints
        pos = draw(st.integers(0, 4**level - 1))
        cid = int(cellid.from_face(np.array([face]))[0])
        # descend `level` times picking the child from pos digits
        for k in range(level):
            child = (pos >> (2 * (level - 1 - k))) & 3
            cid = int(cellid.child(np.array([cid], np.uint64), child)[0])
        out.append(cid)
    return np.array(out, dtype=np.uint64)


def leaf_ranges(ids: np.ndarray) -> set[tuple[int, int]]:
    return {
        (int(a), int(b))
        for a, b in zip(cellid.range_min(ids).tolist(), cellid.range_max(ids).tolist())
    }


def covered_leaves(ids: np.ndarray) -> set[int]:
    """Brute-force: the set of covered leaf ranges, merged (as python ints,
    sampled via interval arithmetic — exact because ranges are disjoint
    after normalize)."""
    ivs = sorted(leaf_ranges(ids))
    merged = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


@settings(max_examples=60, deadline=None)
@given(random_cells())
def test_normalize_preserves_leaf_coverage(ids):
    norm = cellunion.normalize(ids)
    assert covered_leaves(norm) == covered_leaves(ids)
    # normalized: sorted, disjoint, no 4-sibling groups
    rmins = cellid.range_min(norm)
    rmaxs = cellid.range_max(norm)
    assert (rmins[1:] > rmaxs[:-1]).all() if len(norm) > 1 else True


@settings(max_examples=40, deadline=None)
@given(random_cells(6), random_cells(6))
def test_union_intersection_difference_vs_intervals(a, b):
    na, nb = cellunion.normalize(a), cellunion.normalize(b)

    def to_points(merged):
        # sample: endpoints + midpoints of every merged interval
        pts = set()
        for lo, hi in merged:
            pts.update((lo, hi, (lo + hi) // 2 | 1))
        return pts

    la, lb = covered_leaves(na), covered_leaves(nb)

    def member(merged, x):
        return any(lo <= x <= hi for lo, hi in merged)

    u = cellunion.union(na, nb)
    i = cellunion.intersection(na, nb)
    d = cellunion.difference(na, nb)
    lu, li, ld = covered_leaves(u), covered_leaves(i), covered_leaves(d)
    for x in to_points(la) | to_points(lb) | to_points(lu) | to_points(li) | to_points(ld):
        in_a, in_b = member(la, x), member(lb, x)
        assert member(lu, x) == (in_a or in_b)
        assert member(li, x) == (in_a and in_b)
        assert member(ld, x) == (in_a and not in_b)


@settings(max_examples=40, deadline=None)
@given(random_cells(8))
def test_contains_intersects_vs_intervals(ids):
    u = cellunion.normalize(ids)
    merged = covered_leaves(u)
    # deterministic probes: the union's own cells, their parents + children
    probes = list(u.tolist())
    for v in u.tolist()[:4]:
        arr = np.array([v], np.uint64)
        lv = int(cellid.level(arr)[0])
        if lv > 0:
            probes.append(int(cellid.parent(arr, lv - 1)[0]))
        if lv < MAX_LEVEL:
            probes.append(int(cellid.child(arr, 2)[0]))
    parr = np.array(probes, dtype=np.uint64)
    got_c = cellunion.contains_cell(u, parr)
    got_i = cellunion.intersects_cell(u, parr)
    for k, v in enumerate(probes):
        va = np.array([v], np.uint64)
        lo, hi = int(cellid.range_min(va)[0]), int(cellid.range_max(va)[0])
        want_c = any(mlo <= lo and hi <= mhi for mlo, mhi in merged)
        want_i = any(mlo <= hi and lo <= mhi for mlo, mhi in merged)
        assert bool(got_c[k]) == want_c
        assert bool(got_i[k]) == want_i


@settings(max_examples=30, deadline=None)
@given(random_cells(5), st.integers(0, 3))
def test_expand_level_contains_original(ids, dlevel):
    u = cellunion.normalize(ids)
    lv = max(0, int(cellid.level(u).min()) - dlevel)
    ex = cellunion.expand_level(u, lv)
    merged = covered_leaves(ex)
    for v in u.tolist():
        va = np.array([v], np.uint64)
        lo, hi = int(cellid.range_min(va)[0]), int(cellid.range_max(va)[0])
        assert any(mlo <= lo and hi <= mhi for mlo, mhi in merged)

def test_composite_region_join_matches_boolean_membership(spark):
    """The distributed (pair, mode) set-op + point join must equal pure
    boolean membership over the member coverings — the leaf-exactness
    identity the oracle relies on — including zero rows for empty
    compositions."""
    from s2geometry_spark.operators.region_algebra import composite_region_join

    rng = np.random.default_rng(7)
    # three coverings: two overlapping over face 0, one disjoint (face 3)
    def cov(face, count, level):
        leaf = cellid.from_latlng_degrees(
            rng.uniform(5, 40, count), rng.uniform(5 + 90 * face, 40 + 90 * face, count)
        )
        return cellunion.normalize(cellid.parent(leaf, level))

    covs = {
        "a": cov(0, 8, 6),
        "b": cov(0, 8, 7),
        "c": cov(1, 4, 6),
    }
    pts_leaf = cellid.from_latlng_degrees(
        rng.uniform(0, 50, 4000), rng.uniform(0, 140, 4000)
    )
    pts = spark.createDataFrame(
        [(int(i), int(c)) for i, c in enumerate(cellid.to_biased(pts_leaf).tolist())],
        "pid long, cell long",
    )
    got = {
        (r.rid_a, r.rid_b, r.mode): r.n_points
        for r in composite_region_join(spark, pts, covs).collect()
    }
    assert len(got) == 9  # 3 pairs x 3 modes, zeros included
    import itertools

    for ra, rb in itertools.combinations(sorted(covs), 2):
        in_a = cellunion.contains_cell(covs[ra], pts_leaf)
        in_b = cellunion.contains_cell(covs[rb], pts_leaf)
        assert got[(ra, rb, "union")] == int(np.sum(in_a | in_b))
        assert got[(ra, rb, "intersection")] == int(np.sum(in_a & in_b))
        assert got[(ra, rb, "difference")] == int(np.sum(in_a & ~in_b))
    # the disjoint pair's intersection must be present as an explicit 0
    assert got[("a", "c", "intersection")] == 0 or got[("b", "c", "intersection")] == 0


def test_composite_region_join_leaves_no_persistent_rdds(spark):
    from s2geometry_spark.operators.region_algebra import composite_region_join

    leaf = cellid.from_latlng_degrees(np.array([10.0, 20.0, 30.0]), np.array([10.0, 20.0, 30.0]))
    covs = {
        "a": cellunion.normalize(cellid.parent(leaf[:2], 5)),
        "b": cellunion.normalize(cellid.parent(leaf[1:], 6)),
    }
    pts = spark.createDataFrame(
        [(i, int(c)) for i, c in enumerate(cellid.to_biased(leaf).tolist())],
        "pid long, cell long",
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    composite_region_join(spark, pts, covs).toPandas()
    assert jsc.getPersistentRDDs().size() == before
