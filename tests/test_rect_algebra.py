"""S2LatLngRect pair algebra (operators/rect_algebra.py) vs a literal
Python port of the C++ (r1interval.h / s1interval.cc / s2latlng_rect.cc)."""

import math

import duckdb
import pytest

from s2geometry_spark.operators import rect_algebra as ra
from tests.conftest import load_entry

PI = math.pi


# ---- literal C++ port (the independent ground truth) ----


def inv(lo, hi):
    return lo > hi


def fast_contains(x, p):  # s1interval.cc:62
    lo, hi = x
    if inv(lo, hi):
        return p >= lo or p <= hi
    return lo <= p <= hi


def s1_contains(x, y):  # :89
    if inv(*x):
        if inv(*y):
            return y[0] >= x[0] and y[1] <= x[1]
        return y[0] >= x[0] or y[1] <= x[1]
    if inv(*y):
        return False  # non-full x, non-empty y
    return y[0] >= x[0] and y[1] <= x[1]


def s1_intersects(x, y):  # :112
    if inv(*x):
        return inv(*y) or y[0] <= x[1] or y[1] >= x[0]
    if inv(*y):
        return y[0] <= x[1] or y[1] >= x[0]
    return y[0] <= x[1] and y[1] >= x[0]


def s1_length(x):
    length = x[1] - x[0]
    return length if length >= 0 else length + 2 * PI


def pos_dist(a, b):  # :133
    d = b - a
    return d if d >= 0 else (b + PI) - (a - PI)


def s1_union(x, y):  # :226
    if fast_contains(x, y[0]):
        if fast_contains(x, y[1]):
            return x if s1_contains(x, y) else (-PI, PI)
        return (x[0], y[1])
    if fast_contains(x, y[1]):
        return (y[0], x[1])
    if fast_contains(y, x[0]):
        return y
    return (y[0], x[1]) if pos_dist(y[1], x[0]) < pos_dist(x[1], y[0]) else (x[0], y[1])


def s1_inter(x, y):  # :257 -> (interval, empty?)
    if fast_contains(x, y[0]):
        if fast_contains(x, y[1]):
            return (y if s1_length(y) < s1_length(x) else x), False
        return (y[0], x[1]), False
    if fast_contains(x, y[1]):
        return (x[0], y[1]), False
    if fast_contains(y, x[0]):
        return x, False
    return (PI, -PI), True


def rect_pair(a, b):
    """a/b = (lat_lo, lat_hi, lng_lo, lng_hi) -> output dict."""
    alat, alng = (a[0], a[1]), (a[2], a[3])
    blat, blng = (b[0], b[1]), (b[2], b[3])
    r1c = lambda x, y: (y[0] > y[1]) or (y[0] >= x[0] and y[1] <= x[1])
    r1i = lambda x, y: (
        (y[0] <= x[1] and y[0] <= y[1])
        if x[0] <= y[0]
        else (x[0] <= y[1] and x[0] <= x[1])
    )
    ilat = (max(alat[0], blat[0]), min(alat[1], blat[1]))
    ilng, lng_empty = s1_inter(alng, blng)
    empty = ilat[0] > ilat[1] or lng_empty
    ulng = s1_union(alng, blng)
    return {
        "a_contains_b": r1c(alat, blat) and s1_contains(alng, blng),
        "b_contains_a": r1c(blat, alat) and s1_contains(blng, alng),
        "intersects": r1i(alat, blat) and s1_intersects(alng, blng),
        "union_lat_lo": min(alat[0], blat[0]),
        "union_lat_hi": max(alat[1], blat[1]),
        "union_lng_lo": ulng[0],
        "union_lng_hi": ulng[1],
        "inter_lat_lo": 1.0 if empty else ilat[0],
        "inter_lat_hi": 0.0 if empty else ilat[1],
        "inter_lng_lo": PI if empty else ilng[0],
        "inter_lng_hi": -PI if empty else ilng[1],
        "inter_empty": empty,
    }


def _eval_pair(a, b):
    """Run the generated SQL on one literal pair via DuckDB."""
    cols = []
    for side, r in (("a", a), ("b", b)):
        for k, v in zip(("lat_lo", "lat_hi", "lng_lo", "lng_hi"), r):
            cols.append(f"CAST({v!r} AS DOUBLE) AS {side}{k}")
    sql = "WITH j AS (SELECT " + ", ".join(cols) + ") SELECT "
    sql += ", ".join(f"{v} AS {k}" for k, v in ra.rect_pair_exprs().items())
    sql += " FROM j"
    return duckdb.sql(sql).df().iloc[0].to_dict()


CASES = [
    # disjoint, no wrap
    ((-0.2, 0.3, -1.0, -0.5), (-0.1, 0.2, 1.0, 1.5)),
    # containment, no wrap
    ((-0.5, 0.5, -1.0, 1.0), (-0.2, 0.2, -0.3, 0.3)),
    # b wraps the seam, a inside the wrapped part
    ((-0.3, 0.3, 3.0, -3.0), (-0.2, 0.2, 3.05, 3.1)),
    # both wrap
    ((-0.3, 0.3, 2.9, -2.9), (-0.2, 0.2, 3.0, -3.0)),
    # union -> Full (two wraps covering the circle)
    ((-0.3, 0.3, -0.1, 3.1), (-0.2, 0.2, 2.9, 0.1)),
    # disjoint across the seam -> union picks the closer gap
    ((-0.3, 0.3, 2.8, 2.9), (-0.2, 0.2, -2.9, -2.8)),
    # overlap at one endpoint only
    ((-0.3, 0.3, 0.0, 1.0), (-0.2, 0.2, 0.9, 1.4)),
    # y longer/shorter picks in intersection-contained branch
    ((-0.3, 0.3, -2.0, 2.0), (-0.2, 0.2, -1.0, 1.0)),
    ((-0.3, 0.3, -1.0, 1.0), (-0.2, 0.2, -2.0, 2.0)),
    # lat-empty intersection with lng overlap
    ((-0.5, -0.1, 0.0, 1.0), (0.1, 0.5, 0.2, 0.8)),
]


def test_generated_sql_matches_cpp_port():
    for a, b in CASES:
        got = _eval_pair(a, b)
        want = rect_pair(a, b)
        for k, w in want.items():
            g = got[k]
            assert (bool(g) == w) if isinstance(w, bool) else g == pytest.approx(w, abs=0), (
                f"{k}: {g} != {w} for {a} vs {b}"
            )


def test_fixture_contract_and_port_parity(spark):
    """The synthesized sf0.001 pairs: endpoints never ±π, intervals
    non-empty/non-full, and the full distributed query equals the
    Python port row-for-row."""
    mod = load_entry()
    rows = (
        mod.q_rect_algebra(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("pair_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW customer AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/customer.parquet')"
    )
    synth = ra.rect_synth_exprs("pid")
    rects = con.sql(
        "SELECT pid, "
        + ", ".join(f"{v} AS {k}" for k, v in synth.items())
        + " FROM (SELECT c_custkey AS pid FROM customer)"
    ).df()
    by_pid = {
        int(r.pid): (r.lat_lo, r.lat_hi, r.lng_lo, r.lng_hi)
        for r in rects.itertuples()
    }
    for r in rects.itertuples():
        assert abs(r.lng_lo) < PI and abs(r.lng_hi) < PI
        assert r.lat_lo < r.lat_hi
    flags = {k: 0 for k in ("a_contains_b", "b_contains_a", "inter_empty")}
    for rr in rows.itertuples():
        a, b = by_pid[rr.pair_id], by_pid[rr.pair_id + 1]
        want = rect_pair(a, b)
        for k, w in want.items():
            g = getattr(rr, k)
            assert (bool(g) == w) if isinstance(w, bool) else g == w, (
                f"pair {rr.pair_id} {k}: {g} != {w}"
            )
        for k in flags:
            flags[k] += bool(want[k])
    assert all(v > 0 for v in flags.values()), flags
