"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench -q
"""

import numpy as np

from perfbench import inputs


def test_points_repeat_for_a_seed_and_change_with_it():
    for hot in (False, True):
        a = inputs.point_inputs(7, 2_000, 50, hot)
        b = inputs.point_inputs(7, 2_000, 50, hot)
        c = inputs.point_inputs(8, 2_000, 50, hot)
        for key in ("points", "queries"):
            assert np.array_equal(a[key], b[key])
            assert not np.array_equal(a[key], c[key])
            assert np.allclose(np.linalg.norm(a[key], axis=1), 1.0)


def test_hot_points_sit_in_the_clusters():
    pts = inputs.point_inputs(7, 20_000, 50, True)["points"]
    centers = inputs.unit_from_latlng(
        np.array([s[0] for s in inputs.SITES]), np.array([s[1] for s in inputs.SITES])
    )
    near = (pts @ centers.T > np.cos(0.5)).any(axis=1)
    assert near.mean() > inputs.HOT_SHARE


def test_image_window_repeats_for_a_seed_and_changes_with_it():
    assert inputs.image_window(7, 100) == inputs.image_window(7, 100)
    assert inputs.image_window(7, 100) != inputs.image_window(8, 100)
    start, stop = inputs.image_window(7, 100)
    assert stop - start == 100


def test_written_tables_repeat_for_a_seed(tmp_path):
    import pyarrow.parquet as pq

    for name in ("a", "b"):
        xyz = inputs.point_inputs(7, 1_000, 10, True)["points"]
        inputs.write_points(str(tmp_path / name), xyz, "pid", "", 3)
    a = pq.read_table(str(tmp_path / "a"))
    b = pq.read_table(str(tmp_path / "b"))
    assert a.num_rows == 1_000 and a.equals(b)


def test_region_requests_repeat_for_a_seed_and_change_with_it():
    a = inputs.region_requests(7, 40)
    assert a == inputs.region_requests(7, 40)
    assert a != inputs.region_requests(8, 40)
    assert [r["kind"] for r in a[:4]] == ["cap", "loop", "cap", "loop"]
    assert all(0.5 <= r["radius_deg"] <= 3.0 and 8 <= r["vertices"] <= 24 for r in a)


def test_cell_sorted_table_keeps_point_ids(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import reference

    xyz = inputs.point_inputs(7, 1_000, 0, False)["points"]
    cells = reference.leaf_cells(xyz)
    inputs.write_cell_sorted(str(tmp_path / "t"), xyz, cells, 3)
    t = pq.read_table(str(tmp_path / "t")).to_pandas()
    assert (t["cell"].diff().dropna() >= 0).all()
    assert np.array_equal(xyz[t["pid"].to_numpy()], t[["x", "y", "z"]].to_numpy())
