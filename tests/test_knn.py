"""Within-distance pair self-join (epsilon-neighborhood) vs brute force."""


class TestWithinDistancePairs:
    def test_level_selection_bound(self):
        from s2geometry_spark.operators.knn import (
            _min_outside_chord2,
            level_for_radius_chord2,
        )

        for r2 in (1e-6, 1e-4, 1e-3, 0.1):
            lvl = level_for_radius_chord2(r2)
            assert _min_outside_chord2(lvl) >= r2
            if lvl < 30:
                assert _min_outside_chord2(lvl + 1) < r2

    def test_pairs_match_brute_force(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from s2geometry_spark import functions as s2f
        from s2geometry_spark.kernels import geotag
        from s2geometry_spark.operators.knn import within_distance_pairs

        n, r2 = 400, 2.5e-3
        keys = np.arange(1, n + 1, dtype=np.int64)
        x0, y0, z0 = geotag.int_triplet_from_key(keys)
        nrm = np.sqrt((x0 * x0 + y0 * y0 + z0 * z0).astype(np.float64))
        X = np.stack(
            [x0 / nrm, y0 / nrm, z0 / nrm], axis=1
        )
        rows = [
            (int(k), float(a), float(b), float(c))
            for k, (a, b, c) in zip(keys, X)
        ]
        df = spark.createDataFrame(
            rows, "pid long, x double, y double, z double"
        ).withColumn("cell", s2f.cell_from_xyz(F.col("x"), F.col("y"), F.col("z")))
        pairs = [
            (r.pid_a, r.pid_b)
            for r in within_distance_pairs(df, r2).collect()
        ]
        got = set(pairs)
        assert len(pairs) == len(got)  # no pair repeats
        D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
        want = {
            (int(keys[i]), int(keys[j]))
            for i in range(n)
            for j in range(i + 1, n)
            if D[i, j] <= r2
        }
        assert got == want and len(want) > 0


class TestDbscan:
    def test_matches_brute_force(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from s2geometry_spark import functions as s2f
        from s2geometry_spark.kernels import geotag
        from s2geometry_spark.operators.knn import dbscan

        n, r2, ms = 300, 4e-3, 2
        keys = np.arange(1, n + 1, dtype=np.int64)
        x0, y0, z0 = geotag.int_triplet_from_key(keys)
        nrm = np.sqrt((x0 * x0 + y0 * y0 + z0 * z0).astype(np.float64))
        X = np.stack([x0 / nrm, y0 / nrm, z0 / nrm], axis=1)
        df = spark.createDataFrame(
            [
                (int(k), float(a), float(b), float(c))
                for k, (a, b, c) in zip(keys, X)
            ],
            "pid long, x double, y double, z double",
        ).withColumn("cell", s2f.cell_from_xyz(F.col("x"), F.col("y"), F.col("z")))
        got = {
            r.pid: (r.cluster, r.role)
            for r in dbscan(df, r2, min_samples=ms).collect()
        }
        # brute replay
        D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
        A = (D <= r2) & ~np.eye(n, dtype=bool)
        deg = A.sum(axis=1)
        core = deg >= ms
        lab = {int(keys[i]): int(keys[i]) for i in range(n) if core[i]}
        changed = True
        while changed:
            changed = False
            for i in range(n):
                if not core[i]:
                    continue
                for j in np.where(A[i] & core)[0]:
                    m = min(lab[int(keys[i])], lab[int(keys[j])])
                    if lab[int(keys[i])] != m or lab[int(keys[j])] != m:
                        lab[int(keys[i])] = m
                        lab[int(keys[j])] = m
                        changed = True
        want = {p: (c, "core") for p, c in lab.items()}
        for i in range(n):
            if core[i]:
                continue
            adj = [lab[int(keys[j])] for j in np.where(A[i] & core)[0]]
            if adj:
                want[int(keys[i])] = (min(adj), "border")
        assert got == want
        assert any(r == "core" for _, r in got.values())
        assert any(r == "border" for _, r in got.values())
