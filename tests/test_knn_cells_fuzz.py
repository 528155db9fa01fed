"""Randomized (fixed-seed) equivalence sweep of the kNN cells strategy
against the exact broadcast strategy: clustered + outlier feature layouts,
mixed metrics/levels/k. Guards the r6 candidate machinery (pair table,
interval-haversine prune, kth-distance cap) against layouts the fixture
grids never produce, plus a world-extent input checked against the
brute-force oracle."""

import numpy as np
from pyspark.sql import functions as F  # noqa: F401

from spandex_spark.operators import knn_join


def _layout(rng, nf, nq):
    nb = int(rng.integers(1, 4))
    centers = np.c_[rng.uniform(-170, 170, nb), rng.uniform(-80, 80, nb)]
    pick = rng.integers(0, nb, nf)
    flon = np.clip(centers[pick, 0] + rng.normal(0, 3, nf), -179.99, 179.99)
    flat = np.clip(centers[pick, 1] + rng.normal(0, 3, nf), -89.99, 89.99)
    qlon = rng.uniform(-179.99, 179.99, nq)
    qlat = rng.uniform(-89.9, 89.9, nq)
    return flon, flat, qlon, qlat


class TestCellsFuzz:
    def test_cells_equals_broadcast_random_layouts(self, spark):
        rng = np.random.default_rng(123)
        cases = [(60, 80, 3, 7, "haversine"), (25, 60, 5, 4, "planar"),
                 (110, 40, 2, 10, "haversine"), (8, 90, 4, 6, "planar")]
        for nf, nq, k, level, metric in cases:
            flon, flat, qlon, qlat = _layout(rng, nf, nq)
            feats = spark.createDataFrame(
                [(int(i), float(a), float(b))
                 for i, (a, b) in enumerate(zip(flon, flat))],
                "fid long, lon double, lat double")
            qs = spark.createDataFrame(
                [(int(1000 + i), float(a), float(b))
                 for i, (a, b) in enumerate(zip(qlon, qlat))],
                "qid long, lon double, lat double")
            a = knn_join(qs, feats, k=k, query_id_col="qid",
                         feature_id_col="fid", strategy="cells",
                         level=level, metric=metric)
            b = knn_join(qs, feats, k=k, query_id_col="qid",
                         feature_id_col="fid", strategy="broadcast",
                         metric=metric)
            ra = sorted((r["qid"], r["rank"], r["fid"]) for r in a.collect())
            rb = sorted((r["qid"], r["rank"], r["fid"]) for r in b.collect())
            assert ra == rb, (nf, nq, k, level, metric)

    def test_world_extent_equals_bruteforce(self, spark):
        # Queries and features spread over the whole globe at a fine
        # level: the occupied query cells number in the thousands and the
        # query bounding box is every cell of the level. Checked against
        # the brute-force haversine oracle.
        from spandex_spark.fixtures import expected_knn
        rng = np.random.default_rng(2024)
        nq, nf, k = 3000, 5000, 3
        qlon, flon = rng.uniform(-180, 180, nq), rng.uniform(-180, 180, nf)
        qlat, flat = rng.uniform(-85, 85, nq), rng.uniform(-85, 85, nf)
        fids = np.arange(nf, dtype=np.int64)
        feats = spark.createDataFrame(
            [(int(i), float(a), float(b))
             for i, a, b in zip(fids, flon, flat)],
            "fid long, lon double, lat double")
        qs = spark.createDataFrame(
            [(int(i), float(a), float(b))
             for i, (a, b) in enumerate(zip(qlon, qlat))],
            "qid long, lon double, lat double")
        got = sorted((r["qid"], r["rank"], r["fid"], r["dist_m"]) for r in
                     knn_join(qs, feats, k=k, query_id_col="qid",
                              feature_id_col="fid", strategy="cells",
                              level=13).collect())
        want = expected_knn(qlon, qlat, flon, flat, fids, k)
        assert [g[:3] for g in got] == [w[:3] for w in want]
        np.testing.assert_allclose([g[3] for g in got], [w[3] for w in want],
                                   rtol=1e-9, atol=1e-6)
