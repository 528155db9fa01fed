"""The kNN cells strategy's pair table (one row per distinct query cell,
candidate fine cell and kth-distance bound, built on the executors) must
give exactly the rows of the broadcast cross join: this guards the
plumbing (query-cell expr parity, join fan-out, empty-list drops, the
_dmax filter) as well as the candidate prune."""

import importlib
import re

from pyspark.sql import functions as F

from spandex_spark.operators import knn_join
from spandex_spark.sources.grids import derived_points, gazetteer_grid_df

knnmod = importlib.import_module("spandex_spark.operators.knn")


def _rows(spark, metric, strategy, k=3, level=7):
    pts = derived_points(
        spark.range(500).select(F.col("id").alias("pt_id")), "pt_id")
    out = knn_join(pts, gazetteer_grid_df(spark), k=k,
                   query_id_col="pt_id", feature_id_col="poi_k",
                   strategy=strategy, level=level, metric=metric)
    return sorted((r["pt_id"], r["rank"], r["poi_k"], round(r["dist_m"], 9))
                  for r in out.collect())


class TestPairTableRoute:
    def test_matches_udf_fallback_both_metrics(self, spark):
        # the cells route against the exact broadcast cross join, k=3
        for metric in ("planar", "haversine"):
            cells = _rows(spark, metric, "cells")
            exact = _rows(spark, metric, "broadcast")
            assert cells == exact and len(cells) == 1500

    def test_haversine_prune_vs_bruteforce(self, spark):
        # the r6 great-circle cell prune must never drop a true winner:
        # compare against the broadcast (exact cross-join) strategy on a
        # nasty layout — high latitudes, antimeridian-spanning features
        import numpy as np
        rng = np.random.default_rng(7)
        fl = [(int(i), float(lon), float(lat)) for i, (lon, lat) in
              enumerate(zip(rng.uniform(-180, 180, 60),
                            rng.uniform(-89, 89, 60)))]
        fl += [(100, 179.5, 70.0), (101, -179.5, 70.2), (102, 0.0, 88.5),
               (103, 179.9, -88.0), (104, -179.9, -88.1)]
        feats = spark.createDataFrame(fl, "fid long, lon double, lat double")
        ql = [(int(1000 + i), float(lon), float(lat)) for i, (lon, lat) in
              enumerate(zip(rng.uniform(-180, 180, 200),
                            rng.uniform(-89, 89, 200)))]
        ql += [(2000, 179.8, 69.9), (2001, -179.7, 71.0), (2002, 1.0, 89.0),
               (2003, -179.95, -88.05)]
        qs = spark.createDataFrame(ql, "qid long, lon double, lat double")
        from spandex_spark.operators import knn_join
        for level in (5, 8):
            a = knn_join(qs, feats, k=4, query_id_col="qid",
                         feature_id_col="fid", strategy="cells",
                         level=level, metric="haversine")
            b = knn_join(qs, feats, k=4, query_id_col="qid",
                         feature_id_col="fid", strategy="broadcast",
                         metric="haversine")
            ra = sorted((r["qid"], r["rank"], r["fid"]) for r in a.collect())
            rb = sorted((r["qid"], r["rank"], r["fid"]) for r in b.collect())
            assert ra == rb, f"level {level}"

    def test_matches_broadcast_strategy(self, spark):
        pts = derived_points(
            spark.range(300).select(F.col("id").alias("pt_id")), "pt_id")
        gaz = gazetteer_grid_df(spark)
        a = knn_join(pts, gaz, k=2, query_id_col="pt_id",
                     feature_id_col="poi_k", strategy="cells", level=9,
                     metric="planar")
        b = knn_join(pts, gaz, k=2, query_id_col="pt_id",
                     feature_id_col="poi_k", strategy="broadcast",
                     metric="planar")
        ra = sorted((r["pt_id"], r["rank"], r["poi_k"]) for r in a.collect())
        rb = sorted((r["pt_id"], r["rank"], r["poi_k"]) for r in b.collect())
        assert ra == rb

    def test_planar_bound_keeps_winner_at_query_cell_corner(self, spark):
        # The pair table's bound D comes from numpy's hypot, and the JVM
        # compares the squared distance dx*dx + dy*dy against D*D. Here
        # the only feature is the single point of its cell's feature box
        # and the query sits on its query cell's far corner, so the true
        # distance IS the worst-case bound; hypot(dx, dy)**2 rounds one
        # ULP below dx*dx + dy*dy and an unwidened bound drops the winner.
        import numpy as np
        qlevel = 7 + knnmod._QLEVEL_EXTRA
        qlon = 3 * 360.0 / (1 << qlevel)   # exact query-cell corner
        qlat = 2 * 180.0 / (1 << qlevel)
        flon, flat = 1.915, 3.223
        dx, dy = flon - qlon, flat - qlat
        assert np.hypot(dx, dy) ** 2 < dx * dx + dy * dy
        qs = spark.createDataFrame([(1, qlon, qlat)],
                                   "qid long, lon double, lat double")
        feats = spark.createDataFrame([(7, flon, flat)],
                                      "fid long, lon double, lat double")
        got = [(r["qid"], r["rank"], r["fid"], r["dist_m"]) for r in
               knn_join(qs, feats, k=1, query_id_col="qid",
                        feature_id_col="fid", strategy="cells", level=7,
                        metric="planar").collect()]
        assert got == [(1, 1, 7, dx * dx + dy * dy)]

    def test_rows_without_a_position_take_no_part(self, spark):
        # a NULL coordinate has a NULL cell: such a query gets no rows and
        # such a feature is never a candidate
        schema = "id long, lon double, lat double"
        qs = [(i, float(i % 7) - 3.0, float(i % 5) - 2.0) for i in range(40)]
        fs = [(100 + i, float(i % 4) - 1.4, float(i % 3) - 0.9)
              for i in range(12)]

        def run(q, f, strategy):
            out = knn_join(spark.createDataFrame(q, schema),
                           spark.createDataFrame(f, schema), k=3,
                           query_id_col="id", feature_id_col="id",
                           strategy=strategy, level=7, metric="planar")
            return sorted(tuple(r) for r in out.collect())

        got = run(qs + [(90, None, 1.0), (91, 1.0, None)],
                  fs + [(200, None, 0.0), (201, 0.0, None)], "cells")
        assert got == run(qs, fs, "broadcast") and len(got) == 120

    def test_cells_plans_run_python_once_per_distinct_query_cell(self, spark):
        # Both cells routes: no Python UDF on the query stream, and exactly
        # one MapInPandas, fed by the distinct-query-cell aggregate. The
        # nearest-line segment cover UDF runs only in the build plan of its
        # cached segment table, which _executed cuts.
        from test_tag_rect_fastpath import _executed
        from spandex_spark.operators.lines import nearest_line_join
        from spandex_spark.sources.grids import roads_df
        pts = derived_points(
            spark.range(300).select(F.col("id").alias("pt_id")), "pt_id")
        plans = {
            "knn": knn_join(pts, gazetteer_grid_df(spark), k=3,
                            query_id_col="pt_id", feature_id_col="poi_k",
                            strategy="cells", level=7),
            "nearest_line": nearest_line_join(
                pts, roads_df(spark), k=1, point_id_col="pt_id",
                line_id_col="road_id", strategy="cells", level=7),
        }
        for name, df in plans.items():
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = _executed(plan.split("== Initial Plan ==")[0]).splitlines()
            assert not any(re.search(r"(Arrow|Batch)EvalPython", ln)
                           for ln in final), name
            at = [i for i, ln in enumerate(final) if "MapInPandas" in ln]
            assert len(at) == 1, name
            assert re.search(r"HashAggregate\(keys=\[_qcell#\d+L\], "
                             r"functions=\[\]", final[at[0] + 1]), name
