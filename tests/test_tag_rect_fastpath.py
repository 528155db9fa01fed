"""The all-rectangles JVM refine (r6 optimization) must be bit-identical
to the Python ray-cast kernel: same half-open [min, max) boundary rule,
same winners, including points exactly on shared zone edges."""

import numpy as np
from pyspark.sql import functions as F

from spandex_spark.geom import points_in_polygon
from spandex_spark.operators import tag_points
from spandex_spark.operators.tag import PolygonIndex, _is_exact_rect
from spandex_spark.sources.grids import (zones_df, donut_zones_df,
                                         derived_points)


def _zone_rows(spark, pts, zones, **kw):
    out = tag_points(pts, zones, poly_id_col="zone_id",
                     point_id_col="pt_id", **kw)
    return sorted((r["pt_id"], r["zone_id"])
                  for r in out.select("pt_id", "zone_id").collect())


class TestRectFastPath:
    def test_index_reports_all_rects(self, spark):
        assert PolygonIndex(zones_df(spark), poly_id_col="zone_id",
                            level=9).all_rects is True
        assert PolygonIndex(donut_zones_df(spark), poly_id_col="dz_id",
                            level=7).all_rects is False

    def test_rect_detection_rejects_non_rects(self, spark):
        rows = {r["dz_id"]: r["geom"]
                for r in donut_zones_df(spark).collect()}
        assert not any(_is_exact_rect(g) for g in rows.values())
        zrows = [r["geom"] for r in zones_df(spark).collect()]
        assert all(_is_exact_rect(g) for g in zrows)
        # axis-parallel, nonzero edges that do not alternate H/V: the
        # ring is degenerate, the ray cast tags no point, and the rect
        # predicate would tag its whole bbox
        for xs, ys in (([0.0, 0.0, 0.0, 1.0], [0.0, 1.0, 0.0, 0.0]),   # VVHH
                       ([0.0, 0.0, 1.0, 0.0], [0.0, 1.0, 1.0, 1.0])):  # VHHV
            g = {"xs": xs, "ys": ys, "ring_offsets": [0, 4],
                 "bbox": {"minx": 0.0, "miny": 0.0,
                          "maxx": 1.0, "maxy": 1.0}}
            assert not points_in_polygon(
                np.array([0.5]), np.array([0.5]),
                np.array(xs), np.array(ys))[0]
            assert not _is_exact_rect(g)

    def test_boundary_points_match_kernel_exactly(self, spark):
        # points ON zone edges and corners: the half-open rule decides
        # which of two adjacent zones wins; JVM predicate must agree with
        # the ray-cast kernel row for row
        pts = spark.createDataFrame(
            [(0, 0.0, 0.0), (1, -10.0, -10.0), (2, 1.0, 1.0),
             (3, 0.5, 1.0), (4, 1.0, 0.5), (5, 9.999, 9.999),
             (6, 10.0, 10.0), (7, -0.5, -0.5)],
            "pt_id long, lon double, lat double")
        zones = zones_df(spark)
        fast = _zone_rows(spark, pts, zones, level=9)
        # force the Python kernel by monkeypatching detection off: a
        # non-rect flag makes tag_points use _pip_closure_fullaware
        import importlib
        tagmod = importlib.import_module("spandex_spark.operators.tag")
        orig = tagmod._is_exact_rect
        tagmod._is_exact_rect = lambda g: False
        try:
            slow = _zone_rows(spark, pts, zones, level=9)
        finally:
            tagmod._is_exact_rect = orig
        assert fast == slow
        # closed form: point (lon, lat) tags zone floor(lon+10) + 20*floor(lat+10)
        # under the left/bottom-inclusive rule (None when out of range)
        for pid, zid in fast:
            row = [p for p in [(0, 0.0, 0.0), (1, -10.0, -10.0), (2, 1.0, 1.0),
                               (3, 0.5, 1.0), (4, 1.0, 0.5), (5, 9.999, 9.999),
                               (6, 10.0, 10.0), (7, -0.5, -0.5)]
                   if p[0] == pid][0]
            col = int(np.floor(row[1] + 10.0))
            r = int(np.floor(row[2] + 10.0))
            exp = (col + 20 * r) if (0 <= col < 20 and 0 <= r < 20) else None
            assert zid == exp

    def test_derived_points_match_kernel(self, spark):
        pts = derived_points(
            spark.range(400).select(F.col("id").alias("pt_id")), "pt_id")
        zones = zones_df(spark)
        fast = _zone_rows(spark, pts, zones, level=9)
        import importlib
        tagmod = importlib.import_module("spandex_spark.operators.tag")
        orig = tagmod._is_exact_rect
        tagmod._is_exact_rect = lambda g: False
        try:
            slow = _zone_rows(spark, pts, zones, level=9)
        finally:
            tagmod._is_exact_rect = orig
        assert fast == slow and len(fast) == 400
