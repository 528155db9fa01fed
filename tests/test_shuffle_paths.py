"""Non-broadcast (shuffle) paths must equal the broadcast paths — the
large-polygon-layer / large-overlay-layer route used when the feature side
doesn't fit in executor memory — and the single-route overlay and zonal
operators must equal brute-force numpy oracles on holed layers."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spandex_spark.geotag import geotag
from spandex_spark.operators import tag_points, proportion_overlap


def test_tag_shuffle_path_matches_broadcast(spark, fixture_dir):
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    zones = spark.read.parquet(os.path.join(fixture_dir, "zones.parquet"))
    pts = geotag(pages, gaz).filter(F.col("lon").isNotNull())
    a = {(r.url, r.zone_id) for r in
         tag_points(pts, zones, poly_id_col="zone_id", point_id_col="url",
                    broadcast_polys=True).collect()}
    b = {(r.url, r.zone_id) for r in
         tag_points(pts, zones, poly_id_col="zone_id", point_id_col="url",
                    broadcast_polys=False).collect()}
    assert a == b


def test_overlay_shuffle_path_matches_broadcast(spark, fixture_dir):
    zones = spark.read.parquet(os.path.join(fixture_dir, "zones.parquet"))
    parcels = spark.read.parquet(os.path.join(fixture_dir, "parcels.parquet"))
    a = {(r.parcel_id, r.zone_id, round(r.ix_area, 12)) for r in
         proportion_overlap(parcels, zones, target_id_col="parcel_id",
                            overlay_id_col="zone_id", keep_pairs=True,
                            broadcast_overlays=True).collect()}
    b = {(r.parcel_id, r.zone_id, round(r.ix_area, 12)) for r in
         proportion_overlap(parcels, zones, target_id_col="parcel_id",
                            overlay_id_col="zone_id", keep_pairs=True,
                            broadcast_overlays=False).collect()}
    assert a == b


class TestCellsKnn:
    """The big-both-sides kNN route: histogram-driven candidate boxes."""

    def test_equality_at_1m_points(self, spark):
        from spandex_spark.sources.grids import derived_points, gazetteer_grid_df
        from spandex_spark.operators import knn_join
        pts = derived_points(
            spark.range(1_000_000).select(F.col("id").alias("q")), "q")
        gaz = gazetteer_grid_df(spark)
        a = knn_join(pts, gaz, k=1, query_id_col="q", feature_id_col="poi_k",
                     strategy="broadcast")
        b = knn_join(pts, gaz, k=1, query_id_col="q", feature_id_col="poi_k",
                     strategy="cells", level=7)
        # the derived lattice has only 2000x2000 distinct coords; compare
        # aggregate signatures (cheap) plus a full-row sample
        sig = lambda df: df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("q") * F.col("poi_k")).alias("dot"),
            F.sum(F.round("dist_m", 3)).alias("ds")).collect()[0]
        sa, sb = sig(a), sig(b)
        assert sa.n == sb.n == 1_000_000
        assert sa.dot == sb.dot
        assert abs(sa.ds - sb.ds) < 1e-6 * max(abs(sa.ds), 1.0)

    def test_high_latitude_exactness(self, spark):
        """ADVICE r1: above 60 deg the lon cell ground extent is smaller
        than the lat extent, so a lat-extent 'covered radius' overestimates
        and can return a non-nearest feature. The box bounds are now
        latitude-aware; cells must equal broadcast up to 85 deg."""
        import numpy as np
        from spandex_spark.operators import knn_join
        rng = np.random.default_rng(3)
        q = spark.createDataFrame(
            [(int(i), float(rng.uniform(-180, 180)), float(rng.uniform(70, 85)))
             for i in range(1000)], "q long, lon double, lat double")
        f = spark.createDataFrame(
            [(int(i), float(rng.uniform(-180, 180)), float(rng.uniform(60, 88)))
             for i in range(300)], "fid long, lon double, lat double")
        a = {(r.q, r.rank, r.fid) for r in
             knn_join(q, f, k=2, query_id_col="q", feature_id_col="fid",
                      strategy="broadcast").collect()}
        b = {(r.q, r.rank, r.fid) for r in
             knn_join(q, f, k=2, query_id_col="q", feature_id_col="fid",
                      strategy="cells", level=6).collect()}
        assert a == b

    def test_antimeridian_wrap(self, spark):
        """A feature 0.15 deg across the date line must beat one 10 deg away
        on the same side (the candidate box wraps in x)."""
        from spandex_spark.operators import knn_join
        q = spark.createDataFrame([(i, 179.9, float(i) / 100) for i in range(50)],
                                  "q long, lon double, lat double")
        f = spark.createDataFrame(
            [(0, -179.95, 0.0), (1, 170.0, 0.0), (2, -170.0, 0.0)],
            "fid long, lon double, lat double")
        out = knn_join(q, f, k=1, query_id_col="q", feature_id_col="fid",
                       strategy="cells", level=7).collect()
        assert len(out) == 50 and all(r.fid == 0 for r in out)

    def test_job_count_data_independent(self, spark):
        """The r1 implementation ran O(rings) sequential jobs (per-ring
        count/isEmpty on a growing union), so sparse feature layers cost
        more driver round-trips. The histogram plan runs exactly 2 actions
        (histogram collect + the candidate join/top-k); AQE splits those
        into a constant number of stage-jobs that must NOT grow when the
        feature layer gets 10x sparser (= bigger search boxes)."""
        from spandex_spark.sources.grids import derived_points, gazetteer_grid_df
        from spandex_spark.operators import knn_join
        sc = spark.sparkContext

        def jobs_for(gaz, group):
            pts = derived_points(
                spark.range(20_000).select(F.col("id").alias("q")), "q")
            sc.setJobGroup(group, "count jobs")
            try:
                knn_join(pts, gaz, k=3, query_id_col="q",
                         feature_id_col="poi_k", strategy="cells",
                         level=7).count()
            finally:
                sc.setJobGroup(None, None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        dense = jobs_for(gazetteer_grid_df(spark), "knn-cells-dense")
        sparse = jobs_for(gazetteer_grid_df(spark).filter(F.col("poi_k") < 3),
                          "knn-cells-sparse")
        assert sparse <= dense + 1, (dense, sparse)
        assert dense <= 8, f"constant-bounded stage jobs, got {dense}"

    def test_planar_high_latitude_exactness(self, spark):
        """ADVICE r2 (medium): cells+planar reused the haversine radii,
        which diverge from planar ranking above ~52 deg (meridionally-closer
        features escape the haversine-derived ry) and wrap dlon while the
        planar metric doesn't. The planar radii are now Chebyshev in degree
        space, unwrapped; cells must equal broadcast at 60-88 deg AND
        across the date line."""
        import numpy as np
        from spandex_spark.operators import knn_join
        rng = np.random.default_rng(7)
        q = spark.createDataFrame(
            [(int(i), float(rng.uniform(-180, 180)), float(rng.uniform(55, 85)))
             for i in range(1000)], "q long, lon double, lat double")
        f = spark.createDataFrame(
            [(int(i), float(rng.uniform(-180, 180)), float(rng.uniform(50, 88)))
             for i in range(300)], "fid long, lon double, lat double")
        a = {(r.q, r.rank, r.fid) for r in
             knn_join(q, f, k=2, query_id_col="q", feature_id_col="fid",
                      strategy="broadcast", metric="planar").collect()}
        b = {(r.q, r.rank, r.fid) for r in
             knn_join(q, f, k=2, query_id_col="q", feature_id_col="fid",
                      strategy="cells", level=6, metric="planar").collect()}
        assert a == b

    def test_planar_antimeridian_no_wrap(self, spark):
        """Under planar degrees a feature at lon -179.95 is ~360 deg away
        from a query at 179.9, NOT 0.15 — the nearest must be the same-side
        one at 170.0 (haversine would pick the across-the-line feature)."""
        from spandex_spark.operators import knn_join
        q = spark.createDataFrame([(i, 179.9, float(i) / 100) for i in range(20)],
                                  "q long, lon double, lat double")
        f = spark.createDataFrame(
            [(0, -179.95, 0.0), (1, 170.0, 0.0)],
            "fid long, lon double, lat double")
        for strat in ("broadcast", "cells"):
            out = knn_join(q, f, k=1, query_id_col="q", feature_id_col="fid",
                           strategy=strat, level=7, metric="planar").collect()
            assert len(out) == 20 and all(r.fid == 1 for r in out), strat

    def test_fine_level_beyond_old_cap(self, spark):
        """Round 2 capped the cells strategy at level 11 (dense 4^level
        grid in the task closure). The sparse enumeration index lifts the
        cap: level 13 must still equal broadcast exactly."""
        from spandex_spark.sources.grids import derived_points, gazetteer_grid_df
        from spandex_spark.operators import knn_join
        pts = derived_points(
            spark.range(30_000).select(F.col("id").alias("q")), "q")
        gaz = gazetteer_grid_df(spark)
        a = {(r.q, r.rank, r.poi_k) for r in
             knn_join(pts, gaz, k=3, query_id_col="q", feature_id_col="poi_k",
                      strategy="broadcast").collect()}
        b = {(r.q, r.rank, r.poi_k) for r in
             knn_join(pts, gaz, k=3, query_id_col="q", feature_id_col="poi_k",
                      strategy="cells", level=13).collect()}
        assert a == b

    def test_k_exceeding_features(self, spark):
        from spandex_spark.sources.grids import derived_points, gazetteer_grid_df
        from spandex_spark.operators import knn_join
        pts = derived_points(spark.range(100).select(F.col("id").alias("q")), "q")
        gaz = gazetteer_grid_df(spark).filter(F.col("poi_k") < 3)
        out = knn_join(pts, gaz, k=5, query_id_col="q", feature_id_col="poi_k",
                       strategy="cells", level=7)
        assert out.count() == 300  # n_features rows per query


def _rings(geom):
    off = geom["ring_offsets"]
    return (np.asarray(geom["xs"], np.float64),
            np.asarray(geom["ys"], np.float64),
            np.asarray(off, np.int64) if off is not None and len(off) > 2
            else None)


def test_overlay_refpoint_dedup_matches_shuffle_dedup(spark):
    """The zero-shuffle reference-point pair dedup keeps every
    intersecting (parcel, zone) pair exactly once with its exact area —
    including holed overlays (where the bbox-cover guarantee is what
    makes refpoint exact). Oracle: geom.rings_intersection_area over all
    (parcel, zone) pairs; pairs whose bboxes miss have zero area."""
    from spandex_spark import geom as G
    from spandex_spark.sources.grids import parcels_df, zones_df, donut_zones_df
    parcels = [(r.parcel_id, _rings(r.geom), r.geom.bbox)
               for r in parcels_df(spark).collect()]
    for ovl, oid in [(zones_df(spark), "zone_id"),
                     (donut_zones_df(spark), "dz_id")]:
        zones = [(r[oid], _rings(r.geom), r.geom.bbox)
                 for r in ovl.select(oid, "geom").collect()]
        want = set()
        for pid, (pxs, pys, poff), pb in parcels:
            for zid, (zxs, zys, zoff), zb in zones:
                if (pb.maxx < zb.minx or zb.maxx < pb.minx
                        or pb.maxy < zb.miny or zb.maxy < pb.miny):
                    continue
                area = G.rings_intersection_area(pxs, pys, poff,
                                                 zxs, zys, zoff)
                if area > 0.0:
                    want.add((pid, zid, round(area, 12)))
        got = [(r.parcel_id, r[oid], round(r.ix_area, 12)) for r in
               proportion_overlap(parcels_df(spark), ovl,
                                  target_id_col="parcel_id",
                                  overlay_id_col=oid,
                                  keep_pairs=True).collect()]
        assert len(got) == len(set(got)), oid
        assert set(got) == want, oid


def test_zonal_shuffle_path_matches_broadcast(spark):
    """zonal_stats over the holed donut zones, where a zone's bbox holds
    pixels its mask drops, against numpy points_in_rings over every
    pixel center of the raster."""
    from spandex_spark import geom as G
    from spandex_spark.operators import zonal_stats
    from spandex_spark.sources.grids import donut_zones_df, raster_tiles_df
    tiles = raster_tiles_df(spark)
    lon, lat, val = [], [], []
    for t in tiles.collect():
        gx, gy = np.meshgrid(t.x0 + (np.arange(t.nx) + 0.5) * t.res,
                             t.y0 + (np.arange(t.ny) + 0.5) * t.res)
        lon.append(gx.ravel())
        lat.append(gy.ravel())
        val.append(np.asarray(t["values"], np.float64))
    lon, lat, val = (np.concatenate(a) for a in (lon, lat, val))
    want = {}
    for z in donut_zones_df(spark).collect():
        v = val[G.points_in_rings(lon, lat, *_rings(z.geom))]
        if v.size:
            want[z.dz_id] = (v.size, v.sum(), v.min(), v.max())
    got = {r.dz_id: r for r in
           zonal_stats(tiles, donut_zones_df(spark),
                       zone_id_col="dz_id").collect()}
    assert got.keys() == want.keys() and len(want) == 16
    for zid, (n, total, lo, hi) in want.items():
        r = got[zid]
        assert (r.px_count, r.px_min, r.px_max) == (n, lo, hi), zid
        assert r.px_sum == pytest.approx(total, rel=1e-12), zid


class TestCellsNearestLine:
    """Big-both-sides nearest-line join (segment-cell broadcast index)."""

    def test_equality_at_1m_points(self, spark):
        from spandex_spark.sources.grids import derived_points, roads_df
        from spandex_spark.operators.lines import nearest_line_join
        pts = derived_points(
            spark.range(1_000_000).select(F.col("id").alias("p")), "p")
        roads = roads_df(spark)
        a = nearest_line_join(pts, roads, k=1, point_id_col="p",
                              line_id_col="road_id", strategy="kernel")
        b = nearest_line_join(pts, roads, k=1, point_id_col="p",
                              line_id_col="road_id", strategy="cells", level=7)
        sig = lambda df: df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("p") * F.col("road_id")).alias("dot"),
            F.sum(F.round("dist_deg", 6)).alias("ds")).collect()[0]
        sa, sb = sig(a), sig(b)
        assert sa.n == sb.n == 1_000_000
        assert sa.dot == sb.dot
        assert abs(sa.ds - sb.ds) < 1e-6 * max(abs(sa.ds), 1.0)

    def test_diagonal_lines_equality(self, spark):
        """Random diagonal multi-vertex lines exercise the Liang-Barsky
        segment cover (roads_df is axis-aligned, which a bbox cover would
        also pass); cells must equal the kernel path exactly."""
        import numpy as np
        rng = np.random.default_rng(11)
        from spandex_spark.operators.lines import nearest_line_join
        lines = []
        for lid in range(40):
            vx = rng.uniform(-9, 9, 4)
            vy = rng.uniform(-9, 9, 4)
            lines.append((lid, {
                "kind": 2, "xs": vx.tolist(), "ys": vy.tolist(),
                "ring_offsets": [0, 4],
                "bbox": {"minx": float(vx.min()), "miny": float(vy.min()),
                         "maxx": float(vx.max()), "maxy": float(vy.max())}}))
        ldf = spark.createDataFrame(
            lines, "line_id long, geom struct<kind:tinyint, xs:array<double>,"
            " ys:array<double>, ring_offsets:array<int>,"
            " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        pts = spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-10, 10, 2000), rng.uniform(-10, 10, 2000)))],
            "p long, lon double, lat double")
        a = {(r.p, r.line_id) for r in
             nearest_line_join(pts, ldf, k=1, point_id_col="p",
                               line_id_col="line_id",
                               strategy="kernel").collect()}
        b = {(r.p, r.line_id) for r in
             nearest_line_join(pts, ldf, k=1, point_id_col="p",
                               line_id_col="line_id", strategy="cells",
                               level=6).collect()}
        assert a == b

    def test_k3_equals_kernel(self, spark):
        """k>1 cells path (distinct-line indicator histogram) must equal
        the kernel path exactly, ranks included — on the meridional roads
        AND on random diagonal lines where a cell may hold < k lines."""
        import numpy as np
        from spandex_spark.sources.grids import derived_points, roads_df
        from spandex_spark.operators.lines import nearest_line_join
        pts = derived_points(
            spark.range(20_000).select(F.col("id").alias("p")), "p")
        a = {(r.p, r.rank, r.road_id) for r in
             nearest_line_join(pts, roads_df(spark), k=3, point_id_col="p",
                               line_id_col="road_id",
                               strategy="kernel").collect()}
        b = {(r.p, r.rank, r.road_id) for r in
             nearest_line_join(pts, roads_df(spark), k=3, point_id_col="p",
                               line_id_col="road_id", strategy="cells",
                               level=7).collect()}
        assert a == b
        rng = np.random.default_rng(23)
        lines = []
        for lid in range(30):
            vx = rng.uniform(-9, 9, 3)
            vy = rng.uniform(-9, 9, 3)
            lines.append((lid, {
                "kind": 2, "xs": vx.tolist(), "ys": vy.tolist(),
                "ring_offsets": [0, 3],
                "bbox": {"minx": float(vx.min()), "miny": float(vy.min()),
                         "maxx": float(vx.max()), "maxy": float(vy.max())}}))
        ldf = spark.createDataFrame(
            lines, "line_id long, geom struct<kind:tinyint, xs:array<double>,"
            " ys:array<double>, ring_offsets:array<int>,"
            " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        p2 = spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-10, 10, 1000), rng.uniform(-10, 10, 1000)))],
            "p long, lon double, lat double")
        a2 = {(r.p, r.rank, r.line_id) for r in
              nearest_line_join(p2, ldf, k=2, point_id_col="p",
                                line_id_col="line_id",
                                strategy="kernel").collect()}
        b2 = {(r.p, r.rank, r.line_id) for r in
              nearest_line_join(p2, ldf, k=2, point_id_col="p",
                                line_id_col="line_id", strategy="cells",
                                level=6).collect()}
        assert a2 == b2


class TestClipLines:
    def test_diagonals_vs_sampled_length(self, spark):
        """Random diagonal lines clipped to the L: clipped length must
        match a dense point-sampling estimate of |line ∩ L| (interval
        union across ear-clip triangles — no double counting)."""
        import numpy as np
        from spandex_spark import geom as G
        from spandex_spark.operators.lines import clip_lines
        rng = np.random.default_rng(31)
        lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
        ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
        rows = []
        segs = {}
        for lid in range(25):
            a = rng.uniform(-1, 3, 2)
            b = rng.uniform(-1, 3, 2)
            segs[lid] = (a, b)
            rows.append((lid, {
                "kind": 2, "xs": [float(a[0]), float(b[0])],
                "ys": [float(a[1]), float(b[1])], "ring_offsets": [0, 2],
                "bbox": {"minx": float(min(a[0], b[0])),
                         "miny": float(min(a[1], b[1])),
                         "maxx": float(max(a[0], b[0])),
                         "maxy": float(max(a[1], b[1]))}}))
        df = spark.createDataFrame(
            rows, "line_id long, geom struct<kind:tinyint, xs:array<double>,"
            " ys:array<double>, ring_offsets:array<int>,"
            " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        got = {r.line_id: r.clip_len_deg
               for r in clip_lines(df, lx, ly).collect()}
        for lid, (a, b) in segs.items():
            t = np.linspace(0, 1, 200_001)
            px = a[0] + t * (b[0] - a[0])
            py = a[1] + t * (b[1] - a[1])
            inside = G.points_in_polygon(px, py, lx, ly)
            want = inside.mean() * float(np.hypot(*(b - a)))
            assert got.get(lid, 0.0) == pytest.approx(want, abs=2e-4)

    def test_multipart_output_and_geometry_length(self, spark):
        """A horizontal line crossing the notch exits and re-enters? (No —
        the L is y-monotone for horizontals at y<1.) Use a vertical-ish
        check instead: a line along y=1.5 crosses only the left arm; the
        emitted parts' summed length equals clip_len_deg."""
        import numpy as np
        from spandex_spark.operators.lines import clip_lines
        lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
        ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
        df = spark.createDataFrame(
            [(0, {"kind": 2, "xs": [-1.0, 3.0], "ys": [1.5, 1.5],
                  "ring_offsets": [0, 2],
                  "bbox": {"minx": -1.0, "miny": 1.5, "maxx": 3.0,
                           "maxy": 1.5}})],
            "line_id long, geom struct<kind:tinyint, xs:array<double>,"
            " ys:array<double>, ring_offsets:array<int>,"
            " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        r = clip_lines(df, lx, ly).collect()[0]
        assert r.clip_len_deg == pytest.approx(1.0, abs=1e-9)
        g = r.geom_clipped
        parts = np.diff(np.asarray(g.ring_offsets))
        assert (parts == 2).all()
        xs, ys = np.asarray(g.xs), np.asarray(g.ys)
        total = sum(np.hypot(xs[o + 1] - xs[o], ys[o + 1] - ys[o])
                    for o in g.ring_offsets[:-1])
        assert total == pytest.approx(r.clip_len_deg, rel=1e-12)


def test_raster_sample_shuffle_path_matches_broadcast(spark):
    from spandex_spark.sources.grids import derived_points, raster_tiles_df
    from spandex_spark.operators.zonal import raster_sample
    pts = derived_points(spark.range(5000).select(F.col("id").alias("p")), "p")
    tiles = raster_tiles_df(spark)
    a = {(r.p, r.v) for r in
         raster_sample(pts, tiles, point_id_col="p", origin_x=-10.0,
                       origin_y=-10.0).collect()}
    b = {(r.p, r.v) for r in
         raster_sample(pts, tiles, point_id_col="p", origin_x=-10.0,
                       origin_y=-10.0, broadcast_tiles=False).collect()}
    assert a == b and len(a) == 5000


class TestResampleTiles:
    @staticmethod
    def _tiles(spark, f):
        from pyspark.sql import functions as F
        t = spark.range(16).select(F.col("id").alias("tile_id"))
        tx = t["tile_id"] % 4
        ty = F.floor(t["tile_id"] / 4)
        x0 = -4.0 + tx.cast("double") * 2.0
        y0 = -4.0 + ty.cast("double") * 2.0
        vals = F.transform(F.sequence(F.lit(0), F.lit(399)),
                           lambda p: f(x0 + ((p % 20).cast("double") + 0.5) * 0.1,
                                       y0 + (F.floor(p / 20).cast("double") + 0.5) * 0.1))
        return t.select("tile_id", x0.alias("x0"), y0.alias("y0"),
                        F.lit(0.1).alias("res"), F.lit(20).alias("nx"),
                        F.lit(20).alias("ny"), vals.alias("values"))

    def test_linear_field_exact(self, spark):
        """Bilinear reproduces a linear field exactly at any output grid."""
        from pyspark.sql import functions as F
        from spandex_spark.operators.zonal import resample_tiles
        tiles = self._tiles(spark, lambda lon, lat: 1.0 + 2.0 * lon + 0.5 * lat)
        out = resample_tiles(tiles, x0_out=-3.5, y0_out=-2.0, res_out=0.23,
                             nx_out=20, ny_out=18, origin_x=-4.0,
                             origin_y=-4.0, tile_px=12).collect()
        n = 0
        for r in out:
            v = np.array(r.values).reshape(r.ny, r.nx)
            X = r.x0 + (np.arange(r.nx) + 0.5) * r.res
            Y = r.y0 + (np.arange(r.ny) + 0.5) * r.res
            want = 1.0 + 2.0 * X[None, :] + 0.5 * Y[:, None]
            assert not np.isnan(v).any()
            np.testing.assert_allclose(v, want, rtol=0, atol=1e-9)
            n += v.size
        assert n == 20 * 18

    def test_edge_pixels_nan(self, spark):
        """Output pixels whose 4-neighbourhood leaves the input raster are
        NULL (NaN crosses Arrow as null), not extrapolated."""
        from spandex_spark.operators.zonal import resample_tiles
        tiles = self._tiles(spark, lambda lon, lat: lon * 0.0 + 1.0)
        # output grid hangs past the input's west edge (-4.0)
        out = resample_tiles(tiles, x0_out=-4.5, y0_out=0.0, res_out=0.1,
                             nx_out=12, ny_out=4, origin_x=-4.0,
                             origin_y=-4.0, tile_px=12).collect()
        v = np.concatenate([np.array(r.values, dtype=float).reshape(r.ny, r.nx)
                            for r in sorted(out, key=lambda r: r.x0)], axis=1)
        # columns west of (input x0 + half input pixel) must be NaN
        X = -4.5 + (np.arange(12) + 0.5) * 0.1
        expect_nan = X < -4.0 + 0.05
        got_nan = np.isnan(v).all(axis=0)
        assert (got_nan == expect_nan).all()
        assert np.nanmax(v) == np.nanmin(v) == 1.0
        # contract: out-of-input pixels are REAL nulls in the Spark rows,
        # not Arrow NaN doubles
        assert any(x is None for r in out for x in r.values)
        assert not any(x is not None and np.isnan(x)
                       for r in out for x in r.values)

    def test_uncovered_tile_emitted_all_null(self, spark):
        """An output tile whose support box overlaps NO input tile is
        still emitted, with every value NULL (left join keeps the spec)."""
        from spandex_spark.operators.zonal import resample_tiles
        tiles = self._tiles(spark, lambda lon, lat: lon * 0.0 + 1.0)
        # input covers [-4, 4]; second output tile sits in [8, 9.2] - far east
        out = resample_tiles(tiles, x0_out=2.0, y0_out=0.0, res_out=0.5,
                             nx_out=24, ny_out=2, origin_x=-4.0,
                             origin_y=-4.0, tile_px=12).collect()
        assert len(out) == 2
        far = [r for r in out if r.x0 == 8.0]
        assert len(far) == 1 and len(far[0].values) == 24
        assert all(v is None for v in far[0].values)

    def test_anisotropic_linear_field_exact(self, spark):
        """res_y on the input tiles and res_y_out on the output grid: the
        axes separate, so bilinear still reproduces a linear field exactly,
        and the output schema gains a res_y column."""
        from pyspark.sql import functions as F
        from spandex_spark.operators.zonal import resample_tiles
        # 4x4 tiles of 20x20 px at 0.1 x 0.025 deg: input covers
        # x in [-4, 4], y in [-1, 1]
        t = spark.range(16).select(F.col("id").alias("tile_id"))
        tx = t["tile_id"] % 4
        ty = F.floor(t["tile_id"] / 4)
        x0 = -4.0 + tx.cast("double") * 2.0
        y0 = -1.0 + ty.cast("double") * 0.5
        vals = F.transform(
            F.sequence(F.lit(0), F.lit(399)),
            lambda p: (F.lit(1.0)
                       + 2.0 * (x0 + ((p % 20).cast("double") + 0.5) * 0.1)
                       + 0.5 * (y0 + (F.floor(p / 20).cast("double") + 0.5)
                                * 0.025)))
        tiles = t.select("tile_id", x0.alias("x0"), y0.alias("y0"),
                         F.lit(0.1).alias("res"), F.lit(0.025).alias("res_y"),
                         F.lit(20).alias("nx"), F.lit(20).alias("ny"),
                         vals.alias("values"))
        out = resample_tiles(tiles, x0_out=-3.5, y0_out=-0.8, res_out=0.23,
                             nx_out=20, ny_out=18, origin_x=-4.0,
                             origin_y=-1.0, tile_px=12,
                             res_y_out=0.07).collect()
        n = 0
        for r in out:
            assert abs(r.res_y - 0.07) < 1e-15
            v = np.array(r.values).reshape(r.ny, r.nx)
            X = r.x0 + (np.arange(r.nx) + 0.5) * r.res
            Y = r.y0 + (np.arange(r.ny) + 0.5) * r.res_y
            want = 1.0 + 2.0 * X[None, :] + 0.5 * Y[:, None]
            assert not np.isnan(v).any()
            np.testing.assert_allclose(v, want, rtol=0, atol=1e-9)
            n += v.size
        assert n == 20 * 18

    def test_identity_grid_roundtrip(self, spark):
        """Resampling onto the input's own pixel-center grid returns the
        input values exactly (weights collapse to 1/0)."""
        from spandex_spark.operators.zonal import resample_tiles
        tiles = self._tiles(spark, lambda lon, lat: F.sin(lon) + F.cos(lat))
        src = {(round(r.x0, 6), round(r.y0, 6)):
               np.array(r.values).reshape(20, 20)
               for r in tiles.collect()}
        out = resample_tiles(tiles, x0_out=-2.0, y0_out=-2.0, res_out=0.1,
                             nx_out=20, ny_out=20, origin_x=-4.0,
                             origin_y=-4.0, tile_px=20).collect()
        assert len(out) == 1
        got = np.array(out[0].values).reshape(20, 20)
        np.testing.assert_allclose(got, src[(-2.0, -2.0)], rtol=0, atol=1e-12)


class TestMapAlgebraAndInterpolate:
    def test_map_algebra_jvm_and_mismatch(self, spark):
        """zip_with per-pixel algebra: exact values, ZERO Python operators
        in the plan; a grid-key mismatch drops the tile instead of
        silently misaligning pixels."""
        from pyspark.sql import functions as F
        from spandex_spark.operators.zonal import map_algebra
        from spandex_spark.sources.grids import raster_tiles_df
        a = raster_tiles_df(spark)
        b = a.withColumn("values", F.transform("values", lambda v: v * 0 + 2.0))
        out = map_algebra(a, b, lambda x, y: x * y + 1.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
        src = {r.tile_id: r.values for r in a.collect()}
        for r in out.collect():
            want = [v * 2.0 + 1.0 for v in src[r.tile_id]]
            assert list(r.values) == pytest.approx(want)
        shifted = b.withColumn("x0", F.col("x0") + 0.5)
        assert map_algebra(a, shifted, lambda x, y: x + y).count() == 0

    def test_line_interpolate_contract(self, spark):
        """Fraction 0/1 land on the endpoints; a multi-part line and a
        non-line geometry return NULL; out-of-range fraction raises."""
        from spandex_spark.operators.lines import line_interpolate
        schema = ("lid long, geom struct<kind:tinyint, xs:array<double>,"
                  " ys:array<double>, ring_offsets:array<int>,"
                  " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        rows = [
            (1, {"kind": 2, "xs": [0.0, 1.0, 1.0], "ys": [0.0, 0.0, 2.0],
                 "ring_offsets": [0, 3],
                 "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 1.0, "maxy": 2.0}}),
            (2, {"kind": 2, "xs": [0.0, 1.0, 5.0, 6.0], "ys": [0.0, 0.0, 0.0, 0.0],
                 "ring_offsets": [0, 2, 4],
                 "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 6.0, "maxy": 0.0}}),
            (3, {"kind": 3, "xs": [0.0, 1.0, 0.0], "ys": [0.0, 0.0, 1.0],
                 "ring_offsets": [0, 3],
                 "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 1.0, "maxy": 1.0}}),
        ]
        df = spark.createDataFrame(rows, schema)
        at0 = {r.lid: r.point for r in
               line_interpolate(df, fraction=0.0).collect()}
        at1 = {r.lid: r.point for r in
               line_interpolate(df, fraction=1.0).collect()}
        mid = {r.lid: r.point for r in
               line_interpolate(df, fraction=2.0 / 3.0).collect()}
        assert (at0[1].x, at0[1].y) == (0.0, 0.0)
        assert (at1[1].x, at1[1].y) == (1.0, 2.0)
        # length 3: 2/3 of the way = 2.0 along → 1.0 into second segment
        assert mid[1].x == pytest.approx(1.0) and mid[1].y == pytest.approx(1.0)
        assert at0[2] is None and at0[3] is None
        with pytest.raises(ValueError):
            line_interpolate(df, fraction=1.5)


class TestLineLocate:
    SCHEMA = ("lid long, lon double, lat double,"
              " geom struct<kind:tinyint, xs:array<double>,"
              " ys:array<double>, ring_offsets:array<int>,"
              " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")

    def test_projection_closed_form_and_contract(self, spark):
        """Off-line points project onto the known segment (closed form);
        clamping at the ends gives 0/1; multi-part and non-line NULL;
        degenerate (all-coincident-vertex) line locates at 0."""
        from spandex_spark.operators.lines import line_locate
        L = {"kind": 2, "xs": [0.0, 1.0, 1.0], "ys": [0.0, 0.0, 2.0],
             "ring_offsets": [0, 3],
             "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 1.0, "maxy": 2.0}}
        rows = [
            (1, 0.5, -1.0, L),          # above segment 1 -> 0.5/3
            (2, 3.0, 1.0, L),           # right of segment 2 -> (1+1)/3
            (3, -5.0, -5.0, L),         # clamps to start -> 0
            (4, 1.0, 9.0, L),           # clamps to end -> 1
            (5, 0.0, 0.0, {"kind": 2, "xs": [0.0, 1.0, 5.0, 6.0],
                           "ys": [0.0] * 4, "ring_offsets": [0, 2, 4],
                           "bbox": {"minx": 0.0, "miny": 0.0,
                                    "maxx": 6.0, "maxy": 0.0}}),
            (6, 0.0, 0.0, {"kind": 3, "xs": [0.0, 1.0, 0.0],
                           "ys": [0.0, 0.0, 1.0], "ring_offsets": [0, 3],
                           "bbox": {"minx": 0.0, "miny": 0.0,
                                    "maxx": 1.0, "maxy": 1.0}}),
            (7, 2.0, 2.0, {"kind": 2, "xs": [4.0, 4.0], "ys": [1.0, 1.0],
                           "ring_offsets": [0, 2],
                           "bbox": {"minx": 4.0, "miny": 1.0,
                                    "maxx": 4.0, "maxy": 1.0}}),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        got = {r.lid: r.fraction for r in line_locate(df).collect()}
        assert got[1] == pytest.approx(0.5 / 3.0)
        assert got[2] == pytest.approx(2.0 / 3.0)
        assert got[3] == 0.0 and got[4] == 1.0
        assert got[5] is None and got[6] is None
        assert got[7] == 0.0

    def test_roundtrip_inverse_of_interpolate(self, spark):
        """For staircase polylines (no point of the line is closer to any
        other arc position), locate(interpolate(f)) == f exactly."""
        import numpy as np
        from spandex_spark.operators.lines import (line_interpolate,
                                                   line_locate)
        rng = np.random.default_rng(5)
        rows = []
        for lid in range(40):
            n = int(rng.integers(2, 8))
            steps = rng.uniform(0.5, 2.0, 2 * n)
            xs, ys = [0.0], [0.0]
            for j in range(n):
                xs.append(float(xs[-1] + steps[2 * j])); ys.append(ys[-1])
                xs.append(xs[-1]); ys.append(float(ys[-1] + steps[2 * j + 1]))
            rows.append((lid, 0.0, 0.0,
                         {"kind": 2, "xs": xs, "ys": ys,
                          "ring_offsets": [0, len(xs)],
                          "bbox": {"minx": min(xs), "miny": min(ys),
                                   "maxx": max(xs), "maxy": max(ys)}}))
        df = spark.createDataFrame(rows, self.SCHEMA)
        for f in (0.17, 0.5, 0.83):
            pts = line_interpolate(df, fraction=f)
            back = line_locate(
                pts.drop("lon", "lat")
                   .withColumn("lon", F.col("point.x"))
                   .withColumn("lat", F.col("point.y")))
            for r in back.collect():
                assert r.fraction == pytest.approx(f, abs=1e-12)
