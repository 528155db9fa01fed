"""Operator tests vs constructed-exact fixtures (FIXTURES.md; SURVEY.md §5.2-2).

These are the rebuild's analog of the reference's
spandex/tests/test_spatialtoolz.py analytic-geometry assertions.
"""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spandex_spark import fixtures as fx
from spandex_spark.geotag import geotag
from spandex_spark.operators import (
    tag_points, proportion_overlap, knn_join, zonal_stats,
    scale_to_targets, invalid_geometry_check, duplicate_stacked_geometry_check,
    reproject,
)


def load(spark, fixture_dir, name):
    return spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))


class TestGeotag:
    def test_extraction_and_invariant(self, spark, fixture_dir):
        pages = load(spark, fixture_dir, "pages")
        gaz = load(spark, fixture_dir, "gazetteer")
        tagged = geotag(pages, gaz)
        rows = tagged.select("url", "lon", "lat", "tag_source", "text").collect()
        assert len(rows) == pages.count()  # every row exactly once
        by_source = {}
        for r in rows:
            by_source[r.tag_source] = by_source.get(r.tag_source, 0) + 1
        n = len(rows)
        assert by_source["token"] == n * 18 // 20
        assert by_source["gazetteer"] == n // 20
        assert by_source[None] == n // 20
        # text byte-identity: sha2 unchanged through the pipeline
        before = {r.url: r.h for r in
                  pages.select("url", F.sha2("text", 256).alias("h")).collect()}
        after = {r.url: r.h for r in
                 tagged.select("url", F.sha2("text", 256).alias("h")).collect()}
        assert before == after
        # token rows: parse matches the embedded value
        tok = [r for r in rows if r.tag_source == "token"]
        for r in tok[:50]:
            frag = r.text.split("geo: ")[1].split(" end")[0]
            lat_s, lon_s = frag.split(", ")
            assert float(lat_s) == pytest.approx(r.lat, abs=1e-9)
            assert float(lon_s) == pytest.approx(r.lon, abs=1e-9)


class TestGeotagTokenJoin:
    def test_token_strategy_matches_regex(self, spark, fixture_dir):
        pages = load(spark, fixture_dir, "pages")
        gaz = load(spark, fixture_dir, "gazetteer")
        a = {(r.url, r.lon, r.lat, r.tag_source) for r in
             geotag(pages, gaz).select("url", "lon", "lat", "tag_source").collect()}
        b = {(r.url, r.lon, r.lat, r.tag_source) for r in
             geotag(pages, gaz, gazetteer_strategy="tokens")
             .select("url", "lon", "lat", "tag_source").collect()}
        assert a == b


class TestTag:
    def test_matches_closed_form_oracle(self, spark, fixture_dir):
        pages = load(spark, fixture_dir, "pages")
        gaz = load(spark, fixture_dir, "gazetteer")
        zones = load(spark, fixture_dir, "zones")
        pts = geotag(pages, gaz).filter(F.col("lon").isNotNull())
        tagged = tag_points(pts, zones, poly_id_col="zone_id",
                            point_id_col="url", level=9,
                            poly_attr_cols=("zclass",))
        got = {r.url: r.zone_id for r in tagged.collect()}
        pdf = pts.select("url", "lon", "lat").toPandas()
        want = fx.expected_tag(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        for url, w in zip(pdf["url"], want):
            g = got[url]
            assert (g if g is not None else -1) == w, url

    def test_polygon_target_centroid_tag(self, spark, fixture_dir):
        """spandex tag(): polygon targets tagged by centroid containment —
        parcel centroid (x0+w/2, y0+h/2) → closed-form zone."""
        from spandex_spark.operators import tag
        zones = load(spark, fixture_dir, "zones")
        parcels = load(spark, fixture_dir, "parcels")
        out = tag(parcels, zones, poly_id_col="zone_id",
                  target_id_col="parcel_id")
        got = {r.parcel_id: r.zone_id for r in out.collect()}
        for r in parcels.select("parcel_id", "geom").collect():
            cx = (r.geom.bbox.minx + r.geom.bbox.maxx) / 2
            cy = (r.geom.bbox.miny + r.geom.bbox.maxy) / 2
            want = int((np.floor(cy) + 10) * 20 + (np.floor(cx) + 10))
            assert got[r.parcel_id] == want

    def test_points_without_zone_keep_null(self, spark, fixture_dir):
        zones = load(spark, fixture_dir, "zones")
        pts = spark.createDataFrame(
            [("a", 50.0, 50.0), ("b", 0.5, 0.5)], ["url", "lon", "lat"])
        out = {r.url: r.zone_id for r in
               tag_points(pts, zones, poly_id_col="zone_id",
                          point_id_col="url").collect()}
        assert out["a"] is None
        assert out["b"] == (0 + 10) * 20 + 10 + 0  # floor closed form: (10)*20+10


class TestOverlay:
    def test_parcel_fractions(self, spark, fixture_dir):
        zones = load(spark, fixture_dir, "zones")
        parcels = load(spark, fixture_dir, "parcels")
        pairs = proportion_overlap(parcels, zones, target_id_col="parcel_id",
                                   overlay_id_col="zone_id", keep_pairs=True)
        got = {(r.parcel_id, r.zone_id): r.ix_area for r in pairs.collect()}
        # closed-form rectangle-intersection oracle over every (parcel, zone)
        want = {}
        ppdf = pq.read_table(
            os.path.join(fixture_dir, "parcels.parquet")).to_pydict()
        for pid, g in zip(ppdf["parcel_id"], ppdf["geom"]):
            bx = g["bbox"]
            for col in range(int(np.floor(bx["minx"] + 10)), int(np.ceil(bx["maxx"] + 10))):
                for row in range(int(np.floor(bx["miny"] + 10)), int(np.ceil(bx["maxy"] + 10))):
                    zx0, zy0 = col - 10.0, row - 10.0
                    w = min(bx["maxx"], zx0 + 1) - max(bx["minx"], zx0)
                    h = min(bx["maxy"], zy0 + 1) - max(bx["miny"], zy0)
                    if w > 0 and h > 0:
                        want[(pid, row * 20 + col)] = w * h
        assert set(got) == set(want)
        for key, area in want.items():
            assert got[key] == pytest.approx(area, abs=1e-12)
        # interior parcels straddle exactly 4 zones at 0.25 fraction each
        from collections import Counter
        per_parcel = Counter(pid for pid, _ in got)
        # parcel (row 21, col 21) spans [0.75,1.25]^2 → straddles 4 zones
        assert per_parcel[(21 * 40) + 21] == 4

    def test_spherical_m2_fully_covered_proportions_are_one(self, spark,
                                                            fixture_dir):
        """area_unit='sph_m2': the zone lattice covers every parcel, so
        Σ spherical piece areas == spherical parcel area ⇒ proportion 1
        (rect pieces use the exact closed form, the target area uses the
        Chamberlain-Duquette kernel — the identity crosses both paths)."""
        zones = load(spark, fixture_dir, "zones")
        parcels = load(spark, fixture_dir, "parcels")
        out = proportion_overlap(parcels, zones, target_id_col="parcel_id",
                                 overlay_id_col="zone_id",
                                 area_unit="sph_m2").collect()
        assert len(out) == 1600
        for r in out:
            assert r.proportion_overlap == pytest.approx(1.0, abs=1e-9)
        # full-size 0.5-deg interior parcel near (0.9°, 0.9°): spherical
        # area within a fraction of a % of the cos-lat planar estimate,
        # far from the raw deg² number
        mid = {r.parcel_id: r.target_area for r in out}[21 * 40 + 21]
        est = 0.25 * (111194.9266 ** 2) * np.cos(np.radians(1.0))
        assert mid == pytest.approx(est, rel=2e-3)

    def test_zone_coverage_fraction(self, spark, fixture_dir):
        zones = load(spark, fixture_dir, "zones")
        parcels = load(spark, fixture_dir, "parcels")
        out = proportion_overlap(zones, parcels, target_id_col="zone_id",
                                 overlay_id_col="parcel_id").toPandas()
        # interior zones are fully covered by the shifted parcel grid
        interior = out[(out.zone_id // 20 > 0) & (out.zone_id // 20 < 19)
                       & (out.zone_id % 20 > 0) & (out.zone_id % 20 < 19)]
        assert np.allclose(interior["proportion_overlap"], 1.0, atol=1e-9)
        # corner zone (0): covered except the 0.25-wide strip on two sides:
        # covered area = 1 - (0.25 + 0.25 - 0.0625) = 0.5625
        z0 = out[out.zone_id == 0]["proportion_overlap"].iloc[0]
        assert z0 == pytest.approx(0.5625)


class TestKnn:
    def test_broadcast_matches_bruteforce(self, spark, fixture_dir):
        poi = load(spark, fixture_dir, "poi")
        gaz = load(spark, fixture_dir, "gazetteer")
        q = gaz.select(F.col("place").alias("qid"), "lon", "lat")
        for k in (1, 3):
            got = knn_join(q, poi, k=k, query_id_col="qid",
                           feature_id_col="poi_id").collect()
            gpdf = gaz.toPandas()
            ppdf = poi.toPandas()
            want = fx.expected_knn(gpdf["lon"].to_numpy(), gpdf["lat"].to_numpy(),
                                   ppdf["lon"].to_numpy(), ppdf["lat"].to_numpy(),
                                   ppdf["poi_id"].to_numpy(), k)
            want_map = {(f"ville{qi:02d}" if False else gpdf['place'].iloc[qi], rank): pid
                        for qi, rank, pid, _ in want}
            assert len(got) == len(want)
            for r in got:
                assert want_map[(r.qid, r.rank)] == r.poi_id

    def test_assume_disjoint_matches_default(self, spark, fixture_dir):
        pages = load(spark, fixture_dir, "pages")
        gaz = load(spark, fixture_dir, "gazetteer")
        zones = load(spark, fixture_dir, "zones")
        pts = geotag(pages, gaz).filter(F.col("lon").isNotNull())
        base = {(r.url, r.zone_id) for r in
                tag_points(pts, zones, poly_id_col="zone_id",
                           point_id_col="url").collect()
                if r.zone_id is not None}
        fast = {(r.url, r.zone_id) for r in
                tag_points(pts, zones, poly_id_col="zone_id",
                           point_id_col="url", assume_disjoint=True).collect()}
        assert base == fast

    def test_fused_nearest_column_matches_knn1(self, spark, fixture_dir):
        from spandex_spark.operators.knn import nearest_feature_column
        poi = load(spark, fixture_dir, "poi")
        gaz = load(spark, fixture_dir, "gazetteer")
        qn = gaz.withColumn("qid", F.monotonically_increasing_id())
        base = {r.qid: r.poi_id for r in
                knn_join(qn, poi, k=1, query_id_col="qid",
                         feature_id_col="poi_id").collect()}
        nearest = nearest_feature_column(poi, feature_id_col="poi_id")
        fused = {r.qid: r.nn.feature_id for r in
                 qn.withColumn("nn", nearest(F.col("lon"), F.col("lat"))).collect()}
        assert base == fused

    def test_cells_strategy_matches_broadcast(self, spark, fixture_dir):
        poi = load(spark, fixture_dir, "poi")
        gaz = load(spark, fixture_dir, "gazetteer")
        q = gaz.select(F.col("place").alias("qid"), "lon", "lat")
        a = {(r.qid, r.rank): r.poi_id for r in
             knn_join(q, poi, k=2, query_id_col="qid", feature_id_col="poi_id",
                      strategy="broadcast").collect()}
        b = {(r.qid, r.rank): r.poi_id for r in
             knn_join(q, poi, k=2, query_id_col="qid", feature_id_col="poi_id",
                      strategy="cells", level=6).collect()}
        assert a == b


class TestZonal:
    def test_matches_numpy_oracle(self, spark, fixture_dir):
        tiles = load(spark, fixture_dir, "raster_tiles")
        zones = load(spark, fixture_dir, "zones")
        got = zonal_stats(tiles, zones).toPandas().set_index("zone_id").sort_index()
        # numpy oracle: all pixel centers, closed-form zone assignment
        t = pq.read_table(os.path.join(fixture_dir, "raster_tiles.parquet")).to_pydict()
        lons, lats, vals = [], [], []
        for i in range(len(t["tile_id"])):
            nx, ny, res = t["nx"][i], t["ny"][i], t["res"][i]
            px = t["x0"][i] + (np.arange(nx) + 0.5) * res
            py = t["y0"][i] + (np.arange(ny) + 0.5) * res
            lon, lat = np.meshgrid(px, py)
            lons.append(lon.ravel())
            lats.append(lat.ravel())
            vals.append(np.asarray(t["values"][i]))
        lon = np.concatenate(lons)
        lat = np.concatenate(lats)
        v = np.concatenate(vals)
        zid = fx.expected_tag(lon, lat)
        for z in [0, 57, 399, 210]:
            m = zid == z
            assert got.loc[z, "px_count"] == m.sum()
            assert got.loc[z, "px_sum"] == pytest.approx(v[m].sum(), rel=1e-12)
            assert got.loc[z, "px_min"] == pytest.approx(v[m].min())
            assert got.loc[z, "px_max"] == pytest.approx(v[m].max())
            assert got.loc[z, "px_mean"] == pytest.approx(v[m].mean())
        assert int(got["px_count"].sum()) == lon.shape[0]


class TestScaling:
    def test_factor_exactly_1_1(self, spark, fixture_dir):
        parcels = load(spark, fixture_dir, "parcels").withColumn(
            "zclass", F.concat(F.lit("c"), (F.col("parcel_id") % 4).cast("string")))
        current = parcels.groupBy("zclass").agg(F.sum("land_value").alias("s")).collect()
        targets = spark.createDataFrame(
            [(r.zclass, r.s * 1.1) for r in current], ["zclass", "target"])
        out = scale_to_targets(parcels, "land_value", targets, segment_col="zclass")
        pdf = out.toPandas()
        assert np.allclose(pdf["land_value_scaled"], pdf["land_value"] * 1.1)

    def test_mean_metric_and_missing_segment(self, spark):
        df = spark.createDataFrame(
            [("a", 10.0), ("a", 30.0), ("b", 5.0)], ["seg", "v"])
        targets = spark.createDataFrame([("a", 40.0)], ["seg", "target"])
        out = {(r.seg, r.v): r.v_scaled for r in
               scale_to_targets(df, "v", targets, segment_col="seg",
                                metric="mean").collect()}
        assert out[("a", 10.0)] == pytest.approx(20.0)  # mean 20 → target 40 → ×2
        assert out[("b", 5.0)] == pytest.approx(5.0)    # no target → unchanged


class TestValidation:
    def test_invalid_and_duplicates(self, spark):
        def g(xs, ys):
            return {"kind": 3, "xs": xs, "ys": ys,
                    "ring_offsets": [0, len(xs)],
                    "bbox": {"minx": min(xs), "miny": min(ys),
                             "maxx": max(xs), "maxy": max(ys)}}
        rows = [
            (1, g([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])),   # valid
            (2, g([0.0, 1.0, 0.0, 1.0], [0.0, 1.0, 1.0, 0.0])),   # bowtie
            (3, g([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])),   # dup of 1
        ]
        df = spark.createDataFrame(rows, "id long, geom struct<kind:tinyint, xs:array<double>, ys:array<double>, ring_offsets:array<int>, bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        bad = invalid_geometry_check(df, "id").collect()
        assert [r.id for r in bad] == [2]
        dups = duplicate_stacked_geometry_check(df, "id").collect()
        assert len(dups) == 1 and sorted(dups[0].ids) == [1, 3]


class TestReproject:
    def test_roundtrip_vs_kernel(self, spark, fixture_dir):
        poi = load(spark, fixture_dir, "poi").limit(50)
        out = reproject(poi).toPandas()
        from spandex_spark import geom as _geom
        x, y = _geom.lonlat_to_webmercator(out["lon"].to_numpy(), out["lat"].to_numpy())
        np.testing.assert_allclose(out["x"], x)
        np.testing.assert_allclose(out["y"], y)

    def test_inverse_roundtrips_all_families(self, spark):
        """reproject → reproject_inverse reproduces the source lon/lat:
        exact (1e-12 deg) for 3857/LCC/Albers closed forms, series-bounded
        (1e-8 deg ≈ mm) for UTM."""
        from pyspark.sql import functions as F
        from spandex_spark.operators import reproject_inverse
        pts = spark.range(500).select(
            (F.lit(-124.0) + (F.col("id") % 25).cast("double") * 0.1)
            .alias("lon"),
            (F.lit(34.0) + F.floor(F.col("id") / 25).cast("double") * 0.1)
            .alias("lat"))
        for srid, tol in ((3857, 1e-12), (32610, 1e-8),
                          (26943, 1e-12), (5070, 1e-12)):
            back = reproject_inverse(
                reproject(pts, to_srid=srid), from_srid=srid,
                lon_col="lon2", lat_col="lat2").toPandas()
            np.testing.assert_allclose(back["lon2"], back["lon"],
                                       rtol=0, atol=tol)
            np.testing.assert_allclose(back["lat2"], back["lat"],
                                       rtol=0, atol=tol)

    def test_inverse_known_points(self, spark):
        """Published grid origins invert exactly: CA zone 3 (2e6, 5e5) →
        (-120.5, 36.5); CONUS Albers (0, 0) → (-96, 23)."""
        from spandex_spark.operators import reproject_inverse
        df = spark.createDataFrame([(2_000_000.0, 500_000.0)], "x double, y double")
        r = reproject_inverse(df, from_srid=26943).collect()[0]
        assert r.lon == pytest.approx(-120.5, abs=1e-9)
        assert r.lat == pytest.approx(36.5, abs=1e-9)
        df2 = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
        r2 = reproject_inverse(df2, from_srid=5070).collect()[0]
        assert r2.lon == pytest.approx(-96.0, abs=1e-9)
        assert r2.lat == pytest.approx(23.0, abs=1e-9)

    def test_inverse_unknown_srid_raises(self, spark):
        from spandex_spark.operators import reproject_inverse
        df = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
        with pytest.raises(NotImplementedError):
            reproject_inverse(df, from_srid=27700)

    def test_reproject_geom_matches_kernel(self, spark, fixture_dir):
        """Vertex-wise ST_Transform on geometry structs: output vertices
        equal the numpy kernel applied to the raw arrays; ring structure
        and kind untouched; NULL geometry passes through NULL."""
        from spandex_spark import geom as G
        from spandex_spark.operators import reproject_geom
        parcels = spark.read.parquet(
            os.path.join(fixture_dir, "parcels.parquet")).limit(40)
        out = reproject_geom(parcels, srid=3310).collect()
        src = {r.parcel_id: r.geom for r in parcels.collect()}
        p = G.ALBERS_ZONES[3310]
        for r in out:
            s = src[r.parcel_id]
            X, Y = G.lonlat_to_albers(
                np.asarray(s.xs), np.asarray(s.ys), phi1=p[0], phi2=p[1],
                phi0=p[2], lam0=p[3], fe=p[4], fn=p[5])
            np.testing.assert_allclose(list(r.geom.xs), X, rtol=0, atol=1e-9)
            np.testing.assert_allclose(list(r.geom.ys), Y, rtol=0, atol=1e-9)
            assert list(r.geom.ring_offsets) == list(s.ring_offsets)
            assert r.geom.kind == s.kind
            assert r.geom.bbox.minx == pytest.approx(min(X), abs=1e-9)
        row_null = spark.createDataFrame(
            [(1, None)],
            "pid long, geom struct<kind:tinyint, xs:array<double>,"
            " ys:array<double>, ring_offsets:array<int>,"
            " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")
        assert reproject_geom(row_null, srid=3310).collect()[0].geom is None

    def test_perimeter_accessor(self, spark, fixture_dir):
        """ST_Perimeter: hole boundaries count (PostGIS convention)."""
        from spandex_spark.functions.spatial import geom_perimeter_udf
        from spandex_spark.sources.grids import donut_zones_df
        from pyspark.sql import functions as F
        vals = (donut_zones_df(spark)
                .select(geom_perimeter_udf(F.col("geom")).alias("p"))
                .collect())
        assert all(r.p == pytest.approx(24.0, abs=1e-12) for r in vals)


class TestAsofJoin:
    def test_backward_asof_with_ties_and_missing(self, spark):
        from spandex_spark.operators.timeseries import asof_join
        left = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 205), (3, 10, 200), (4, 20, 50)],
            "event_id long, user_id long, ts long")
        right = spark.createDataFrame(
            [(10, 100, 7), (10, 200, 8), (10, 300, 9), (30, 10, 99)],
            "user_id long, ts long, v long")
        out = {r.event_id: r.v for r in
               asof_join(left, right, on="ts", by="user_id",
                         right_cols=("v",)).collect()}
        # ts=100 equal → inclusive (<=); ts=205 → latest prior (200);
        # ts=200 equal → inclusive; user 20 has no right rows → NULL
        assert out == {1: 7, 2: 8, 3: 8, 4: None}

    def test_bucketed_equals_single_window(self, spark):
        """Skew-safe bucketed variant == single-window path, on a fixture
        with a deliberately HOT key (one user owning 80% of both sides),
        bucket boundaries landing between/on event times, and left buckets
        with no right rows (exercises the cross-bucket carry)."""
        import random
        from spandex_spark.operators.timeseries import asof_join
        rng = random.Random(7)
        lrows, rrows = [], []
        eid = 0
        for user, n in ((1, 800), (2, 50), (3, 1)):
            for _ in range(n):
                eid += 1
                lrows.append((eid, user, rng.randrange(0, 5000)))
            seen = set()   # right rows unique per (user, ts) by contract
            while len(seen) < max(1, n // 2):
                seen.add(rng.randrange(0, 5000))
            rrows += [(user, ts, user * 100000 + ts) for ts in seen]
        left = spark.createDataFrame(lrows, "event_id long, user_id long, ts long")
        right = spark.createDataFrame(rrows, "user_id long, ts long, v long")
        base = {r.event_id: r.v for r in
                asof_join(left, right, on="ts", by="user_id",
                          right_cols=("v",)).collect()}
        for bs in (1, 97, 1000, 100000):   # 100000 → everything one bucket
            got = {r.event_id: r.v for r in
                   asof_join(left, right, on="ts", by="user_id",
                             right_cols=("v",), bucket_seconds=bs).collect()}
            assert got == base, f"bucket_seconds={bs} diverges"


class TestWithinDistance:
    """ST_DWithin range join (pure-JVM cell-box plan, operators/distance.py)."""

    def _brute(self, prows, frows, radius, metric):
        from spandex_spark import geom as G
        out = set()
        for pid, plon, plat in prows:
            for fid, flon, flat in frows:
                if metric == "planar":
                    d = np.hypot(plon - flon, plat - flat)
                else:
                    d = float(G.haversine_m(np.array([plon]), np.array([plat]),
                                            np.array([flon]), np.array([flat]))[0])
                if d <= radius:
                    out.add((pid, fid))
        return out

    def test_planar_equals_bruteforce(self, spark):
        from spandex_spark.operators.distance import within_distance_join
        rng = np.random.default_rng(5)
        prows = [(i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-10, 10, 400), rng.uniform(-10, 10, 400)))]
        frows = [(i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-10, 10, 300), rng.uniform(-10, 10, 300)))]
        p = spark.createDataFrame(prows, "pid long, lon double, lat double")
        f = spark.createDataFrame(frows, "fid long, lon double, lat double")
        got = {(r.pid, r.fid) for r in
               within_distance_join(p, f, radius=0.7, point_id_col="pid",
                                    feature_id_col="fid",
                                    metric="planar").collect()}
        assert got == self._brute(prows, frows, 0.7, "planar")

    def test_haversine_high_latitude(self, spark):
        """70-80N: the lon radius widens ~3-6x vs the equator; the per-row
        adaptive box must still cover every true pair."""
        from spandex_spark.operators.distance import within_distance_join
        rng = np.random.default_rng(9)
        prows = [(i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-5, 5, 200), rng.uniform(70, 80, 200)))]
        frows = [(i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-5, 5, 200), rng.uniform(70, 80, 200)))]
        p = spark.createDataFrame(prows, "pid long, lon double, lat double")
        f = spark.createDataFrame(frows, "fid long, lon double, lat double")
        r = 60_000.0  # meters
        got = {(r_.pid, r_.fid) for r_ in
               within_distance_join(p, f, radius=r, point_id_col="pid",
                                    feature_id_col="fid").collect()}
        assert got == self._brute(prows, frows, r, "haversine")

    def test_antimeridian_wrap(self, spark):
        from spandex_spark.operators.distance import within_distance_join
        p = spark.createDataFrame([(1, 179.8, 0.0)],
                                  "pid long, lon double, lat double")
        f = spark.createDataFrame([(1, -179.9, 0.0), (2, 178.0, 0.0)],
                                  "fid long, lon double, lat double")
        got = {(r.pid, r.fid) for r in
               within_distance_join(p, f, radius=50_000.0, point_id_col="pid",
                                    feature_id_col="fid").collect()}
        # 179.8 -> -179.9 is 0.3 deg (~33km) THROUGH the dateline; 178.0 is
        # 1.8 deg (~200km) away
        assert got == {(1, 1)}

    def test_no_duplicate_pairs(self, spark):
        from spandex_spark.operators.distance import within_distance_join
        from spandex_spark.sources.grids import derived_points, gazetteer_grid_df
        pts = derived_points(
            spark.range(5000).select(F.col("id").alias("p")), "p")
        out = within_distance_join(pts, gazetteer_grid_df(spark), radius=1.2,
                                   point_id_col="p", feature_id_col="poi_k",
                                   metric="planar")
        n = out.count()
        nd = out.select("p", "poi_k").distinct().count()
        assert n == nd > 0


class TestBuffer:
    def test_shape_and_area_identity(self, spark):
        from spandex_spark.operators.buffer import buffer_points
        from spandex_spark import geom as G
        p = spark.createDataFrame([(1, 2.0, 3.0)],
                                  "pid long, lon double, lat double")
        g = buffer_points(p, radius=0.5, segments=32).collect()[0].geom
        xs, ys = np.asarray(g.xs), np.asarray(g.ys)
        assert xs.shape[0] == 32
        a = G.shoelace_area(xs, ys)
        assert a > 0  # CCW
        assert a == pytest.approx(0.5 * 32 * 0.25 * np.sin(2 * np.pi / 32),
                                  rel=1e-12)
        assert (g.bbox.minx, g.bbox.maxx) == (1.5, 2.5)
        # all vertices on the circle
        assert np.hypot(xs - 2.0, ys - 3.0) == pytest.approx(0.5, rel=1e-12)

    def test_haversine_lon_stretch(self, spark):
        from spandex_spark.operators.buffer import buffer_points
        p = spark.createDataFrame([(1, 0.0, 60.0)],
                                  "pid long, lon double, lat double")
        g = buffer_points(p, radius=111_194.9, segments=8,
                          metric="haversine").collect()[0].geom
        xs, ys = np.asarray(g.xs), np.asarray(g.ys)
        # ~1 deg of latitude; longitude half-width = 1/cos(60) = 2 deg
        assert (ys.max() - ys.min()) / 2 == pytest.approx(1.0, rel=1e-3)
        assert (xs.max() - xs.min()) / 2 == pytest.approx(2.0, rel=1e-3)

    def test_buffers_flow_into_overlay(self, spark, fixture_dir):
        """Buffers are standard geometry structs: overlay them against the
        zone lattice; interior buffers must be fully covered (Σ proportion
        = 1) with total intersection area == the n-gon area."""
        from spandex_spark.operators.buffer import buffer_points
        zones = load(spark, fixture_dir, "zones")
        pts = spark.createDataFrame(
            [(i, -5.0 + i * 1.3, 2.0 + (i % 3)) for i in range(8)],
            "pid long, lon double, lat double")
        buf = buffer_points(pts, radius=0.4, segments=16)
        out = proportion_overlap(buf, zones, target_id_col="pid",
                                 overlay_id_col="zone_id").collect()
        ngon = 0.5 * 16 * 0.16 * np.sin(2 * np.pi / 16)
        assert len(out) == 8
        for r in out:
            assert r.proportion_overlap == pytest.approx(1.0, abs=1e-9)
            assert r.target_area == pytest.approx(ngon, rel=1e-12)

    def test_salted_equals_unsalted(self, spark):
        """E3 salting on the range join: identical pairs with a hot cell
        split across salt buckets."""
        from spandex_spark.operators.distance import within_distance_join
        rng = np.random.default_rng(13)
        # dense cluster in one cell + scattered background
        px = np.concatenate([rng.uniform(0.0, 0.3, 3000),
                             rng.uniform(-10, 10, 500)])
        py = np.concatenate([rng.uniform(0.0, 0.3, 3000),
                             rng.uniform(-10, 10, 500)])
        p = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
            "pid long, lon double, lat double")
        f = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-10, 10, 400), rng.uniform(-10, 10, 400)))],
            "fid long, lon double, lat double")
        base = {(r.pid, r.fid) for r in
                within_distance_join(p, f, radius=0.8, point_id_col="pid",
                                     feature_id_col="fid",
                                     metric="planar").collect()}
        # hot cell keys at the level the join picks for r=0.8 (level 7),
        # via the public helper (the operator's own grid key — a quadkey
        # here would silently salt nothing)
        from spandex_spark.operators.distance import (grid_key_of,
                                                      level_for_radius)
        hot = [grid_key_of(0.15, 0.15, level_for_radius(0.8))]
        salted = {(r.pid, r.fid) for r in
                  within_distance_join(p, f, radius=0.8, point_id_col="pid",
                                       feature_id_col="fid", metric="planar",
                                       salt_hot=hot, salt_fanout=4).collect()}
        assert salted == base and len(base) > 0


class TestGridCluster:
    def test_two_blobs_and_noise(self, spark):
        from spandex_spark.operators.cluster import grid_cluster
        rng = np.random.default_rng(17)
        rows = []
        pid = 0
        # blob A: spans several adjacent cells at level 8 (cells ~1.4x0.7)
        for _ in range(300):
            rows.append((pid, float(rng.uniform(0, 3)),
                         float(rng.uniform(0, 2))))
            pid += 1
        # blob B: far away
        for _ in range(300):
            rows.append((pid, float(rng.uniform(-8, -6)),
                         float(rng.uniform(-8, -7))))
            pid += 1
        # noise: isolated single points, one per distant cell
        noise_ids = []
        for i in range(10):
            rows.append((pid, float(100 + i * 3), float(50 + (i % 3) * 3)))
            noise_ids.append(pid)
            pid += 1
        df = spark.createDataFrame(rows, "p long, lon double, lat double")
        out = {r.p: r.cluster_id
               for r in grid_cluster(df, level=8, min_count=5,
                                     point_id_col="p").collect()}
        # blob-edge points can land in sparse cells (noise) — the labeled
        # CORE of each blob must be one single cluster, distinct per blob
        a_labels = {out[i] for i in range(300)} - {None}
        b_labels = {out[i] for i in range(300, 600)} - {None}
        assert len(a_labels) == 1 and len(b_labels) == 1
        assert a_labels != b_labels
        n_core_a = sum(out[i] is not None for i in range(300))
        n_core_b = sum(out[i] is not None for i in range(300, 600))
        assert n_core_a > 200 and n_core_b > 200
        for i in noise_ids:
            assert out[i] is None

    def test_null_coordinates_get_null_cluster(self, spark):
        """A point without a position has no cell: NULL cluster_id, even
        when enough of them would make a dense cell."""
        from spandex_spark.operators.cluster import grid_cluster
        rows = [(i, 0.5 + 0.01 * i, 0.5) for i in range(5)]
        rows += [(10 + i, None, 0.5) for i in range(5)]
        rows += [(20 + i, 0.5, None) for i in range(5)]
        df = spark.createDataFrame(rows, "p long, lon double, lat double")
        out = {r.p: r.cluster_id
               for r in grid_cluster(df, level=9, min_count=3,
                                     point_id_col="p").collect()}
        assert len({out[i] for i in range(5)}) == 1
        assert out[0] is not None
        assert all(out[i] is None for i in range(10, 25) if i % 10 < 5)


class TestBufferPolygons:
    GEOM_SCHEMA = ("pid long, geom struct<kind:tinyint, xs:array<double>,"
                   " ys:array<double>, ring_offsets:array<int>,"
                   " bbox:struct<minx:double,miny:double,maxx:double,maxy:double>>")

    def _df(self, spark, xs, ys):
        row = (1, {"kind": 3, "xs": xs, "ys": ys,
                   "ring_offsets": [0, len(xs)],
                   "bbox": {"minx": min(xs), "miny": min(ys),
                            "maxx": max(xs), "maxy": max(ys)}})
        return spark.createDataFrame([row], self.GEOM_SCHEMA)

    def test_triangle_closed_forms(self, spark):
        """Convex buffer identities: area = A + P·r + s·r²·sin(2π/s)/2 and
        perimeter-side vertex counts hold for any convex ring (corner arcs
        jointly sweep one full turn)."""
        import math
        from spandex_spark.operators.buffer import buffer_polygons
        from spandex_spark import geom as G
        xs, ys = [0.0, 4.0, 0.0], [0.0, 0.0, 3.0]
        out = buffer_polygons(self._df(spark, xs, ys), radius=0.25,
                              segments=32).collect()[0].geom_buffered
        a = G.rings_area(np.asarray(out.xs), np.asarray(out.ys),
                         np.asarray(out.ring_offsets))
        A = 6.0
        P = 3 + 4 + 5
        r = 0.25
        # exact fan area of the arc construction: corner arcs carry the
        # lattice points PLUS the exact normal endpoints (normals of a
        # 3-4-5 triangle are off-lattice), so sum sin over the actual
        # angular gaps rather than assuming the pure s-gon identity
        verts = list(zip(out.xs, out.ys))
        tri = [(0.0, 0.0), (4.0, 0.0), (0.0, 3.0)]
        fan = 0.0
        n = len(verts)
        for i in range(n):
            x0, y0 = verts[i]
            x1, y1 = verts[(i + 1) % n]
            # consecutive buffer vertices around the same corner subtend
            # an arc; identify the corner as the nearest triangle vertex
            for cx, cy in tri:
                if (abs(math.hypot(x0 - cx, y0 - cy) - r) < 1e-9
                        and abs(math.hypot(x1 - cx, y1 - cy) - r) < 1e-9):
                    a0 = math.atan2(y0 - cy, x0 - cx)
                    a1 = math.atan2(y1 - cy, x1 - cx)
                    d = (a1 - a0) % (2 * math.pi)
                    if d < math.pi / 2 + 1e-9:
                        fan += 0.5 * r * r * math.sin(d)
                    break
        want = A + P * r + fan
        assert a == pytest.approx(want, abs=1e-9)

    def test_mis_oriented_input_ok(self, spark):
        """CW input reorients before offsetting (same result as CCW)."""
        from spandex_spark.operators.buffer import buffer_polygons
        from spandex_spark import geom as G
        ccw = buffer_polygons(self._df(spark, [0.0, 1.0, 1.0, 0.0],
                                       [0.0, 0.0, 1.0, 1.0]),
                              radius=0.2, segments=8).collect()[0].geom_buffered
        cw = buffer_polygons(self._df(spark, [0.0, 0.0, 1.0, 1.0],
                                      [0.0, 1.0, 1.0, 0.0]),
                             radius=0.2, segments=8).collect()[0].geom_buffered
        a1 = G.rings_area(np.asarray(ccw.xs), np.asarray(ccw.ys),
                          np.asarray(ccw.ring_offsets))
        a2 = G.rings_area(np.asarray(cw.xs), np.asarray(cw.ys),
                          np.asarray(cw.ring_offsets))
        assert a1 == pytest.approx(a2, abs=1e-12)

    def test_duplicate_vertices_ok(self, spark):
        """Doubled consecutive vertices buffer like the clean ring instead
        of dividing by a zero-length incoming edge (ADVICE r4)."""
        from spandex_spark.operators.buffer import buffer_polygons
        clean = buffer_polygons(
            self._df(spark, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
            radius=0.2, segments=8).collect()[0].geom_buffered
        dup = buffer_polygons(
            self._df(spark, [0.0, 1.0, 1.0, 1.0, 0.0],
                     [0.0, 0.0, 0.0, 1.0, 1.0]),
            radius=0.2, segments=8).collect()[0].geom_buffered
        assert dup is not None
        assert list(dup.xs) == list(clean.xs)
        assert list(dup.ys) == list(clean.ys)

    def test_concave_l_closed_form(self, spark):
        """Concave buffering (arrangement path): the right-angle L hits
        the exact closed form A + P·r + 5·(s/4)·(r²·sin(2π/s)/2) − r²
        with 5·(s/4+1)+1 envelope vertices, one ring."""
        import math
        from spandex_spark.operators.buffer import buffer_polygons
        from spandex_spark import geom as G
        lx = [0.0, 2.0, 2.0, 1.0, 1.0, 0.0]
        ly = [0.0, 0.0, 1.0, 1.0, 2.0, 2.0]
        r, s = 0.2, 8
        out = buffer_polygons(self._df(spark, lx, ly),
                              radius=r, segments=s).collect()[0].geom_buffered
        assert out is not None
        xs, ys = np.asarray(out.xs), np.asarray(out.ys)
        offs = np.asarray(out.ring_offsets)
        assert len(offs) - 1 == 1
        assert xs.shape[0] == 5 * (s // 4 + 1) + 1
        A, P = 3.0, 8.0
        want = A + P * r + 5 * (s / 4) * (r * r * math.sin(2 * math.pi / s) / 2) - r * r
        assert G.rings_area(xs, ys, offs) == pytest.approx(want, abs=1e-8)

    def test_concave_inlet_closes_to_hole(self, spark):
        """A flask cavity — neck narrower than 2r, chamber wider than 2r:
        the neck-wall buffers seal the mouth but can't fill the chamber,
        so the arrangement emits an enclosed HOLE ring — the buffer
        topology change PostGIS produces, impossible for naive offsetting."""
        from spandex_spark.operators.buffer import buffer_polygons
        from spandex_spark import geom as G
        # outer 4x3; chamber [1,3]x[0.5,2]; neck [1.85,2.15]x[2,3]
        ux = [0.0, 4.0, 4.0, 2.15, 2.15, 3.0, 3.0, 1.0, 1.0, 1.85, 1.85, 0.0]
        uy = [0.0, 0.0, 3.0, 3.0, 2.0, 2.0, 0.5, 0.5, 2.0, 2.0, 3.0, 3.0]
        out = buffer_polygons(self._df(spark, ux, uy),
                              radius=0.25, segments=8).collect()[0].geom_buffered
        assert out is not None
        xs, ys = np.asarray(out.xs), np.asarray(out.ys)
        offs = np.asarray(out.ring_offsets)
        n_rings = len(offs) - 1
        assert n_rings == 2
        signed = [G.shoelace_area(xs[offs[i]:offs[i + 1]],
                                  ys[offs[i]:offs[i + 1]])
                  for i in range(n_rings)]
        assert max(signed) > 0 and min(signed) < 0  # outer + hole

    def test_multipart_returns_null(self, spark):
        """Holed / multi-part inputs stay NULL (inward hole erosion is a
        different operator class — documented boundary)."""
        from spandex_spark.operators.buffer import buffer_polygons
        row = (1, {"kind": 6,
                   "xs": [0.0, 4.0, 4.0, 0.0, 1.0, 1.0, 2.0, 2.0],
                   "ys": [0.0, 0.0, 4.0, 4.0, 1.0, 2.0, 2.0, 1.0],
                   "ring_offsets": [0, 4, 8],
                   "bbox": {"minx": 0.0, "miny": 0.0,
                            "maxx": 4.0, "maxy": 4.0}})
        df = spark.createDataFrame([row], self.GEOM_SCHEMA)
        out = buffer_polygons(df, radius=0.2, segments=8).collect()[0]
        assert out.geom_buffered is None


class TestSpatialPredicateJoin:
    def test_contains_within_duality_and_hole_exactness(self, spark):
        """contains(donuts, parcels) must be exactly the flipped pair set
        of within(parcels, donuts); a parcel overlapping only the HOLE
        must appear in neither (even-odd region, not the outer bbox)."""
        from pyspark.sql import functions as F
        from spandex_spark.operators import spatial_predicate_join
        from spandex_spark.sources.grids import donut_zones_df, parcels_df
        parcels = parcels_df(spark)
        donuts = donut_zones_df(spark)
        w = {(r.parcel_id, r.dz_id) for r in spatial_predicate_join(
            parcels, donuts, predicate="within",
            target_id_col="parcel_id", other_id_col="dz_id",
            level=7).collect()}
        c = {(r.parcel_id, r.dz_id) for r in spatial_predicate_join(
            donuts, parcels, predicate="contains",
            target_id_col="dz_id", other_id_col="parcel_id",
            level=7).collect()}
        assert w == c
        assert len(w) > 0
        # a parcel strictly inside some donut's hole: hole of donut z is
        # [zx0+1, zx0+3]^2; parcel [x0,x0+.5] with zx0+1 < x0 < x0+.5 < zx0+3
        hole_parcels = {r.parcel_id for r in parcels.filter(
            (F.col("geom.bbox.minx") > -7.0) & (F.col("geom.bbox.maxx") < -5.0)
            & (F.col("geom.bbox.miny") > -7.0)
            & (F.col("geom.bbox.maxy") < -5.0)).collect()}
        assert hole_parcels
        ii = {(r.parcel_id, r.dz_id) for r in spatial_predicate_join(
            parcels, donuts, predicate="interior_intersects",
            target_id_col="parcel_id", other_id_col="dz_id",
            level=7).collect()}
        for pid in hole_parcels:
            assert all(p != pid for p, _ in ii)
            assert all(p != pid for p, _ in w)

    def test_unknown_predicate_raises(self, spark):
        from spandex_spark.operators import spatial_predicate_join
        from spandex_spark.sources.grids import donut_zones_df, parcels_df
        import pytest as _pt
        with _pt.raises(ValueError):
            spatial_predicate_join(parcels_df(spark), donut_zones_df(spark),
                                   predicate="touches",
                                   target_id_col="parcel_id",
                                   other_id_col="dz_id")
