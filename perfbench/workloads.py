"""The benchmark workloads.

Each workload writes its seeded inputs (``generate``, no Spark), loads
its layers and builds its indexes (``setup``, timed as ``setup_s``),
checks the engine's output in full against an oracle (``check``: one
untimed pass through the pipeline, which is also the warm-up), runs one
closed-loop iteration (``iterate``, timed; returns input rows) and checks
it cheaply (``check_iteration``), and runs one traced iteration that
materializes each layer's output on its own (``traced``), whose
layer-specific counts ``layer_metrics`` then reads.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

import inputs
from tracing import rows_out

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _median_time(fn, repeats: int = 5) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def kernel_metrics(spark) -> dict:
    """Direct calls of three kernels on fixed inputs (the same on every
    seed): the ray cast ``geom.pip_pairs`` on points near the donut
    layer's edges, ``geom.rings_intersection_area`` on jittered quads
    against the one-degree zone squares they straddle, and the fused
    nearest-feature kernel of ``knn.nearest_feature_column`` (one Arrow
    batch of 20k queries against 64 POIs)."""
    import pandas as pd
    from spandex_spark import geom
    from spandex_spark.operators.knn import nearest_feature_column
    from spandex_spark.sources.grids import donut_zones_df

    rows = donut_zones_df(spark).collect()
    polys = {int(r["dz_id"]): (np.asarray(r["geom"]["xs"], np.float64),
                               np.asarray(r["geom"]["ys"], np.float64),
                               np.asarray(r["geom"]["ring_offsets"], np.int64))
             for r in rows}
    rng = np.random.default_rng(0)
    n = 200_000

    def near_edges():
        edge = rng.choice(np.arange(-8.0, 8.5, 1.0), n)   # outer + hole edges
        v = np.where(rng.random(n) < 0.5, edge + rng.uniform(-0.05, 0.05, n),
                     rng.uniform(-8.0, 8.0, n))
        return np.clip(v, -7.99, 7.99)

    px, py = near_edges(), near_edges()
    pid = (np.floor((py + 8) / 4) * 4 + np.floor((px + 8) / 4)).astype(np.int64)
    pip_s = _median_time(lambda: geom.pip_pairs(px, py, pid, polys))

    table, _ = inputs.parcels(0, 206)
    xs = np.asarray(table.column("geom").combine_chunks().field("xs").values).reshape(-1, 4)
    ys = np.asarray(table.column("geom").combine_chunks().field("ys").values).reshape(-1, 4)
    quad = ~((xs[:, 0] == xs[:, 3]) & (xs[:, 1] == xs[:, 2])
             & (ys[:, 0] == ys[:, 1]) & (ys[:, 2] == ys[:, 3]))
    sel = np.flatnonzero(quad)[:2000]
    pairs = []
    for i in sel:
        zx, zy = np.floor(xs[i].min()), np.floor(ys[i].min())
        pairs.append((xs[i], ys[i], np.array([zx, zx + 1, zx + 1, zx]),
                      np.array([zy, zy, zy + 1, zy + 1])))

    def ix_all():
        for a, b, c, d in pairs:
            geom.rings_intersection_area(a, b, None, c, d, None)
    ix_s = _median_time(ix_all, 3)

    pois = spark.createDataFrame(inputs.pois(0, 64, 0.0).to_pandas())
    nearest = nearest_feature_column(pois, feature_id_col="poi_id").func
    qlon = pd.Series(rng.uniform(-10.0, 10.0, 20_000))
    qlat = pd.Series(rng.uniform(-10.0, 10.0, 20_000))
    nn_s = _median_time(lambda: nearest(qlon, qlat))
    return {"geom.pip_ns_per_test": pip_s / n * 1e9,
            "geom.ix_area_us_per_pair": ix_s / len(pairs) * 1e6,
            "knn.nearest_ns_per_query": nn_s / len(qlon) * 1e9}


def tag_probe(spark, points, zones, *, level: int, poly_id_col: str,
              hits: int) -> dict:
    """Candidate counts of the two-phase tag, from the public index: every
    point's cell joined to ``PolygonIndex.cells_df`` (the same cover the
    tag builds). Full-cell candidates skip the exact refine; the rest go
    to the Python ray cast unless the layer is all rectangles."""
    from spandex_spark.functions.cells_sql import cell_of_expr
    from spandex_spark.operators.tag import PolygonIndex

    t0 = time.perf_counter()
    index = PolygonIndex(zones, poly_id_col=poly_id_col, level=level)
    build_s = time.perf_counter() - t0
    n_pts = points.count()
    row = (points.select(cell_of_expr("lon", "lat", level).alias("cell"))
           .join(index.cells_df, "cell")
           .agg(F.count(F.lit(1)).alias("cand"),
                F.sum(F.col("_full").cast("long")).alias("full"))
           .collect()[0])
    cand, full = int(row["cand"]), int(row["full"] or 0)
    index.cells_df.unpersist()
    refine = 0 if index.all_rects else cand - full
    return {"tag.index_build_s": build_s,
            "tag.candidates_per_point": cand / n_pts if n_pts else 0.0,
            "tag.full_cell_share": full / cand if cand else 0.0,
            "tag.refine_rows": refine,
            "tag.refine_hit_ratio": (hits - full) / refine if refine else 0.0}


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int, scale: float):
        self.work = work_dir
        self.seed = seed
        self.scale = scale
        self.data = os.path.join(work_dir, "inputs")
        self.shape: dict = {}

    def _n(self, base: int, floor: int) -> int:
        return max(floor, int(base * self.scale))

    def check_iteration(self) -> bool:
        return True


class PagesTagWrite(Workload):
    """Pages -> ``pipeline.flagship_tag`` (geotag + PIP tag against the
    holed donut layer) committed through ``checkpoint.CheckpointedStage``:
    8 url-hash buckets, 4 per batch, so every iteration commits two
    batches, each with one fsync'd manifest line."""

    name = "pages_tag_write"
    N_BUCKETS = 8
    PER_BATCH = 4

    def generate(self):
        n = self._n(40_000, 2_000)
        table, self.expected = inputs.pages(self.seed, n)
        self.pages_path = inputs.write_parquet(table, self.data, "pages")
        self.gaz_path = inputs.write_parquet(inputs.gazetteer(), self.data, "gazetteer")
        self.n = n
        self.n_geo = int(np.isfinite(self.expected["lon"]).sum())
        self.shape = {"pages": n, "pages_bytes": self.expected["bytes"],
                      "geo_share": self.n_geo / n,
                      "zone_layer": "donut_zones_df (16 holed squares, 8 vertices, 2 rings)",
                      "buckets": self.N_BUCKETS, "buckets_per_batch": self.PER_BATCH}
        self.iter_no = 0
        self.stage = None

    def setup(self, spark):
        from spandex_spark.sources.grids import donut_zones_df
        self.gaz = _persist(spark.read.parquet(self.gaz_path))
        self.zones = _persist(donut_zones_df(spark).select(
            F.col("dz_id").alias("zone_id"), "geom",
            F.lit("donut").alias("zclass")))
        self.pages = spark.read.parquet(self.pages_path)

    def _stage(self, tag: str):
        from spandex_spark.checkpoint import CheckpointedStage
        root = os.path.join(self.work, "ckpt", tag)
        shutil.rmtree(root, ignore_errors=True)
        return CheckpointedStage(root, run_id=f"{self.seed}-{tag}", stage="tag",
                                 n_buckets=self.N_BUCKETS)

    def iterate(self, spark) -> int:
        from spandex_spark.pipeline import flagship_tag
        self.iter_no += 1
        self.stage = self._stage(f"it{self.iter_no}")
        self.stage.run(spark, self.pages, F.crc32(F.col("url")),
                       lambda part: flagship_tag(spark, part, self.gaz, self.zones),
                       buckets_per_batch=self.PER_BATCH)
        return self.n

    def _written_rows(self, stage) -> int:
        files = glob.glob(os.path.join(stage.root, "batch-*", "*.parquet"))
        return sum(pq.read_metadata(f).num_rows for f in files)

    def check_iteration(self) -> bool:
        ok = (self.stage.completed_buckets() == set(range(self.N_BUCKETS))
              and self._written_rows(self.stage) == self.n_geo)
        # keep only this iteration's commit (``check`` reads the last one)
        shutil.rmtree(os.path.join(self.work, "ckpt", f"it{self.iter_no - 1}"),
                      ignore_errors=True)
        return ok

    def check(self, spark) -> list[str]:
        self.iterate(spark)
        errs = [] if self.check_iteration() else ["pages: commit incomplete"]
        out = (self.stage.read_output(spark)
               .select("url", "lon", "lat", "zone_id").toPandas())
        if len(out) != self.n_geo or out["url"].nunique() != len(out):
            errs.append(f"pages: {len(out)} output rows, expected {self.n_geo} unique")
        exp = self.expected
        pos = {u: i for i, u in enumerate(exp["url"])}
        ix = np.array([pos.get(u, -1) for u in out["url"]])
        if (ix < 0).any():
            return errs + ["pages: output url not in input"]
        lon, lat = out["lon"].to_numpy(), out["lat"].to_numpy()
        if not (np.array_equal(lon, exp["lon"][ix]) and np.array_equal(lat, exp["lat"][ix])):
            errs.append("pages: geotag lon/lat differ from the printed tokens")
        got = out["zone_id"].fillna(-1).to_numpy(np.int64)
        bad = int((got != inputs.donut_zone(lon, lat)).sum())
        if bad:
            errs.append(f"pages: {bad} rows tagged against the donut oracle wrongly")
        return errs

    def traced(self, spark, tracer) -> None:
        from spandex_spark.geotag import geotag
        from spandex_spark.operators.tag import tag_points
        from spandex_spark.tables import IcebergishTable

        with tracer.span("geotag"):
            self.geo = _persist(geotag(self.pages, self.gaz))
        self.pts = self.geo.filter(F.col("lon").isNotNull())
        with tracer.span("tag"):
            self.tagged = _persist(tag_points(
                self.pts, self.zones, poly_id_col="zone_id", point_id_col="url",
                level=9, poly_attr_cols=("zclass",)))
        self.traced_stage = self._stage("traced")
        append = IcebergishTable.append

        def traced_append(table, *a, **kw):
            with tracer.span("tables"):
                return append(table, *a, **kw)

        IcebergishTable.append = traced_append
        try:
            with tracer.span("checkpoint"):
                self.traced_stage.run(spark, self.tagged, F.crc32(F.col("url")),
                                      lambda part: part,
                                      buckets_per_batch=self.PER_BATCH)
        finally:
            IcebergishTable.append = append

    def layer_metrics(self, spark, figs, plan) -> dict:
        n_geo = self.pts.count()
        hits = self.tagged.filter(F.col("zone_id").isNotNull()).count()
        out = {"geotag.pages_in": self.n,
               "geotag.hit_ratio": n_geo / self.n,
               "geotag.input_bytes": figs["geotag"]["input_bytes"]}
        out.update(tag_probe(spark, self.pts, self.zones, level=9,
                             poly_id_col="zone_id", hits=hits))
        stage = self.traced_stage
        files = glob.glob(os.path.join(stage.root, "batch-*", "*.parquet"))
        rows = self._written_rows(stage)
        batches = -(-self.N_BUCKETS // self.PER_BATCH)
        out.update({
            "checkpoint.bytes_per_row": sum(os.path.getsize(f) for f in files) / max(rows, 1),
            "checkpoint.files_written": len(files),
            "checkpoint.spark_jobs_per_batch": figs["checkpoint"]["jobs"] / batches,
            "tables.manifest_writes": len(glob.glob(os.path.join(
                stage.metrics.meta_dir, "snap-*.json"))),
        })
        self.geo.unpersist()
        self.tagged.unpersist()
        return out


class ParcelPrep(Workload):
    """Parcel preparation on a seeded parcel layer: centroid tag to the
    zone grid, proportional overlay against it, k=3 nearest POIs by the
    ``cells`` route against a POI layer with one dense city, and zonal
    statistics over a seeded raster. Each step ends in a noop sink."""

    name = "parcel_prep"
    K = 3
    KNN_LEVEL = 12
    AREA = (-1.0, -1.0, 1.0, 1.0)          # the parcels' county
    RASTER_AREA = (-4.0, -4.0, 4.0, 4.0)
    CITY_SHARE = 0.1

    def generate(self):
        side = max(8, 2 * int(round(24 * self.scale ** 0.5)))
        self.n_poi = self._n(20_000, 500)
        tiles = 16 if self.scale >= 0.5 else 4
        px = max(10, int(round(100 * min(1.0, self.scale) ** 0.5)))
        ptab, self.pexp = inputs.parcels(self.seed, side, self.AREA)
        self.poi_table = inputs.pois(self.seed, self.n_poi, self.CITY_SHARE, self.AREA)
        rtab, self.rexp = inputs.raster(self.seed, tiles, px, self.RASTER_AREA)
        self.paths = {"parcels": inputs.write_parquet(ptab, self.data, "parcels"),
                      "poi": inputs.write_parquet(self.poi_table, self.data, "poi"),
                      "raster": inputs.write_parquet(rtab, self.data, "raster")}
        self.n = side * side
        self.shape = {"parcels": self.n, "parcel_area": self.AREA,
                      "rect_share": float(self.pexp["is_rect"].mean()),
                      "parcel_vertices": 4, "pois": self.n_poi,
                      "poi_city_share": self.CITY_SHARE, "knn_k": self.K,
                      "knn_level": self.KNN_LEVEL, "raster_pixels": self.rexp["pixels"],
                      "raster_tiles": tiles * tiles, "raster_area": self.RASTER_AREA,
                      "zones": 400}

    def setup(self, spark):
        from spandex_spark.sources.grids import zones_df
        self.zones = _persist(zones_df(spark))
        self.parcels = _persist(spark.read.parquet(self.paths["parcels"]))
        self.pois = _persist(spark.read.parquet(self.paths["poi"]))
        self.tiles = _persist(spark.read.parquet(self.paths["raster"]))

    def _steps(self):
        from spandex_spark.operators.knn import knn_join
        from spandex_spark.operators.overlay import proportion_overlap
        from spandex_spark.operators.tag import tag
        from spandex_spark.operators.zonal import zonal_stats
        return {
            "tag": lambda: tag(self.parcels.select("parcel_id", "geom"), self.zones,
                               poly_id_col="zone_id", target_id_col="parcel_id"),
            "overlay": lambda: proportion_overlap(
                self.parcels, self.zones, target_id_col="parcel_id",
                overlay_id_col="zone_id"),
            "knn": lambda: knn_join(
                self.parcels.select("parcel_id", "lon", "lat"), self.pois, k=self.K,
                query_id_col="parcel_id", feature_id_col="poi_id",
                strategy="cells", level=self.KNN_LEVEL),
            "zonal": lambda: zonal_stats(self.tiles, self.zones),
        }

    def iterate(self, spark) -> int:
        for make in self._steps().values():
            _noop(make())
        return self.n

    def check(self, spark) -> list[str]:
        from spandex_spark.fixtures import expected_knn
        steps, p, errs = self._steps(), self.pexp, []
        tag_pdf = steps["tag"]().toPandas().sort_values("parcel_id")
        exp = inputs.grid_zone(p["lon"], p["lat"])
        edge = (np.abs(p["lon"] - np.round(p["lon"])) < 1e-9) | (
            np.abs(p["lat"] - np.round(p["lat"])) < 1e-9)
        got = tag_pdf["zone_id"].fillna(-1).to_numpy(np.int64)
        if len(got) != self.n or ((got != exp) & ~edge).any():
            errs.append("parcels: centroid zones differ from the closed form")
        ov = steps["overlay"]().toPandas().sort_values("parcel_id")
        prop = ov["proportion_overlap"].to_numpy()
        rect = p["is_rect"]
        rect_area = (p["xs"].max(1) - p["xs"].min(1)) * (p["ys"].max(1) - p["ys"].min(1))
        if len(ov) != self.n or np.abs(prop - 1.0).max() > 1e-9:
            errs.append("overlay: proportions do not sum to 1 inside the window")
        elif not np.allclose(ov["overlap_area"].to_numpy()[rect], rect_area[rect],
                             rtol=1e-12, atol=0.0):
            errs.append("overlay: rectangle parcels' overlap areas are not exact")
        sample = np.arange(0, self.n, max(1, self.n // 200))
        knn = (steps["knn"]().filter(F.col("parcel_id").isin(sample.tolist()))
               .toPandas().sort_values(["parcel_id", "rank"]))
        poi = self.poi_table.to_pydict()
        want = expected_knn(p["lon"][sample], p["lat"][sample], np.asarray(poi["lon"]),
                            np.asarray(poi["lat"]), np.asarray(poi["poi_id"]), self.K)
        if (len(knn) != len(want)
                or knn["poi_id"].tolist() != [w[2] for w in want]
                or not np.allclose(knn["dist_m"].to_numpy(), [w[3] for w in want],
                                   rtol=1e-9, atol=1e-6)):
            errs.append("knn: cells-route neighbours differ from brute force")
        zs = steps["zonal"]().toPandas()
        zexp = inputs.zonal_expected(self.rexp["values"], self.rexp["zone"])
        bad = len(zs) != len(zexp)
        for r in zs.itertuples():
            c, s, mn, mx = zexp.get(int(r.zone_id), (0, 0.0, 0.0, 0.0))
            bad |= (int(r.px_count) != c or abs(r.px_sum - s) > 1e-9 * max(1.0, abs(s))
                    or r.px_min != mn or r.px_max != mx)
        if bad:
            errs.append("zonal: statistics differ from numpy")
        return errs

    def traced(self, spark, tracer) -> None:
        for name, make in self._steps().items():
            with tracer.span(name):
                _noop(make())

    def layer_metrics(self, spark, figs, plan) -> dict:
        from spandex_spark.operators.overlay import proportion_overlap
        # tag.tag covers the zones at its default level 9
        out = tag_probe(spark, self.parcels, self.zones, level=9,
                        poly_id_col="zone_id", hits=self.n)
        # the cell joins carry the reference-point filter as their join
        # condition, so their output is the deduplicated candidate pairs;
        # Catalyst may evaluate the exact kernel twice (filter, project),
        # and the first evaluation sees every general pair
        cand = sum(rows_out(plan["overlay"], r"Join", r"\bcell#"))
        general = max(rows_out(plan["overlay"], r"EvalPython", r"_ix_area"), default=0)
        useful = proportion_overlap(self.parcels, self.zones, target_id_col="parcel_id",
                                    overlay_id_col="zone_id", keep_pairs=True).count()
        knn_cand = sum(rows_out(plan["knn"], r"Join", r"\b_cell#"))
        zonal_busy = figs["zonal"]["busy_s"]
        out.update({
            "overlay.candidate_pairs": cand,
            "overlay.general_pair_share": general / cand if cand else 0.0,
            "overlay.useful_pair_ratio": useful / cand if cand else 0.0,
            "knn.candidates_per_query": knn_cand / self.n,
            "zonal.pixels_per_s": self.rexp["pixels"] / zonal_busy if zonal_busy else 0.0,
        })
        return out


WORKLOADS = {w.name: w for w in (PagesTagWrite, ParcelPrep)}
