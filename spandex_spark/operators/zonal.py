"""O7 — raster↔vector zonal extraction.

Reference semantics: spandex/rastertoolz.py (from_geotiff/to_matrix/
clip2shp + rasterstats-style zonal_stats(vectors, raster, stats)). Rebuilt
Spark-native: the raster is a TILE TABLE (tile_id, x0, y0, res, nx, ny,
values row-major) and stays distributed; the zone layer is collected to
the driver and broadcast, as the reference holds it in memory. A
vectorized Arrow kernel picks each tile's candidate zones by bbox overlap
and computes PARTIAL stats (count/sum/sumsq/min/max) of each (tile, zone)
pair via a pixel-center-in-polygon mask; a final hash aggregation
combines partials per zone.

Scale shape: the pixel arrays never move. Map-side partials → reduce:
only (zone, partial) rows cross the plan's one exchange.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spandex_spark import geom as _geom
from spandex_spark import cells as _cells


def _with_res_y(tiles: DataFrame) -> DataFrame:
    """Tile tables may carry an anisotropic y resolution (``res_y``,
    emitted by sources/geotiff.py for sy != sx rasters); square tables
    get res_y = res so the kernels below are uniform."""
    if "res_y" in tiles.columns:
        return tiles.withColumn(
            "res_y", F.coalesce(F.col("res_y"), F.col("res")))
    return tiles.withColumn("res_y", F.col("res"))


_PARTIAL_SCHEMA = T.StructType([
    T.StructField("zone_id", T.LongType()),
    T.StructField("cnt", T.LongType()),
    T.StructField("s", T.DoubleType()),
    T.StructField("s2", T.DoubleType()),
    T.StructField("mn", T.DoubleType()),
    T.StructField("mx", T.DoubleType()),
    T.StructField("wa", T.DoubleType()),
    T.StructField("ws", T.DoubleType()),
])


def _zone_layer(zones: DataFrame, zone_id_col: str):
    """Collect the zone layer once and ship it as one Spark broadcast of
    (entries, bboxes): entries are (zone_id, xs, ys, ring_offsets or
    None) and bboxes the (minx, maxx, miny, maxy) arrays over them (the
    bbox over the ring concatenation is the bbox over all rings)."""
    zrows = zones.select(F.col(zone_id_col).alias("_zid"),
                         "geom").collect()  # collect-ok: zone layer broadcast-sized by contract (rings closure)
    entries = []
    for r in zrows:
        g = r["geom"]
        zo = g["ring_offsets"]
        entries.append((int(r["_zid"]), np.asarray(g["xs"], np.float64),
                        np.asarray(g["ys"], np.float64),
                        (np.asarray(zo, np.int64)
                         if zo is not None and len(zo) > 2 else None)))
    bbox = (np.array([e[1].min() for e in entries]),
            np.array([e[1].max() for e in entries]),
            np.array([e[2].min() for e in entries]),
            np.array([e[2].max() for e in entries]))
    return zones.sparkSession.sparkContext.broadcast((entries, bbox))


def _tile_zone_pixels(row, zone_layer) -> Iterator[tuple[int, np.ndarray]]:
    """(zone_id, pixel indices) for every zone holding at least one pixel
    CENTER of the tile ``row``; indices are row-major into its
    ``values``. Candidate zones are those whose bbox overlaps the tile;
    each then takes a bbox pre-filter over the pixel centers and the
    exact even-odd ``points_in_rings`` test."""
    entries, (zx0, zx1, zy0, zy1) = zone_layer
    nx, ny = int(row["nx"]), int(row["ny"])
    x0, y0 = float(row["x0"]), float(row["y0"])
    res, ry = float(row["res"]), float(row["res_y"])
    lon, lat = np.meshgrid(x0 + (np.arange(nx) + 0.5) * res,
                           y0 + (np.arange(ny) + 0.5) * ry)
    lon, lat = lon.ravel(), lat.ravel()
    cand = np.flatnonzero((zx0 <= x0 + res * nx) & (zx1 >= x0)
                          & (zy0 <= y0 + ry * ny) & (zy1 >= y0))
    for i in cand:
        zid, xs, ys, zo = entries[i]
        box = ((lon >= zx0[i]) & (lon <= zx1[i])
               & (lat >= zy0[i]) & (lat <= zy1[i]))
        if not box.any():
            continue
        mask = _geom.points_in_rings(lon[box], lat[box], xs, ys, zo)
        if mask.any():
            yield zid, np.flatnonzero(box)[mask]


def zonal_stats(tiles: DataFrame, zones: DataFrame, *,
                zone_id_col: str = "zone_id",
                weight: str = "none") -> DataFrame:
    """Per-zone count/sum/mean/min/max/stddev of raster pixel values whose
    pixel CENTER falls in the zone (rasterstats default semantics).

    The zone layer is collected to the driver and broadcast; the raster
    stays distributed and never shuffles. Each tile picks its candidate
    zones by bbox overlap inside the pixel kernel and emits one partial
    row per (tile, zone); the per-zone aggregation is the plan's only
    exchange.

    ``weight='sph_area'`` adds geodesic area weighting: each pixel carries
    its EXACT spherical area R²·Δλ·(sin(lat+res/2) − sin(lat−res/2)) m²
    (pixels shrink toward the poles, so an unweighted mean over a
    lon/lat raster over-represents high latitudes). Output then is
    (zone, px_count, px_area_km2, px_wmean, px_min, px_max)."""
    if weight not in ("none", "sph_area"):
        raise ValueError(f"unknown weight {weight!r}")
    weighted = weight == "sph_area"
    tiles = _with_res_y(tiles)
    bc = _zone_layer(zones, zone_id_col)

    def compute_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zone_layer = bc.value
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                vals = np.asarray(row["values"], np.float64)
                if weighted:
                    # Δλ comes from the x resolution, the latitude band
                    # edges from the y resolution (they differ on
                    # anisotropic rasters)
                    res, ry = float(row["res"]), float(row["res_y"])
                    ny = int(row["ny"])
                    py = float(row["y0"]) + (np.arange(ny) + 0.5) * ry
                    r2 = _geom.EARTH_RADIUS_M * _geom.EARTH_RADIUS_M
                    wrow = (r2 * np.radians(res)
                            * (np.sin(np.radians(py + ry / 2.0))
                               - np.sin(np.radians(py - ry / 2.0))))
                    w_full = np.repeat(wrow, int(row["nx"]))
                for zid, idx in _tile_zone_pixels(row, zone_layer):
                    v = vals[idx]
                    if weighted:
                        wsub = w_full[idx]
                        wa, ws = float(wsub.sum()), float((wsub * v).sum())
                    else:
                        wa = ws = 0.0
                    rows.append((zid, int(v.shape[0]), float(v.sum()),
                                 float((v * v).sum()), float(v.min()),
                                 float(v.max()), wa, ws))
            yield pd.DataFrame(rows, columns=["zone_id", "cnt", "s", "s2",
                                              "mn", "mx", "wa", "ws"])

    partials = tiles.mapInPandas(compute_partials, schema=_PARTIAL_SCHEMA)

    if weighted:
        out = (partials.groupBy("zone_id")
               .agg(F.sum("cnt").alias("px_count"),
                    (F.sum("wa") / 1e6).alias("px_area_km2"),
                    (F.sum("ws") / F.sum("wa")).alias("px_wmean"),
                    F.min("mn").alias("px_min"),
                    F.max("mx").alias("px_max")))
    else:
        out = (partials.groupBy("zone_id")
               .agg(F.sum("cnt").alias("px_count"),
                    F.sum("s").alias("px_sum"),
                    F.min("mn").alias("px_min"),
                    F.max("mx").alias("px_max"),
                    (F.sum("s") / F.sum("cnt")).alias("px_mean"),
                    F.sqrt(F.sum("s2") / F.sum("cnt")
                           - (F.sum("s") / F.sum("cnt")) ** 2).alias("px_std")))
    return out.withColumnRenamed("zone_id", zone_id_col)


def clip_raster(tiles: DataFrame, boundary_xs, boundary_ys) -> DataFrame:
    """rastertoolz clip2shp analog: pixel rows (tile_id, lon_c, lat_c, v)
    of every pixel whose CENTER lies inside the boundary polygon (even-odd,
    same half-open edge rule as tagging). The boundary rides each task as
    a closure (clip polygons are small by contract); tiles whose bbox
    misses the boundary bbox are filtered JVM-side before any Python."""
    bx = np.asarray(boundary_xs, np.float64)
    by = np.asarray(boundary_ys, np.float64)
    schema = T.StructType([T.StructField("tile_id", T.LongType()),
                           T.StructField("lon_c", T.DoubleType()),
                           T.StructField("lat_c", T.DoubleType()),
                           T.StructField("v", T.DoubleType())])

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                vals = np.asarray(row["values"], np.float64)
                nx, ny, res = int(row["nx"]), int(row["ny"]), float(row["res"])
                px = float(row["x0"]) + (np.arange(nx) + 0.5) * res
                py = (float(row["y0"])
                      + (np.arange(ny) + 0.5) * float(row["res_y"]))
                lon, lat = np.meshgrid(px, py)
                lon, lat = lon.ravel(), lat.ravel()
                mask = _geom.points_in_polygon(lon, lat, bx, by)
                if mask.any():
                    out.append(pd.DataFrame({
                        "tile_id": int(row["tile_id"]),
                        "lon_c": lon[mask], "lat_c": lat[mask],
                        "v": vals[mask]}))
            yield (pd.concat(out) if out else
                   pd.DataFrame({"tile_id": pd.Series([], dtype="int64"),
                                 "lon_c": [], "lat_c": [], "v": []}))

    pruned = _with_res_y(tiles).filter(
        (F.col("x0") < float(bx.max()))
        & (F.col("x0") + F.col("res") * F.col("nx") > float(bx.min()))
        & (F.col("y0") < float(by.max()))
        & (F.col("y0") + F.col("res_y") * F.col("ny") > float(by.min())))
    return pruned.mapInPandas(_clip, schema=schema)


def raster_sample(points: DataFrame, tiles: DataFrame, *,
                  point_id_col: str, origin_x: float, origin_y: float,
                  lon_col: str = "lon", lat_col: str = "lat",
                  out_col: str = "v",
                  broadcast_tiles: bool = True) -> DataFrame:
    """ST_Value analog: the raster value under each point — pure JVM.

    Assumes a REGULAR tiling (every tile the same res/nx/ny, anchored at
    (origin_x, origin_y) — the shape every tile server and the fixture
    table use): each side derives an integer tile index, one equi-join,
    then ``element_at(values, row·nx + col + 1)`` picks the pixel. Points
    off the raster get NULL. No Python anywhere.

    ``broadcast_tiles=True`` ships the tiles WITH their pixel payloads to
    every executor — zero shuffle on the point stream, right whenever the
    raster fits executor memory (a 100k-tile 50x50 float64 raster is
    ~2 GB). For continent-scale rasters set it False: the join shuffles
    points by tile key instead (one narrow exchange), payloads stay
    partitioned."""
    # One-row metadata probe (collect-ok: O(1) driver-side tile-shape
    # lookup), plus a regularity check — the integer tile-key math below is
    # only valid when every tile shares res/nx/ny.
    tiles = _with_res_y(tiles)
    shapes = (tiles.select("res", "res_y", "nx", "ny").distinct().limit(2).collect())  # collect-ok: <=2-row tile-shape probe (regular-tiling check)
    if not shapes:
        raise ValueError("raster_sample: empty tile table")
    if len(shapes) > 1:
        raise ValueError(
            "raster_sample requires a regular tiling (uniform res/nx/ny); "
            f"found at least {shapes[0]} and {shapes[1]}")
    t0 = shapes[0]
    tw = float(t0["res"]) * int(t0["nx"])
    th = float(t0["res_y"]) * int(t0["ny"])
    tkey_t = (F.floor((F.col("y0") - F.lit(origin_y)) / F.lit(th))
              * F.lit(1 << 20)
              + F.floor((F.col("x0") - F.lit(origin_x)) / F.lit(tw)))
    tkey_p = (F.floor((F.col(lat_col) - F.lit(origin_y)) / F.lit(th))
              * F.lit(1 << 20)
              + F.floor((F.col(lon_col) - F.lit(origin_x)) / F.lit(tw)))
    tt = tiles.withColumn("_tk", tkey_t.cast("long"))
    if broadcast_tiles:
        tt = F.broadcast(tt)
    pp = points.withColumn("_tk", tkey_p.cast("long"))
    j = pp.join(tt, "_tk", "left")
    col = F.floor((F.col(lon_col) - F.col("x0")) / F.col("res"))
    row = F.floor((F.col(lat_col) - F.col("y0")) / F.col("res_y"))
    inside = ((col >= 0) & (col < F.col("nx"))
              & (row >= 0) & (row < F.col("ny")))
    v = F.when(inside, F.element_at(
        F.col("values"), (row * F.col("nx") + col + 1).cast("int")))
    return j.select(point_id_col, v.alias(out_col))


def downsample(tiles: DataFrame, factor: int) -> DataFrame:
    """rastertoolz to_matrix/resample analog: mean-pool each tile by
    ``factor`` (nx, ny divisible by it), emitting the same tile-table
    shape at res*factor — a narrow per-tile map, no shuffle."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    out_schema = tiles.schema

    def _pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                nx, ny = int(row["nx"]), int(row["ny"])
                if nx % factor or ny % factor:
                    raise ValueError(
                        f"tile {row['tile_id']}: {nx}x{ny} not divisible "
                        f"by {factor}")
                v = np.asarray(row["values"], np.float64).reshape(ny, nx)
                p = v.reshape(ny // factor, factor,
                              nx // factor, factor).mean(axis=(1, 3))
                rec = {"tile_id": int(row["tile_id"]),
                       "x0": float(row["x0"]), "y0": float(row["y0"]),
                       "res": float(row["res"]) * factor,
                       "nx": nx // factor, "ny": ny // factor,
                       "values": p.ravel().tolist()}
                if "res_y" in pdf.columns:
                    rec["res_y"] = float(row["res_y"]) * factor
                rows.append(rec)
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(_pool, schema=out_schema)


@pandas_udf(T.ArrayType(T.LongType()))
def _tile_cells_udf(x0: pd.Series, y0: pd.Series, res: pd.Series,
                    res_y: pd.Series, nx: pd.Series, ny: pd.Series,
                    level: pd.Series) -> pd.Series:
    lvl = int(level.iloc[0])
    out = []
    for i in range(len(x0)):
        w = float(res.iloc[i]) * int(nx.iloc[i])
        h = float(res_y.iloc[i]) * int(ny.iloc[i])
        c = _cells.cover_bbox(float(x0.iloc[i]), float(y0.iloc[i]),
                              float(x0.iloc[i]) + w, float(y0.iloc[i]) + h, lvl)
        out.append(c.tolist())
    return pd.Series(out)


def resample_tiles(tiles: DataFrame, *, x0_out: float, y0_out: float,
                   res_out: float, nx_out: int, ny_out: int,
                   origin_x: float, origin_y: float,
                   tile_px: int = 50,
                   res_y_out: float | None = None) -> DataFrame:
    """rastertoolz to_matrix/resample completed: BILINEAR resampling of a
    regular tile table onto an ARBITRARY output grid (any origin/res —
    downsample() covers only integer-factor pooling on the same grid).

    Output pixel centers interpolate the four surrounding INPUT pixel
    centers. Distributed shape: output tiles are generated as spec rows;
    each derives the integer index range of input tiles its support box
    (one input-pixel halo) touches via JVM sequence-explode, equi-joins
    the input tiles on the same (1<<20)-packed key raster_sample uses,
    and one applyInPandas per output tile assembles its patch and
    interpolates vectorized. The only payload shuffle is the halo-bounded
    input-tile duplication per overlapping output tile. Output pixels
    whose 4-neighbourhood leaves the input raster come out NULL (NaNs are
    converted to real nulls before crossing the Arrow boundary — Arrow
    would otherwise carry NaN through as a double), and output tiles whose
    support box overlaps NO input tile are still emitted, all-NULL (the
    spec side of the patch join is preserved with a left join).

    Anisotropic pixels are supported on both sides: input tiles may carry
    ``res_y`` (the GeoTIFF aniso path), and ``res_y_out`` sets an output
    y resolution; the axes separate cleanly through the support box and
    the fractional mosaic index. When either side is anisotropic the
    output schema gains a ``res_y`` column (kept off the isotropic path
    for driver-oracle schema stability).
    """
    spark = tiles.sparkSession
    probe_cols = ["res", "nx", "ny"] + (
        ["res_y"] if "res_y" in tiles.columns else [])
    shapes = tiles.select(*probe_cols).distinct().limit(2).collect()  # collect-ok: <=2-row tile-shape probe (regular-tiling check)
    if not shapes:
        raise ValueError("resample_tiles: empty tile table")
    if len(shapes) > 1:
        raise ValueError("resample_tiles requires a regular input tiling")
    res_in = float(shapes[0]["res"])
    # anisotropic pixels: the x/y axes separate cleanly through the whole
    # pipeline (tile extent, support box, fractional mosaic index), so the
    # y resolution just rides alongside on both the input and output side
    res_in_y = res_in
    if "res_y" in probe_cols and shapes[0]["res_y"] is not None:
        res_in_y = float(shapes[0]["res_y"])
    ry_out = float(res_y_out) if res_y_out is not None else float(res_out)
    nx_in, ny_in = int(shapes[0]["nx"]), int(shapes[0]["ny"])
    tw, th = res_in * nx_in, res_in_y * ny_in
    aniso_out = (res_y_out is not None) or (res_in_y != res_in)

    n_tx = (nx_out + tile_px - 1) // tile_px
    n_ty = (ny_out + tile_px - 1) // tile_px
    spec = spark.range(n_tx * n_ty).select(
        F.col("id").alias("otile_id"),
        (F.col("id") % n_tx).cast("int").alias("_tc"),
        F.floor(F.col("id") / n_tx).cast("int").alias("_tr"))
    spec = spec.select(
        "otile_id",
        (F.lit(x0_out) + F.col("_tc") * (tile_px * res_out)).alias("ox0"),
        (F.lit(y0_out) + F.col("_tr") * (tile_px * ry_out)).alias("oy0"),
        F.least(F.lit(tile_px),
                F.lit(nx_out) - F.col("_tc") * tile_px).alias("onx"),
        F.least(F.lit(tile_px),
                F.lit(ny_out) - F.col("_tr") * tile_px).alias("ony"))
    # support box: first/last output pixel centers +/- one input pixel
    sx0 = F.col("ox0") + 0.5 * res_out - res_in
    sx1 = F.col("ox0") + (F.col("onx") - 0.5) * res_out + res_in
    sy0 = F.col("oy0") + 0.5 * ry_out - res_in_y
    sy1 = F.col("oy0") + (F.col("ony") - 0.5) * ry_out + res_in_y
    ix0 = F.floor((sx0 - F.lit(origin_x)) / F.lit(tw)).cast("int")
    ix1 = F.floor((sx1 - F.lit(origin_x)) / F.lit(tw)).cast("int")
    iy0 = F.floor((sy0 - F.lit(origin_y)) / F.lit(th)).cast("int")
    iy1 = F.floor((sy1 - F.lit(origin_y)) / F.lit(th)).cast("int")
    cand = (spec
            .withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
            .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
            .withColumn("_tk", (F.col("_iy").cast("long") * (1 << 20)
                                + F.col("_ix")).cast("long")))
    tkey_t = (F.floor((F.col("y0") - F.lit(origin_y)) / F.lit(th))
              * F.lit(1 << 20)
              + F.floor((F.col("x0") - F.lit(origin_x)) / F.lit(tw)))
    tt = tiles.select(F.col("x0").alias("_px0"), F.col("y0").alias("_py0"),
                      F.col("values").alias("_pv"),
                      tkey_t.cast("long").alias("_tk"))
    patches = (cand.join(tt, "_tk", "inner")
               .groupBy("otile_id")
               .agg(F.collect_list(F.struct("_px0", "_py0", "_pv"))
                    .alias("_patch")))
    joined = spec.join(patches, "otile_id", "left")

    out_schema = T.StructType(
        [T.StructField("tile_id", T.LongType()),
         T.StructField("x0", T.DoubleType()),
         T.StructField("y0", T.DoubleType()),
         T.StructField("res", T.DoubleType())]
        + ([T.StructField("res_y", T.DoubleType())] if aniso_out else [])
        + [T.StructField("nx", T.IntegerType()),
           T.StructField("ny", T.IntegerType()),
           T.StructField("values", T.ArrayType(T.DoubleType()))])

    def _interp(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, row in pdf.iterrows():
            onx, ony = int(row["onx"]), int(row["ony"])
            ox0, oy0 = float(row["ox0"]), float(row["oy0"])
            patch = row["_patch"]
            if patch is None or len(patch) == 0:
                empty = {"tile_id": int(row["otile_id"]), "x0": ox0,
                         "y0": oy0, "res": float(res_out),
                         "nx": onx, "ny": ony,
                         "values": [None] * (onx * ony)}
                if aniso_out:
                    empty["res_y"] = ry_out
                rows.append(empty)
                continue
            # mosaic the patch into one array indexed by input pixel
            xs0 = [float(p["_px0"]) for p in patch]
            ys0 = [float(p["_py0"]) for p in patch]
            gx0 = min(xs0); gy0 = min(ys0)
            cols = round((max(xs0) - gx0) / tw) + 1
            rws = round((max(ys0) - gy0) / th) + 1
            mosaic = np.full((rws * ny_in, cols * nx_in), np.nan)
            for p in patch:
                rr = round((float(p["_py0"]) - gy0) / th) * ny_in
                cc = round((float(p["_px0"]) - gx0) / tw) * nx_in
                mosaic[rr:rr + ny_in, cc:cc + nx_in] = \
                    np.asarray(p["_pv"], np.float64).reshape(ny_in, nx_in)
            # output pixel centers
            X = ox0 + (np.arange(onx) + 0.5) * res_out
            Y = oy0 + (np.arange(ony) + 0.5) * ry_out
            # fractional index into the mosaic's pixel-center lattice
            fx = (X - (gx0 + 0.5 * res_in)) / res_in
            fy = (Y - (gy0 + 0.5 * res_in_y)) / res_in_y
            i0 = np.floor(fx).astype(np.int64)
            j0 = np.floor(fy).astype(np.int64)
            wx = fx - i0
            wy = fy - j0
            H, W = mosaic.shape
            valid_x = (i0 >= 0) & (i0 + 1 < W)
            valid_y = (j0 >= 0) & (j0 + 1 < H)
            i0c = np.clip(i0, 0, W - 2)
            j0c = np.clip(j0, 0, H - 2)
            v00 = mosaic[j0c[:, None], i0c[None, :]]
            v01 = mosaic[j0c[:, None], i0c[None, :] + 1]
            v10 = mosaic[j0c[:, None] + 1, i0c[None, :]]
            v11 = mosaic[j0c[:, None] + 1, i0c[None, :] + 1]
            vals = (v00 * (1 - wx[None, :]) * (1 - wy[:, None])
                    + v01 * wx[None, :] * (1 - wy[:, None])
                    + v10 * (1 - wx[None, :]) * wy[:, None]
                    + v11 * wx[None, :] * wy[:, None])
            vals[~valid_y, :] = np.nan
            vals[:, ~valid_x] = np.nan
            flat = vals.ravel()
            rec = {"tile_id": int(row["otile_id"]), "x0": ox0,
                   "y0": oy0, "res": float(res_out),
                   "nx": onx, "ny": ony,
                   "values": [None if np.isnan(v) else float(v)
                              for v in flat]}
            if aniso_out:
                rec["res_y"] = ry_out
            rows.append(rec)
        return pd.DataFrame(rows)

    return joined.groupBy("otile_id").applyInPandas(
        lambda pdf: _interp(pdf), out_schema)


def map_algebra(a: DataFrame, b: DataFrame, fn, *,
                out_col: str = "values") -> DataFrame:
    """Per-pixel raster algebra between two ALIGNED tile tables (same
    tiling: rows join on the full grid key tile_id/x0/y0/res/nx/ny, so a
    grid mismatch surfaces as missing output tiles, never silently
    misaligned pixels). ``fn`` is a Column->Column binary (e.g.
    ``lambda x, y: (x - y) / (x + y)``) applied via ``zip_with`` — the
    whole computation stays in JVM codegen, no Python, no shuffle beyond
    the tile-key join (broadcast when one side is small, AQE otherwise).
    The rastertoolz analog is numpy matrix arithmetic after to_matrix;
    here the matrices never leave the executors."""
    keys = ["tile_id", "x0", "y0", "res", "nx", "ny"]
    if "res_y" in a.columns and "res_y" in b.columns:
        keys.append("res_y")
    left = a.select(*keys, F.col("values").alias("_va"))
    right = b.select(*keys, F.col("values").alias("_vb"))
    joined = left.join(right, keys, "inner")
    return joined.select(*keys, F.zip_with("_va", "_vb", fn).alias(out_col))


def zonal_histogram(tiles: DataFrame, zones: DataFrame, *,
                    zone_id_col: str = "zone_id") -> DataFrame:
    """Per-zone value histogram — the categorical-raster zonal family
    (ArcGIS ZonalStatistics MAJORITY/MINORITY/VARIETY, GRASS
    r.stats): one row per (zone, distinct value) with the pixel count.
    Same route and pixel-center-in-zone semantics as `zonal_stats`: the
    zone layer is collected and broadcast, the raster stays distributed.
    Per-tile partial (zone, value) counts are built with np.unique
    inside the kernel, so the one exchange carries one row per distinct
    value per zone per tile, not per pixel. NaN pixels are excluded.
    Use `zonal_majority` for the argmax rollup."""
    tiles = _with_res_y(tiles)
    bc = _zone_layer(zones, zone_id_col)
    part_schema = T.StructType([
        T.StructField("zone_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zone_layer = bc.value
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                vals = np.asarray(
                    [np.nan if v is None else v for v in row["values"]],
                    np.float64)
                for zid, idx in _tile_zone_pixels(row, zone_layer):
                    v = vals[idx]
                    v = v[~np.isnan(v)]
                    uniq, cnt = np.unique(v, return_counts=True)
                    for u, c in zip(uniq, cnt):
                        rows.append((zid, float(u), int(c)))
            yield pd.DataFrame(rows, columns=["zone_id", "value", "n"])

    return (tiles.mapInPandas(partials, schema=part_schema)
            .groupBy("zone_id", "value")
            .agg(F.sum("n").alias("n_pixels")))


def zonal_majority(tiles: DataFrame, zones: DataFrame, *,
                   zone_id_col: str = "zone_id") -> DataFrame:
    """Per-zone MAJORITY / MINORITY / VARIETY over `zonal_histogram`
    (ties break to the SMALLEST value — deterministic where ArcGIS
    inherits scan order). Output: (zone_id, majority, majority_n,
    minority, minority_n, variety)."""
    h = zonal_histogram(tiles, zones, zone_id_col=zone_id_col)
    return (h.groupBy("zone_id")
            .agg(F.min_by(F.col("value"),
                          F.struct((-F.col("n_pixels")).alias("a"),
                                   F.col("value").alias("b")))
                 .alias("majority"),
                 F.max("n_pixels").alias("majority_n"),
                 F.min_by(F.col("value"),
                          F.struct(F.col("n_pixels").alias("a"),
                                   F.col("value").alias("b")))
                 .alias("minority"),
                 F.min("n_pixels").alias("minority_n"),
                 F.count("*").alias("variety")))


def raster_profile(lines: DataFrame, tiles: DataFrame, *,
                   line_id_col: str, step: float,
                   origin_x: float, origin_y: float,
                   geom_col: str = "geom",
                   broadcast_tiles: bool = True) -> DataFrame:
    """Raster profile along linestrings — the "elevation profile" tool
    (GRASS r.profile / ArcGIS Stack Profile): sample stations every
    ``step`` CRS units of ARC LENGTH along each kind-2 line (both
    endpoints always included), each station reading the raster through
    the :func:`raster_sample` tile-key join.  Output: (line_id, s,
    dist, lon, lat, v) — v NULL off-raster.

    Station generation is one Arrow pass per line (cumulative segment
    lengths need a scan — the documented Python boundary); everything
    after is the codegen sample join.  Multi-part lines return no rows
    (the line_interpolate single-part contract; ST_LineMerge upstream).
    """
    if step <= 0:
        raise ValueError("step must be positive")

    _ST_TYPE = T.ArrayType(T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("d", T.DoubleType())]))

    @pandas_udf(_ST_TYPE)
    def _stations(kind: pd.Series, xs: pd.Series, ys: pd.Series,
                  offs: pd.Series) -> pd.Series:
        out = []
        for i in range(len(xs)):
            k = kind.iloc[i]
            o = offs.iloc[i]
            if (k is None or pd.isna(k) or int(k) != 2
                    or (o is not None and len(o) > 2)):
                out.append([])
                continue
            rx = np.asarray(xs.iloc[i], np.float64)
            ry = np.asarray(ys.iloc[i], np.float64)
            if rx.shape[0] < 2:
                out.append([])
                continue
            seg = np.hypot(np.diff(rx), np.diff(ry))
            cum = np.concatenate([[0.0], np.cumsum(seg)])
            total = cum[-1]
            ds = np.arange(0.0, total, step)
            if total > 0 and (ds.size == 0 or ds[-1] < total):
                ds = np.append(ds, total)
            j = np.clip(np.searchsorted(cum, ds, side="right") - 1,
                        0, max(seg.shape[0] - 1, 0))
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.where(seg[j] > 0, (ds - cum[j]) / seg[j], 0.0)
            sx = rx[j] + t * (rx[j + 1] - rx[j])
            sy = ry[j] + t * (ry[j + 1] - ry[j])
            out.append([{"x": float(a), "y": float(b), "d": float(d)}
                        for a, b, d in zip(sx, sy, ds)])
        return pd.Series(out)

    g = F.col(geom_col)
    st = (lines
          .select(F.col(line_id_col).alias("_lid"),
                  F.posexplode(_stations(
                      g["kind"], g["xs"], g["ys"], g["ring_offsets"]))
                  .alias("s", "_p")))
    pt = F.struct("_lid", "s", F.col("_p.d").alias("dist"),
                  F.col("_p.x").alias("lon"), F.col("_p.y").alias("lat"))
    sampled = raster_sample(
        st.select(pt.alias("p")), tiles, point_id_col="p",
        origin_x=origin_x, origin_y=origin_y,
        lon_col="p.lon", lat_col="p.lat", out_col="v",
        broadcast_tiles=broadcast_tiles)
    return sampled.select(
        F.col("p._lid").alias(line_id_col), F.col("p.s").alias("s"),
        F.col("p.dist").alias("dist"), F.col("p.lon").alias("lon"),
        F.col("p.lat").alias("lat"), "v")


def raster_pyramid(tiles: DataFrame, *, levels: int,
                   origin_x: float, origin_y: float) -> DataFrame:
    """Overview pyramid (COG/GDAL BuildOverviews analog): each level
    halves the resolution by 2x2 mean-pooling AND merges 2x2 tile
    blocks into one tile, so tile pixel dimensions stay constant while
    the tile COUNT quarters per level — the layout every tile server
    and overview reader expects.  Output: the input tile schema plus a
    ``level`` column (0 = the input itself), merged tile_id =
    ty·2^20 + tx at that level's tile grid.

    Nodata: pooling is the mean of the non-NULL quadrant pixels
    (GDAL's AVERAGE resampling); an all-NULL 2x2 block stays NULL, and
    missing neighbor tiles at a raster edge contribute NULL quadrants.

    Scale shape: level k is ONE groupBy on the parent tile key over
    level k-1's tiles (a shuffle that shrinks 4x per level); per-tile
    work is a numpy reshape-mean.  ``nx, ny`` must be even.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    # function-local import: focal imports zonal._with_res_y at module
    # level, so the reverse import must stay deferred
    from spandex_spark.operators.focal import _tile_shape
    tiles = _with_res_y(tiles)
    res, res_y, nx, ny = _tile_shape(tiles)
    if nx % 2 or ny % 2:
        raise ValueError("raster_pyramid needs even tile dims")

    out = tiles.select("tile_id", "x0", "y0", "res", "res_y",
                       "nx", "ny", "values",
                       F.lit(0).alias("level"))
    cur = out
    for lvl in range(1, levels + 1):
        r, ry_ = res * (2 ** (lvl - 1)), res_y * (2 ** (lvl - 1))
        tw, th = r * nx, ry_ * ny
        keyed = cur.filter(F.col("level") == lvl - 1).select(
            "values",
            F.floor(F.round((F.col("x0") - F.lit(origin_x)) / F.lit(tw))
                    / 2).cast("long").alias("ptx"),
            F.floor(F.round((F.col("y0") - F.lit(origin_y)) / F.lit(th))
                    / 2).cast("long").alias("pty"),
            (F.round((F.col("x0") - F.lit(origin_x)) / F.lit(tw))
             % 2).cast("int").alias("qx"),
            (F.round((F.col("y0") - F.lit(origin_y)) / F.lit(th))
             % 2).cast("int").alias("qy"))

        merge_schema = T.StructType([
            T.StructField("tile_id", T.LongType()),
            T.StructField("x0", T.DoubleType()),
            T.StructField("y0", T.DoubleType()),
            T.StructField("res", T.DoubleType()),
            T.StructField("res_y", T.DoubleType()),
            T.StructField("nx", T.IntegerType()),
            T.StructField("ny", T.IntegerType()),
            T.StructField("values", T.ArrayType(T.DoubleType())),
            T.StructField("level", T.IntegerType()),
        ])

        def _make_merge(_r, _ry, _tw, _th, _lvl):
          # factory: default args would change the visible arity and
          # fail applyInPandas' (key, data) signature check
          def _merge(key, pdf):
            ptx, pty = int(key[0]), int(key[1])
            block = np.full((2 * ny, 2 * nx), np.nan)
            for row in pdf.itertuples(index=False):
                v = np.asarray([np.nan if x is None else x
                                for x in row.values],
                               np.float64).reshape(ny, nx)
                r0 = int(row.qy) * ny
                c0 = int(row.qx) * nx
                block[r0:r0 + ny, c0:c0 + nx] = v
            p = block.reshape(ny, 2, nx, 2).transpose(0, 2, 1, 3) \
                .reshape(ny, nx, 4)
            with np.errstate(invalid="ignore"):
                pooled = np.nanmean(p, axis=2)
            vals = [None if np.isnan(x) else float(x)
                    for x in pooled.ravel()]
            return pd.DataFrame(
                [(pty * (1 << 20) + ptx,
                  origin_x + ptx * 2 * _tw, origin_y + pty * 2 * _th,
                  _r * 2, _ry * 2, nx, ny, vals, _lvl)],
                columns=[f.name for f in merge_schema.fields])
          return _merge

        cur = keyed.groupBy("ptx", "pty").applyInPandas(
            _make_merge(r, ry_, tw, th, lvl), merge_schema)
        out = out.unionByName(cur)
    return out


def reclassify(tiles: DataFrame, breaks: list, classes: list, *,
               nodata_class: float | None = None,
               out_col: str = "values") -> DataFrame:
    """Per-pixel reclassification — the ArcGIS Reclassify / GRASS
    r.reclass / gdal_calc bucket ladder: pixel v maps to
    ``classes[i]`` for ``breaks[i] <= v < breaks[i+1]`` (len(classes)
    == len(breaks) - 1; the last interval is inclusive on the right),
    values outside every interval — and NaN — map to ``nodata_class``
    (NaN when None).  A unary sibling of :func:`map_algebra`: one
    ``transform`` over the tile payload, pure JVM codegen, map-only,
    zero shuffles."""
    if len(classes) != len(breaks) - 1:
        raise ValueError("need len(classes) == len(breaks) - 1")
    if sorted(breaks) != list(breaks):
        raise ValueError("breaks must be ascending")
    nd = F.lit(float("nan") if nodata_class is None
               else float(nodata_class))

    def ladder(v):
        expr = nd
        # build from the top so earlier intervals win in the final WHEN
        for i in range(len(classes) - 1, -1, -1):
            lo, hi = float(breaks[i]), float(breaks[i + 1])
            cond = ((v >= F.lit(lo)) & (v < F.lit(hi))
                    if i < len(classes) - 1
                    else (v >= F.lit(lo)) & (v <= F.lit(hi)))
            expr = F.when(cond, F.lit(float(classes[i]))).otherwise(expr)
        return F.when(F.isnan(v) | v.isNull(), nd).otherwise(expr)

    return tiles.withColumn(out_col,
                            F.transform(F.col("values"), ladder))
