"""Rasterize: vector polygons -> raster tiles (the inverse of
`operators/polygonize.py`, the ST_AsRaster / GDALRasterize /
rasterio.features.rasterize analog).

Reference semantics: spandex's rastertoolz side moves both directions
through PostGIS raster SQL (SURVEY.md §2 O7); this is the
vector→raster half. A pixel takes a polygon's burn value iff its
CENTER lies in the polygon (even-odd, holes excluded) — the same
center-in-polygon convention `zonal_stats` reads with, so
``zonal_stats(rasterize(zones), zones)`` is exact by construction.

Overlap rule: GDAL burns in feature order, which is not reproducible
under distributed input ordering — here overlaps resolve by
``combine='max'`` (or ``'min'``) of the burn VALUE, a commutative rule
that makes output independent of partitioning (documented deviation).

Scale shape:

* candidate (tile, polygon) pairs are built on a coarse-cell join of
  IDS ONLY (tile spec rows are 6 scalars; no pixel payload exists yet);
* polygons aggregate per tile (`collect_list` of rings — ring payload,
  perimeter-sized);
* one Arrow `mapInPandas` pass burns each tile vectorized (meshgrid
  of pixel centers, bbox pre-filter, `geom.points_in_rings`);
* tiles covered by NO polygon are emitted all-nodata via a left join
  (``keep_empty=False`` drops them instead — stated, not silent).

No pixel array ever shuffles: the output values are BORN in the final
map stage. At 100 TB of output raster the only exchange is the
id-level pair join.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spandex_spark import geom as _geom
from spandex_spark.functions.spatial import cover_cells_udf
from spandex_spark.operators.zonal import _tile_cells_udf, _with_res_y

_OUT_SCHEMA = T.StructType([
    T.StructField("tile_id", T.LongType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("res", T.DoubleType()),
    T.StructField("res_y", T.DoubleType()),
    T.StructField("nx", T.IntegerType()),
    T.StructField("ny", T.IntegerType()),
    T.StructField("values", T.ArrayType(T.DoubleType())),
])


def rasterize(polys: DataFrame, tile_spec: DataFrame, *,
              value_col: str = "value", geom_col: str = "geom",
              level: int = 7, combine: str = "max",
              nodata: float = math.nan, keep_empty: bool = True,
              broadcast_polys: bool = True) -> DataFrame:
    """Burn ``polys[value_col]`` into the grid described by
    ``tile_spec`` (tile_id, x0, y0, res[, res_y], nx, ny).

    Returns the standard tile table (values row-major, y rows then x
    cols). Pixels inside no polygon — and, with ``keep_empty``, whole
    uncovered tiles — come out as ``nodata``: NULL elements for the
    default NaN nodata (the engine-wide tile-table convention
    `resample_tiles` set; numpy reads NULL back as NaN), the literal
    number for a numeric ``nodata``."""
    if combine not in ("max", "min"):
        raise ValueError(f"combine must be 'max' or 'min', got {combine!r}")
    spec = _with_res_y(tile_spec).select(
        "tile_id", "x0", "y0", "res", "res_y", "nx", "ny")

    pc = polys.select(
        F.col(value_col).cast("double").alias("_pval"),
        F.col(geom_col)["xs"].alias("_pxs"),
        F.col(geom_col)["ys"].alias("_pys"),
        F.col(geom_col)["ring_offsets"].alias("_poff"),
        F.explode(cover_cells_udf(F.col(geom_col), level)).alias("cell"))
    if broadcast_polys:
        pc = F.broadcast(pc)

    tile_cells = spec.select(
        "tile_id",
        F.explode(_tile_cells_udf(F.col("x0"), F.col("y0"), F.col("res"),
                                  F.col("res_y"), F.col("nx"), F.col("ny"),
                                  F.lit(level))).alias("cell"))

    # id-level pair join; ring payload groups once per tile
    pairs = (tile_cells.join(pc, "cell", "inner")
             .dropDuplicates(["tile_id", "_pval", "_pxs", "_pys", "_poff"]))
    polys_per_tile = pairs.groupBy("tile_id").agg(
        F.collect_list(F.struct("_pval", "_pxs", "_pys", "_poff"))
        .alias("_polys"))

    tj = spec.join(polys_per_tile, "tile_id",
                   "left" if keep_empty else "inner")
    # the joined rows are BYTE-tiny (ids + rings) but each costs a full
    # tile burn, so AQE's bytes-based coalescing would collapse them
    # onto one core; an explicit repartition is exempt from coalescing
    # (the E3/skew lesson, BENCH/BASELINE.md "Mega-cell salting")
    sc = spec.sparkSession.sparkContext
    tj = tj.repartition(sc.defaultParallelism)

    asc = combine == "max"  # burn ascending so the LAST write is the max
    nod = float(nodata)

    def burn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                nx, ny = int(row["nx"]), int(row["ny"])
                res, ry = float(row["res"]), float(row["res_y"])
                out = np.full(nx * ny, nod, np.float64)
                cands = row["_polys"]
                if cands is not None and len(cands):
                    px = float(row["x0"]) + (np.arange(nx) + 0.5) * res
                    py = float(row["y0"]) + (np.arange(ny) + 0.5) * ry
                    lon, lat = np.meshgrid(px, py)
                    lon, lat = lon.ravel(), lat.ravel()
                    for p in sorted(cands, key=lambda p: p["_pval"],
                                    reverse=not asc):
                        xs = np.asarray(p["_pxs"], np.float64)
                        ys = np.asarray(p["_pys"], np.float64)
                        off = p["_poff"]
                        off = (np.asarray(off, np.int64)
                               if off is not None and len(off) > 2 else None)
                        box = ((lon >= xs.min()) & (lon <= xs.max())
                               & (lat >= ys.min()) & (lat <= ys.max()))
                        if not box.any():
                            continue
                        mask = _geom.points_in_rings(
                            lon[box], lat[box], xs, ys, off)
                        if not mask.any():
                            continue
                        idx = np.flatnonzero(box)[mask]
                        out[idx] = p["_pval"]
                vals = ([None if np.isnan(v) else float(v) for v in out]
                        if math.isnan(nod) else out.tolist())
                rows.append((int(row["tile_id"]), float(row["x0"]),
                             float(row["y0"]), res, ry, nx, ny, vals))
            yield pd.DataFrame(rows, columns=[f.name for f in _OUT_SCHEMA])

    return tj.mapInPandas(burn, schema=_OUT_SCHEMA)
