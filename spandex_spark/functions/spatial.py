"""Spatial pandas UDFs (Arrow-batched; SURVEY.md §2.3 'UDF surface')."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spandex_spark import cells as _cells
from spandex_spark import geom as _geom


@pandas_udf(T.LongType())
def _cell_of(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
    out = _cells.cell_of(lon.to_numpy(np.float64), lat.to_numpy(np.float64),
                         int(level.iloc[0]))
    return pd.Series(out)


def cell_of_udf(lon, lat, level: int):
    """Column expression: quadkey cell id of (lon, lat) at ``level``."""
    return _cell_of(lon, lat, F.lit(level))


def _off(o):
    """ring_offsets cell value → numpy offsets or None (single ring)."""
    if o is None:
        return None
    arr = np.asarray(o, np.int64)
    return arr if arr.shape[0] > 2 else None


@pandas_udf(T.ArrayType(T.LongType()))
def _cover_cells(xs: pd.Series, ys: pd.Series, offs: pd.Series,
                 level: pd.Series) -> pd.Series:
    lvl = int(level.iloc[0])
    out = []
    for x_arr, y_arr, o in zip(xs, ys, offs):
        c = _cells.cover_polygon(np.asarray(x_arr, np.float64),
                                 np.asarray(y_arr, np.float64), lvl, _off(o))
        out.append(c.tolist())
    return pd.Series(out)


def cover_cells_udf(geom_col, level: int):
    """Covering cells of each polygon (holes/multipart honored) at ``level``.
    E2 in SURVEY.md §2.2; replaces the GiST index build at load time."""
    return _cover_cells(geom_col["xs"], geom_col["ys"],
                        geom_col["ring_offsets"], F.lit(level))


_CLASSIFIED_TYPE = T.StructType([
    T.StructField("cells", T.ArrayType(T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("full", T.BooleanType()),
    ]))),
    T.StructField("edges", T.ArrayType(T.StructType([
        T.StructField(n, T.DoubleType()) for n in ("x1", "y1", "x2", "y2")
    ]))),
])


def _ray_edges(xs: np.ndarray, ys: np.ndarray, offs) -> list[dict]:
    """The edges geom.points_in_rings walks, in its direction: every ring's
    vertex i -> i+1, closing edge included, horizontal edges dropped."""
    out = []
    for rx, ry in _geom.rings_of(xs, ys, offs):
        x2, y2 = np.roll(rx, -1), np.roll(ry, -1)
        keep = ry != y2
        out.extend({"x1": a, "y1": b, "x2": c, "y2": d} for a, b, c, d in zip(
            rx[keep].tolist(), ry[keep].tolist(),
            x2[keep].tolist(), y2[keep].tolist()))
    return out


@pandas_udf(_CLASSIFIED_TYPE)
def _cover_cells_classified(xs: pd.Series, ys: pd.Series, offs: pd.Series,
                            level: pd.Series) -> pd.DataFrame:
    lvl = int(level.iloc[0])
    cells, edges = [], []
    for x_arr, y_arr, o in zip(xs, ys, offs):
        x_arr = np.asarray(x_arr, np.float64)
        y_arr = np.asarray(y_arr, np.float64)
        cells_arr, full = _cells.cover_polygon_classified(
            x_arr, y_arr, lvl, _off(o))
        cells.append([{"cell": int(c), "full": bool(f)}
                      for c, f in zip(cells_arr, full)])
        edges.append(_ray_edges(x_arr, y_arr, o))
    return pd.DataFrame({"cells": cells, "edges": edges})


def cover_cells_classified_udf(geom_col, level: int):
    """``struct<cells, edges>`` of each polygon: its covering cells with an
    interior/full flag (cells.cover_polygon_classified), and its ray-cast
    edges for the exact refine. One Python pass builds both."""
    return _cover_cells_classified(geom_col["xs"], geom_col["ys"],
                                   geom_col["ring_offsets"], F.lit(level))


_MERC_TYPE = T.StructType([T.StructField("x", T.DoubleType()),
                           T.StructField("y", T.DoubleType())])


@pandas_udf(_MERC_TYPE)
def _webmercator(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    x, y = _geom.lonlat_to_webmercator(lon.to_numpy(np.float64),
                                       lat.to_numpy(np.float64))
    return pd.DataFrame({"x": x, "y": y})


def webmercator_udf(lon, lat):
    """ST_Transform(4326→3857) analog (spandex/spatialtoolz.py::reproject)."""
    return _webmercator(lon, lat)


@pandas_udf(_MERC_TYPE)
def _utm(lon: pd.Series, lat: pd.Series, zone: pd.Series,
         north: pd.Series) -> pd.DataFrame:
    x, y = _geom.lonlat_to_utm(lon.to_numpy(np.float64),
                               lat.to_numpy(np.float64),
                               int(zone.iloc[0]), bool(north.iloc[0]))
    return pd.DataFrame({"x": x, "y": y})


def utm_udf(lon, lat, zone: int, north: bool = True):
    """ST_Transform(4326 → EPSG:326xx/327xx) analog (UTM, Snyder series)."""
    return _utm(lon, lat, F.lit(zone), F.lit(north))


@pandas_udf(_MERC_TYPE)
def _lcc(lon: pd.Series, lat: pd.Series, epsg: pd.Series) -> pd.DataFrame:
    p1, p2, p0, l0, fe, fn = _geom.LCC_ZONES[int(epsg.iloc[0])]
    x, y = _geom.lonlat_to_lcc(lon.to_numpy(np.float64),
                               lat.to_numpy(np.float64), phi1=p1, phi2=p2,
                               phi0=p0, lam0=l0, fe=fe, fn=fn)
    return pd.DataFrame({"x": x, "y": y})


def lcc_udf(lon, lat, epsg: int):
    """ST_Transform(4326 → LCC-2SP state-plane / national grid) analog
    (Snyder §15); supported EPSG codes in geom.LCC_ZONES."""
    return _lcc(lon, lat, F.lit(epsg))


@pandas_udf(_MERC_TYPE)
def _albers(lon: pd.Series, lat: pd.Series, epsg: pd.Series) -> pd.DataFrame:
    p1, p2, p0, l0, fe, fn = _geom.ALBERS_ZONES[int(epsg.iloc[0])]
    x, y = _geom.lonlat_to_albers(lon.to_numpy(np.float64),
                                  lat.to_numpy(np.float64), phi1=p1, phi2=p2,
                                  phi0=p0, lam0=l0, fe=fe, fn=fn)
    return pd.DataFrame({"x": x, "y": y})


def albers_udf(lon, lat, epsg: int):
    """ST_Transform(4326 → Albers equal-area national grid) analog
    (Snyder §14); supported EPSG codes in geom.ALBERS_ZONES."""
    return _albers(lon, lat, F.lit(epsg))


_LL_TYPE = T.StructType([T.StructField("lon", T.DoubleType()),
                         T.StructField("lat", T.DoubleType())])


@pandas_udf(_LL_TYPE)
def _webmercator_inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
    lon, lat = _geom.webmercator_to_lonlat(x.to_numpy(np.float64),
                                           y.to_numpy(np.float64))
    return pd.DataFrame({"lon": lon, "lat": lat})


def webmercator_inv_udf(x, y):
    """ST_Transform(3857→4326) analog — the ingest direction spandex's
    conform_srids runs when loading projected layers."""
    return _webmercator_inv(x, y)


@pandas_udf(_LL_TYPE)
def _utm_inv(x: pd.Series, y: pd.Series, zone: pd.Series,
             north: pd.Series) -> pd.DataFrame:
    lon, lat = _geom.utm_to_lonlat(x.to_numpy(np.float64),
                                   y.to_numpy(np.float64),
                                   int(zone.iloc[0]), bool(north.iloc[0]))
    return pd.DataFrame({"lon": lon, "lat": lat})


def utm_inv_udf(x, y, zone: int, north: bool = True):
    """ST_Transform(EPSG:326xx/327xx → 4326) analog (Snyder 8-17..8-25)."""
    return _utm_inv(x, y, F.lit(zone), F.lit(north))


@pandas_udf(_LL_TYPE)
def _lcc_inv(x: pd.Series, y: pd.Series, epsg: pd.Series) -> pd.DataFrame:
    p1, p2, p0, l0, fe, fn = _geom.LCC_ZONES[int(epsg.iloc[0])]
    lon, lat = _geom.lcc_to_lonlat(x.to_numpy(np.float64),
                                   y.to_numpy(np.float64), phi1=p1, phi2=p2,
                                   phi0=p0, lam0=l0, fe=fe, fn=fn)
    return pd.DataFrame({"lon": lon, "lat": lat})


def lcc_inv_udf(x, y, epsg: int):
    """ST_Transform(LCC-2SP state plane → 4326) analog — loading
    state-plane parcels is the reference's canonical ingest case."""
    return _lcc_inv(x, y, F.lit(epsg))


@pandas_udf(_LL_TYPE)
def _albers_inv(x: pd.Series, y: pd.Series, epsg: pd.Series) -> pd.DataFrame:
    p1, p2, p0, l0, fe, fn = _geom.ALBERS_ZONES[int(epsg.iloc[0])]
    lon, lat = _geom.albers_to_lonlat(x.to_numpy(np.float64),
                                      y.to_numpy(np.float64), phi1=p1,
                                      phi2=p2, phi0=p0, lam0=l0, fe=fe, fn=fn)
    return pd.DataFrame({"lon": lon, "lat": lat})


def albers_inv_udf(x, y, epsg: int):
    """ST_Transform(Albers equal-area → 4326) analog (Snyder §14 inverse)."""
    return _albers_inv(x, y, F.lit(epsg))


@pandas_udf(T.BooleanType())
def _geom_is_valid(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
    out = np.fromiter(
        (_geom.rings_are_valid(np.asarray(x, np.float64),
                               np.asarray(y, np.float64), _off(o))
         for x, y, o in zip(xs, ys, offs)), dtype=bool, count=len(xs))
    return pd.Series(out)


def geom_is_valid_udf(geom_col):
    """ST_IsValid analog (spandex/spatialtoolz.py::invalid_geometry_check);
    multi-ring aware (ring simplicity, no cross-ring edges, holes nested)."""
    return _geom_is_valid(geom_col["xs"], geom_col["ys"],
                          geom_col["ring_offsets"])


@pandas_udf(T.DoubleType())
def _rings_area(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
    out = np.empty(len(xs))
    for i, (x, y) in enumerate(zip(xs, ys)):
        if x is None:
            out[i] = np.nan
            continue
        out[i] = _geom.rings_area(np.asarray(x, np.float64),
                                  np.asarray(y, np.float64),
                                  _off(offs.iloc[i]))
    return pd.Series(out)


def geom_area_udf(geom_col):
    """ST_Area analog over the SoA geometry encoding: even-odd multi-ring
    area (signed shoelace per ring — holes subtract, tiled multipolygon
    pieces add). NULL geometry -> NaN (caller masks)."""
    return _rings_area(geom_col["xs"], geom_col["ys"],
                       geom_col["ring_offsets"])


_CENTROID_TYPE = T.StructType([T.StructField("cx", T.DoubleType()),
                               T.StructField("cy", T.DoubleType())])


@pandas_udf(_CENTROID_TYPE)
def _rings_centroid(xs: pd.Series, ys: pd.Series,
                    offs: pd.Series) -> pd.DataFrame:
    cx = np.full(len(xs), np.nan)
    cy = np.full(len(xs), np.nan)
    for i in range(len(xs)):
        x, y = xs.iloc[i], ys.iloc[i]
        if x is None:
            continue
        cx[i], cy[i] = _geom.rings_centroid(np.asarray(x, np.float64),
                                            np.asarray(y, np.float64),
                                            _off(offs.iloc[i]))
    return pd.DataFrame({"cx": cx, "cy": cy})


def geom_centroid_udf(geom_col):
    """ST_Centroid analog (signed-area-weighted across rings — holes pull
    away, disjoint multipolygon parts weight by area). As in the
    reference's polygon-target tagging (spandex/spatialtoolz.py::tag),
    operators.tag.tag tags each target by its centroid. NULL -> NaN pair."""
    return _rings_centroid(geom_col["xs"], geom_col["ys"],
                           geom_col["ring_offsets"])


@pandas_udf(T.DoubleType())
def _rings_perimeter(xs: pd.Series, ys: pd.Series,
                     offs: pd.Series) -> pd.Series:
    out = np.empty(len(xs))
    for i, (x, y) in enumerate(zip(xs, ys)):
        if x is None:
            out[i] = np.nan
            continue
        out[i] = _geom.rings_perimeter(np.asarray(x, np.float64),
                                       np.asarray(y, np.float64),
                                       _off(offs.iloc[i]))
    return pd.Series(out)


def geom_perimeter_udf(geom_col):
    """ST_Perimeter analog (closed ring lengths summed over all rings —
    hole boundaries count, the PostGIS convention). NULL -> NaN."""
    return _rings_perimeter(geom_col["xs"], geom_col["ys"],
                            geom_col["ring_offsets"])
