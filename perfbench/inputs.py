"""Seeded benchmark inputs and the closed-form / numpy oracles that check
the engine's outputs. Pure numpy + pyarrow; nothing here imports Spark.

Every generator takes the seed and a size, so the same seed gives the
same inputs byte for byte. The engine never serves as its own oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW = (-10.0, -10.0, 10.0, 10.0)

GEOM_TYPE = pa.struct([
    ("kind", pa.int8()),
    ("xs", pa.list_(pa.float64())),
    ("ys", pa.list_(pa.float64())),
    ("ring_offsets", pa.list_(pa.int32())),
    ("bbox", pa.struct([("minx", pa.float64()), ("miny", pa.float64()),
                        ("maxx", pa.float64()), ("maxy", pa.float64())])),
])

_WORDS = ("urban data spatial analysis city planning transit parcel zoning "
          "housing street market survey census county river coast harbor "
          "school park museum library station bridge tower festival news "
          "report weather traffic council budget election sport music").split()


def write_parquet(table: pa.Table, out_dir: str, name: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    # several row groups, so Spark splits the scan across every core
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 16))
    return path


# ------------------------------------------------------------------ pages

def gazetteer() -> pa.Table:
    """The 32-place gazetteer of the engine's fixtures (ville00..ville31)."""
    k = np.arange(32)
    return pa.table({
        "place": pa.array([f"ville{j:02d}" for j in k], pa.string()),
        "lon": pa.array(-8.0 + 1.0 * (k % 8), pa.float64()),
        "lat": pa.array(-8.0 + 2.0 * (k // 8), pa.float64()),
    })


def pages(seed: int, n: int) -> tuple[pa.Table, dict]:
    """Crawl-style pages (url, warc_ts, html, text, lang): 90% carry a
    ``geo: lat, lon`` token, 5% name a gazetteer place, 5% no location.
    Returns the table and the expected geotag answer per page."""
    rng = np.random.default_rng([seed, 1])
    lon = rng.uniform(WINDOW[0], WINDOW[2], n)
    lat = rng.uniform(WINDOW[1], WINDOW[3], n)
    kind = rng.choice(3, size=n, p=[0.90, 0.05, 0.05])  # token / place / none
    place = rng.integers(0, 32, n)
    fill = [" ".join(rng.choice(_WORDS, size=int(rng.integers(30, 90))))
            for _ in range(64)]
    fill_ix = rng.integers(0, 64, n)
    gaz = gazetteer().to_pydict()
    texts = []
    for k in range(n):
        if kind[k] == 0:
            sig = f"geo: {lat[k]:.5f}, {lon[k]:.5f}"
        elif kind[k] == 1:
            sig = f"reported from {gaz['place'][place[k]]} today"
        else:
            sig = "no location given"
        texts.append(f"page {k} {fill[fill_ix[k]]} {sig} end of page {k}")
    urls = [f"https://site{k % 97}.example/p/{seed}/{k:08d}" for k in range(n)]
    htmls = [b"<html><body>" + t.encode() + b"</body></html>" for t in texts]
    warc_ts = (np.datetime64("2026-01-01T00:00:00")
               + (np.arange(n) * 13).astype("timedelta64[s]"))
    langs = np.array(["en", "es", "de", "fr", "zh"])[rng.integers(0, 5, n)]
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(warc_ts),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })
    # the engine parses the printed decimals, so the oracle does too
    elon = np.array([float(f"{v:.5f}") for v in lon])
    elat = np.array([float(f"{v:.5f}") for v in lat])
    glon = np.asarray(gaz["lon"])[place]
    glat = np.asarray(gaz["lat"])[place]
    exp_lon = np.where(kind == 0, elon, np.where(kind == 1, glon, np.nan))
    exp_lat = np.where(kind == 0, elat, np.where(kind == 1, glat, np.nan))
    return table, {"url": urls, "lon": exp_lon, "lat": exp_lat,
                   "bytes": int(table.nbytes)}


def donut_zone(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Closed-form answer for ``sources.grids.donut_zones_df``: 4x4 grid of
    4-degree squares over [-8, 8) with a centred 2-degree hole each; -1 in
    a hole or outside. Half-open edges, like the engine's ray cast."""
    c = np.floor((lon + 8.0) / 4.0)
    r = np.floor((lat + 8.0) / 4.0)
    x0, y0 = c * 4.0 - 8.0, r * 4.0 - 8.0
    outer = (lon >= -8.0) & (lon < 8.0) & (lat >= -8.0) & (lat < 8.0)
    hole = ((lon >= x0 + 1.0) & (lon < x0 + 3.0)
            & (lat >= y0 + 1.0) & (lat < y0 + 3.0))
    return np.where(outer & ~hole, r * 4 + c, -1).astype(np.int64)


def grid_zone(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Closed-form answer for ``sources.grids.zones_df`` (20x20 one-degree
    squares, zone_id = row*20 + col); -1 outside the window."""
    inside = (lon >= -10) & (lon < 10) & (lat >= -10) & (lat < 10)
    zid = (np.floor(lat) + 10) * 20 + (np.floor(lon) + 10)
    return np.where(inside, zid, -1).astype(np.int64)


# ------------------------------------------------------------------ POIs

def pois(seed: int, n: int, city_share: float,
         city_area: tuple = (-8.0, -8.0, 8.0, 8.0)) -> pa.Table:
    """POIs: uniform over the window, plus ``city_share`` of them packed in
    one 0.25-degree 'city' square at a seeded spot inside ``city_area``
    (the hot cells)."""
    rng = np.random.default_rng([seed, 3])
    n_city = int(n * city_share)
    cx = rng.uniform(city_area[0], city_area[2] - 0.25)
    cy = rng.uniform(city_area[1], city_area[3] - 0.25)
    lon = np.concatenate([rng.uniform(cx, cx + 0.25, n_city),
                          rng.uniform(WINDOW[0], WINDOW[2], n - n_city)])
    lat = np.concatenate([rng.uniform(cy, cy + 0.25, n_city),
                          rng.uniform(WINDOW[1], WINDOW[3], n - n_city)])
    return pa.table({"poi_id": pa.array(np.arange(n), pa.int64()),
                     "lon": pa.array(lon, pa.float64()),
                     "lat": pa.array(lat, pa.float64())})


# ------------------------------------------------------------------ parcels

def _geom_array(xs: np.ndarray, ys: np.ndarray) -> pa.StructArray:
    """Single-ring polygons from (n, v) vertex arrays (ring left open)."""
    n, v = xs.shape
    offs = pa.array(np.arange(0, n * v + 1, v, dtype=np.int32))
    ring = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)),
        pa.array(np.tile(np.array([0, v], np.int32), n)))
    bbox = pa.StructArray.from_arrays(
        [pa.array(xs.min(1)), pa.array(ys.min(1)),
         pa.array(xs.max(1)), pa.array(ys.max(1))],
        names=["minx", "miny", "maxx", "maxy"])
    return pa.StructArray.from_arrays(
        [pa.array(np.full(n, 3, np.int8)),
         pa.ListArray.from_arrays(offs, pa.array(xs.ravel())),
         pa.ListArray.from_arrays(offs, pa.array(ys.ravel())),
         ring, bbox],
        fields=list(GEOM_TYPE))


def parcels(seed: int, side: int, area: tuple = WINDOW,
            jitter_share: float = 0.5) -> tuple[pa.Table, dict]:
    """``side`` x ``side`` parcels tiling ``area``. The lattice vertex
    at every (odd, odd) index is moved by a seeded jitter with probability
    ``jitter_share``; each parcel has exactly one such corner, so it is an
    exact rectangle (canonical vertex order) or a jittered quad, and the
    quads still tile ``area``. ``side`` is even, so jittered vertices
    are interior. Columns: parcel_id, geom, lon/lat (centroid)."""
    if side % 2:
        raise ValueError("side must be even")
    rng = np.random.default_rng([seed, 4])
    vx, vy = np.meshgrid(np.linspace(area[0], area[2], side + 1),
                         np.linspace(area[1], area[3], side + 1),
                         indexing="ij")               # [i, j] -> x_i, y_j
    cell = min(area[2] - area[0], area[3] - area[1]) / side
    odd = np.zeros_like(vx, bool)
    odd[1::2, 1::2] = True
    moved = odd & (rng.random(vx.shape) < jitter_share)
    vx = vx + np.where(moved, rng.uniform(-0.35, 0.35, vx.shape) * cell, 0.0)
    vy = vy + np.where(moved, rng.uniform(-0.35, 0.35, vx.shape) * cell, 0.0)
    i, j = np.meshgrid(np.arange(side), np.arange(side), indexing="ij")
    i, j = i.ravel(), j.ravel()
    ci = [(i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1)]   # CCW
    xs = np.stack([vx[a, b] for a, b in ci], 1)
    ys = np.stack([vy[a, b] for a, b in ci], 1)
    is_rect = ~np.any(np.stack([moved[a, b] for a, b in ci], 1), 1)
    # polygon centroid (shoelace)
    x1, y1 = np.roll(xs, -1, 1), np.roll(ys, -1, 1)
    cr = xs * y1 - x1 * ys
    area = cr.sum(1) / 2.0
    cx = ((xs + x1) * cr).sum(1) / (6.0 * area)
    cy = ((ys + y1) * cr).sum(1) / (6.0 * area)
    n = xs.shape[0]
    table = pa.table({"parcel_id": pa.array(np.arange(n), pa.int64()),
                      "geom": _geom_array(xs, ys),
                      "lon": pa.array(cx), "lat": pa.array(cy)})
    return table, {"xs": xs, "ys": ys, "is_rect": is_rect, "area": area,
                   "lon": cx, "lat": cy}


# ------------------------------------------------------------------ raster

def raster(seed: int, tiles_per_side: int, px: int,
           area: tuple = WINDOW) -> tuple[pa.Table, dict]:
    """Square raster over the square ``area``: tiles_per_side^2 tiles of
    px x px pixels, seeded normal values. Pixel centres never sit on a
    zone edge."""
    rng = np.random.default_rng([seed, 5])
    t = tiles_per_side
    res = (area[2] - area[0]) / (t * px)
    vals = rng.standard_normal((t * t, px * px))
    tid = np.arange(t * t)
    tx, ty = tid % t, tid // t
    x0 = area[0] + tx * px * res
    y0 = area[1] + ty * px * res
    table = pa.table({
        "tile_id": pa.array(tid, pa.int64()),
        "x0": pa.array(x0), "y0": pa.array(y0),
        "res": pa.array(np.full(t * t, res)),
        "nx": pa.array(np.full(t * t, px, np.int32)),
        "ny": pa.array(np.full(t * t, px, np.int32)),
        "values": pa.ListArray.from_arrays(
            pa.array(np.arange(0, t * t * px * px + 1, px * px, dtype=np.int32)),
            pa.array(vals.ravel())),
    })
    # per-pixel zone of the 20x20 grid, for the numpy oracle
    p = np.arange(px)
    cxp = x0[:, None, None] + (p[None, None, :] + 0.5) * res
    cyp = y0[:, None, None] + (p[None, :, None] + 0.5) * res
    zone = grid_zone(np.broadcast_to(cxp, (t * t, px, px)).ravel(),
                     np.broadcast_to(cyp, (t * t, px, px)).ravel())
    return table, {"values": vals.ravel(), "zone": zone,
                   "pixels": int(vals.size)}


def zonal_expected(values: np.ndarray, zone: np.ndarray) -> dict[int, tuple]:
    """zone -> (count, sum, min, max) over pixels whose centre is inside."""
    keep = zone >= 0
    z, v = zone[keep], values[keep]
    order = np.argsort(z, kind="stable")
    z, v = z[order], v[order]
    ids, start = np.unique(z, return_index=True)
    cnt = np.diff(np.r_[start, z.shape[0]])
    return {int(i): (int(c), float(s), float(mn), float(mx))
            for i, c, s, mn, mx in zip(ids, cnt, np.add.reduceat(v, start),
                                       np.minimum.reduceat(v, start),
                                       np.maximum.reduceat(v, start))}

