"""64-bit hierarchical quadkey cell index (S2-style under the north rule's
"H3/S2 index" disjunction — see SURVEY.md §4.3 for why true H3 hex math is
not worth 2 kLoC here).

Layout: ``cell = (level << 58) | morton`` where morton interleaves the x
(even bits) and y (odd bits) grid coordinates of an equirectangular
lon/lat grid with 2^level columns over [-180, 180) and 2^level rows over
[-90, 90). Properties: hierarchical (parent = shift), numpy-vectorizable
both directions, deterministic, sortable, prefix-salt-able.

This is the replacement for the reference's GiST R-tree index
(spandex/io.py geometry-index DDL; SURVEY.md O11): the ``cell`` column IS
the spatial index, and spatial joins become Catalyst equi-joins on it.

A polygon's cover (:func:`cover_polygon_classified`) is one array pass
over its bbox cells: the cells an edge meets are its fringe, and the
others whose centre is inside are FULL — no point in them needs an exact
refine.
"""

from __future__ import annotations

import numpy as np

LEVEL_SHIFT = 58
MORTON_MASK = (np.int64(1) << LEVEL_SHIFT) - np.int64(1)
MAX_LEVEL = 29


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread low-32 bits of uint64 into even positions."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def xy_to_cell(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    m = _spread_bits(np.asarray(x, dtype=np.uint64)) | (
        _spread_bits(np.asarray(y, dtype=np.uint64)) << np.uint64(1))
    return (np.int64(level) << np.int64(LEVEL_SHIFT)) | m.astype(np.int64)


def grid_coords(lon: np.ndarray, lat: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    n = np.int64(1) << np.int64(level)
    gx = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * float(n)).astype(np.int64)
    gy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * float(n)).astype(np.int64)
    return np.clip(gx, 0, int(n) - 1), np.clip(gy, 0, int(n) - 1)


def cell_of(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Cell id of each (lon, lat). Vectorized; level in [0, 29]."""
    gx, gy = grid_coords(lon, lat, level)
    return xy_to_cell(gx, gy, level)


def cell_level(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> np.int64(LEVEL_SHIFT)).astype(np.int64)


def cell_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = (np.asarray(cell, dtype=np.int64) & MORTON_MASK).astype(np.uint64)
    return _compact_bits(m).astype(np.int64), _compact_bits(m >> np.uint64(1)).astype(np.int64)


def parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor cell at a coarser level (prefix op; coarsen = shift)."""
    cell = np.asarray(cell, dtype=np.int64)
    lvl = cell_level(cell)
    dl = lvl - np.int64(parent_level)
    m = (cell & MORTON_MASK) >> (np.int64(2) * dl)
    return (np.int64(parent_level) << np.int64(LEVEL_SHIFT)) | m


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon0, lat0, lon1, lat1) of each cell square (half-open)."""
    lvl = cell_level(cell)
    gx, gy = cell_xy(cell)
    n = (np.int64(1) << lvl).astype(np.float64)
    lon0 = gx / n * 360.0 - 180.0
    lat0 = gy / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float,
               level: int) -> np.ndarray:
    """All cells at ``level`` whose square intersects the (closed) bbox.
    The exact-refine phase filters false positives, so an extra boundary
    cell is harmless."""
    gx0, gy0 = grid_coords(np.array([minx]), np.array([miny]), level)
    gx1, gy1 = grid_coords(np.array([maxx]), np.array([maxy]), level)
    xs = np.arange(gx0[0], gx1[0] + 1, dtype=np.int64)
    ys = np.arange(gy0[0], gy1[0] + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return xy_to_cell(gx.ravel(), gy.ravel(), level)


def bbox_cell_ranges(minx: float, miny: float, maxx: float, maxy: float,
                     level: int, *, max_ranges: int = 64) -> list:
    """Contiguous inclusive ``[lo, hi]`` cell-id intervals at ``level``
    that together contain every level-``level`` cell intersecting the
    bbox — the scan-planning form of :func:`cover_bbox` (Iceberg
    lower/upper-bounds pruning wants intervals, not cell sets).

    Picks the FINEST coarse level whose bbox cover has at most
    ``max_ranges`` cells, then widens each coarse cell to its full
    descendant interval at ``level``: with the level in the top 6 bits,
    the descendants of one coarse cell are one contiguous morton run of
    fixed-level ids, so the interval is exact, not a bounding guess.
    Adjacent intervals coalesce. The result may COVER more cells than
    the bbox touches (coarse squares overhang) — callers must still
    apply the exact filter; pruning only requires no false negatives.
    """
    if level < 0 or level > MAX_LEVEL:
        raise ValueError(f"level {level} outside [0, {MAX_LEVEL}]")
    coarse = _coarse_level(minx, miny, maxx, maxy, level, max_ranges)
    cover = cover_bbox(minx, miny, maxx, maxy, coarse)
    return _ranges_from_cover(cover, coarse, level)


def polygon_cell_ranges(xs: np.ndarray, ys: np.ndarray, level: int, *,
                        ring_offsets=None, max_ranges: int = 64) -> list:
    """:func:`bbox_cell_ranges` for an arbitrary polygon (holes /
    multipart via ``ring_offsets``): the coarse cover is
    :func:`cover_polygon` (the cells an edge meets or the region holds,
    so a lake-shaped query skips files inside the lake's bbox but outside
    the lake), widened to descendant intervals at ``level`` and coalesced.
    The coarse level is the finest one whose BBOX cover fits
    ``max_ranges`` — the polygon cover is a subset of that, so the bound
    holds. Coarse squares overhang the boundary: callers still refine
    exactly (PIP), pruning only promises no false negatives."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    coarse = _coarse_level(xs.min(), ys.min(), xs.max(), ys.max(), level,
                           max_ranges)
    cover = cover_polygon(xs, ys, coarse, ring_offsets=ring_offsets)
    return _ranges_from_cover(cover, coarse, level)


def _coarse_level(minx, miny, maxx, maxy, level: int, max_ranges: int) -> int:
    """The finest level <= ``level`` whose bbox cover has at most
    ``max_ranges`` cells; 0 when none has."""
    for lc in range(level, -1, -1):
        gx0, gy0 = grid_coords(minx, miny, lc)
        gx1, gy1 = grid_coords(maxx, maxy, lc)
        if int(gx1 - gx0 + 1) * int(gy1 - gy0 + 1) <= max_ranges:
            return lc
    return 0


def _ranges_from_cover(cover: np.ndarray, coarse: int, level: int) -> list:
    """Widen coarse cover cells to their (contiguous) descendant id
    intervals at ``level``; sort and coalesce adjacent intervals."""
    dl = np.int64(2 * (level - coarse))
    m = np.sort((cover & MORTON_MASK).astype(np.int64))
    base = np.int64(level) << np.int64(LEVEL_SHIFT)
    lo = base | (m << dl)
    hi = base | (((m + np.int64(1)) << dl) - np.int64(1))
    ranges: list = []
    for a, b in zip(lo.tolist(), hi.tolist()):
        if ranges and a == ranges[-1][1] + 1:
            ranges[-1] = (ranges[-1][0], b)
        else:
            ranges.append((a, b))
    return ranges


def _spans(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(i, k)`` for every integer ``k`` in ``lo[i]..hi[i]``, flattened."""
    cnt = hi - lo + 1
    i = np.repeat(np.arange(lo.shape[0]), cnt)
    k = np.arange(i.shape[0]) - np.repeat(np.cumsum(cnt) - cnt, cnt) + lo[i]
    return i, k


def cover_polygon_classified(xs: np.ndarray, ys: np.ndarray, level: int,
                             ring_offsets=None) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of a polygon (holes/multipart via ``ring_offsets``)
    and a FULL flag per cell, in cover_bbox order, from one array pass
    over the bbox cells:

    * fringe: the cells any edge meets — every ring, closing and
      horizontal edges included. Each edge is walked one row band at a
      time in grid units; bands and column spans are widened by 16 ulps
      of the grid width, more than the rounding of cell_of (which
      functions/cells_sql.cell_of_expr reproduces bit for bit), of the
      ray cast's crossing and of this walk together, so a point near an
      edge never lands in a full cell;
    * full: the other cells whose centre geom.points_in_rings puts
      inside. No edge meets them, so every point in one is inside by the
      same even-odd rule and needs no exact refine. A cell that an edge
      only touches, or that holds a hole however small, is not full.

    The cover is full ∪ fringe. Only even-odd PIP and edge positions
    decide it; ring orientation does not."""
    from spandex_spark.geom import points_in_rings

    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = float(1 << level)
    gx0, gy0 = (int(g) for g in grid_coords(xs.min(), ys.min(), level))
    gx1, gy1 = (int(g) for g in grid_coords(xs.max(), ys.max(), level))
    w = gx1 - gx0 + 1
    margin = n * 2.0 ** -48
    # vertices in grid units, same op order as grid_coords
    u = (xs + 180.0) / 360.0 * n
    v = (ys + 90.0) / 180.0 * n
    off = (np.asarray(ring_offsets, dtype=np.int64)
           if ring_offsets is not None and len(ring_offsets) > 2
           else np.array([0, xs.shape[0]], dtype=np.int64))
    nxt = np.arange(1, xs.shape[0] + 1)
    nxt[off[1:] - 1] = off[:-1]
    u1, v1, u2, v2 = u, v, u[nxt], v[nxt]

    # (edge, row) for every widened row band an edge spans; the grid's
    # first and last rows also hold what cell_of clamps into them
    vlo, vhi = np.minimum(v1, v2), np.maximum(v1, v2)
    e, r = _spans(np.clip(np.floor(vlo - margin), gy0, gy1).astype(np.int64),
                  np.clip(np.floor(vhi + margin), gy0, gy1).astype(np.int64))
    b0 = np.maximum(vlo[e], np.where(r == 0, -np.inf, r - margin))
    b1 = np.minimum(vhi[e], np.where(r == n - 1, np.inf, r + 1 + margin))
    # the edge's u extent inside the band (a horizontal edge: all of it)
    dv = v2[e] - v1[e]
    flat = dv == 0.0
    dv = np.where(flat, 1.0, dv)
    ta = np.where(flat, 0.0, np.clip((b0 - v1[e]) / dv, 0.0, 1.0))
    tb = np.where(flat, 1.0, np.clip((b1 - v1[e]) / dv, 0.0, 1.0))
    ua = u1[e] + ta * (u2[e] - u1[e])
    ub = u1[e] + tb * (u2[e] - u1[e])
    j, c = _spans(
        np.clip(np.floor(np.minimum(ua, ub) - margin), gx0, gx1).astype(np.int64),
        np.clip(np.floor(np.maximum(ua, ub) + margin), gx0, gx1).astype(np.int64))
    fringe = np.zeros((gy1 - gy0 + 1) * w, dtype=bool)
    fringe[(r[j] - gy0) * w + (c - gx0)] = True

    full = np.zeros_like(fringe)
    inner = np.flatnonzero(~fringe)
    full[inner] = points_in_rings((gx0 + inner % w + 0.5) / n * 360.0 - 180.0,
                                  (gy0 + inner // w + 0.5) / n * 180.0 - 90.0,
                                  xs, ys, ring_offsets)
    keep = np.flatnonzero(fringe | full)
    return xy_to_cell(gx0 + keep % w, gy0 + keep // w, level), full[keep]


def cover_polygon(xs: np.ndarray, ys: np.ndarray, level: int,
                  ring_offsets=None) -> np.ndarray:
    """Covering cells of a polygon: the cells of
    :func:`cover_polygon_classified`. E2 in SURVEY.md §2.2. A cell wholly
    inside a hole is excluded."""
    return cover_polygon_classified(xs, ys, level, ring_offsets)[0]


def cover_linestring(xs: np.ndarray, ys: np.ndarray, level: int,
                     ring_offsets=None) -> np.ndarray:
    """Covering cells of a (multi-)linestring: union of each segment's bbox
    cells — a conservative superset (exact for axis-aligned segments); the
    exact-refine phase of any consumer filters false positives, mirroring
    cover_polygon's contract."""
    from spandex_spark.geom import rings_of

    parts = rings_of(np.asarray(xs, np.float64), np.asarray(ys, np.float64),
                     ring_offsets)
    out = []
    for rx, ry in parts:
        for i in range(rx.shape[0] - 1):
            out.append(cover_bbox(min(rx[i], rx[i + 1]), min(ry[i], ry[i + 1]),
                                  max(rx[i], rx[i + 1]), max(ry[i], ry[i + 1]),
                                  level))
    if not out:
        return np.array([], dtype=np.int64)
    return np.unique(np.concatenate(out))


def cover_segment(ax: float, ay: float, bx: float, by: float,
                  level: int) -> np.ndarray:
    """Cells whose CLOSED square intersects the segment (Liang-Barsky clip
    over the segment-bbox candidate cells). Exactness contract for the
    cells-strategy nearest-line join: a SUBSET proof for the radius ladder
    (every returned cell really touches the segment, so a covered cell in
    the search box bounds the line's distance) AND a superset of the
    open-cell cover for candidate enumeration."""
    cands = cover_bbox(min(ax, bx), min(ay, by), max(ax, bx), max(ay, by),
                       level)
    if cands.shape[0] <= 1:
        return cands
    lon0, lat0, lon1, lat1 = cell_bounds(cands)
    dx, dy = bx - ax, by - ay
    t0 = np.zeros(cands.shape[0])
    t1 = np.ones(cands.shape[0])
    for p, q0, q1 in ((dx, lon0 - ax, lon1 - ax), (dy, lat0 - ay, lat1 - ay)):
        if p > 0:
            t0 = np.maximum(t0, q0 / p)
            t1 = np.minimum(t1, q1 / p)
        elif p < 0:
            t0 = np.maximum(t0, q1 / p)
            t1 = np.minimum(t1, q0 / p)
        else:  # axis-parallel: the segment stays at offset 0 on this axis
            t0 = np.where((q0 > 0) | (q1 < 0), 2.0, t0)
    return cands[t0 <= t1]


def level_for_extent(extent_deg: float, target_cells_per_feature: float = 4.0) -> int:
    """Pick the cell level whose square is roughly the feature extent, so a
    typical feature explodes into ~target_cells_per_feature covering cells."""
    if extent_deg <= 0:
        return MAX_LEVEL
    import math
    level = int(math.floor(math.log2(360.0 / extent_deg * math.sqrt(target_cells_per_feature) / 2.0)))
    return max(0, min(MAX_LEVEL, level))
