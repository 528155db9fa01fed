"""Quadkey cell ids and the bbox pair join as Spark SQL text.

The point-side cell assignment is the hottest expression in every spatial
join — evaluating it as a pandas UDF costs a full Arrow round trip per
pass, and Catalyst may safely evaluate join-key expressions twice
(null-filter + projection). The morton interleave is 12 shift/and/or ops
per coordinate (the classic spread-bits ladder), so it runs entirely
inside codegen here. Bit-identical to cells.cell_of (tested in
tests/test_cells_sql.py): the same FLOOR/greatest/least/shiftleft/&/| in
the same order. A NULL coordinate gives a NULL grid coordinate and so a
NULL cell, never a real one.

SQL text is the one route: every expression here takes its inputs as
SQL text and is one ``F.expr``, so the whole ladder is parsed by a
single py4j call and building a query costs a few driver round trips
instead of hundreds (driver-side construction is wall time a short
query pays before anything runs).

``bbox_pairs`` is the one candidate-pair join of the two-layer operators
(overlay, predicate joins, erase_join, snap_to_layer, split_by_lines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spandex_spark.cells import LEVEL_SHIFT

_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
_LON = (-180.0, 360.0)
_LAT = (-90.0, 180.0)


def _spread_sql(v: str) -> str:
    for shift, mask in _MASKS:
        v = f"(({v} | shiftleft({v}, {shift})) & {mask})"
    return v


def _grid_coord_sql(coord: str, origin: float, extent: float,
                    level: int) -> str:
    n = 1 << level
    # same op order as cells.grid_coords: (coord - origin)/extent * n → floor
    g = (f"CAST(FLOOR((({coord}) - {origin!r}) / {extent!r} * "
         f"{float(n)!r}) AS BIGINT)")
    # greatest/least skip NULL, so the clamp alone would put a NULL
    # coordinate in an edge cell; the CASE keeps it NULL
    return (f"CASE WHEN ({coord}) IS NOT NULL THEN greatest(CAST(0 AS BIGINT), "
            f"least(CAST({n - 1} AS BIGINT), {g})) END")


def _morton_sql(gx: str, gy: str, level: int) -> str:
    return (f"(({level << LEVEL_SHIFT} | {_spread_sql(gx)}) | "
            f"shiftleft({_spread_sql(gy)}, 1))")


def grid_coord_expr(coord: str, origin: float, extent: float,
                    level: int) -> Column:
    """Clamped integer grid coordinate of ``coord`` (cells.grid_coords)."""
    return F.expr(_grid_coord_sql(coord, origin, extent, level))


def cell_of_expr(lon: str, lat: str, level: int) -> Column:
    """JVM-side equivalent of cells.cell_of (same floats, same bits)."""
    return F.expr(_morton_sql(_grid_coord_sql(lon, *_LON, level),
                              _grid_coord_sql(lat, *_LAT, level), level))


def bbox_of(geom: str) -> tuple[str, str, str, str]:
    """(minx, miny, maxx, maxy) SQL text of a geometry struct's bbox."""
    return tuple(f"{geom}.bbox.{f}" for f in ("minx", "miny", "maxx", "maxy"))


def explode_bbox_cells(df: DataFrame, bbox, level: int) -> DataFrame:
    """One row per cell covering ``bbox`` (SQL text (minx, miny, maxx,
    maxy)): adds its grid coordinates ``_bgx``, ``_bgy`` and its ``cell``.
    Two scalar sequence-explodes and the morton ladder over their
    outputs, all in whole-stage codegen; the same cells, clamping and ids
    as cells.cover_bbox."""
    x0, y0, x1, y1 = bbox
    gx = (_grid_coord_sql(x0, *_LON, level), _grid_coord_sql(x1, *_LON, level))
    gy = (_grid_coord_sql(y0, *_LAT, level), _grid_coord_sql(y1, *_LAT, level))
    return (df.withColumn("_bgx", F.expr(f"explode(sequence({gx[0]}, {gx[1]}))"))
            .withColumn("_bgy", F.expr(f"explode(sequence({gy[0]}, {gy[1]}))"))
            .withColumn("cell", F.expr(_morton_sql("_bgx", "_bgy", level))))


def bbox_pairs(left: DataFrame, right: DataFrame, level: int, *,
               left_bbox, right_bbox,
               broadcast_right: bool = True) -> DataFrame:
    """One row per (left, right) pair whose bboxes meet (closed test:
    touching bboxes meet), carrying both sides' columns and ``cell``.

    Both bboxes (SQL text (minx, miny, maxx, maxy)) are covered by their
    grid cells and the sides join on ``cell``. A pair meets in every cell
    both covers hold, so it is kept only in the cell holding its
    bbox-intersection min corner (Patel & DeWitt's reference point): that
    corner lies in one covering cell of BOTH sides, so every meeting pair
    comes back exactly once and there is no dedup shuffle. The corner is
    tested on grid coordinates against the left row's exploded
    (``_bgx``, ``_bgy``), which at a fixed level names the same cell as
    the morton key, so each coordinate is floored once."""
    lx0, ly0, lx1, ly1 = left_bbox
    rx0, ry0, rx1, ry1 = right_bbox
    lcells = explode_bbox_cells(left, left_bbox, level)
    rcells = explode_bbox_cells(right, right_bbox, level).drop("_bgx", "_bgy")
    if broadcast_right:
        rcells = F.broadcast(rcells)
    ref_gx = _grid_coord_sql(f"greatest({lx0}, {rx0})", *_LON, level)
    ref_gy = _grid_coord_sql(f"greatest({ly0}, {ry0})", *_LAT, level)
    keep = (f"({lx0}) <= ({rx1}) AND ({lx1}) >= ({rx0}) AND "
            f"({ly0}) <= ({ry1}) AND ({ly1}) >= ({ry0}) AND "
            f"{ref_gx} = _bgx AND {ref_gy} = _bgy")
    return (lcells.join(rcells, "cell", "inner").filter(F.expr(keep))
            .drop("_bgx", "_bgy"))
