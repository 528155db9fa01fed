"""O1/E1 — point-in-polygon tagging via two-phase cell join.

Reference semantics: spandex/spatialtoolz.py::tag — label each target row
with the id of the source polygon containing it (PostGIS
``ST_Contains(src.geom, ST_Centroid(tgt.geom))``). Here the ST_Contains is
a coarse quadkey-cell equi-join (Catalyst broadcast or shuffle hash join,
AQE-managed) followed by an exact ray-cast refine — the load-bearing
pattern for every spatial operator in this engine.

Scale notes (100 TB):
- the point side streams; its cell key is a PURE JVM expression
  (functions/cells_sql.py) — no Python crossing, and Catalyst may safely
  evaluate it twice (join-key null filter + projection) at codegen speed;
- the polygon side explodes into covering cells, each flagged FULL when
  it lies entirely inside its polygon; fringe cells carry the polygon's
  ray-cast edges as an array column. Grouped by cell into id-sorted
  candidate lists, that table is broadcast when small (zone layers
  almost always are) and shuffled on the cell key when not
  (``broadcast_polys=False``) — the only difference between routes;
- each point row left-joins its cell's candidate list and keeps the
  first candidate that passes ``_full OR ray_cast(...)``: one JVM
  expression, so the point stream never crosses into Python, whatever
  the polygon shapes, and the min-id winner is resolved inside the row
  (no shuffle of point rows on the broadcast route, no join back).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spandex_spark.functions.cells_sql import cell_of_expr
from spandex_spark.functions.spatial import (
    cover_cells_classified_udf, geom_centroid_udf)


def ray_cast(px: Column, py: Column, edges: Column) -> Column:
    """geom.points_in_polygon as one Spark SQL expression: even-odd parity
    of the +x ray over ``edges`` (array<struct<x1, y1, x2, y2>>, the
    non-horizontal edges of every ring). Same half-open edge rule and the
    same operation order per edge as the numpy kernel; Java doubles are
    strict IEEE, so the result is bit-identical for every ring. Dropping
    horizontal edges keeps the divisor non-zero, which ANSI mode needs."""
    def flip(inside, e):
        x1, y1, x2, y2 = e["x1"], e["y1"], e["x2"], e["y2"]
        spans = ((y1 <= py) & (py < y2)) | ((y2 <= py) & (py < y1))
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        return inside != (spans & (px < xint))
    return F.aggregate(edges, F.lit(False), flip)


def _cell_table(polygons: DataFrame, poly_id_col: str,
                poly_attr_cols: tuple[str, ...], level: int) -> DataFrame:
    """One row per (polygon, covering cell): ``_pid``, ``_attr_*``,
    ``cell``, ``_full`` and, on fringe cells only, ``_edges``."""
    cover = cover_cells_classified_udf(F.col("geom"), level)
    return (polygons.select(
        F.col(poly_id_col).alias("_pid"),
        *[F.col(c).alias(f"_attr_{c}") for c in poly_attr_cols],
        cover.alias("_cov"))
        .withColumn("_cc", F.explode("_cov.cells"))
        .select("*", F.col("_cc.cell").alias("cell"),
                F.col("_cc.full").alias("_full"),
                F.when(~F.col("_cc.full"), F.col("_cov.edges")).alias("_edges"))
        .drop("_cov", "_cc"))


class PolygonIndex:
    """Reusable cell index of a (broadcast-sized) polygon layer — the
    rebuild's analog of the GiST index PostGIS builds at LOAD time
    (spandex/io.py geometry-index DDL, O11): the covering-cell table,
    edges included, persisted once. Build once per layer+level; reuse
    across every query/batch so steady-state throughput isn't charged the
    index build (exactly as the reference never re-builds GiST per query)."""

    # read by perfbench/workloads.py::tag_probe; every layer's fringe rows
    # go through the ray cast, so no layer is refined without one
    all_rects = False

    def __init__(self, polygons: DataFrame, *, poly_id_col: str, level: int,
                 poly_attr_cols: tuple[str, ...] = ()):
        self.level = level
        self.poly_id_col = poly_id_col
        self.poly_attr_cols = poly_attr_cols
        self.cells_df = _cell_table(polygons, poly_id_col, poly_attr_cols,
                                    level).persist()
        self.cells_df.count()


def _candidates(cells_df: DataFrame,
                poly_attr_cols: tuple[str, ...]) -> DataFrame:
    """One row per cell: ``_cell`` and ``_cands``, the cell's candidate
    polygons as structs (``_pid``, ``_full``, ``_edges``, ``_attr_*``)
    sorted by ``_pid``. Polygons with a NULL id are left out: they never
    win, as ``min`` over the ids ignored them."""
    def by_pid(a, b):
        return (F.when(a["_pid"] < b["_pid"], -1)
                .when(a["_pid"] > b["_pid"], 1).otherwise(0))

    cand = F.struct("_pid", "_full", "_edges",
                    *[f"_attr_{c}" for c in poly_attr_cols])
    return (cells_df.filter(F.col("_pid").isNotNull())
            .groupBy(F.col("cell").alias("_cell"))
            .agg(F.array_sort(F.collect_list(cand), by_pid).alias("_cands")))


def tag_points(points: DataFrame, polygons: DataFrame, *,
               poly_id_col: str, point_id_col: str, level: int = 9,
               lon_col: str = "lon", lat_col: str = "lat",
               poly_attr_cols: tuple[str, ...] = (),
               broadcast_polys: bool = True,
               assume_disjoint: bool = False,
               index: PolygonIndex | None = None) -> DataFrame:
    """Tag each point with the containing polygon's id (NULL if none).

    Returns all point columns + ``poly_id_col`` (+ requested polygon attrs).
    For disjoint polygon layers each point matches at most one polygon; for
    overlapping layers the smallest ``poly_id_col`` wins (deterministic),
    attributes included; a polygon with a NULL id never wins. A point with
    a NULL lon or lat has a NULL cell key (cells_sql.cell_of_expr), joins
    no candidate list and tags NULL.

    Each point row left-joins the candidate list of its own cell (the
    cell's covering polygons, sorted by id) and keeps the first candidate
    that holds it: its cell is FULL, or else the ray cast over the
    polygon's edges (``ray_cast``, the exact even-odd rule of
    geom.points_in_rings: holes and multipart included, left/bottom
    boundaries inside) says so. So the winner is resolved inside the row:
    no grouping by point and no join back, and the point side is read
    once. ``broadcast_polys=False`` shuffles the candidate table instead
    of broadcasting it; an ``index`` is always broadcast and replaces
    ``polygons``, ``poly_id_col``, ``level`` and ``poly_attr_cols``.
    ``point_id_col`` is accepted for callers that name it; the route does
    not need a point id.

    ``assume_disjoint=True`` drops the points no polygon holds (inner
    semantics, e.g. a streaming append sink that wants tagged rows only).
    """
    if index is not None:
        level = index.level
        poly_id_col = index.poly_id_col
        poly_attr_cols = index.poly_attr_cols
        cells_df = index.cells_df
    else:
        cells_df = _cell_table(polygons, poly_id_col, poly_attr_cols, level)
    cands = _candidates(cells_df, poly_attr_cols)
    if index is not None or broadcast_polys:
        cands = F.broadcast(cands)

    lon, lat = F.col(lon_col), F.col(lat_col)
    win = F.get(F.filter("_cands", lambda c: c["_full"]
                         | ray_cast(lon, lat, c["_edges"])), 0)
    out = (points.withColumn(
               "_cell", cell_of_expr(f"`{lon_col}`", f"`{lat_col}`", level))
           .join(cands, "_cell", "left")
           .withColumn("_win", win))
    if assume_disjoint:
        out = out.filter(F.col("_win").isNotNull())
    return out.select(
        *[F.col(c) for c in points.columns],
        F.col("_win._pid").alias(poly_id_col),
        *[F.col(f"_win._attr_{c}").alias(c) for c in poly_attr_cols])


def tag(targets: DataFrame, polygons: DataFrame, *,
        poly_id_col: str, target_id_col: str, level: int = 9,
        poly_attr_cols: tuple[str, ...] = ()) -> DataFrame:
    """Polygon-target variant of spandex/spatialtoolz.py::tag: tags each
    target polygon by the source polygon containing its centroid
    (ST_Centroid + ST_Contains)."""
    cent = targets.withColumn("_c", geom_centroid_udf(F.col("geom")))
    cent = cent.withColumn("_clon", F.col("_c.cx")).withColumn("_clat", F.col("_c.cy")).drop("_c")
    out = tag_points(cent, polygons, poly_id_col=poly_id_col,
                     point_id_col=target_id_col, level=level,
                     lon_col="_clon", lat_col="_clat",
                     poly_attr_cols=poly_attr_cols)
    return out.drop("_clon", "_clat")
