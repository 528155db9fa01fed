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
  ray-cast edges as an array column. That cell table is broadcast when
  small (zone layers almost always are) and shuffled on ``cell`` when
  not (``broadcast_polys=False``) — the only difference between routes;
- the refine is one JVM expression on either route, ``_full OR
  ray_cast(...)``, so the point stream never crosses into Python,
  whatever the polygon shapes.
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
    overlapping layers the smallest ``poly_id_col`` wins (deterministic).

    Each point joins the covering cells of its own cell. A candidate is a
    hit when its cell is FULL, or else when the ray cast over the
    polygon's edges (``ray_cast``, the exact even-odd rule of
    geom.points_in_rings: holes and multipart included, left/bottom
    boundaries inside) says so. ``broadcast_polys=False`` shuffles the
    cell table instead of broadcasting it; an ``index`` is always
    broadcast and replaces ``polygons``, ``poly_id_col``, ``level`` and
    ``poly_attr_cols``.

    ``assume_disjoint=True`` (zone/parcel layers — polygons don't overlap):
    a point sits in exactly one cell and a polygon covers that cell once,
    so each point produces at most one refined hit — the groupBy resolver
    and the join-back are skipped entirely (two shuffles saved; unmatched
    points are dropped, i.e. inner semantics).
    """
    if index is not None:
        level = index.level
        poly_id_col = index.poly_id_col
        poly_attr_cols = index.poly_attr_cols
        cells_df = index.cells_df
    else:
        cells_df = _cell_table(polygons, poly_id_col, poly_attr_cols, level)
    if index is not None or broadcast_polys:
        cells_df = F.broadcast(cells_df)

    pts = points.withColumn(
        "cell", cell_of_expr(f"`{lon_col}`", f"`{lat_col}`", level))
    inside = F.col("_full") | ray_cast(F.col(lon_col), F.col(lat_col),
                                       F.col("_edges"))
    hits = pts.join(cells_df, "cell", "inner").filter(inside)

    if assume_disjoint:
        return hits.select(
            *[F.col(c) for c in points.columns],
            F.col("_pid").alias(poly_id_col),
            *[F.col(f"_attr_{c}").alias(c) for c in poly_attr_cols])

    # winner per point: min poly id (unique anyway for disjoint layers).
    agg_cols = [F.min("_pid").alias(poly_id_col)] + [
        F.min_by(f"_attr_{c}", "_pid").alias(c) for c in poly_attr_cols]
    winners = hits.groupBy(point_id_col).agg(*agg_cols)

    return points.join(winners, point_id_col, "left")


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
