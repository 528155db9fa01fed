"""ST_Subdivide analog: split large polygons into cell-aligned pieces.

PostGIS pipelines (the reference's habitat — spandex delegates geometry
to PostGIS SQL, SURVEY.md §1) routinely ST_Subdivide big parcels/admin
polygons before joins so each piece carries few vertices and a tight
bbox; every downstream index probe then touches less geometry. The
Spark-native translation: cut each polygon along the quadkey grid
(`cells.py` — the engine's spatial index), producing one piece per
covering cell. That makes the piece table CO-LOCATED BY CONSTRUCTION:
each piece lies inside exactly one cell, so piece.cell is an exact
equi-join key (a point in cell C can only hit pieces with cell C — no
fringe ambiguity), and pieces bound kernel cost per row.

Per piece geometry:
* FULL interior cells (no edge meets the cell square and its centre is
  inside, `cells.cover_polygon_classified`) emit the cell square itself —
  no clipping runs; for fine levels this is most pieces.
* Fringe cells clip via the exact boolean kernel
  (`geom.boolean_rings` intersection with the cell rect), holes and
  multiparts handled by the arrangement; empty intersections drop, so a
  cell that an edge only touches emits no piece.

Invariants (pytested): piece areas sum to the polygon area (arrangement
quantization ~1e-9); pieces are disjoint (cell grid is a partition);
tagging points against pieces on the piece cell key equals tagging
against the originals.

Ring orientation does not matter here: the cover classification uses
only even-odd PIP and edge positions, and the clip's arrangement keeps
the faces that even-odd PIP puts inside.

Scale shape: one Arrow pass over the polygon table, NO shuffle — the
fan-out happens inside the batch. Output size is ~4^level pieces per
polygon at the auto level (`cells.level_for_extent`, default ~16
cells/feature); pass ``level=`` to pin it. This is the construction
step; it runs once per layer, like PolygonIndex builds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spandex_spark import cells as C
from spandex_spark import geom as G

_PIECE_TYPE = T.StructType([
    T.StructField("cells", T.ArrayType(T.LongType())),
    T.StructField("kinds", T.ArrayType(T.ByteType())),
    T.StructField("xs", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("ys", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("ring_offsets", T.ArrayType(T.ArrayType(T.LongType()))),
])


def _pieces_of(x_arr, y_arr, o_arr, level: int | None,
               target_cells: float):
    xs = np.asarray(x_arr, np.float64)
    ys = np.asarray(y_arr, np.float64)
    offs = (np.asarray(o_arr, np.int64)
            if o_arr is not None and len(o_arr) > 2 else None)
    minx, miny, maxx, maxy = G.rings_bbox(xs, ys)
    lvl = level if level is not None else C.level_for_extent(
        max(maxx - minx, maxy - miny), target_cells)
    cands, full = C.cover_polygon_classified(xs, ys, lvl, offs)
    out_cells, out_kind, out_xs, out_ys, out_off = [], [], [], [], []
    lon0, lat0, lon1, lat1 = C.cell_bounds(cands)
    for i in range(cands.shape[0]):
        if full[i]:
            rx = np.array([lon0[i], lon1[i], lon1[i], lon0[i], lon0[i]])
            ry = np.array([lat0[i], lat0[i], lat1[i], lat1[i], lat0[i]])
            rings = [(rx, ry)]
        else:
            rect_x = np.array([lon0[i], lon1[i], lon1[i], lon0[i], lon0[i]])
            rect_y = np.array([lat0[i], lat0[i], lat1[i], lat1[i], lat0[i]])
            rings = G.boolean_rings(
                [(xs, ys, offs)], [(rect_x, rect_y, None)], "intersection")
            if not rings:
                continue
        ax = np.concatenate([r[0] for r in rings])
        ay = np.concatenate([r[1] for r in rings])
        ro = np.cumsum([0] + [r[0].shape[0] for r in rings])
        out_cells.append(int(cands[i]))
        out_kind.append(3 if len(rings) == 1 else 6)
        out_xs.append(ax.tolist())
        out_ys.append(ay.tolist())
        out_off.append([int(v) for v in ro])
    return out_cells, out_kind, out_xs, out_ys, out_off


def subdivide(df: DataFrame, *, geom_col: str = "geom",
              level: int | None = None,
              target_cells: float = 16.0) -> DataFrame:
    """One output row per (input row × covering cell at ``level``):
    input columns + ``piece_cell`` (the exact co-location key),
    ``piece_seq`` and a ``piece`` geometry struct (same SoA shape as
    ``geom_col``). ``level=None`` auto-picks per polygon via
    `cells.level_for_extent` (~``target_cells`` pieces/feature).
    NULL geometries produce no rows (like exploding an empty array)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_PIECE_TYPE)
    def _sub(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.DataFrame:
        cc, kk, px, py, po = [], [], [], [], []
        for x_arr, y_arr, o_arr in zip(xs, ys, offs):
            if x_arr is None or len(x_arr) < 3:
                cc.append(None); kk.append(None); px.append(None)
                py.append(None); po.append(None)
                continue
            c, k, oxs, oys, ooff = _pieces_of(
                x_arr, y_arr, o_arr, level, target_cells)
            cc.append(c); kk.append(k); px.append(oxs)
            py.append(oys); po.append(ooff)
        return pd.DataFrame({"cells": cc, "kinds": kk, "xs": px,
                             "ys": py, "ring_offsets": po})

    g = F.col(geom_col)
    packed = df.withColumn(
        "_pk", _sub(g["xs"], g["ys"], g["ring_offsets"]))
    n = F.size(F.col("_pk.cells"))
    idx = F.posexplode(F.sequence(F.lit(0), n - 1))
    exploded = (packed.filter(n > 0)
                .select("*", idx.alias("_i", "_seq"))
                .drop("_i"))
    e = F.col("_pk")
    piece_xs = F.element_at(e["xs"], F.col("_seq") + 1)
    piece_ys = F.element_at(e["ys"], F.col("_seq") + 1)
    piece = F.struct(
        F.element_at(e["kinds"], F.col("_seq") + 1).alias("kind"),
        piece_xs.alias("xs"),
        piece_ys.alias("ys"),
        F.element_at(e["ring_offsets"], F.col("_seq") + 1)
         .cast("array<int>").alias("ring_offsets"),
        F.struct(F.array_min(piece_xs).alias("minx"),
                 F.array_min(piece_ys).alias("miny"),
                 F.array_max(piece_xs).alias("maxx"),
                 F.array_max(piece_ys).alias("maxy")).alias("bbox"))
    return (exploded
            .withColumn("piece_cell", F.element_at(e["cells"],
                                                   F.col("_seq") + 1))
            .withColumn("piece_seq", F.col("_seq"))
            .withColumn("piece", piece)
            .drop("_pk", "_seq"))
