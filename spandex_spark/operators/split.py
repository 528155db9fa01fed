"""ST_Split / vector polygonize — faces of a planar arrangement.

``split_by_lines`` is the PostGIS ST_Split(polygon, blade) join form:
every target polygon is cut by ALL blade linestrings overlapping it in
one pass (parcel-by-road splitting, admin-boundary partitioning).
``polygonize_linework`` is the GEOS Polygonizer: closed faces of
fully-noded linework per group (e.g. re-assembling parcel fabrics from
boundary line layers); dangles are ignored, nested faces become holes
of their direct container AND stay faces of their own, matching GEOS.

Both sit on ``geom.arrangement_faces`` — the both-directions
clockwise-most-turn face walk over the same noding/snapping pass the
boolean kernel uses (SURVEY.md §2.1 O4/O6 family). Plan shape for the
join form is the erase_join/intersection_join chassis: bbox-cover cells
both sides, Patel–DeWitt reference-point dedup
(functions/cells_sql.bbox_pairs), ONE groupBy(target) that ships each
target exactly its overlapping blades, then a per-group Arrow kernel.
Targets no blade overlaps bypass the kernel entirely (anti-join union),
so the Python path is sized by actually-cut polygons. Same
executor-sized-group contract as union_by: one target's blades must fit
a task.

Tolerance contract: the arrangement's (quant snapping, eps_off
side-probe) rules apply; faces thinner than eps_off may misclassify
their polygon membership.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spandex_spark import geom as _geom
from spandex_spark.operators.trim import _GEOM_TYPE

__all__ = ["split_by_lines", "polygonize_linework", "node_lines"]


def _line_segments(geoms) -> tuple:
    """Flatten kind-2 line structs (parts OPEN, ring_offsets delimit
    parts) into bare segment arrays for arrangement_faces."""
    ax, ay, bx, by = [], [], [], []
    for g in geoms:
        xs = np.asarray(g["xs"], np.float64)
        ys = np.asarray(g["ys"], np.float64)
        offs = g["ring_offsets"]
        offs = (np.asarray(offs, np.int64) if offs is not None
                else np.array([0, xs.shape[0]], np.int64))
        for s, e in zip(offs[:-1], offs[1:]):
            if e - s < 2:
                continue
            ax.append(xs[s:e - 1]); ay.append(ys[s:e - 1])
            bx.append(xs[s + 1:e]); by.append(ys[s + 1:e])
    if not ax:
        return (np.empty(0), np.empty(0), np.empty(0), np.empty(0))
    return (np.concatenate(ax), np.concatenate(ay),
            np.concatenate(bx), np.concatenate(by))


def _probe_inside(cx: np.ndarray, cy: np.ndarray, eps: float):
    """A point just inside a CCW cycle: first-edge midpoint + eps·left
    normal (interior is on the left of a CCW boundary)."""
    dx, dy = cx[1] - cx[0], cy[1] - cy[0]
    ln = float(np.hypot(dx, dy))
    return ((cx[0] + cx[1]) / 2.0 - eps * dy / ln,
            (cy[0] + cy[1]) / 2.0 + eps * dx / ln)


def _attach_holes(cycles: list, keep_mask: list, eps: float):
    """Face assembly from CCW cycles: every kept cycle becomes a
    polygon; a cycle nests as a CW hole of its DIRECT (smallest-area
    containing) cycle, and only when that direct container is kept —
    attaching across an UN-kept intermediate would double-cover an
    island nested inside a hole (the container's even-odd region
    already excludes the hole, island included; found in review).
    Returns a list of ring lists."""
    areas = [_geom.shoelace_area(cx, cy) for cx, cy in cycles]
    order = sorted(range(len(cycles)), key=lambda i: areas[i])
    polys = {i: [(cycles[i][0], cycles[i][1])]
             for i in range(len(cycles)) if keep_mask[i]}
    for i in order:
        px, py = _probe_inside(*cycles[i], eps)
        best = None
        for j in range(len(cycles)):
            if j == i or areas[j] <= areas[i]:
                continue
            inside = _geom.points_in_rings(
                np.array([px]), np.array([py]),
                cycles[j][0], cycles[j][1],
                np.array([0, cycles[j][0].shape[0]]))[0]
            if inside and (best is None or areas[j] < areas[best]):
                best = j
        if best is not None and best in polys:
            polys[best].append((cycles[i][0][::-1], cycles[i][1][::-1]))
    return [polys[i] for i in sorted(polys)]


def _rings_to_struct(rings: list):
    xs = np.concatenate([r[0] for r in rings])
    ys = np.concatenate([r[1] for r in rings])
    offs = np.cumsum([0] + [r[0].shape[0] for r in rings])
    return {"kind": 3, "xs": xs.tolist(), "ys": ys.tolist(),
            "ring_offsets": [int(v) for v in offs],
            "bbox": {"minx": float(xs.min()), "miny": float(ys.min()),
                     "maxx": float(xs.max()), "maxy": float(ys.max())}}


def _split_one(tgeom: dict, blades: list, quant: float) -> list:
    """Faces of one polygon cut by its blades: list of geom structs,
    deterministically ordered (area desc, then bbox)."""
    xs = np.asarray(tgeom["xs"], np.float64)
    ys = np.asarray(tgeom["ys"], np.float64)
    offs = tgeom["ring_offsets"]
    offs = (np.asarray(offs, np.int64)
            if offs is not None and len(offs) > 2 else None)
    segs = _line_segments(blades)
    diag = max(float(xs.max() - xs.min()), float(ys.max() - ys.min()), 1.0)
    eps = 1e-7 * diag
    cycles = _geom.arrangement_faces([(xs, ys, offs)], segs, quant=quant)
    if not cycles:
        return []
    roffs = offs if offs is not None else np.array([0, xs.shape[0]])
    keep = []
    for cx, cy in cycles:
        px, py = _probe_inside(cx, cy, eps)
        keep.append(bool(_geom.points_in_rings(
            np.array([px]), np.array([py]), xs, ys, roffs)[0]))
    faces = _attach_holes(cycles, keep, eps)
    faces.sort(key=lambda rr: (-abs(_geom.rings_area(
        np.concatenate([r[0] for r in rr]),
        np.concatenate([r[1] for r in rr]),
        np.cumsum([0] + [r[0].shape[0] for r in rr]))),
        float(min(r[0].min() for r in rr)),
        float(min(r[1].min() for r in rr))))
    return [_rings_to_struct(rr) for rr in faces]


def split_by_lines(targets: DataFrame, blades: DataFrame, *,
                   target_id_col: str, level: int = 8,
                   broadcast_blades: bool = True, quant: float = 1e-9,
                   out_col: str = "geom") -> DataFrame:
    """ST_Split as a two-layer join: (target_id, face_idx, out_col) with
    one row per face.  Uncut targets pass through as face 0 without
    touching Python."""
    from spandex_spark.functions.cells_sql import bbox_of, bbox_pairs
    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"))
    bld = blades.select(F.col("geom").alias("_bgeom"))
    pairs = bbox_pairs(tgt, bld, level, left_bbox=bbox_of("_tgeom"),
                       right_bbox=bbox_of("_bgeom"),
                       broadcast_right=broadcast_blades)

    id_type = targets.schema[target_id_col].dataType
    out_schema = T.StructType([
        T.StructField(target_id_col, id_type),
        T.StructField("face_idx", T.IntegerType()),
        T.StructField(out_col, _GEOM_TYPE)])

    def _split_group(pdf: pd.DataFrame) -> pd.DataFrame:
        tid = pdf["_tid"].iloc[0]
        faces = _split_one(pdf["_tgeom"].iloc[0], list(pdf["_bgeom"]),
                           quant)
        # columns= is load-bearing: an empty face list must yield an
        # EMPTY 3-column frame, not a 0-column one (Arrow schema crash)
        return pd.DataFrame(
            [{target_id_col: tid, "face_idx": i, out_col: f}
             for i, f in enumerate(faces)],
            columns=[target_id_col, "face_idx", out_col])

    cut = pairs.groupBy("_tid").applyInPandas(_split_group, out_schema)
    untouched = (tgt.join(pairs.select("_tid").distinct(), "_tid",
                          "left_anti")
                 .select(F.col("_tid").alias(target_id_col),
                         F.lit(0).alias("face_idx"),
                         F.col("_tgeom").alias(out_col)))
    return cut.unionByName(untouched)


def polygonize_linework(lines: DataFrame, *, group_cols: tuple,
                        geom_col: str = "geom", quant: float = 1e-9,
                        out_col: str = "geom") -> DataFrame:
    """GEOS Polygonizer per group: faces of the group's noded linework
    (dangles ignored; nested faces become holes of their direct
    container and faces of their own).  Output: group_cols + (face_idx,
    out_col).  One group's linework must fit a task (union_by
    contract); group by tile/region for planet-scale fabrics."""
    if not group_cols:
        raise ValueError("group_cols required: a global polygonize is "
                         "one task — group by tile/region instead")
    sel = lines.select(*group_cols, F.col(geom_col).alias("_lgeom"))
    gfields = [lines.schema[c] for c in group_cols]
    out_schema = T.StructType(
        list(gfields) + [T.StructField("face_idx", T.IntegerType()),
                         T.StructField(out_col, _GEOM_TYPE)])

    def _poly_group(key, pdf):
        segs = _line_segments(list(pdf["_lgeom"]))
        if segs[0].shape[0] == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema])
        diag = max(float(np.max([segs[0].max(), segs[2].max()])
                         - np.min([segs[0].min(), segs[2].min()])),
                   float(np.max([segs[1].max(), segs[3].max()])
                         - np.min([segs[1].min(), segs[3].min()])), 1.0)
        eps = 1e-7 * diag
        cycles = _geom.arrangement_faces([], segs, quant=quant)
        faces = _attach_holes(cycles, [True] * len(cycles), eps)
        faces.sort(key=lambda rr: (-abs(_geom.rings_area(
            np.concatenate([r[0] for r in rr]),
            np.concatenate([r[1] for r in rr]),
            np.cumsum([0] + [r[0].shape[0] for r in rr]))),
            float(min(r[0].min() for r in rr)),
            float(min(r[1].min() for r in rr))))
        rows = []
        for i, rr in enumerate(faces):
            row = dict(zip(group_cols, key))
            row["face_idx"] = i
            row[out_col] = _rings_to_struct(rr)
            rows.append(row)
        return pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return sel.groupBy(*group_cols).applyInPandas(_poly_group, out_schema)


def node_lines(lines: DataFrame, *, group_cols: tuple,
               geom_col: str = "geom", quant: float = 1e-9,
               out_col: str = "geom") -> DataFrame:
    """ST_Node per group: fully node the linework — every crossing and
    collinear overlap becomes a vertex, coincident duplicate sub-edges
    collapse to one (geom._noded_subedges, the boolean kernel's pass
    1–2).  Output: group_cols + (edge_idx, out_col) with one
    SINGLE-SEGMENT kind-2 struct per surviving sub-edge, deterministic
    (sorted by coordinates) — the precondition normalizer for
    polygonize_linework and topology building.  Same per-group task
    contract as the other arrangement operators."""
    if not group_cols:
        raise ValueError("group_cols required (tile/region the linework)")
    sel = lines.select(*group_cols, F.col(geom_col).alias("_lgeom"))
    gfields = [lines.schema[c] for c in group_cols]
    out_schema = T.StructType(
        list(gfields) + [T.StructField("edge_idx", T.IntegerType()),
                         T.StructField(out_col, _GEOM_TYPE)])

    def _node_group(key, pdf):
        ax, ay, bx, by = _line_segments(list(pdf["_lgeom"]))
        nz = (ax != bx) | (ay != by)
        ax, ay, bx, by = ax[nz], ay[nz], bx[nz], by[nz]
        if ax.shape[0] == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema])
        keys, _ = _geom._noded_subedges(ax, ay, bx, by, quant, None)
        segs = sorted((a, b) if (a <= b) else (b, a) for a, b in keys)
        rows = []
        for i, ((x1, y1), (x2, y2)) in enumerate(segs):
            row = dict(zip(group_cols, key))
            row["edge_idx"] = i
            row[out_col] = {
                "kind": 2, "xs": [x1, x2], "ys": [y1, y2],
                "ring_offsets": [0, 2],
                "bbox": {"minx": min(x1, x2), "miny": min(y1, y2),
                         "maxx": max(x1, x2), "maxy": max(y1, y2)}}
            rows.append(row)
        return pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return sel.groupBy(*group_cols).applyInPandas(_node_group, out_schema)
