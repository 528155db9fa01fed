"""O4 — geometry trim/clip.

Reference semantics: spandex/spatialtoolz.py::trim — clip target geometries
to a boundary via ST_Intersection, keeping the clipped geometry (not just
its area, which is O2's job). Convex boundaries (the common case:
study-area rectangles/hulls) clip each ring with one Sutherland–Hodgman
pass; non-convex boundaries are ear-clipped into triangles and the output
is the exact triangle-tiled intersection (a multipolygon whose even-odd
region and area equal ST_Intersection's). Multi-ring targets clip per
ring (holes stay holes). Same struct-of-arrays geometry encoding out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spandex_spark import geom as _geom

_GEOM_TYPE = T.StructType([
    T.StructField("kind", T.ByteType()),
    T.StructField("xs", T.ArrayType(T.DoubleType())),
    T.StructField("ys", T.ArrayType(T.DoubleType())),
    T.StructField("ring_offsets", T.ArrayType(T.IntegerType())),
    T.StructField("bbox", T.StructType([
        T.StructField("minx", T.DoubleType()), T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()), T.StructField("maxy", T.DoubleType())])),
])


def trim(targets: DataFrame, boundary_xs: np.ndarray, boundary_ys: np.ndarray,
         *, geom_col: str = "geom", out_col: str = "geom_trimmed",
         dissolve: bool = False) -> DataFrame:
    """Clip every target polygon to the (convex, CCW) boundary ring.
    Rows whose geometry is entirely outside get a NULL ``out_col``.

    ``dissolve=True`` merges the non-convex path's triangle-tiled pieces
    into minimal boundary rings (geom.dissolve_rings — directed-edge
    cancellation), so downstream consumers see ST_Intersection-shaped
    geometry instead of a tiling; region and area are unchanged."""
    bx = np.asarray(boundary_xs, np.float64)
    by = np.asarray(boundary_ys, np.float64)
    if _geom.shoelace_area(bx, by) < 0:
        bx, by = bx[::-1].copy(), by[::-1].copy()
    if _geom._is_convex_ccw(bx, by):
        clip_pieces = [(bx, by)]
    else:
        # non-convex boundary: ear-clip it into triangles once (driver
        # side) and clip each ring by each triangle — the pieces tile the
        # true intersection exactly (same identity as
        # geom.polygon_intersection_area), emitted as a multipolygon.
        # Pieces share edges but never overlap, so even-odd semantics and
        # total area are exact; the output is tiled, not dissolved.
        clip_pieces = [(bx[list(t)], by[list(t)])
                       for t in _geom.ear_clip_triangulate(bx, by)]

    @pandas_udf(_GEOM_TYPE)
    def _clip(xs: pd.Series, ys: pd.Series, roffs: pd.Series) -> pd.DataFrame:
        kinds, oxs, oys, offs, bboxes = [], [], [], [], []
        for x_arr, y_arr, o_arr in zip(xs, ys, roffs):
            sx = np.asarray(x_arr, np.float64)
            sy = np.asarray(y_arr, np.float64)
            o = (np.asarray(o_arr, np.int64)
                 if o_arr is not None and len(o_arr) > 2 else None)
            # clip each ring independently: intersecting an even-odd region
            # with a convex window = the even-odd region of the per-ring
            # clips (orientation is preserved by Sutherland–Hodgman)
            out_rings: list[tuple[np.ndarray, np.ndarray]] = []
            for rx, ry in _geom.rings_of(sx, sy, o):
                for px_, py_ in clip_pieces:
                    cx, cy = _geom.clip_polygon_convex(rx, ry, px_, py_)
                    if cx.shape[0] >= 3 and abs(_geom.shoelace_area(cx, cy)) >= 1e-300:
                        out_rings.append((cx, cy))
            if dissolve and len(out_rings) > 1:
                out_rings = _geom.dissolve_rings(out_rings)
            if not out_rings:
                kinds.append(None)
                oxs.append(None)
                oys.append(None)
                offs.append(None)
                bboxes.append(None)
            else:
                all_x = np.concatenate([r[0] for r in out_rings])
                all_y = np.concatenate([r[1] for r in out_rings])
                ro = np.cumsum([0] + [r[0].shape[0] for r in out_rings])
                kinds.append(3 if len(out_rings) == 1 else 6)
                oxs.append(all_x.tolist())
                oys.append(all_y.tolist())
                offs.append([int(v) for v in ro])
                bboxes.append({"minx": float(all_x.min()), "miny": float(all_y.min()),
                               "maxx": float(all_x.max()), "maxy": float(all_y.max())})
        return pd.DataFrame({"kind": pd.array(kinds, dtype="Int8"),
                             "xs": oxs, "ys": oys,
                             "ring_offsets": offs, "bbox": bboxes})

    out = targets.withColumn(
        out_col, _clip(F.col(geom_col)["xs"], F.col(geom_col)["ys"],
                       F.col(geom_col)["ring_offsets"]))
    return out.withColumn(
        out_col, F.when(F.col(f"{out_col}.kind").isNotNull(), F.col(out_col)))


def erase(targets: DataFrame, boundary_xs: np.ndarray,
          boundary_ys: np.ndarray, *, geom_col: str = "geom",
          out_col: str = "geom_erased") -> DataFrame:
    """The complement of trim: ST_Difference(target, boundary) — remove
    the boundary polygon from every target, keeping the OUTSIDE part
    (the GIS 'erase by mask' operation; PostGIS ST_Difference, which
    spandex's spatialtoolz templates reach via SQL).

    Runs geom.boolean_rings(target, boundary, 'difference') per row — the
    planar-arrangement boolean kernel — inside one Arrow-vectorized
    pandas UDF; the boundary (possibly NON-convex, any simple ring) rides
    each task as a closure, same contract as trim/clip_lines. Rows whose
    geometry lies entirely inside the boundary get a NULL ``out_col``;
    holes created by the subtraction come out as CW rings (even-odd)."""
    bx = np.asarray(boundary_xs, np.float64)
    by = np.asarray(boundary_ys, np.float64)
    if _geom.shoelace_area(bx, by) < 0:
        bx, by = bx[::-1].copy(), by[::-1].copy()
    bminx, bminy, bmaxx, bmaxy = bx.min(), by.min(), bx.max(), by.max()

    @pandas_udf(_GEOM_TYPE)
    def _erase(xs: pd.Series, ys: pd.Series, roffs: pd.Series) -> pd.DataFrame:
        kinds, oxs, oys, offs, bboxes = [], [], [], [], []
        for x_arr, y_arr, o_arr in zip(xs, ys, roffs):
            sx = np.asarray(x_arr, np.float64)
            sy = np.asarray(y_arr, np.float64)
            o = (np.asarray(o_arr, np.int64)
                 if o_arr is not None and len(o_arr) > 2 else None)
            # bbox fast path: no overlap with the mask -> geometry unchanged
            if (sx.max() <= bminx or sx.min() >= bmaxx
                    or sy.max() <= bminy or sy.min() >= bmaxy):
                rings = _geom.rings_of(sx, sy, o)
            else:
                rings = _geom.boolean_rings([(sx, sy, o)], [(bx, by, None)],
                                            "difference")
            if not rings:
                kinds.append(None)
                oxs.append(None)
                oys.append(None)
                offs.append(None)
                bboxes.append(None)
                continue
            all_x = np.concatenate([r[0] for r in rings])
            all_y = np.concatenate([r[1] for r in rings])
            ro = np.cumsum([0] + [r[0].shape[0] for r in rings])
            kinds.append(3 if len(rings) == 1 else 6)
            oxs.append(all_x.tolist())
            oys.append(all_y.tolist())
            offs.append([int(v) for v in ro])
            bboxes.append({"minx": float(all_x.min()), "miny": float(all_y.min()),
                           "maxx": float(all_x.max()), "maxy": float(all_y.max())})
        return pd.DataFrame({"kind": pd.array(kinds, dtype="Int8"),
                             "xs": oxs, "ys": oys,
                             "ring_offsets": offs, "bbox": bboxes})

    out = targets.withColumn(
        out_col, _erase(F.col(geom_col)["xs"], F.col(geom_col)["ys"],
                        F.col(geom_col)["ring_offsets"]))
    return out.withColumn(
        out_col, F.when(F.col(f"{out_col}.kind").isNotNull(), F.col(out_col)))


def erase_join(targets: DataFrame, masks: DataFrame, *,
               target_id_col: str, level: int = 8,
               broadcast_masks: bool = True, out_col: str = "geom_erased",
               drop_empty: bool = False) -> DataFrame:
    """Two-LAYER ST_Difference: each target minus the UNION of every mask
    feature overlapping it (the "parcels minus water bodies" join —
    ``erase`` covers only one driver-side mask polygon). Returns
    (target_id_col, out_col); targets no mask touches pass through
    unchanged, fully-erased targets come back NULL (dropped when
    ``drop_empty``).

    Plan shape (the intersection_join chassis): ``cells_sql.bbox_pairs``
    — bbox-cover cells both sides, bbox-disjoint pairs pruned,
    Patel–DeWitt reference-point dedup (no dedup shuffle) — then
    ONE groupBy(target) that ships each target its overlapping masks
    (bounded by real overlap, never the whole mask layer) and runs
    geom.boolean_rings(target, masks, 'difference') — holes, multiparts,
    masks overlapping EACH OTHER all exact (the region predicate unions
    the masks implicitly). Same executor-sized-group contract as
    union_by.
    """
    from spandex_spark.functions.cells_sql import bbox_of, bbox_pairs

    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"))
    msk = masks.select(F.col("geom").alias("_ogeom"))
    pairs = bbox_pairs(tgt, msk, level, left_bbox=bbox_of("_tgeom"),
                       right_bbox=bbox_of("_ogeom"),
                       broadcast_right=broadcast_masks)

    agg = pairs.groupBy("_tid").agg(
        F.first("_tgeom").alias("_tgeom"),
        F.collect_list("_ogeom").alias("_masks"))

    @pandas_udf(_GEOM_TYPE)
    def _erase_many(txs: pd.Series, tys: pd.Series, toffs: pd.Series,
                    masks_col: pd.Series) -> pd.DataFrame:
        kinds, gxs, gys, goffs, bbs = [], [], [], [], []
        for tx, ty, to, ms in zip(txs, tys, toffs, masks_col):
            pa = [(np.asarray(tx, np.float64), np.asarray(ty, np.float64),
                   (np.asarray(to, np.int64)
                    if to is not None and len(to) > 2 else None))]
            pb = []
            for m in ms:
                mo = m["ring_offsets"]
                pb.append((np.asarray(m["xs"], np.float64),
                           np.asarray(m["ys"], np.float64),
                           (np.asarray(mo, np.int64)
                            if mo is not None and len(mo) > 2 else None)))
            rings = _geom.boolean_rings(pa, pb, "difference")
            if not rings:
                kinds.append(None); gxs.append(None); gys.append(None)
                goffs.append(None); bbs.append(None)
                continue
            ax_ = np.concatenate([r[0] for r in rings])
            ay_ = np.concatenate([r[1] for r in rings])
            ro = np.cumsum([0] + [r[0].shape[0] for r in rings])
            kinds.append(3 if len(rings) == 1 else 6)
            gxs.append(ax_.tolist()); gys.append(ay_.tolist())
            goffs.append([int(v) for v in ro])
            bbs.append({"minx": float(ax_.min()), "miny": float(ay_.min()),
                        "maxx": float(ax_.max()), "maxy": float(ay_.max())})
        return pd.DataFrame({"kind": pd.array(kinds, dtype="Int8"),
                             "xs": gxs, "ys": gys,
                             "ring_offsets": goffs, "bbox": bbs})

    g = F.col("_tgeom")
    eroded = agg.withColumn(
        out_col, _erase_many(g["xs"], g["ys"], g["ring_offsets"],
                             F.col("_masks")))
    eroded = eroded.withColumn(
        out_col, F.when(F.col(f"{out_col}.kind").isNotNull(),
                        F.col(out_col)))
    untouched = (tgt.join(agg.select("_tid"), "_tid", "left_anti")
                 .withColumn(out_col, F.col("_tgeom")))
    out = (eroded.select("_tid", out_col)
           .unionByName(untouched.select("_tid", out_col)))
    if drop_empty:
        out = out.filter(F.col(out_col).isNotNull())
    return out.withColumnRenamed("_tid", target_id_col)
