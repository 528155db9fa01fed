"""ST_Snap — snap geometries to a REFERENCE layer within a tolerance:
the conflation step that precedes boolean overlays and topology builds
on real data (the arrangement kernel's own tolerance contract says
"inputs at that separation should be snapped first"; `snap_to_grid`
covers only the self-snapping lattice case).

PostGIS ST_Snap semantics, both phases per geometry:

1. VERTEX SNAP — every vertex moves to the nearest reference vertex
   within ``tolerance`` (nearest wins; never moves farther than the
   tolerance);
2. VERTEX INSERTION — reference vertices within tolerance of one of
   the geometry's SEGMENTS (but not near an existing vertex) are
   inserted into that segment in order, so shared borders gain the
   matching break points and later noding is exact.

Plan shape: the erase_join chassis — bbox-cover cells both sides
(reference bboxes padded by the tolerance), reference-point dedup
(functions/cells_sql.bbox_pairs), one groupBy(target) shipping each
geometry exactly the nearby reference features, then a numpy kernel.
Targets with no nearby reference pass through untouched via anti-join
(zero Python for them). Snapping is idempotent (pytested): a snapped
geometry re-snaps to itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spandex_spark.operators.trim import _GEOM_TYPE

__all__ = ["snap_to_layer"]


def _snap_arrays(xs, ys, ref_x, ref_y, tol, closed=True):
    """Two-phase snap of one vertex chain against reference vertices;
    ``closed`` processes the wrap-around edge (rings) or not (lines)."""
    # phase 1: move each vertex to its nearest reference vertex in tol
    d2 = ((xs[:, None] - ref_x[None, :]) ** 2
          + (ys[:, None] - ref_y[None, :]) ** 2)
    j = np.argmin(d2, axis=1)
    hit = d2[np.arange(xs.shape[0]), j] <= tol * tol
    sx = np.where(hit, ref_x[j], xs)
    sy = np.where(hit, ref_y[j], ys)
    # phase 2: insert reference vertices lying within tol of a segment
    # (and not already a vertex of it) at their projection order
    out_x, out_y = [], []
    n = sx.shape[0]
    for i in range(n if closed else n - 1):
        a = (sx[i], sy[i])
        b = (sx[(i + 1) % n], sy[(i + 1) % n])
        out_x.append(a[0]); out_y.append(a[1])
        ex, ey = b[0] - a[0], b[1] - a[1]
        L2 = ex * ex + ey * ey
        if L2 == 0:
            continue
        t = ((ref_x - a[0]) * ex + (ref_y - a[1]) * ey) / L2
        px = a[0] + t * ex
        py = a[1] + t * ey
        dd = (ref_x - px) ** 2 + (ref_y - py) ** 2
        near = ((t > 1e-9) & (t < 1.0 - 1e-9) & (dd <= tol * tol)
                & (((ref_x - a[0]) ** 2 + (ref_y - a[1]) ** 2)
                   > 1e-18)
                & (((ref_x - b[0]) ** 2 + (ref_y - b[1]) ** 2)
                   > 1e-18))
        order = np.argsort(t[near], kind="stable")
        for rx_, ry_ in zip(ref_x[near][order], ref_y[near][order]):
            if (rx_, ry_) != (out_x[-1], out_y[-1]):
                out_x.append(float(rx_)); out_y.append(float(ry_))
    if not closed:
        out_x.append(float(sx[-1])); out_y.append(float(sy[-1]))
    # drop consecutive duplicates created by vertices snapping together
    keep = [0]
    for i in range(1, len(out_x)):
        if (out_x[i], out_y[i]) != (out_x[keep[-1]], out_y[keep[-1]]):
            keep.append(i)
    if closed and len(keep) > 1 and (out_x[keep[-1]], out_y[keep[-1]]) \
            == (out_x[keep[0]], out_y[keep[0]]):
        keep.pop()
    return (np.array([out_x[i] for i in keep]),
            np.array([out_y[i] for i in keep]))


def snap_to_layer(targets: DataFrame, reference: DataFrame, *,
                  tolerance: float, target_id_col: str,
                  level: int = 8, broadcast_reference: bool = True,
                  out_col: str = "geom") -> DataFrame:
    """(target_id, out_col): every target snapped to the reference
    layer's vertices; untouched targets pass through unchanged.
    Rings collapsing below 3 vertices come back NULL."""
    from spandex_spark.functions.cells_sql import bbox_of, bbox_pairs
    if tolerance <= 0:
        raise ValueError("tolerance must be positive")
    tol = float(tolerance)
    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"))
    ref = reference.select(F.col("geom").alias("_rgeom"))
    # the reference bbox padded by the tolerance: a vertex within tol of
    # a target needs the pair even when the plain bboxes are disjoint
    padded = (f"(_rgeom.bbox.minx - {tol!r}D)",
              f"(_rgeom.bbox.miny - {tol!r}D)",
              f"(_rgeom.bbox.maxx + {tol!r}D)",
              f"(_rgeom.bbox.maxy + {tol!r}D)")
    pairs = bbox_pairs(tgt, ref, level, left_bbox=bbox_of("_tgeom"),
                       right_bbox=padded, broadcast_right=broadcast_reference)

    id_type = targets.schema[target_id_col].dataType
    from pyspark.sql import types as T
    out_schema = T.StructType([
        T.StructField(target_id_col, id_type),
        T.StructField(out_col, _GEOM_TYPE)])

    def _snap_group(pdf):
        tid = pdf["_tid"].iloc[0]
        g = pdf["_tgeom"].iloc[0]
        rx, ry = [], []
        for r in pdf["_rgeom"]:
            rx.append(np.asarray(r["xs"], np.float64))
            ry.append(np.asarray(r["ys"], np.float64))
        ref_x = np.concatenate(rx)
        ref_y = np.concatenate(ry)
        xs = np.asarray(g["xs"], np.float64)
        ys = np.asarray(g["ys"], np.float64)
        offs = g["ring_offsets"]
        offs = (np.asarray(offs, np.int64) if offs is not None
                else np.array([0, xs.shape[0]], np.int64))
        closed = int(g["kind"]) != 2
        min_pts = 3 if closed else 2
        rings = []
        for s, e in zip(offs[:-1], offs[1:]):
            if e - s < min_pts:
                continue
            nx_, ny_ = _snap_arrays(xs[s:e], ys[s:e], ref_x, ref_y,
                                    tol, closed=closed)
            if nx_.shape[0] >= min_pts:
                rings.append((nx_, ny_))
        if not rings:
            geom = None
        else:
            ax = np.concatenate([r[0] for r in rings])
            ay = np.concatenate([r[1] for r in rings])
            ro = np.cumsum([0] + [r[0].shape[0] for r in rings])
            geom = {"kind": int(g["kind"]), "xs": ax.tolist(),
                    "ys": ay.tolist(),
                    "ring_offsets": [int(v) for v in ro],
                    "bbox": {"minx": float(ax.min()),
                             "miny": float(ay.min()),
                             "maxx": float(ax.max()),
                             "maxy": float(ay.max())}}
        return pd.DataFrame([{target_id_col: tid, out_col: geom}],
                            columns=[target_id_col, out_col])

    snapped = pairs.groupBy("_tid").applyInPandas(_snap_group, out_schema)
    untouched = (tgt.join(pairs.select("_tid").distinct(), "_tid",
                          "left_anti")
                 .select(F.col("_tid").alias(target_id_col),
                         F.col("_tgeom").alias(out_col)))
    return snapped.unionByName(untouched)
