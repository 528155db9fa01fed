"""O2 — proportional / area-weighted overlay.

Reference semantics: spandex/spatialtoolz.py::proportion_overlap — for each
target polygon, SUM(ST_Area(ST_Intersection(t.geom, o.geom))) /
ST_Area(t.geom). Rebuilt as: candidate pairs from
functions/cells_sql.bbox_pairs (bbox-cover cell join, bbox-overlap test,
reference-point dedup: a pair can meet in several cells and is kept only
in the cell of its bbox-intersection min corner, a JVM column predicate,
so no dedup shuffle) → exact intersection-area kernel → hash aggregation
per target.

The intersection kernel is one Spark SQL expression for every pair
(functions/area_sql.py): a double sum over the two geometries' edges of
closed-form trapezoid overlaps, exact for holes and multipolygons, and
the closed-form rectangle area to the bit on rectangle pairs. The target
area is the same sum over one geometry. Both run inside the JVM, so the
plan holds no Python operator; ``area_unit='sph_m2'`` runs the kernel in
the equal-area plane (R·λ, R·sin φ).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spandex_spark import geom as _geom
from spandex_spark.functions.area_sql import (geometry_area,
                                              intersection_area_sql)
from spandex_spark.functions.cells_sql import bbox_of, bbox_pairs


@pandas_udf(T.DoubleType())
def _sph_area(xs: pd.Series, ys: pd.Series, offs: pd.Series) -> pd.Series:
    out = np.empty(len(xs))
    for i in range(len(xs)):
        o = offs.iloc[i]
        out[i] = _geom.spherical_rings_area(
            np.asarray(xs.iloc[i], np.float64), np.asarray(ys.iloc[i], np.float64),
            np.asarray(o, np.int64) if o is not None and len(o) > 2 else None)
    return pd.Series(out)


def spherical_area_udf(geom_col):
    """ST_Area(geography) analog in m² (mean-Earth sphere, Chamberlain-
    Duquette line integral — geom.spherical_rings_area; holes subtract)."""
    return _sph_area(geom_col["xs"], geom_col["ys"], geom_col["ring_offsets"])


def is_canonical_rect(g):
    """JVM predicate: geometry is a single-ring axis-aligned rectangle in
    the canonical vertex order every layer builder emits
    (xs=[x0,x1,x1,x0], ys=[y0,y0,y1,y1], x0<x1, y0<y1)."""
    xs, ys, offs = g["xs"], g["ys"], g["ring_offsets"]
    single_ring = F.coalesce(F.size(offs) <= 2, F.lit(True))
    return ((F.size(xs) == 4) & single_ring
            & (xs[0] == xs[3]) & (xs[1] == xs[2]) & (xs[0] < xs[1])
            & (ys[0] == ys[1]) & (ys[2] == ys[3]) & (ys[1] < ys[2]))


def _candidate_pairs(tgt: DataFrame, overlays: DataFrame,
                     overlay_id_col: str, level: int,
                     broadcast_overlays: bool,
                     area_unit: str | None = None) -> DataFrame:
    """(cell, _tid, _tgeom, _oid, _ogeom) rows, one per (target, overlay)
    pair whose bboxes meet: ``cells_sql.bbox_pairs`` (bbox cells,
    reference-point dedup, no dedup shuffle). With ``area_unit`` each
    overlay also carries its ``geometry_area`` struct ``_ok``, computed
    once per overlay."""
    ovl = overlays.select(F.col(overlay_id_col).alias("_oid"),
                          F.col("geom").alias("_ogeom"))
    if area_unit is not None:
        ovl = ovl.withColumn("_ok", geometry_area("_ogeom", area_unit))
    return bbox_pairs(tgt, ovl, level, left_bbox=bbox_of("_tgeom"),
                      right_bbox=bbox_of("_ogeom"),
                      broadcast_right=broadcast_overlays)


def proportion_overlap(targets: DataFrame, overlays: DataFrame, *,
                       target_id_col: str, overlay_id_col: str,
                       level: int = 8, broadcast_overlays: bool = True,
                       keep_pairs: bool = False,
                       area_unit: str = "deg2") -> DataFrame:
    """Fraction of each target polygon's area covered by the overlay layer.

    Returns (target_id_col, overlap_area, target_area, proportion_overlap);
    with ``keep_pairs`` returns per-(target, overlay) intersection rows
    with a positive area instead (the trim/clip building block, O4).

    ``area_unit``: 'deg2' (planar square degrees — the oracle-exact
    default) or 'sph_m2' (geodesic m² on the mean-Earth sphere, the
    ST_Area(geography) shape). 'sph_m2' runs the same kernel on the
    vertices mapped to the Lambert cylindrical equal-area plane
    (R·λ, R·sin φ): exact for the lon/lat rectangle R²·Δλ·(sin φ1 −
    sin φ0), and for any ring the Chamberlain–Duquette sum of
    geom.spherical_rings_area without its ``2 +`` term, so the pieces of
    a target sum to its area in both units.

    A target with a NULL geometry keeps its row: overlap_area 0.0,
    target_area and proportion_overlap NULL.

    Candidate pairs come from `_candidate_pairs`, i.e.
    ``cells_sql.bbox_pairs`` (bbox cells, reference-point dedup, no
    dedup shuffle, bbox-disjoint pairs pruned before any kernel). That is
    exact for every input, holed and multipart overlays included: a pair
    whose bboxes meet but whose shapes do not adds 0.0.
    """
    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"))
    tgt = tgt.withColumn("_tk", geometry_area("_tgeom", area_unit))
    pairs = _candidate_pairs(tgt, overlays, overlay_id_col, level,
                             broadcast_overlays, area_unit)
    ix = intersection_area_sql("_tgeom", "_tk", "_ogeom", "_ok", area_unit)

    if keep_pairs:
        # one evaluation per pair: a filter on a projected kernel would be
        # pushed into the join condition and evaluated there again
        pairs = pairs.withColumn(
            "ix_area", F.expr(f"explode(filter(array({ix}), _v -> _v > 0D))"))
        return pairs.select(F.col("_tid").alias(target_id_col),
                            F.col("_oid").alias(overlay_id_col), "ix_area")

    agg = (pairs.select("_tid", F.expr(ix).alias("ix_area"))
           .groupBy("_tid").agg(F.sum("ix_area").alias("overlap_area")))
    out = (tgt.select("_tid", F.col("_tk.area").alias("target_area"))
           .join(agg, "_tid", "left")
           .withColumn("overlap_area", F.coalesce(F.col("overlap_area"), F.lit(0.0)))
           .withColumn("proportion_overlap",
                       F.col("overlap_area") / F.col("target_area")))
    return out.select(F.col("_tid").alias(target_id_col),
                      "overlap_area", "target_area", "proportion_overlap")


def intersection_join(targets: DataFrame, overlays: DataFrame, *,
                      target_id_col: str, overlay_id_col: str,
                      level: int = 8, broadcast_overlays: bool = True,
                      out_col: str = "geom_ix") -> DataFrame:
    """Pairwise ST_Intersection GEOMETRY between two layers — the overlay
    table function (proportion_overlap's sibling that keeps the clipped
    SHAPES, not just their areas). Returns one row per intersecting
    (target, overlay) pair: (target_id_col, overlay_id_col, out_col).

    Same candidate pairs as proportion_overlap (`_candidate_pairs`, i.e.
    ``cells_sql.bbox_pairs``):
    rect x rect pairs construct the intersection rectangle in PURE JVM
    codegen; general pairs run geom.boolean_rings(a, b, 'intersection')
    (the planar-arrangement kernel — holes, multiparts, partial overlaps
    all exact) in one Arrow-vectorized pandas UDF. Empty intersections
    drop out.
    """
    from spandex_spark.operators.trim import _GEOM_TYPE

    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"))
    pairs = _candidate_pairs(tgt, overlays, overlay_id_col, level,
                             broadcast_overlays)

    a, b = F.col("_tgeom"), F.col("_ogeom")
    both_rect = is_canonical_rect(a) & is_canonical_rect(b)
    ix0 = F.greatest(a["bbox"]["minx"], b["bbox"]["minx"])
    ix1 = F.least(a["bbox"]["maxx"], b["bbox"]["maxx"])
    iy0 = F.greatest(a["bbox"]["miny"], b["bbox"]["miny"])
    iy1 = F.least(a["bbox"]["maxy"], b["bbox"]["maxy"])
    rect_geom = F.struct(
        F.lit(3).cast("tinyint").alias("kind"),
        F.array(ix0, ix1, ix1, ix0).alias("xs"),
        F.array(iy0, iy0, iy1, iy1).alias("ys"),
        F.array(F.lit(0), F.lit(4)).alias("ring_offsets"),
        F.struct(ix0.alias("minx"), iy0.alias("miny"),
                 ix1.alias("maxx"), iy1.alias("maxy")).alias("bbox"))
    rect_pairs = (pairs.filter(both_rect)
                  .filter((ix1 > ix0) & (iy1 > iy0))
                  .withColumn(out_col, rect_geom))

    @pandas_udf(_GEOM_TYPE)
    def _ix(txs: pd.Series, tys: pd.Series, toffs: pd.Series,
            oxs: pd.Series, oys: pd.Series, ooffs: pd.Series) -> pd.DataFrame:
        kinds, gxs, gys, goffs, bbs = [], [], [], [], []
        for tx, ty, to, ox, oy, oo in zip(txs, tys, toffs, oxs, oys, ooffs):
            pa = [(np.asarray(tx, np.float64), np.asarray(ty, np.float64),
                   (np.asarray(to, np.int64)
                    if to is not None and len(to) > 2 else None))]
            pb = [(np.asarray(ox, np.float64), np.asarray(oy, np.float64),
                   (np.asarray(oo, np.int64)
                    if oo is not None and len(oo) > 2 else None))]
            rings = _geom.boolean_rings(pa, pb, "intersection")
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

    gen_pairs = (pairs.filter(~both_rect)
                 .withColumn(out_col, _ix(a["xs"], a["ys"], a["ring_offsets"],
                                          b["xs"], b["ys"], b["ring_offsets"]))
                 .filter(F.col(f"{out_col}.kind").isNotNull()))
    out = rect_pairs.unionByName(gen_pairs)
    return out.select(F.col("_tid").alias(target_id_col),
                      F.col("_oid").alias(overlay_id_col), out_col)
