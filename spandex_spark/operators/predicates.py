"""Spatial predicate joins — the ST_Intersects / ST_Contains / ST_Within
JOIN surface (spandex's `tag`/`proportion_overlap` templates are special
cases of PostGIS predicate joins; this exposes the general pair form).

Predicate semantics, stated honestly in area terms (the engine's region
model is even-odd area; pure boundary-touch pairs — shared edges or
corner contacts with NO interior overlap — are classified false, i.e.
these are the INTERIOR predicates, PostGIS's
``ST_Relate(a, b, 'T********')`` family, not the boundary-inclusive
DE-9IM closures):

* ``interior_intersects`` — area(A∩B) > 0;
* ``contains``            — area(A∩B) == area(B) (B's interior ⊆ A);
* ``within``              — area(A∩B) == area(A).

Plan shape: the proportion_overlap chassis — bbox cover cells both
sides, Patel–DeWitt reference-point dedup (functions/cells_sql.bbox_pairs),
exact inclusion-exclusion intersection-area kernel
(geom.rings_intersection_area — holes and multiparts exact) in one
Arrow-vectorized pandas UDF. Only qualifying
pairs return; the area tolerance is a relative 1e-12 (FP shoelace noise,
documented).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spandex_spark import geom as _geom

_PREDICATES = ("interior_intersects", "contains", "within")


def spatial_predicate_join(targets: DataFrame, others: DataFrame, *,
                           predicate: str, target_id_col: str,
                           other_id_col: str, level: int = 8,
                           broadcast_others: bool = True) -> DataFrame:
    """Pairs (target_id, other_id) where ``predicate(target, other)``
    holds. ``contains`` means the TARGET contains the other feature;
    ``within`` means the target lies within it. Candidate pairs are the
    bbox-meeting pairs of ``cells_sql.bbox_pairs``."""
    if predicate not in _PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r} "
                         f"(one of {_PREDICATES})")
    from spandex_spark.functions.cells_sql import bbox_of, bbox_pairs

    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"))
    oth = others.select(F.col(other_id_col).alias("_oid"),
                        F.col("geom").alias("_ogeom"))
    pairs = bbox_pairs(tgt, oth, level, left_bbox=bbox_of("_tgeom"),
                       right_bbox=bbox_of("_ogeom"),
                       broadcast_right=broadcast_others)
    # containment needs the candidate's bbox inside the container's —
    # prune in JVM before any Python
    if predicate == "contains":
        pairs = pairs.filter(
            (F.col("_ogeom.bbox.minx") >= F.col("_tgeom.bbox.minx"))
            & (F.col("_ogeom.bbox.maxx") <= F.col("_tgeom.bbox.maxx"))
            & (F.col("_ogeom.bbox.miny") >= F.col("_tgeom.bbox.miny"))
            & (F.col("_ogeom.bbox.maxy") <= F.col("_tgeom.bbox.maxy")))
    elif predicate == "within":
        pairs = pairs.filter(
            (F.col("_tgeom.bbox.minx") >= F.col("_ogeom.bbox.minx"))
            & (F.col("_tgeom.bbox.maxx") <= F.col("_ogeom.bbox.maxx"))
            & (F.col("_tgeom.bbox.miny") >= F.col("_ogeom.bbox.miny"))
            & (F.col("_tgeom.bbox.maxy") <= F.col("_ogeom.bbox.maxy")))

    # rect×rect fast path (the overlay chassis rule): canonical rects
    # resolve every predicate from bbox arithmetic in pure JVM codegen —
    # only general polygons cross into Python
    from spandex_spark.operators.overlay import is_canonical_rect
    ta, ob = F.col("_tgeom"), F.col("_ogeom")
    both_rect = is_canonical_rect(ta) & is_canonical_rect(ob)
    if predicate == "interior_intersects":
        rect_cond = ((ta["bbox"]["minx"] < ob["bbox"]["maxx"])
                     & (ta["bbox"]["maxx"] > ob["bbox"]["minx"])
                     & (ta["bbox"]["miny"] < ob["bbox"]["maxy"])
                     & (ta["bbox"]["maxy"] > ob["bbox"]["miny"]))
    else:
        # the contains/within bbox prune above already IS rect
        # containment; positive area is guaranteed by canonical rects
        rect_cond = F.lit(True)
    rect_pairs = pairs.filter(both_rect).filter(rect_cond)
    gen = pairs.filter(~both_rect)

    @pandas_udf(T.BooleanType())
    def _holds(txs: pd.Series, tys: pd.Series, toffs: pd.Series,
               oxs: pd.Series, oys: pd.Series, ooffs: pd.Series) -> pd.Series:
        out = np.zeros(len(txs), dtype=bool)
        for i in range(len(txs)):
            tx = np.asarray(txs.iloc[i], np.float64)
            ty = np.asarray(tys.iloc[i], np.float64)
            to = toffs.iloc[i]
            to = (np.asarray(to, np.int64)
                  if to is not None and len(to) > 2 else None)
            ox = np.asarray(oxs.iloc[i], np.float64)
            oy = np.asarray(oys.iloc[i], np.float64)
            oo = ooffs.iloc[i]
            oo = (np.asarray(oo, np.int64)
                  if oo is not None and len(oo) > 2 else None)
            ix = _geom.rings_intersection_area(tx, ty, to, ox, oy, oo)
            if predicate == "interior_intersects":
                out[i] = ix > 0.0
            elif predicate == "contains":
                b = _geom.rings_area(ox, oy, oo)
                out[i] = b > 0 and abs(ix - b) <= 1e-12 * max(b, 1.0)
            else:  # within
                a = _geom.rings_area(tx, ty, to)
                out[i] = a > 0 and abs(ix - a) <= 1e-12 * max(a, 1.0)
        return pd.Series(out)

    gen_kept = gen.filter(_holds(ta["xs"], ta["ys"], ta["ring_offsets"],
                                 ob["xs"], ob["ys"], ob["ring_offsets"]))
    kept = rect_pairs.unionByName(gen_kept)
    return kept.select(F.col("_tid").alias(target_id_col),
                       F.col("_oid").alias(other_id_col))
