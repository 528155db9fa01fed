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

Each comparison has a 1e-12 tolerance, relative above 1 deg² and
absolute below it: an intersection area of at most 1e-12 ×
max(min(area(A), area(B)), 1) is zero. The kernel's sums over a shared
edge that is not horizontal cancel only to FP round-off, so two shapes
that share such an edge have an intersection area of ~1e-17, not 0.

Plan shape: the proportion_overlap chassis — bbox cover cells both
sides, Patel–DeWitt reference-point dedup (functions/cells_sql.bbox_pairs),
then one JVM filter on the exact intersection-area kernel of
functions/area_sql.py (holes and multiparts exact), with each side's own
area computed once per geometry by the same kernel. The plan holds no
Python operator. Only qualifying pairs return. A NULL geometry forms
no pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spandex_spark.functions.area_sql import (geometry_area,
                                              intersection_area_sql)
from spandex_spark.functions.cells_sql import bbox_of, bbox_pairs

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
    tgt = targets.select(F.col(target_id_col).alias("_tid"),
                         F.col("geom").alias("_tgeom"),
                         geometry_area("geom").alias("_tk"))
    oth = others.select(F.col(other_id_col).alias("_oid"),
                        F.col("geom").alias("_ogeom"),
                        geometry_area("geom").alias("_ok"))
    pairs = bbox_pairs(tgt, oth, level, left_bbox=bbox_of("_tgeom"),
                       right_bbox=bbox_of("_ogeom"),
                       broadcast_right=broadcast_others)
    # containment needs the candidate's bbox inside the container's —
    # prune before the area kernel
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

    ix = intersection_area_sql("_tgeom", "_tk", "_ogeom", "_ok")
    if predicate == "interior_intersects":
        holds = f"{ix} > 1e-12D * greatest(least(_tk.area, _ok.area), 1D)"
    else:
        # contains: area(A∩B) == area(B); within: area(A∩B) == area(A)
        whole = "_ok.area" if predicate == "contains" else "_tk.area"
        holds = (f"{whole} > 0D AND "
                 f"abs({ix} - {whole}) <= 1e-12D * greatest({whole}, 1D)")
    kept = pairs.filter(F.expr(holds))
    return kept.select(F.col("_tid").alias(target_id_col),
                       F.col("_oid").alias(other_id_col))
