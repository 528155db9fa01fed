"""Dissolve-by-attribute — the `GROUP BY ST_Union(geom)` aggregate.

Reference semantics: PostGIS aggregate union (merge every geometry
sharing a key into one (multi)polygon — counties from parcels, regions
from zones). For layers whose members TILE their union (share edges
without overlapping — the overwhelmingly common dissolve input: parcel
fabrics, admin hierarchies, grid cells), the boundary is exactly the
directed-edge cancellation of the member rings (geom.dissolve_rings —
the same kernel trim's dissolve uses), computed per group inside one
``applyInPandas``.

OVERLAPPING members are NOT unioned geometrically (that needs a full
polygon-clipping union); callers with overlapping inputs should overlay/
clip first. The even-odd interpretation still makes the output region
correct when overlaps have even multiplicity, but this operator's
contract is the tiling case.

Scale shape: ONE shuffle on the group key; each group's vertex set must
fit an executor (true for admin-hierarchy fan-ins; a county is ~10^5
vertices). Degenerate groups (all edges cancel — e.g. a ring and its
reverse) produce NULL geometry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spandex_spark import geom as _geom
from spandex_spark.operators.trim import _GEOM_TYPE


def dissolve_by(df: DataFrame, *, key_col: str, geom_col: str = "geom",
                out_col: str = "geom") -> DataFrame:
    """One row per ``key_col`` with the dissolved boundary of all member
    geometries (holes and multi-parts of members participate ring-wise)."""
    import pyspark.sql.types as T
    schema = T.StructType([df.schema[key_col],
                           T.StructField(out_col, _GEOM_TYPE)])

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        rings = []
        for g in pdf["_g"]:
            sx = np.asarray(g["xs"], np.float64)
            sy = np.asarray(g["ys"], np.float64)
            o = g["ring_offsets"]
            o = (np.asarray(o, np.int64)
                 if o is not None and len(o) > 2 else None)
            rings.extend(_geom.rings_of(sx, sy, o))
        merged = _geom.dissolve_rings(rings)
        if not merged:
            return pd.DataFrame({key_col: [key], out_col: [None]})
        ax = np.concatenate([r[0] for r in merged])
        ay = np.concatenate([r[1] for r in merged])
        ro = np.cumsum([0] + [r[0].shape[0] for r in merged])
        geom = {"kind": 3 if len(merged) == 1 else 6,
                "xs": ax.tolist(), "ys": ay.tolist(),
                "ring_offsets": [int(v) for v in ro],
                "bbox": {"minx": float(ax.min()), "miny": float(ay.min()),
                         "maxx": float(ax.max()), "maxy": float(ay.max())}}
        return pd.DataFrame({key_col: [key], out_col: [geom]})

    src = df.select(key_col, F.col(geom_col).alias("_g"))
    return src.groupBy(key_col).applyInPandas(_merge, schema=schema)


def union_by(df: DataFrame, *, key_col: str, geom_col: str = "geom",
             out_col: str = "geom",
             prepartition_level: int | None = None) -> DataFrame:
    """General `GROUP BY ST_Union(geom)` — OVERLAPPING members allowed.

    The semantic gap dissolve_by leaves open (its directed-edge
    cancellation is exact only for edge-sharing tilings): here each group
    runs geom.union_rings — a planar-arrangement boolean union (split
    edges at intersections, keep one-side-covered sub-edges, interior-left
    ring assembly) — so partially-overlapping, stacked, and disjoint
    members all union correctly, holes included (outer rings CCW, holes
    CW, even-odd).

    Scale shape: ONE shuffle on the group key, group-local O(E^2)
    arrangement in an Arrow batch; each group's edge set must fit an
    executor (the same contract PostGIS aggregate union places on a
    work_mem-sized group).

    ``prepartition_level``: the 100-TB escape hatch for groups whose edge
    sets exceed one executor (continent-sized dissolves). Union is
    associative, so it runs as a TWO-LEVEL TREE: stage 1 groups by
    (key, spatial cell of the member's bbox center at this level) and
    unions locally; stage 2 unions the per-cell partials per key. Each
    stage-1 task sees only its cell's members, bounding the arrangement;
    stage 2 sees one partial geometry per occupied cell. Two shuffles
    instead of one — only worth it when groups are huge."""
    import pyspark.sql.types as T
    from spandex_spark.functions.cells_sql import cell_of_expr
    schema = T.StructType([df.schema[key_col],
                           T.StructField(out_col, _GEOM_TYPE)])

    def _merge_rows(key, geoms):
        polys = []
        for g in geoms:
            if g is None:
                continue
            o = g["ring_offsets"]
            polys.append((np.asarray(g["xs"], np.float64),
                          np.asarray(g["ys"], np.float64),
                          (np.asarray(o, np.int64)
                           if o is not None and len(o) > 2 else None)))
        merged = _geom.union_rings(polys) if polys else []
        if not merged:
            return {key_col: [key], out_col: [None]}
        ax = np.concatenate([r[0] for r in merged])
        ay = np.concatenate([r[1] for r in merged])
        ro = np.cumsum([0] + [r[0].shape[0] for r in merged])
        geom = {"kind": 3 if len(merged) == 1 else 6,
                "xs": ax.tolist(), "ys": ay.tolist(),
                "ring_offsets": [int(v) for v in ro],
                "bbox": {"minx": float(ax.min()), "miny": float(ay.min()),
                         "maxx": float(ax.max()), "maxy": float(ay.max())}}
        return {key_col: [key], out_col: [geom]}

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(_merge_rows(pdf[key_col].iloc[0], pdf["_g"]))

    src = df.select(key_col, F.col(geom_col).alias("_g"))
    if prepartition_level is None:
        return src.groupBy(key_col).applyInPandas(_merge, schema=schema)

    cx = "((_g.bbox.minx + _g.bbox.maxx) / 2.0D)"
    cy = "((_g.bbox.miny + _g.bbox.maxy) / 2.0D)"
    staged = src.withColumn("_ucell",
                            cell_of_expr(cx, cy, prepartition_level))
    schema1 = T.StructType([df.schema[key_col],
                            T.StructField("_ucell", T.LongType()),
                            T.StructField(out_col, _GEOM_TYPE)])

    def _merge1(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _merge_rows(pdf[key_col].iloc[0], pdf["_g"])
        out["_ucell"] = [int(pdf["_ucell"].iloc[0])]
        return pd.DataFrame(out)

    partials = (staged.groupBy(key_col, "_ucell")
                .applyInPandas(_merge1, schema=schema1)
                .select(key_col, F.col(out_col).alias("_g")))
    return partials.groupBy(key_col).applyInPandas(_merge, schema=schema)
